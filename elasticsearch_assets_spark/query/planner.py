"""AST → DataFrame physical plan (the engine's "query frontend").

Translates parser ASTs into DataFrame plans over the inverted index
(text fields, BM25-scored) and the doc store (keyword/numeric fields,
filter context).

Scoring semantics (scope-pinned per SURVEY.md §7.5 to the forms the
reference emits, documented deviations noted):

- text Term            BM25 contribution (Lucene defaults)
- text Phrase          consecutive-position filter, BM25 over members
- text Wildcard        constant_score 1.0 (the ES multi-term rewrite)
- text Fuzzy           dictionary expansion ≤ max_edits, BM25 OR over
                       expansions (deviation: Lucene blends idf through
                       its top-N rewrite and weights by distance)
- Boost                child score × factor
- Exists               field IS NOT NULL, filter context
- keyword Term/Wildcard/Regexp/Range/Fuzzy   filter context, score 1.0
- Or                   scores of matching clauses SUM (ES should)
- And                  every clause matches; scores SUM (ES must)
- Not                  exclusion (score 0 contribution)

Every clause evaluates to (doc_id, score), scores folded in clause order
for deterministic float association. A combinator scores all its text
Term clauses (bare, `+`, `-`) in ONE exec._scored_terms aggregation and
merges any other clause into it with one union + groupBy, exclusions
included (no anti-join). Final ordering: (score desc, doc_id asc) — the
ES tie-break.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.indexing.build import IndexTables
from elasticsearch_assets_spark.query import exec as qx
from elasticsearch_assets_spark.query import sql as Q
from elasticsearch_assets_spark.query.parser import (
    And,
    Boost,
    Exists,
    Fuzzy,
    Must,
    Node,
    Not,
    Or,
    Phrase,
    Range,
    Regexp,
    Term,
    Wildcard,
    parse,
)


@dataclass
class PlannerConfig:
    default_field: str = "content"
    text_fields: tuple[str, ...] = ("content", "text")


class QueryPlanner:
    """Plans query-string ASTs against an index + attribute table.

    ``attrs`` is the doc store: (doc_id, <keyword/numeric columns>) —
    typically IndexTables.doc_norms built with source_cols.
    """

    def __init__(
        self,
        index: IndexTables | None,
        attrs: DataFrame | None = None,
        config: PlannerConfig | None = None,
    ):
        if index is None and attrs is None:
            raise ValueError("need an index, an attrs table, or both")
        self.index = index
        self.attrs = attrs if attrs is not None else index.doc_norms
        self.config = config or PlannerConfig()
        if index is None:
            # attrs-only mode (the spaces_reader S3 frontend: xLucene
            # filter strings over a plain table, no scored text fields)
            self.config = PlannerConfig(
                default_field=self.config.default_field, text_fields=()
            )

    # -- public ---------------------------------------------------------
    def query_string(self, q: str, k: int = 10) -> DataFrame:
        ast = parse(q, default_field=self.config.default_field)
        scored = self.plan(ast)
        return qx.top_k(scored, k)

    def count(self, q: str) -> int:
        ast = parse(q, default_field=self.config.default_field)
        return self.plan(ast).count()

    # -- AST dispatch ----------------------------------------------------
    def plan(self, node: Node) -> DataFrame:
        """Evaluate to (doc_id double score)."""
        if isinstance(node, Term):
            return self._term(node)
        if isinstance(node, (Phrase, Wildcard, Regexp, Fuzzy)) and self._is_text(node.field):
            return self._text_leaf(node)
        if isinstance(node, (Phrase, Wildcard, Regexp, Range, Fuzzy, Exists)):
            return self._attr_filter(self._leaf_sql(node))
        if isinstance(node, Boost):
            # multiply the child's score; filter-context children keep
            # their constant 1.0 * factor (Lucene boost semantics)
            return self.plan(node.child).selectExpr(
                "doc_id", f"score * {Q.lit(float(node.factor))} AS score"
            )
        if isinstance(node, Or):
            return self._combine(list(node.children), require_all=False)
        if isinstance(node, And):
            return self._combine(list(node.children), require_all=True)
        if isinstance(node, Not):
            return self._combine([node], require_all=False)
        if isinstance(node, Must):
            # a lone required clause is just the clause; the modifier
            # only changes semantics inside a combinator (see _combine)
            return self.plan(node.child)
        raise TypeError(f"unknown AST node {node!r}")

    # -- leaves -----------------------------------------------------------
    def _field(self, f: str | None) -> str:
        return f or self.config.default_field

    def _is_text(self, f: str | None) -> bool:
        return self._field(f) in self.config.text_fields

    def _term(self, node: Term) -> DataFrame:
        if not self._is_text(node.field):
            return self._attr_filter(self._leaf_sql(node))
        terms = sorted(set(analyze_text(node.value)))
        s = qx.scored_terms(self.index, terms)
        if len(terms) > 1:
            # analyzer split the value (e.g. parseDate) — all parts
            # must be present, like ES match with the analyzed chain
            s = s.where(f"n_matched = {len(terms)}")
        return s.selectExpr("doc_id", "score")

    def _text_leaf(self, node: Node) -> DataFrame:
        """Phrase / wildcard / regexp / fuzzy on a scored text field."""
        if isinstance(node, Phrase):
            return qx.phrase_query(self.index, node.text, k=qx.ALL_MATCHES, slop=node.slop)
        if isinstance(node, Wildcard):
            return qx.wildcard_query(self.index, node.pattern, k=qx.ALL_MATCHES)
        if isinstance(node, Fuzzy):
            # dictionary expansion within max_edits, BM25 OR over the
            # expansions (scale-safe: large expansions stay distributed
            # — exec.scored_expansion)
            return qx.fuzzy_query(self.index, node.value, node.max_edits, k=qx.ALL_MATCHES)
        # regexp: small hit sets collect (static bucket pruning); large
        # ones semi-join postings on (bucket, term)
        hits = qx.dict_hits_regexp(self.index, node.pattern)
        cand = qx.expanded_candidates(self.index, hits)
        return cand.selectExpr("doc_id", "1.0D AS score").distinct()

    def _leaf_sql(self, node: Node) -> str:
        """A filter-context leaf (keyword/numeric field) as a SQL
        predicate over the attrs table. Keyword values compare as
        strings, unanalyzed and case-sensitive; a phrase on a keyword
        field is an exact value match (ES ignores slop there too)."""
        if isinstance(node, Exists):
            return f"{Q.ident(node.field)} IS NOT NULL"
        col = Q.ident(self._field(node.field))
        s = f"CAST({col} AS STRING)"
        if isinstance(node, Term):
            return f"{s} = {Q.lit(node.value)}"
        if isinstance(node, Phrase):
            return f"{s} = {Q.lit(node.text)}"
        if isinstance(node, Wildcard):
            return f"{s} RLIKE {Q.lit('^' + qx._glob_to_regex(node.pattern) + '$')}"
        if isinstance(node, Regexp):
            return f"{s} RLIKE {Q.lit('^' + node.pattern + '$')}"
        if isinstance(node, Fuzzy):
            # case-sensitive levenshtein filter, no analysis
            return f"levenshtein({s}, {Q.lit(node.value)}, {node.max_edits}) >= 0"
        if isinstance(node, Range):
            # numeric if the bound parses as a number, else a
            # string/timestamp compare (ISO dates compare correctly as
            # strings; timestamp columns get the bound cast by Spark)
            def bound(v):
                try:
                    return Q.lit(float(v))
                except (TypeError, ValueError):
                    return Q.lit(v)

            conds = []
            if node.lo is not None:
                conds.append(f"{col} {'>=' if node.incl_lo else '>'} {bound(node.lo)}")
            if node.hi is not None:
                conds.append(f"{col} {'<=' if node.incl_hi else '<'} {bound(node.hi)}")
            return " AND ".join(conds) or "TRUE"
        raise TypeError(f"not a filter leaf: {node!r}")

    def _attr_filter(self, cond: str) -> DataFrame:
        return self.attrs.where(cond).selectExpr("doc_id", "1.0D AS score")

    # -- combinators --------------------------------------------------------
    def _combine(self, children: list, require_all: bool) -> DataFrame:
        """And/Or as one row per doc with a column per clause: `_s{i}`
        holds positive clause i's score when it matched (else NULL), and
        `_x` is true when a `-`/NOT clause matched. Every text Term clause
        (bare, `+`, `-`) rides ONE exec._scored_terms aggregation, with a
        fold _s{i} and a count _c{i} of its analyzed parts (it matches
        when all parts do, as in _term); any other clause is its own
        (doc_id, score) frame. More than one frame: a union, each frame
        filling its own columns, and one groupBy(doc_id) — each frame has
        one row per doc, so max() is a clause's one value. The score folds
        the positive columns in clause order, which keeps float
        association deterministic."""
        folds, counts, tcols, texcl, frames, pos, req = {}, {}, [], [], [], [], []
        for i, c in enumerate(children):
            node = c.child if isinstance(c, (Must, Not)) else c
            if isinstance(node, Term) and self._is_text(node.field):
                parts = sorted(set(analyze_text(node.value)))
                if parts:
                    counts[f"_c{i}"] = parts
                matched = f"_c{i} = {len(parts)}" if parts else "FALSE"
                if isinstance(c, Not):
                    texcl.append(matched)
                else:
                    folds[f"_s{i}"] = parts
                    tcols.append(f"IF({matched}, _s{i}, NULL) AS _s{i}")
            elif isinstance(c, Not):
                # ES/Lucene query_string semantics: NOT inside either
                # combinator is a bool-level MUST_NOT clause — `a OR NOT b`
                # matches docs matching a and excluding b (Lucene parses
                # the NOT as a top-level exclusion, not a complement
                # union operand)
                frames.append(self.plan(node).selectExpr("doc_id", "TRUE AS _x"))
            else:
                frames.append(self.plan(node).selectExpr("doc_id", f"score AS _s{i}", "FALSE AS _x"))
            if not isinstance(c, Not):
                pos.append(f"_s{i}")
                # Lucene `+clause`: gates matching; the sibling should
                # clauses become optional score-adders (classic
                # `+required optional -prohibited` form)
                if require_all or isinstance(c, Must):
                    req.append(f"_s{i} IS NOT NULL")
        if folds or counts:
            x = " OR ".join(texcl) or "FALSE"
            frames.append(qx._scored_terms(self.index, folds, counts).selectExpr("doc_id", *tcols, f"{x} AS _x"))
        if not pos:
            # pure-negative query: all docs minus exclusions, score 0
            frames.append(self.attrs.selectExpr("doc_id", "FALSE AS _x"))
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f, allowMissingColumns=True)
        if len(frames) > 1:
            u = u.groupBy("doc_id").agg(*[F.expr(f"max({c}) AS {c}") for c in [*pos, "_x"]])
        if req:
            gate = " AND ".join(req)
        else:
            gate = " OR ".join(f"{c} IS NOT NULL" for c in pos) or "TRUE"
        return u.where(f"({gate}) AND NOT _x").selectExpr("doc_id", f"{Q.fold(pos)} AS score")

    # -- filter-context compilation (the spaces fast path) -----------------
    def compile_filter(self, node: Node) -> "F.Column":
        """Compile an attrs-only AST to ONE boolean Column — the
        spaces_reader fast path: a pure filter query needs no
        synthesized doc_id, no join, no shuffle; the predicate lands in
        the scan via ordinary pushdown.

        Match-set parity with plan(): combinator semantics mirror
        _combine exactly (Must gates an OR; NOT inside either
        combinator is a bool-level exclusion), and every negation is
        null-safe (`NOT coalesce(cond, false)`) because plan()'s
        exclusion keeps null-attribute docs (they never enter the
        excluded clause's frame) that a raw three-valued `NOT col = x`
        would drop. Raises on text-field clauses — those
        need the scored index plan."""
        return F.expr(self._filter_sql(node))

    def _filter_sql(self, node: Node) -> str:
        if isinstance(node, (Term, Phrase, Wildcard, Regexp, Range, Fuzzy)):
            f = self._field(node.field)
            if self._is_text(f):
                raise ValueError(
                    f"compile_filter: {f!r} is a scored text field; "
                    "use plan() for scoring clauses"
                )
            return f"({self._leaf_sql(node)})"
        if isinstance(node, Exists):
            return f"({self._leaf_sql(node)})"
        if isinstance(node, (Boost, Must)):
            return self._filter_sql(node.child)  # boost is score-only
        if isinstance(node, Not):
            return f"(NOT coalesce({self._filter_sql(node.child)}, FALSE))"
        if isinstance(node, (And, Or)):
            positives, musts, negatives = [], [], []
            for child in node.children:
                if isinstance(child, Not):
                    negatives.append(self._filter_sql(child.child))
                elif isinstance(child, Must):
                    musts.append(self._filter_sql(child.child))
                else:
                    positives.append(self._filter_sql(child))
            if isinstance(node, And):
                musts = musts + positives
                positives = []
            if musts:
                # required clauses gate; bare siblings only add score
                cond = " AND ".join(musts)
            elif positives:
                cond = " OR ".join(positives)
            else:
                cond = "TRUE"  # pure-negative: all docs minus exclusions
            for n in negatives:
                cond = f"{cond} AND NOT coalesce({n}, FALSE)"
            return f"({cond})"
        raise TypeError(f"unknown AST node {node!r}")
