"""Compound scoring queries: dis_max, match_phrase_prefix, and
function_score decay.

These complete the ES query-DSL surface around the core bool/match set
(SURVEY.md §2.3): `dis_max` is ES's "best field wins" combinator
(DisjunctionMaxQuery), `match_phrase_prefix` is the type-ahead phrase
(MultiPhrasePrefixQuery: fixed leading terms + a bounded expansion of
the trailing prefix), and `function_score` decay functions
(gauss/exp/linear) modulate relevance by distance from an origin on a
numeric field — the reference's users run all three against live ES.

Scale + determinism notes follow the repo protocol:
- every per-doc score is a pure column expression folded in a PINNED
  order (term-sorted / subquery-listed), so the DuckDB oracles replay
  the identical IEEE op sequence;
- candidate sets stay bucket-pruned posting scans; the only driver-side
  materialization is the phrase-prefix expansion, bounded by
  max_expansions (ES default 50) BEFORE collect;
- ranked surfaces round to 4dp and tie-break by doc_id at the caller,
  like every other entry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.analyzer import analyze_text
from ..indexing.build import IndexTables
from .bm25 import score_contrib_col
from .exec import (
    _candidates,
    _df_map,
    _require_positions,
    dict_hits,
    phrase_empty,
    top_k,
    wildcard_query,
)

# ---------------------------------------------------------------------------
# dis_max
# ---------------------------------------------------------------------------


def dis_max_query(
    index: IndexTables,
    subqueries: list[list[str]],
    tie_breaker: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """ES ``dis_max``: each subquery is an OR-of-analyzed-terms clause;
    a doc's score is the BEST subquery score plus ``tie_breaker`` times
    the sum of the others (Lucene DisjunctionMaxQuery:
    max + tie * Σ(other scores)).

    Plan shape: ONE bucket-pruned posting scan over the union of all
    subquery terms → broadcast df join → per-term conditional sums in a
    single groupBy (the scored_terms fold, partial-aggregatable) → the
    dis-max combination as a pure column expression. No per-subquery
    jobs, no extra shuffle beyond the per-doc combine.

    Float determinism: per-subquery scores fold left-to-right over the
    subquery's sorted terms from 0.0 (absent terms contribute an
    IEEE-exact +0.0); the final expression is
    greatest(s_1..s_n) + tie * ((s_1 + .. + s_n) - greatest(..)) with
    subqueries combined in LISTED order — the oracle mirrors the same
    CASE sums and the same association.
    """
    subs = [sorted(set(s)) for s in subqueries]
    all_terms = sorted({t for s in subs for t in s})
    if not all_terms:
        return phrase_empty(index).select("doc_id", "score")
    cand = _candidates(index, all_terms)
    if len(all_terms) <= 32:
        # dfs as driver-side literals (r7, the scored_terms shape): no
        # per-query broadcast build; idf constant-folds per term.
        # Dictionary-absent terms have no postings rows — their sum is
        # NULL either way, the coalesce below keeps the fold exact.
        from elasticsearch_assets_spark.query.exec import term_dfs

        dfs = term_dfs(index, all_terms)

        def _contrib(t):
            return score_contrib_col(
                F.col("tf").cast("double"),
                F.col("dl").cast("double"),
                F.lit(float(dfs[t])),
                index.n_docs,
                index.avg_dl,
            )

        aggs = [
            F.sum(
                F.when(F.col("term") == t, _contrib(t))
                if t in dfs
                else F.lit(None).cast("double")
            ).alias(f"_c{i}")
            for i, t in enumerate(all_terms)
        ]
        g = cand.groupBy("doc_id").agg(*aggs)
        col_of = {t: F.col(f"_c{all_terms.index(t)}") for t in all_terms}
        sub_scores: list[Column] = []
        for s in subs:
            sc = F.lit(0.0)
            for t in s:  # already sorted — the pinned fold order
                sc = sc + F.coalesce(col_of[t], F.lit(0.0))
            sub_scores.append(sc)
    else:
        # >32 union terms: share scored_terms' wide-expansion shape
        # (VERDICT r6 item 4) — ONE sorted (term, contrib) array per doc
        # and one fold per SUBQUERY, instead of one conditional-sum
        # aggregate per term (a >32-branch sum chain stalls
        # codegen/Column conversion; see query/exec.py:96-118).
        # Each subquery folds ONLY its own terms, in term-sorted array
        # order from 0.0 — bit-identical to the literal chain above
        # (absent terms simply don't appear; x + 0.0 == x is IEEE-exact
        # for present ones, and (term, doc_id) rows are unique so each
        # term contributes once).
        dfm = _df_map(index, all_terms)
        contrib = cand.join(F.broadcast(dfm), "term").withColumn(
            "contrib",
            score_contrib_col(
                F.col("tf").cast("double"),
                F.col("dl").cast("double"),
                F.col("df").cast("double"),
                index.n_docs,
                index.avg_dl,
            ),
        )
        g = contrib.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias(
                "_cs"
            )
        )

        def _sub_fold(terms: list[str]):
            tset = F.array(*[F.lit(t) for t in terms])

            def _pred(x):
                return F.array_contains(tset, x["term"])

            return F.aggregate(
                F.filter(F.col("_cs"), _pred),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            )

        sub_scores = [_sub_fold(s) for s in subs]
    best = sub_scores[0] if len(sub_scores) == 1 else F.greatest(*sub_scores)
    total = sub_scores[0]
    for sc in sub_scores[1:]:
        total = total + sc
    score = best + F.lit(float(tie_breaker)) * (total - best)
    out = g.select("doc_id", score.alias("score"))
    return top_k(out, k)


# ---------------------------------------------------------------------------
# boosting / constant_score
# ---------------------------------------------------------------------------


def boosting_query(
    index: IndexTables,
    positive: list[str],
    negative: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES ``boosting`` query: docs matching the positive clause keep
    their BM25 score; docs ALSO matching the negative clause have it
    multiplied by ``negative_boost`` (Lucene BoostingQuery — demotion
    without exclusion, the soft version of must_not).

    Plan: positive = the standard scored_terms OR; negative = a
    DISTINCT doc_id set from one bucket-pruned posting scan, left-
    joined as a flag. The negative set is candidate-bounded (Σ df of
    the negative terms), and the multiply is a pure column expression —
    one extra bounded scan + join over bool_query's shape, no new
    shuffle kind. Float determinism: score * literal is a single IEEE
    multiply; the oracle replays it."""
    from .exec import scored_terms

    pos = scored_terms(index, sorted(set(positive))).select("doc_id", "score")
    neg_terms = sorted(set(negative))
    if not neg_terms:
        return top_k(pos, k)
    neg = (
        _candidates(index, neg_terms)
        .select("doc_id")
        .distinct()
        .withColumn("_neg", F.lit(True))
    )
    out = pos.join(neg, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.col("_neg"), F.col("score") * F.lit(float(negative_boost))
        )
        .otherwise(F.col("score"))
        .alias("score"),
    )
    return top_k(out, k)


def constant_score_query(
    index: IndexTables, terms: list[str], boost: float = 1.0, k: int = 10
) -> DataFrame:
    """ES ``constant_score``: every doc matching ANY of the filter
    terms scores exactly ``boost`` (filter context — no BM25, perfectly
    cacheable at the ES layer; here one distinct over a bucket-pruned
    posting scan). Ties rank by doc_id asc, so the top-k is the k
    smallest matching doc_ids at equal score."""
    uniq = sorted(set(terms))
    if not uniq:
        return phrase_empty(index).select("doc_id", "score")
    out = (
        _candidates(index, uniq)
        .select("doc_id")
        .distinct()
        .withColumn("score", F.lit(float(boost)))
    )
    return top_k(out, k)


# ---------------------------------------------------------------------------
# match_phrase_prefix
# ---------------------------------------------------------------------------


def prefix_expansions(
    index: IndexTables, prefix: str, max_expansions: int = 50
) -> list[str]:
    """The trailing-prefix expansion set: the first ``max_expansions``
    dictionary terms with the given prefix in term order (Lucene walks
    the term dictionary in order and stops at maxExpansions). The range
    scan comes from dict_hits (both bounds pushed to the parquet scan);
    the collect is bounded by max_expansions BEFORE it runs."""
    rows = (
        dict_hits(index, prefix + "*")
        .orderBy(F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def match_phrase_prefix(
    index: IndexTables,
    text: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the analyzed terms must appear
    consecutively, with the LAST term matched as a prefix against up to
    ``max_expansions`` dictionary terms (ES/Lucene
    MultiPhrasePrefixQuery semantics — the type-ahead query).

    Plan: the fixed terms reuse the phrase join-chain (one bucket-pruned
    positions column per unique fixed term, read from postings and
    inner-joined on doc_id); the expansion slot joins ONE aggregated
    positions frame — the union of the expanded terms' positions
    flattened per doc (Σ df over ≤50 expanded terms, bucket-pruned like
    any term scan). The match
    predicate is the exact-chain array filter with a final
    "expansion set contains p + n_fixed" step — all JVM array exprs.

    Scoring (pinned choice, mirrored by the oracle): BM25 over the
    FIXED terms only. Lucene blends expanded-term statistics into the
    MultiPhrase weight, which depends on which expansions exist at
    query time; scoring the stable prefix keeps ranks deterministic
    under dictionary growth — the documented trade.

    A single-term input (prefix only) degrades to the constant-score
    prefix wildcard, exactly ES's behavior for one position.
    """
    terms = analyze_text(text)
    if not terms:
        return phrase_empty(index)
    _require_positions(index)
    fixed, pref = terms[:-1], terms[-1]
    if not fixed:
        return wildcard_query(index, pref + "*", k)

    expanded = prefix_expansions(index, pref, max_expansions)
    if not expanded:
        return phrase_empty(index)

    uniq = sorted(set(fixed))
    from elasticsearch_assets_spark.query.exec import term_dfs

    dfs = term_dfs(index, uniq)
    if len(dfs) < len(uniq):
        return phrase_empty(index)

    # expansion-slot positions: one flattened array per doc over every
    # expanded term (sort_array only for a canonical layout; the
    # predicate is containment, order-insensitive)
    exp_pos = (
        _candidates(index, expanded)
        .groupBy("doc_id")
        .agg(F.sort_array(F.flatten(F.collect_list("positions"))).alias("_pexp"))
    )

    cols = {t: f"_p{i}" for i, t in enumerate(uniq)}
    joined = None
    for t in uniq:
        sel = [F.col("doc_id"), F.col("positions").alias(cols[t])]
        if joined is None:
            sel.append(F.col("dl"))
        part = _candidates(index, [t]).select(*sel)
        joined = part if joined is None else joined.join(part, "doc_id")
    joined = joined.join(exp_pos, "doc_id")

    def _step(i, nxt):
        return lambda p: F.array_contains(nxt, p + F.lit(i))

    starts = F.col(cols[fixed[0]])
    for i, t in enumerate(fixed[1:], start=1):
        starts = F.filter(starts, _step(i, F.col(cols[t])))
    starts = F.filter(starts, _step(len(fixed), F.col("_pexp")))
    matched = joined.where(F.size(starts) > 0)

    score = F.lit(0.0)
    for t in uniq:
        score = score + score_contrib_col(
            F.size(F.col(cols[t])).cast("double"),
            F.col("dl").cast("double"),
            F.lit(float(dfs[t])),
            index.n_docs,
            index.avg_dl,
        )
    return top_k(matched.select("doc_id", score.alias("score")), k)


# ---------------------------------------------------------------------------
# function_score decay
# ---------------------------------------------------------------------------


def decay_multiplier(
    value: Column,
    origin: float,
    scale: float,
    offset: float = 0.0,
    decay: float = 0.5,
    fn: str = "gauss",
) -> Column:
    """ES ``function_score`` decay multiplier on a numeric field —
    exactly the published formulas (DecayFunctionBuilder):

        dist   = max(0, |value - origin| - offset)
        gauss  = exp(-dist^2 / (2 sigma^2)),  sigma^2 = -scale^2 / (2 ln decay)
        exp    = exp(ln(decay)/scale * dist)
        linear = max(0, (s - dist) / s),      s = scale / (1 - decay)

    Pure double column expressions; the constants (sigma^2, lambda, s)
    are computed driver-side in Python floats and injected as literals,
    so both engines evaluate literal-op-literal with the same IEEE
    sequence. exp()/abs() agree bit-for-bit between the JVM and DuckDB
    on this box (same libm contract the BM25 ln() already relies on).
    """
    import math

    dist = F.greatest(
        F.lit(0.0), F.abs(value.cast("double") - F.lit(float(origin))) - F.lit(float(offset))
    )
    if fn == "gauss":
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))
        return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
    if fn == "exp":
        lam = math.log(decay) / scale
        return F.exp(F.lit(lam) * dist)
    if fn == "linear":
        s = scale / (1.0 - decay)
        return F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
    raise ValueError(f"unknown decay function: {fn}")


def function_score_decay(
    scored: DataFrame,
    values: DataFrame,
    value_col: str,
    origin: float,
    scale: float,
    offset: float = 0.0,
    decay: float = 0.5,
    fn: str = "gauss",
    boost_mode: str = "multiply",
) -> DataFrame:
    """Apply a decay function to an already-scored frame (doc_id,
    score): join the numeric field (ES reads it from doc values — here
    ``values`` is any (doc_id, value_col) frame, typically the base
    table projected to two columns so the scan prunes to them) and
    combine per ``boost_mode`` (multiply | sum — the two the reference's
    queries use).

    The join is doc_id-equi over the candidate set (bounded by the
    query's Σ df, never corpus-sized); at 100 TB the values side prunes
    to a two-column scan and AQE broadcasts whichever side is small.
    """
    mult = decay_multiplier(F.col(value_col), origin, scale, offset, decay, fn)
    j = scored.join(values.select("doc_id", value_col), "doc_id")
    if boost_mode == "multiply":
        combined = F.col("score") * mult
    elif boost_mode == "sum":
        combined = F.col("score") + mult
    else:
        raise ValueError(f"unknown boost_mode: {boost_mode}")
    return j.select("doc_id", combined.alias("score"))
