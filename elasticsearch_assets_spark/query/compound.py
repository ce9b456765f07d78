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
- every per-doc score is a pure SQL expression folded in a PINNED
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
from . import sql as Q
from .exec import (
    _candidates,
    _positions_join,
    _require_positions,
    _scored_terms,
    dict_hits,
    phrase_empty,
    scored_terms,
    term_dfs,
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
    subquery terms → one per-doc aggregation with a fold per subquery
    (exec._score_agg: conditional sums, or the sorted-array fold for
    wide unions) → the dis-max combination as a pure SQL expression. No
    per-subquery jobs, no extra shuffle beyond the per-doc combine.

    Float determinism: per-subquery scores fold left-to-right over the
    subquery's sorted terms from 0.0 (absent terms contribute an
    IEEE-exact +0.0); the final expression is
    greatest(s_1..s_n) + tie * ((s_1 + .. + s_n) - greatest(..)) with
    subqueries combined in LISTED order — the oracle mirrors the same
    CASE sums and the same association.
    """
    subs = [sorted(set(s)) for s in subqueries]
    if not any(subs):
        return phrase_empty(index)
    folds = {f"_s{i}": s for i, s in enumerate(subs)}
    best = "_s0" if len(subs) == 1 else f"greatest({', '.join(folds)})"
    total = " + ".join(folds)
    score = f"{best} + {Q.lit(float(tie_breaker))} * (({total}) - {best})"
    out = _scored_terms(index, folds).selectExpr("doc_id", f"{score} AS score")
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

    Plan: ONE bucket-pruned scan of the positive and negative terms
    and one per-doc aggregation (exec._score_agg): the score folds the
    positive terms only, and two per-doc counts keep the docs that
    matched a positive term and flag those that matched a negative one.
    The multiply is a pure column expression. Float determinism:
    score * literal is a single IEEE multiply; the oracle replays it."""
    pos = sorted(set(positive))
    neg = sorted(set(negative))
    if not neg:
        return top_k(scored_terms(index, pos).selectExpr("doc_id", "score"), k)
    if not term_dfs(index, pos):
        # no positive term in the dictionary: the negatives need no scan
        return phrase_empty(index)
    out = (
        _scored_terms(index, {"score": pos}, {"_n_pos": pos, "_n_neg": neg})
        .where("_n_pos > 0")
        .selectExpr(
            "doc_id",
            f"CASE WHEN _n_neg > 0 THEN score * {Q.lit(float(negative_boost))} ELSE score END AS score",
        )
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
        return phrase_empty(index).selectExpr("doc_id", "score")
    out = (
        _candidates(index, uniq)
        .selectExpr("doc_id", f"{Q.lit(float(boost))} AS score")
        .distinct()
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
        .orderBy("term")
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
    dfs = term_dfs(index, uniq)
    if len(dfs) < len(uniq):
        return phrase_empty(index)

    # expansion-slot positions: one flattened array per doc over every
    # expanded term (sort_array only for a canonical layout; the
    # predicate is containment, order-insensitive)
    exp_pos = (
        _candidates(index, expanded)
        .groupBy("doc_id")
        .agg(F.expr("sort_array(flatten(collect_list(positions))) AS _pexp"))
    )

    joined, cols = _positions_join(index, uniq)
    joined = joined.join(exp_pos, "doc_id")

    starts = cols[fixed[0]]
    for i, nxt in enumerate([cols[t] for t in fixed[1:]] + ["_pexp"], start=1):
        starts = f"filter({starts}, p -> array_contains({nxt}, p + {i}))"
    matched = joined.where(f"size({starts}) > 0")
    score = Q.positions_score(cols, dfs, index.n_docs, index.avg_dl)
    return top_k(matched.selectExpr("doc_id", f"{score} AS score"), k)


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
