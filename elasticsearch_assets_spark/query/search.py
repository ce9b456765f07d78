"""Search-surface extensions: field collapse, search_after pagination,
more_like_this, and the term suggester.

These are the ES result-shaping APIs a reference user reaches for right
after the core query set (SURVEY.md §2.3) — the reference emits its
queries against a live Elasticsearch, so `collapse`, `search_after`,
`more_like_this` and `suggest` all work there for free; this module
re-expresses them over our index tables.

Scale notes per function are inline; the common theme is that every
result page is a TakeOrderedAndProject (per-partition heaps, no global
sort) and every per-group reduction is a partial-aggregatable groupBy
(skew-proof — no single hot collapse key serializes a window sort).

Float determinism: ranked surfaces follow the repo protocol — callers
round scores to 4dp before collapsing/paginating so the group-best and
page boundaries agree bit-for-bit with the DuckDB oracles (raw engine
scores are already bit-identical via the term-sorted fold, the rounding
pins the oracle's unordered SQL sum too).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.analyzer import analyze_col
from ..indexing.build import IndexTables
from . import sql as Q
from .exec import dict_hits_fuzzy, scored_terms, top_k

# ---------------------------------------------------------------------------
# field collapse
# ---------------------------------------------------------------------------


def collapse_best_hits(scored: DataFrame, field: str, k: int) -> DataFrame:
    """ES ``collapse``: the top-``k`` hits keeping only the BEST hit per
    ``field`` value (score desc, doc_id asc within the group — the ES
    tie-break). ``scored`` must carry doc_id, score and the collapse
    field.

    Shape at scale: the group-best is ``min_by`` over the composite key
    (-score, doc_id) — a partial-aggregatable groupBy (map-side combine,
    one narrow shuffle of one row per (partition, field) pair), NOT a
    row_number window, so a hot collapse value (half the corpus sharing
    one key) never serializes into a single partition sort. The final
    page is a TakeOrderedAndProject over one row per distinct field
    value."""
    best = scored.groupBy(field).agg(
        F.min_by(
            F.struct(F.col("doc_id"), F.col("score")),
            F.struct((-F.col("score")).alias("ns"), F.col("doc_id")),
        ).alias("_hit")
    )
    return (
        best.select(
            field,
            F.col("_hit.doc_id").alias("doc_id"),
            F.col("_hit.score").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# search_after pagination
# ---------------------------------------------------------------------------


def search_after_pred(sorts: list[tuple[str, str]], after: tuple) -> Column:
    """Strictly-after predicate in the compound sort order: the standard
    OR-of-prefix-equalities decomposition, so every leg is a plain
    comparison the scan can push down (parquet min/max row-group skips
    on the leading sort column). Sort columns must be non-null — ES
    requires concrete sort values in the cursor too."""
    pred = F.lit(False)
    for i, (c, direction) in enumerate(sorts):
        leg = (
            F.col(c) > F.lit(after[i])
            if direction == "asc"
            else F.col(c) < F.lit(after[i])
        )
        for j in range(i):
            leg = (F.col(sorts[j][0]) == F.lit(after[j])) & leg
        pred = pred | leg
    return pred


def search_after(
    df: DataFrame,
    sorts: list[tuple[str, str]],
    after: tuple | None,
    size: int,
) -> DataFrame:
    """ES ``search_after``: the page of ``size`` rows strictly after the
    ``after`` cursor (the previous page's last sort-value tuple) in the
    total order given by ``sorts`` (``[(col, "asc"|"desc"), ...]`` —
    always end with a unique tie-break column, as ES requires).

    This is ES's replacement for deep from+size windows and scroll
    contexts, and the Spark shape keeps exactly the property that makes
    it scale: the cursor filter lands BEFORE any ordering (row pruning
    at the scan), and each page is a TakeOrderedAndProject — paging a
    10^12-row result never sorts more than the page."""
    order = [F.asc(c) if d == "asc" else F.desc(c) for c, d in sorts]
    src = df.where(search_after_pred(sorts, after)) if after is not None else df
    return src.orderBy(*order).limit(size)


# ---------------------------------------------------------------------------
# more_like_this
# ---------------------------------------------------------------------------


def interesting_terms(
    index: IndexTables,
    docs: DataFrame,
    seed_id,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> DataFrame:
    """The MLT term-selection half: the seed document's terms ranked by
    tf*idf (Lucene MoreLikeThis "interesting terms"; idf is the same
    BM25 idf the scorer uses), filtered by the classic min_term_freq /
    min_doc_freq noise gates, top ``max_query_terms`` by (rounded
    weight desc, term asc).

    The seed's term vector is re-derived by re-analyzing the stored
    text (what Lucene MLT does for stored fields) — a doc_id point
    lookup on the docs table, pushed to the scan. df comes from the
    term dictionary with the tiny seed vector broadcast."""
    seed_tf = (
        docs.where(F.col(doc_id_col) == seed_id)
        .select(F.explode(analyze_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    j = index.terms.join(F.broadcast(seed_tf), "term").where(
        (F.col("tf") >= F.lit(min_term_freq)) & (F.col("df") >= F.lit(min_doc_freq))
    )
    weight = f"ROUND(CAST(tf AS DOUBLE) * {Q.idf(index.n_docs, 'CAST(df AS DOUBLE)')}, 4)"
    return (
        j.withColumn("weight", F.expr(weight))
        .orderBy(F.desc("weight"), F.asc("term"))
        .limit(max_query_terms)
        .select("term", "tf", "df", "weight")
    )


def more_like_this(
    index: IndexTables,
    docs: DataFrame,
    seed_id,
    k: int = 10,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> DataFrame:
    """ES ``more_like_this``: score the corpus by BM25-OR over the seed
    document's interesting terms, excluding the seed itself. The only
    driver-side materialization is the interesting-term list — bounded
    by ``max_query_terms`` by construction, never corpus-sized."""
    terms = [
        r["term"]
        for r in interesting_terms(
            index,
            docs,
            seed_id,
            text_col,
            doc_id_col,
            max_query_terms,
            min_term_freq,
            min_doc_freq,
        ).collect()
    ]
    s = scored_terms(index, sorted(terms)).where(F.col(doc_id_col) != F.lit(seed_id))
    return top_k(s.select("doc_id", "score"), k)


# ---------------------------------------------------------------------------
# term suggester
# ---------------------------------------------------------------------------


def suggest_terms(
    index: IndexTables, term: str, max_edits: int = 2, size: int = 5
) -> DataFrame:
    """ES term ``suggest``: dictionary terms within ``max_edits``
    Levenshtein of the input, ranked the way ES's term suggester sorts
    candidates — closer first, then more frequent, then
    lexicographic — excluding an exact self-match. Candidate generation
    reuses dict_hits_fuzzy's length-banded thresholded-levenshtein scan
    (or swap in the SymSpell variant-bucket path for 10^9-term
    dictionaries — same contract, keyed fetch instead of a band scan)."""
    q = term.lower()
    hits = dict_hits_fuzzy(index, term, max_edits).where(F.col("term") != F.lit(q))
    return (
        hits.select(
            "term",
            F.levenshtein(F.col("term"), F.lit(q)).alias("distance"),
            F.col("df").cast("long").alias("doc_freq"),
        )
        .orderBy(F.asc("distance"), F.desc("doc_freq"), F.asc("term"))
        .limit(size)
    )
