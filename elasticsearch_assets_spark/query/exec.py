"""Query execution over the inverted index — DataFrame plans only.

Re-implements the query surface the reference emits via ES DSL
(SURVEY.md §2.3): match (OR of analyzed terms), bool must/should
(Q1/Q2), terms, wildcard prefix (Q4), count (Q13), top-k (Q11) with the
ES tie-break (score desc, doc_id asc).

Plan shape for `match`, the flagship path:

    postings(bucket pruned, term pushed down)
      -> join broadcast(term df map)          [tiny: |query terms| rows]
      -> per-row BM25 contribution            [JVM codegen, no shuffle]
      -> groupBy(doc_id).sum                  [one shuffle, partial agg]
      -> TakeOrderedAndProject(k)             [no global sort]

The only shuffle is the per-doc score combine; candidate set size is
bounded by Σ df(term), and the bucket partition filter means a 10^12-doc
index touches only the directories owning the query's terms.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.functions.xxhash import term_bucket
from elasticsearch_assets_spark.indexing.build import IndexTables
from elasticsearch_assets_spark.query.bm25 import K1, B, score_contrib_col


def _candidates(index: IndexTables, terms: list[str]) -> DataFrame:
    """Postings rows for the given already-analyzed terms, with bucket
    partition pruning + term predicate pushdown."""
    p = index.postings
    if not terms:
        return p.where(F.lit(False))
    # bucket(term) must match the build-side pmod(xxhash64(term), B);
    # the pure-Python XXH64 is parity-pinned to Spark's, so partition
    # filters cost zero Spark jobs.
    buckets = sorted({term_bucket(t, index.n_buckets) for t in terms})
    return p.where(F.col("bucket").isin(buckets) & F.col("term").isin(terms))


def _require_positions(index: IndexTables) -> None:
    """Phrase-type queries need the postings' positions column."""
    if "positions" not in index.postings.columns:
        raise ValueError("index was built with keep_positions=False")


def _df_map(index: IndexTables, terms: list[str]) -> DataFrame:
    """Tiny (term, df) frame for the query's terms — broadcast side."""
    return index.terms.where(F.col("term").isin(terms))


# bound on the driver-side (term -> df) dictionary cache: at ~50 B/entry
# this is a few MB — the Lucene-terms-dict-in-RAM equivalent. Cleared
# wholesale when exceeded (queried-term working sets are tiny; an LRU
# would be ceremony).
_DF_CACHE_MAX = 65536


def term_dfs(index: IndexTables, terms: list[str]) -> dict[str, int]:
    """Driver-side df lookup for the query's terms, cached on the index
    (r7: one tiny dictionary job per FIRST sighting of a term instead of
    a broadcast-build job in every query). Returns entries only for
    dictionary-PRESENT terms; absent terms are cached as 0 so repeated
    queries for them stay job-free."""
    cache = index._df_cache
    missing = [t for t in terms if t not in cache]
    if missing:
        if len(cache) + len(missing) > _DF_CACHE_MAX:
            cache.clear()
        for t in missing:
            cache[t] = 0
        for r in _df_map(index, missing).collect():
            cache[r["term"]] = int(r["df"])
    return {t: cache[t] for t in terms if cache[t] > 0}


def scored_terms(
    index: IndexTables, terms: list[str], k1: float = K1, b: float = B
) -> DataFrame:
    """Per-doc summed BM25 over the given terms → (doc_id, score,
    n_matched). Basis for match/should (OR) and must (AND)."""
    cand = _candidates(index, terms)
    # Deterministic float association: contributions are summed in
    # term-sorted order (matches the oracle bit-for-bit; a plain
    # groupBy().sum() sums in shuffle-arrival order and near-ties then
    # rank-swap — SURVEY.md §7 "genuinely hard" #1). For the normal
    # short term list the fold is a chain of per-term conditional sums
    # — (term, doc_id) is unique post-tf-aggregation, so sum(when(term
    # = t_i)) is exactly that term's single contribution and the
    # left-to-right chain reproduces the sorted fold bit-for-bit while
    # staying in whole-stage codegen: measured ~2x faster than the
    # collect_list + sort_array + aggregate() shape on a 1.2M-doc
    # index (bit-identical over a full-corpus compare). Wide
    # expansions fall back to the array fold (codegen width).
    # set(): a duplicate list entry must not add its term's conditional
    # sum twice (the >32-term array-fold fallback counts each contrib
    # row once — both paths must agree for ANY input list)
    terms_sorted = sorted(set(terms))
    if len(terms_sorted) <= 32:
        # dfs as driver-side literals (r7, same trick phrase_query has
        # used since r5): the per-query BroadcastExchange of the tiny
        # (term, df) frame — a broadcast-BUILD job on every invocation —
        # is gone; the idf factor constant-folds per term. The ln() and
        # every float op stay JVM-side, so contributions are
        # bit-identical to the joined-df form.
        dfs = term_dfs(index, terms_sorted)

        def _contrib(t):
            return score_contrib_col(
                F.col("tf").cast("double"),
                F.col("dl").cast("double"),
                F.lit(float(dfs[t])),
                index.n_docs,
                index.avg_dl,
                k1,
                b,
            )

        # dictionary-absent terms have no postings rows (the former
        # dfm join dropped nothing: every postings term has a
        # dictionary row by construction) — they get no conditional
        # sum, and skipping their +coalesce(NULL, 0.0) leaves the
        # running score bit-identical (x + 0.0 == x, IEEE-exact for
        # the non-negative contributions).
        present = [t for t in terms_sorted if t in dfs]
        if not present:
            return (
                cand.select("doc_id")
                .withColumn("n_matched", F.lit(0).cast("bigint"))
                .withColumn("dl", F.lit(0).cast("int"))
                .withColumn("score", F.lit(0.0))
                .limit(0)
            )
        aggs = [
            F.sum(F.when(F.col("term") == t, _contrib(t))).alias(f"_c{i}")
            for i, t in enumerate(present)
        ]
        g = cand.groupBy("doc_id").agg(
            *aggs, F.count("*").alias("n_matched"), F.first("dl").alias("dl")
        )
        # Per-doc-absent terms contribute coalesce(NULL, 0.0): x + 0.0
        # == x is IEEE-exact, so the running value is bit-identical to
        # a fold that skips absent terms outright — while keeping the
        # expression tree LINEAR in the term count. (A when(c.isNotNull
        # (), score + c).otherwise(score) chain references `score`
        # twice per level: a 2^n-node tree that stalled
        # Column->Expression conversion beyond ~20 terms.)
        score = F.lit(0.0)
        for i in range(len(present)):
            score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
        return g.withColumn("score", score).drop(
            *[f"_c{i}" for i in range(len(present))]
        )
    # >32 terms (wide expansions): broadcast the (term, df) frame and
    # fold an array of per-term contributions — codegen can't absorb a
    # 100-branch conditional-sum chain (see r5 notes).
    dfm = _df_map(index, terms_sorted)
    contrib = cand.join(F.broadcast(dfm), "term").withColumn(
        "contrib",
        score_contrib_col(
            F.col("tf").cast("double"),
            F.col("dl").cast("double"),
            F.col("df").cast("double"),
            index.n_docs,
            index.avg_dl,
            k1,
            b,
        ),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("_cs"),
            F.count("*").alias("n_matched"),
            F.first("dl").alias("dl"),
        )
        .withColumn(
            "score",
            F.aggregate("_cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]),
        )
        .drop("_cs")
    )


# "give me every match" k: by repo convention callers pass 2**31 - 1
# (Int.MaxValue) when they want the full result set and re-rank on a
# ROUNDED score themselves (the cross-engine determinism protocol).
ALL_MATCHES = 2**31 - 1


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """ES tie-break: score desc, doc_id asc. Spark compiles
    orderBy+limit to TakeOrderedAndProject — per-partition heaps, no
    global sort.

    k >= ALL_MATCHES returns the scored frame UNSORTED (r7): the limit
    is a no-op at that k, and the huge-k OOM guard
    (topKSortFallbackThreshold, session.py) would otherwise compile the
    pointless ordering into a full rangepartition exchange + global
    sort — measured as a range-sampling job plus a sort of every scored
    row inside e.g. ft_phrase / ft_bool_must_not, whose entry callers
    immediately re-sort by the rounded score anyway."""
    if k >= ALL_MATCHES:
        return scored
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def match_query(
    index: IndexTables,
    text: str,
    k: int = 10,
    operator: str = "or",
) -> DataFrame:
    """ES `match` query: analyze the text, score as OR (default) or AND
    (operator="and" requires every term present — Q1 conjunction)."""
    terms = sorted(set(analyze_text(text)))
    s = scored_terms(index, terms)
    if operator == "and":
        s = s.where(F.col("n_matched") == len(terms))
    return top_k(s.select("doc_id", "score"), k)


def terms_query(index: IndexTables, terms: list[str], k: int = 10) -> DataFrame:
    """ES `terms` query: un-analyzed exact terms, OR semantics."""
    s = scored_terms(index, sorted(set(terms)))
    return top_k(s.select("doc_id", "score"), k)


def resolve_msm(minimum_should_match: int | str, n_optional: int) -> int:
    """ES minimum_should_match resolution for the forms the reference's
    queries use: a positive integer, or a percentage string ``"N%"``
    (floor of N% of the optional-clause count — the ES spec's
    "rounded down" rule). Clamped to [0, n_optional]."""
    if isinstance(minimum_should_match, str):
        p = minimum_should_match.strip()
        if not p.endswith("%"):
            raise ValueError(f"unsupported minimum_should_match: {p!r}")
        pct = float(p[:-1])
        if pct < 0:
            # ES negative-percentage form ("optional clauses that MAY
            # be missing") is not implemented — fail loudly instead of
            # silently clamping to match-anything (ADVICE r6)
            raise ValueError(
                f"negative minimum_should_match form not supported: {p!r}"
            )
        msm = int(n_optional * pct / 100.0)
    else:
        msm = int(minimum_should_match)
        if msm < 0:
            raise ValueError(
                f"negative minimum_should_match form not supported: {msm}"
            )
    return max(0, min(msm, n_optional))


def bool_query(
    index: IndexTables,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    minimum_should_match: int | str | None = None,
) -> DataFrame:
    """ES `bool`: must = intersection (scores sum), should = union
    (adds score), must_not = anti-join (no score).

    minimum_should_match (int or "N%"): at least that many DISTINCT
    should terms must match. ES default: 1 when there are only should
    clauses (any candidate matches ≥1 term, so that holds for free),
    0 when a must clause exists. When both must and extra should terms
    are present, the should-count gate is a second conditional-sum
    aggregation over the should terms semi-joined in — the same shape
    as the must gate, one extra bounded scan, no new shuffle kind."""
    must = sorted(set(must or []))
    should = sorted(set(should or []))
    must_not = sorted(set(must_not or []))

    all_scoring = sorted(set(must) | set(should))
    s = scored_terms(index, all_scoring)
    if must:
        if must == all_scoring:
            # no extra should-terms: n_matched over the scoring set IS
            # the must-conjunction — skip the second aggregation + join
            s = s.where(F.col("n_matched") == len(must))
        else:
            m = scored_terms(index, must).where(F.col("n_matched") == len(must))
            s = s.join(m.select("doc_id"), "doc_id", "left_semi")
    if minimum_should_match is not None and should:
        msm = resolve_msm(minimum_should_match, len(should))
        if msm > 1 or (msm == 1 and must):
            if not must and should == all_scoring:
                # pure-should bool: n_matched counts exactly the
                # should terms — a plain filter, zero extra work
                s = s.where(F.col("n_matched") >= msm)
            else:
                sm = scored_terms(index, should).where(
                    F.col("n_matched") >= msm
                )
                s = s.join(sm.select("doc_id"), "doc_id", "left_semi")
    if must_not:
        # no .distinct(): an anti-join is insensitive to right-side
        # duplicates, so deduping the exclusion set is a pure extra
        # exchange+aggregate (the join shuffles the same rows either way)
        ex = _candidates(index, must_not).select("doc_id")
        s = s.join(ex, "doc_id", "left_anti")
    return top_k(s.select("doc_id", "score"), k)


# below this many dictionary hits, expansion collects the terms and
# keeps STATIC bucket partition pruning (zero-job driver-side bucket
# math); above it, hits stay distributed and postings are semi-joined
WILDCARD_COLLECT_THRESHOLD = 128


def dict_hits(index: IndexTables, pattern: str) -> DataFrame:
    """Dictionary rows matching an ES wildcard pattern (`*`/`?`).
    Prefix patterns become a dictionary range scan (term >= p AND
    term < p+MAX) — SURVEY.md Q4 — and every other single-`*` shape
    decomposes into pushdown-friendly string predicates (parquet
    pushes StringStartsWith/EndsWith/Contains into the scan; an rlike
    regex never reaches it, so `*suffix` over a 10^9-term dictionary
    would otherwise be a full decode-and-match):

        prefix*        range scan (as before)
        *suffix        PREFIX range scan on the reversed dictionary
                       (terms_rev: rev = reverse(term) — Lucene's
                       ReverseStringFilter field): rev in
                       [rev(suffix), rev(suffix)+MAX). On the persisted
                       range-partitioned layout this prunes to 1-2
                       files + row groups via min/max, vs a FULL
                       dictionary decode for endswith at 10^9 terms.
                       Indexes without terms_rev fall back to endswith
                       (still a pushed StringEndsWith, but unpruned).
        *infix*        contains
        pre*suf        startswith AND endswith AND length guard
                       (exact for one `*`: no overlap double-count)

    `?` or multi-`*` patterns fall back to the anchored regex. Stays a
    DataFrame: never assume the hit set fits on the driver."""
    t = index.terms
    p = pattern.lower()
    if "?" not in p:
        parts = p.split("*")
        if len(parts) == 2:
            pre, suf = parts
            if pre and not suf:
                return t.where((F.col("term") >= pre) & (F.col("term") < pre + "￿"))
            if suf and not pre:
                rev = getattr(index, "terms_rev", None)
                if rev is not None:
                    rs = suf[::-1]
                    return rev.where(
                        (F.col("rev") >= rs) & (F.col("rev") < rs + "￿")
                    ).select("term", "df")
                return t.where(F.col("term").endswith(suf))
            if pre and suf:
                return t.where(
                    F.col("term").startswith(pre)
                    & F.col("term").endswith(suf)
                    & (F.length("term") >= len(pre) + len(suf))
                )
            return t  # bare "*": every term
        if len(parts) == 3 and parts[0] == "" and parts[2] == "" and parts[1]:
            return t.where(F.col("term").contains(parts[1]))
    regex = "^" + _glob_to_regex(p) + "$"
    return t.where(F.col("term").rlike(regex))


def dict_hits_regexp(index: IndexTables, pattern: str) -> DataFrame:
    """Dictionary rows matching an anchored ES regexp."""
    return index.terms.where(F.col("term").rlike(f"^{pattern}$"))


def dict_hits_fuzzy(index: IndexTables, term: str, max_edits: int = 2) -> DataFrame:
    """Dictionary rows within `max_edits` Levenshtein distance of the
    (lowercased) term. The length window |len(t)-len(q)| ≤ max_edits is
    a necessary condition pushed ahead of the levenshtein evaluation —
    at 10^9 dictionary terms it prunes the scan to a narrow length band
    before the O(nm) distance runs. Spark's levenshtein() also takes a
    threshold arg, which short-circuits rows beyond the bound."""
    q = term.lower()
    n = len(q)
    lt = F.length("term")
    return index.terms.where(
        (lt >= n - max_edits)
        & (lt <= n + max_edits)
        & (F.levenshtein(F.col("term"), F.lit(q), max_edits) >= 0)
    )


# ---- fuzzy at scale: SymSpell deletion-neighborhood dictionary -------
#
# dict_hits_fuzzy's length-band + thresholded-levenshtein scan touches
# every dictionary row in the band per query — fine at bench scale,
# hours at 10^9 terms. The SymSpell construction (public algorithm,
# Garbe) turns it into a KEYED lookup: if lev(a, b) <= d then the
# d-deletion neighborhoods of a and b intersect, so precomputing
# (variant -> term) for every term's deletion neighborhood lets a query
# fetch candidates with an IN filter on `variant` (pushed to the scan /
# pruned to bucket directories when persisted) and verify only the
# candidates with levenshtein. Neighborhoods are generated over a
# 7-char prefix (SymSpell's prefix indexing) to bound the blowup:
# ~1 + L + L(L-1)/2 variants per term at d=2.

FUZZY_PREFIX_LEN = 7
_SUBSTR_REST = 1 << 30


def _del1_col(v):
    """Array of all single-deletion variants of a string Column —
    pure JVM exprs (transform over 1..len with substr splicing)."""
    seq = F.when(
        F.length(v) > 0, F.sequence(F.lit(1), F.length(v))
    ).otherwise(F.expr("array()").cast("array<int>"))

    def cut(i):
        return F.concat(
            v.substr(F.lit(1), i - F.lit(1)),
            v.substr(i + F.lit(1), F.lit(_SUBSTR_REST)),
        )

    return F.transform(seq, cut)


def deletion_variants_col(v, max_edits: int):
    """Array Column: all variants of `v` with <= max_edits deletions
    (including v itself), deduplicated."""
    vs = F.array(v)
    for _ in range(max_edits):
        vs = F.array_distinct(
            F.concat(vs, F.flatten(F.transform(vs, _del1_col)))
        )
    return vs


def deletion_variants_py(s: str, max_edits: int, prefix_len: int = FUZZY_PREFIX_LEN):
    """Driver-side mirror of deletion_variants_col over the prefix —
    the query side of the SymSpell join key."""
    s = s[:prefix_len]
    out = {s}
    frontier = {s}
    for _ in range(max_edits):
        frontier = {w[:i] + w[i + 1 :] for w in frontier for i in range(len(w))}
        out |= frontier
    return sorted(out)


def build_fuzzy_dictionary(
    index: IndexTables,
    max_edits: int = 2,
    prefix_len: int = FUZZY_PREFIX_LEN,
) -> DataFrame:
    """(term, variant) rows: each dictionary term exploded over the
    deletion neighborhood of its prefix. Build once per index (persist
    or write next to it); at 10^9 terms this is the classic SymSpell
    space-for-time trade — ~40x rows of small strings, written once,
    pruned to an IN-filter per query."""
    pref = F.substring("term", 1, prefix_len)
    return index.terms.select(
        "term", F.explode(deletion_variants_col(pref, max_edits)).alias("variant")
    )


def write_fuzzy_dictionary(
    index: IndexTables,
    path: str,
    max_edits: int = 2,
    prefix_len: int = FUZZY_PREFIX_LEN,
    n_buckets: int = 64,
) -> None:
    """Persist the deletion dictionary partitioned by
    vbucket = pmod(xxhash64(variant), n_buckets): a query computes its
    variants' buckets DRIVER-SIDE (the parity-pinned pure-Python XXH64)
    and prunes to <= |variants| directories before the IN(variant)
    filter even runs — the same directory-pruning shape as the postings
    bucket layout. Parameters ride in fuzzy_meta.json."""
    import json as _json

    fz = build_fuzzy_dictionary(index, max_edits, prefix_len).withColumn(
        "vbucket", F.pmod(F.xxhash64("variant"), F.lit(n_buckets)).cast("int")
    )
    (
        fz.repartition(n_buckets, "vbucket")
        .sortWithinPartitions("vbucket", "variant", "term")
        .write.mode("overwrite")
        .partitionBy("vbucket")
        .parquet(os.path.join(path, "fuzzy"))
    )
    with open(os.path.join(path, "fuzzy_meta.json"), "w") as f:
        _json.dump(
            {
                "max_edits": max_edits,
                "prefix_len": prefix_len,
                "n_buckets": n_buckets,
            },
            f,
        )


def read_fuzzy_dictionary(spark, path: str) -> tuple[DataFrame, dict]:
    import json as _json

    with open(os.path.join(path, "fuzzy_meta.json")) as f:
        meta = _json.load(f)
    return spark.read.parquet(os.path.join(path, "fuzzy")), meta


def dict_hits_fuzzy_indexed(
    index: IndexTables,
    fuzzy: DataFrame,
    term: str,
    max_edits: int = 2,
    prefix_len: int = FUZZY_PREFIX_LEN,
    n_buckets: int | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """dict_hits_fuzzy served from a prebuilt deletion dictionary: an
    IN(variant) candidate fetch + exact levenshtein verification of the
    candidates only — same output contract (term, df). Precision is
    exact (every hit verified); recall matches the scan path except for
    edits SymSpell's prefix truncation can hide past position
    `prefix_len` under length-shifting edit combinations (parity-tested
    against the scan on the corpus dictionary).

    Pass the `meta` dict from read_fuzzy_dictionary to enforce the
    dictionary's build parameters: querying with max_edits larger than
    the dict was built with (or a different prefix_len) would silently
    lose recall — candidates past the built deletion depth simply
    aren't in the table — so that raises instead. meta also supplies
    n_buckets when the caller didn't."""
    if meta is not None:
        if max_edits > meta["max_edits"]:
            raise ValueError(
                f"fuzzy dictionary built with max_edits={meta['max_edits']}; "
                f"querying with max_edits={max_edits} would silently lose "
                "recall — rebuild the dictionary or lower the query edits"
            )
        if prefix_len != meta["prefix_len"]:
            raise ValueError(
                f"fuzzy dictionary built with prefix_len={meta['prefix_len']} "
                f"but query used prefix_len={prefix_len} — join keys would "
                "not line up"
            )
        if n_buckets is None:
            n_buckets = meta.get("n_buckets")
    q = term.lower()
    qvars = deletion_variants_py(q, max_edits, prefix_len)
    pred = F.col("variant").isin(qvars)
    if n_buckets is not None and "vbucket" in fuzzy.columns:
        # persisted layout: driver-side bucket math prunes directories
        buckets = sorted({term_bucket(v, n_buckets) for v in qvars})
        pred = F.col("vbucket").isin(buckets) & pred
    cand = fuzzy.where(pred).select("term").distinct()
    n = len(q)
    lt = F.length("term")
    return (
        index.terms.join(cand, "term", "left_semi")
        .where(
            (lt >= n - max_edits)
            & (lt <= n + max_edits)
            & (F.levenshtein(F.col("term"), F.lit(q), max_edits) >= 0)
        )
    )


def scored_expansion(index: IndexTables, hits: DataFrame) -> DataFrame:
    """BM25-scored OR over a DataFrame of dictionary hits (term, df) —
    the scored counterpart of expanded_candidates, used by fuzzy (and
    any multi-term rewrite that wants per-term idf instead of
    constant_score). Small hit sets collect and reuse the statically
    bucket-pruned scored_terms; large ones stay distributed: postings
    semi-joined on (bucket, term), df joined from the hits themselves.
    Deterministic: per-doc contributions fold in term-sorted order."""
    # ONE dictionary job (r7): the threshold probe is the collect
    # itself, bounded to threshold+1 short terms (see
    # expanded_candidates)
    rows = hits.select("term").limit(WILDCARD_COLLECT_THRESHOLD + 1).collect()
    if not rows:
        return (
            index.postings.select("doc_id")
            .limit(0)
            .withColumn("score", F.lit(0.0))
            .withColumn("n_matched", F.lit(0).cast("long"))
        )
    if len(rows) <= WILDCARD_COLLECT_THRESHOLD:
        return scored_terms(index, sorted(r["term"] for r in rows))
    cand = _candidates_semi(index, hits)
    contrib = cand.join(hits.select("term", "df"), "term").withColumn(
        "contrib",
        score_contrib_col(
            F.col("tf").cast("double"),
            F.col("dl").cast("double"),
            F.col("df").cast("double"),
            index.n_docs,
            index.avg_dl,
            K1,
            B,
        ),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("_cs"),
            F.count("*").alias("n_matched"),
        )
        .withColumn(
            "score",
            F.aggregate("_cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]),
        )
        .drop("_cs")
    )


def fuzzy_query(
    index: IndexTables, value: str, max_edits: int = 2, k: int = 10
) -> DataFrame:
    """ES/Lucene fuzzy query: expand the term to dictionary entries
    within `max_edits` Levenshtein distance, score the expansion as a
    BM25 OR (each expanded term with its own idf).

    Documented deviation: Lucene's FuzzyQuery blends the expansions'
    idf through its top-N multi-term rewrite and weights by edit
    distance; this engine scores each expansion with its exact BM25
    contribution (deterministic, oracle-reproducible)."""
    hits = dict_hits_fuzzy(index, value, max_edits)
    return top_k(scored_expansion(index, hits).select("doc_id", "score"), k)


def _candidates_semi(index: IndexTables, hits: DataFrame) -> DataFrame:
    """Postings for a DataFrame of dictionary hits: semi-join on
    (bucket, term) with the hits carrying their build-side bucket. The
    bucket join key lets dynamic partition pruning skip non-matching
    bucket directories. No broadcast hint: this path is reached exactly
    when the hit set exceeded WILDCARD_COLLECT_THRESHOLD, so it may be
    arbitrarily large (a short prefix over a 10^9-term dictionary) —
    forcing a broadcast would materialize it on the driver. AQE picks
    broadcast on its own when runtime stats show the set is small; a
    genuinely huge expansion stays a shuffle semi-join."""
    hb = hits.select(
        "term",
        F.pmod(F.xxhash64("term"), F.lit(index.n_buckets))
        .cast("int")
        .alias("bucket"),
    )
    return index.postings.join(hb, ["bucket", "term"], "left_semi")


def expanded_candidates(index: IndexTables, hits: DataFrame) -> DataFrame:
    """Candidate postings for an expanded multi-term query (wildcard /
    regexp). Small expansions (the common case) collect and reuse the
    statically-pruned path; large ones stay fully distributed.

    ONE dictionary job (r7): the threshold probe IS the collect —
    limit(threshold+1) bounds the driver transfer to ≤129 short terms,
    and only the > branch leaves the hit set distributed (the former
    separate count job then re-collect doubled the dictionary scans)."""
    rows = hits.select("term").limit(WILDCARD_COLLECT_THRESHOLD + 1).collect()
    if not rows:
        return index.postings.where(F.lit(False))
    if len(rows) <= WILDCARD_COLLECT_THRESHOLD:
        return _candidates(index, [r["term"] for r in rows])
    return _candidates_semi(index, hits)


def expand_wildcard(index: IndexTables, pattern: str) -> list[str]:
    """Driver-side expansion (small patterns / tests): the scale path is
    expanded_candidates(dict_hits(...))."""
    return [r["term"] for r in dict_hits(index, pattern).select("term").collect()]


def _glob_to_regex(glob: str) -> str:
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in ".^$+{}[]|()\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def wildcard_query(index: IndexTables, pattern: str, k: int = 10) -> DataFrame:
    """ES `wildcard`: constant-score filter (score = 1.0 per doc, the ES
    constant_score semantics for multi-term queries), tie-break doc_id."""
    cand = expanded_candidates(index, dict_hits(index, pattern))
    out = cand.select("doc_id").distinct().withColumn("score", F.lit(1.0))
    if k >= ALL_MATCHES:
        # "every match" (the planner's docset composition): the
        # ordering is destroyed downstream and the huge-k limit is a
        # no-op — skip the global sort (see top_k)
        return out
    return out.orderBy(F.asc("doc_id")).limit(k)


def term_filter_count(index: IndexTables, terms: list[str]) -> int:
    """Q13 `count`: exact hit count for an OR-of-terms query."""
    return _candidates(index, sorted(set(terms))).select("doc_id").distinct().count()


def _conjunction_docset(
    index: IndexTables, terms: list[str], dfs: dict[str, int] | None = None
) -> DataFrame:
    """Doc ids containing ALL of `terms` — a rarest-term-first left_semi
    chain over the POSTINGS table (the same candidate-restriction trick
    MaxScore uses in query/wand.py): the rarest term's doc set is small,
    so every later step is a semi-join of a hot posting scan against a
    small (AQE-broadcastable) doc set — position arrays never enter the
    plan. The df lookup is an O(#query-terms) dictionary probe."""
    uniq = sorted(set(terms))
    if dfs is None:
        dfs = term_dfs(index, uniq)
    if len(dfs) < len(uniq):
        # dictionary-missing term: the conjunction is provably empty
        return index.postings.select("doc_id").where(F.lit(False))
    order = sorted(uniq, key=lambda t: (dfs[t], t))
    docset = _candidates(index, [order[0]]).select("doc_id")
    for t in order[1:]:
        docset = docset.join(
            _candidates(index, [t]).select("doc_id"), "doc_id", "left_semi"
        )
    return docset


def _spread_slop_pred(terms: list[str], slop: int, pos_col):
    """Boolean Column over per-term positions columns (`pos_col(t)`
    resolves term → array Column): Lucene sloppy-phrase match for
    3+-term phrases — EXISTS an anchor w (in adjusted-position space)
    whose window [w, w+slop] intersects every slot's adjusted
    positions (adjusted = raw - slot offset). Anchor candidates are
    exactly the union of adjusted positions: the optimal window starts
    at some slot's element. All JVM array expressions (nested
    higher-order functions) — no UDF. Factory functions throughout:
    PySpark introspects lambda arity, so no defaulted-arg closures."""

    # r6 measurement note (VERDICT r5 #5 / the CLAUDE.md anchor-dedup
    # rough edge): three alternatives were interleave-A/B'd at 1.2M on
    # the dense 'load config value'~2 probe — (a) let-binding the
    # adjusted arrays in a lambda scope (anchors were ALREADY
    # per-doc-distinct via array_distinct): 3.2-3.6s vs 3.2-3.3s, no
    # change; (b) sort-merge sliding-window pass over (value, slot)
    # structs: 7.0-8.4s, 2x WORSE (struct sort + per-step array allocs);
    # (c) int-encoded merge with a flat primitive accumulator:
    # 5.1-5.5s, still worse. The positions arrays are short (~2-4 per
    # term per doc) so the anchor scan's nominal quadratic never
    # materializes, while every merge variant pays real per-element
    # allocation constants; the probe's wall time is the 3-column
    # positions join pipeline, not this predicate. The r5 anchor form
    # stands.
    def _shift(i):
        return lambda x: x - F.lit(i)

    adj = [
        F.transform(pos_col(t), _shift(i)) for i, t in enumerate(terms)
    ]
    anchors = F.array_distinct(F.flatten(F.array(*adj)))

    # slots of each distinct term (repeated-term phrases share one
    # positions array across several slots)
    slots: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        slots.setdefault(t, []).append(i)

    def _in_window(w):
        def pred(q):
            return (q >= w) & (q <= w + F.lit(slop))

        return pred

    def _raw_in_any_slot_window(w, term_slots):
        def pred(p):
            c = None
            for i in term_slots:
                this = (p >= w + F.lit(i)) & (p <= w + F.lit(slop + i))
                c = this if c is None else (c | this)
            return c

        return pred

    def _anchor_pred(w):
        cond = None
        for a in adj:
            c = F.exists(a, _in_window(w))
            cond = c if cond is None else (cond & c)
        for t, term_slots in slots.items():
            if len(term_slots) >= 2:
                # EXACT distinct-token requirement for repeated terms:
                # slot i's usable tokens form the interval
                # [w+i, w+slop+i] of the sorted position list, and both
                # endpoints are nondecreasing in i (a staircase interval
                # bipartite graph) — for those, Hall's condition
                # restricted to CONTIGUOUS slot ranges is necessary and
                # sufficient for a distinct assignment (greedy
                # smallest-feasible-position argument), and each range's
                # neighborhood union is counted exactly by the
                # OR-of-windows filter. O(c^2) range checks for c slots
                # of the same term (c is tiny).
                raw = pos_col(t)
                ss = sorted(term_slots)
                for a_i in range(len(ss)):
                    for b_i in range(a_i + 1, len(ss)):
                        rng = ss[a_i : b_i + 1]
                        enough = (
                            F.size(
                                F.filter(
                                    raw, _raw_in_any_slot_window(w, rng)
                                )
                            )
                            >= len(rng)
                        )
                        cond = cond & enough
        return cond

    return F.exists(anchors, _anchor_pred)


def phrase_query(
    index: IndexTables, phrase: str, k: int = 10, slop: int = 0
) -> DataFrame:
    """Match_phrase: all terms present with consecutive positions.

    Positions are the postings' ``positions`` column (keep_positions);
    consecutive-ness is checked with array ops on shifted positions —
    JVM-side, no UDF. Plan: join the n terms' posting rows on doc_id,
    then fold position arrays.

    slop > 0 (`"a b"~N`, match_phrase slop): Lucene's sloppy-phrase
    semantics — a doc matches iff some choice of one position per
    phrase slot has adjusted-position SPREAD ≤ slop, where the adjusted
    position of slot i is pos - i (Lucene's SloppyPhraseMatcher keeps a
    queue of PhrasePositions at position-offset and tests
    matchLength = end - start ≤ slop; the shared budget the per-term
    window approximation in rounds ≤4 overshot). Equivalently: some
    length-(slop+1) window in adjusted space intersects every slot's
    positions. Two-term phrases keep the direct form (moves =
    |pos_b - pos_a - 1|, reversed adjacency at slop 2 — identical to
    the window form for distinct terms). Repeated-term phrases:
    distinct slots of the same term must use distinct tokens, enforced
    EXACTLY — slot windows are staircase intervals over the sorted
    position list, so Hall's condition over contiguous slot ranges is
    necessary and sufficient (_spread_slop_pred; oracle mirrors with
    the equivalent greedy assignment, brute-force-pinned in
    tests/test_property_fuzz.py).
    """
    terms = analyze_text(phrase)
    if not terms:
        return phrase_empty(index)
    _require_positions(index)
    uniq = sorted(set(terms))
    dfs = term_dfs(index, uniq)
    if len(dfs) < len(uniq):
        # a dictionary-missing term can never form the phrase
        return phrase_empty(index)

    # ADAPTIVE candidate restriction: the tf-only conjunction has at
    # most min(df) docs, so when some term is selective the fat
    # position-array scans are left_semi-trimmed BEFORE any shuffle;
    # when every term is near-ubiquitous (min(df) ~ Σdf/n — the
    # synthetic-corpus worst case) the semi-join provably cannot prune
    # and is skipped. dfs are already on the driver (idf needs them).
    docset = None
    if len(uniq) > 1:
        sum_df = sum(dfs.values())
        min_df = min(dfs.values())
        if sum_df > 1.5 * len(dfs) * min_df:
            docset = _conjunction_docset(index, uniq, dfs)

    # One positions column per unique term, INNER-joined on doc_id —
    # the join chain IS the all-terms-present check, and measured 3.3x
    # faster at 1.2M docs than the former groupBy +
    # map_from_entries(collect_list) pivot (ObjectHashAggregate's
    # per-row map building lost to plain shuffle joins; 'load config'
    # dense-phrase warm 3.5s -> 1.1s). dl rides the first frame.
    cols = {t: f"_p{i}" for i, t in enumerate(uniq)}
    joined = None
    for t in uniq:
        sel = [F.col("doc_id"), F.col("positions").alias(cols[t])]
        if joined is None:
            sel.append(F.col("dl"))
        part = _candidates(index, [t]).select(*sel)
        if docset is not None:
            part = part.join(docset, "doc_id", "left_semi")
        joined = part if joined is None else joined.join(part, "doc_id")

    def _pos_col(t):
        return F.col(cols[t])

    # phrase = exists start p with term_i at position p+i for all i:
    # narrow the start set with array filter/contains — all JVM-side
    # array expressions, no UDF. Factory functions, not defaulted-arg
    # closures: higher-order fns introspect lambda arity.
    def _step(i, nxt):
        return lambda p: F.array_contains(nxt, p + F.lit(i))

    def _step_slop(i, nxt, s):
        def pred(p):
            def near(q):
                return (F.abs(q - (p + F.lit(i))) <= F.lit(s)) & (q != p)

            return F.exists(nxt, near)

        return pred

    if slop == 0 or len(terms) == 2:
        # exact chain (slop 0) and the 2-term direct form (already
        # exactly Lucene's move count for distinct terms; q != p keeps
        # "a a"-style repeats on distinct tokens)
        starts = _pos_col(terms[0])
        for i, t in enumerate(terms[1:], start=1):
            nxt = _pos_col(t)
            step = _step(i, nxt) if slop == 0 else _step_slop(i, nxt, slop)
            starts = F.filter(starts, step)
        match_pred = F.size(starts) > 0
    else:
        match_pred = _spread_slop_pred(terms, slop, _pos_col)
    matched = joined.where(match_pred)

    # Score: BM25 over the phrase's unique terms (ES scores the phrase
    # clause with term statistics of its members). Zero-shuffle: tf =
    # |positions| per column, dl carried in the rows, df as driver-side
    # literals; contributions chain left-to-right in term-sorted order
    # from 0.0 — the exact float association of the oracle's sorted
    # fold (no explode, no groupBy, pure whole-stage codegen)
    score = F.lit(0.0)
    for t in uniq:
        score = score + score_contrib_col(
            F.size(_pos_col(t)).cast("double"),
            F.col("dl").cast("double"),
            F.lit(float(dfs[t])),
            index.n_docs,
            index.avg_dl,
        )
    return top_k(matched.select("doc_id", score.alias("score")), k)


def phrase_empty(index: IndexTables) -> DataFrame:
    return index.postings.select(
        "doc_id", F.lit(0.0).alias("score")
    ).limit(0)
