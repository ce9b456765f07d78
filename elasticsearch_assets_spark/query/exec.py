"""Query execution over the inverted index — DataFrame plans only.

Re-implements the query surface the reference emits via ES DSL
(SURVEY.md §2.3): match (OR of analyzed terms), bool must/should
(Q1/Q2), terms, wildcard prefix (Q4), count (Q13), top-k (Q11) with the
ES tie-break (score desc, doc_id asc).

Plan shape for `match`, the flagship path:

    postings(bucket pruned, term pushed down)   WHERE bucket IN (..) AND term IN (..)
      -> per-row BM25 contribution               element_at(idf_map, term) * tf_norm * (k1+1)
      -> groupBy(doc_id): conditional sums       [one shuffle, partial agg]
         folded in term order                    0.0 + coalesce(sum(CASE WHEN term = 'a' ..), 0.0) + ..
      -> TakeOrderedAndProject(k)                [no global sort]

Each step is SQL text rendered by query/sql.py; the query's idfs ride
one `map(...)` literal, so queries of one shape reuse one compiled
class. The only shuffle is the per-doc score combine; candidate set
size is bounded by Σ df(term), and the bucket partition filter means a
10^12-doc index touches only the directories owning the query's terms.

`bool` is the same one scan with count gates: its must_not terms join
the scoring terms' scan, read no idf (NULL from the map, so they add
nothing to the score), and each clause becomes a per-doc conditional
count in the same groupBy, gated in one filter:

    groupBy(doc_id): score fold, count(CASE WHEN term IN (must_not) ..) AS _n_not, ..
      -> WHERE _n_not = 0 AND _n_must = |must| ..

_score_agg is the one builder of that aggregation for every scorer
(match, terms, bool, boosting, dis_max, the query_string planner's
term clauses, wildcard/fuzzy expansions and the packed-block decode in
query/wand.py); it alone picks the fold form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.functions.xxhash import term_bucket
from elasticsearch_assets_spark.indexing.build import IndexTables
from elasticsearch_assets_spark.query import sql as Q
from elasticsearch_assets_spark.query.bm25 import K1, B


def _candidates(index: IndexTables, terms: list[str]) -> DataFrame:
    """Postings rows for the given already-analyzed terms, with bucket
    partition pruning + term predicate pushdown."""
    p = index.postings
    if not terms:
        return p.where("FALSE")
    # bucket(term) must match the build-side pmod(xxhash64(term), B);
    # the pure-Python XXH64 is parity-pinned to Spark's, so partition
    # filters cost zero Spark jobs.
    buckets = sorted({term_bucket(t, index.n_buckets) for t in terms})
    return p.where(Q.candidates(buckets, terms))


def _require_positions(index: IndexTables) -> None:
    """Phrase-type queries need the postings' positions column."""
    if "positions" not in index.postings.columns:
        raise ValueError("index was built with keep_positions=False")


def _df_map(index: IndexTables, terms: list[str]) -> DataFrame:
    """Tiny (term, df) frame for the query's terms — broadcast side."""
    return index.terms.where(Q.in_list("term", terms))


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
    queries for them stay job-free. An index with a ``df_lookup`` (a
    served segment index) answers from it instead, with no job and no
    cache."""
    if index.df_lookup is not None:
        return index.df_lookup(terms)
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
    """Per-doc summed BM25 over the given terms → (doc_id, n_matched,
    dl, score). Basis for match/should (OR) and must (AND)."""
    # set(): a duplicate list entry must not add its term twice
    return _scored_terms(index, {"score": sorted(set(terms))}, k1=k1, b=b)


def _scored_terms(
    index: IndexTables,
    folds: dict[str, list[str]],
    counts: dict[str, list[str]] | None = None,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """_score_agg over ONE bucket-pruned scan of every fold and count
    term → (doc_id, n_matched, dl, *folds, *counts). Terms that are only
    counted (bool's must_not, boosting's negatives) are scanned with the
    scoring terms but read no idf, so they add nothing to any fold.

    Idfs: the conditional-sum form reads dfs from the driver-side
    dictionary cache as one map literal (query/sql.py): no per-query
    broadcast-build job and no per-query double in the generated code;
    the ln() and every float op stay JVM-side. The sorted-array form
    broadcasts the (term, df) frame instead."""
    counts = counts or {}
    terms = sorted({t for ts in [*folds.values(), *counts.values()] for t in ts})
    cand = _candidates(index, terms)
    if _array_form(folds):
        rows = cand.join(F.broadcast(_df_map(index, terms)), "term")
        contrib = Q.contrib(Q.idf(index.n_docs, "CAST(df AS DOUBLE)"), "tf", "dl", index.avg_dl, k1, b)
        return _score_agg(rows, contrib, folds, counts)
    dfs = term_dfs(index, sorted({t for ts in folds.values() for t in ts}))
    # dictionary-absent terms have no postings rows (every postings
    # term has a dictionary row by construction) — they get no
    # conditional sum, and skipping their +coalesce(NULL, 0.0) leaves
    # the running score bit-identical (x + 0.0 == x, IEEE-exact for the
    # non-negative contributions)
    folds = {name: [t for t in ts if t in dfs] for name, ts in folds.items()}
    if not dfs and not counts:
        return cand.selectExpr(
            "doc_id", "CAST(0 AS BIGINT) AS n_matched", "0 AS dl",
            *[f"0.0D AS {name}" for name in folds],
        ).limit(0)
    # no scoring term in the dictionary: the counted terms' rows still
    # aggregate (a query_string exclusion beside other clauses)
    idf = f"element_at({Q.idf_map(index.n_docs, dfs)}, term)" if dfs else "CAST(NULL AS DOUBLE)"
    return _score_agg(cand, Q.contrib(idf, "tf", "dl", index.avg_dl, k1, b), folds, counts)


# up to this many distinct fold terms, folds are per-term conditional
# sums; wider ones sort an array of per-term contributions
_CASE_FOLD_MAX = 32


def _array_form(folds: dict[str, list[str] | None]) -> bool:
    """The fold-form decision of _score_agg: the sorted-array fold for
    wide or driver-unknown (None) term sets — codegen can't absorb a
    100-branch conditional-sum chain (see r5 notes)."""
    if any(ts is None for ts in folds.values()):
        return True
    return len({t for ts in folds.values() for t in ts}) > _CASE_FOLD_MAX


def _score_agg(
    rows: DataFrame,
    contrib: str,
    folds: dict[str, list[str] | None],
    counts: dict[str, list[str]] | None = None,
) -> DataFrame:
    """THE per-doc BM25 aggregation → (doc_id, n_matched, dl, *folds,
    *counts), from candidate rows (doc_id, term, dl, ...) unique per
    (term, doc_id) and the SQL of each row's contribution.

    folds: name -> the terms whose contributions it sums (None: every
    row; its terms are not known on the driver). counts: name -> terms;
    the per-doc number of rows with one of them, so match gates on term
    subsets (bool's must / should / must_not, boosting's negatives)
    cost no second scan. n_matched counts every row. A row whose term
    is in no fold adds nothing to any fold, so its contribution may
    read NULL.

    Deterministic float association: each fold sums its contributions
    in term-sorted order from 0.0 (matches the oracle bit-for-bit; a
    plain groupBy().sum() sums in shuffle-arrival order and near-ties
    then rank-swap — SURVEY.md §7 "genuinely hard" #1). For short term
    lists a fold is a chain of per-term conditional sums — each
    sum(CASE WHEN term = t_i) is exactly that term's single
    contribution, and the left-to-right chain reproduces the sorted
    fold bit-for-bit while staying in whole-stage codegen: measured ~2x
    faster than the collect_list + sort_array + aggregate() shape on a
    1.2M-doc index (bit-identical over a full-corpus compare). Wide
    folds (_array_form) share one sorted (term, contrib) array per doc
    and fold their own terms of it."""
    counts = counts or {}
    if not _array_form(folds):
        rows = rows.selectExpr("doc_id", "term", "dl", f"{contrib} AS _contrib")
        sums = {name: Q.term_fold(sorted(ts), "_contrib") for name, ts in folds.items()}
        key = "term"
    else:
        rows = rows.selectExpr("doc_id", "dl", f"struct(term, {contrib} AS contrib) AS _tc")
        # a fold of every listed term reads the whole array unfiltered
        listed = {t for ts in [*folds.values(), *counts.values()] for t in ts or ()}
        sums = {
            name: Q.array_fold("sort_array(collect_list(_tc))", None if ts is None or listed <= set(ts) else ts)
            for name, ts in folds.items()
        }
        key = "_tc.term"
    return rows.groupBy("doc_id").agg(
        F.expr("count(1) AS n_matched"),
        F.expr("first(dl) AS dl"),
        *[F.expr(f"{e} AS {name}") for name, e in sums.items()],
        *[F.expr(f"count(CASE WHEN {Q.in_list(key, ts)} THEN 1 END) AS {name}") for name, ts in counts.items()],
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
        s = s.where(f"n_matched = {len(terms)}")
    return top_k(s.selectExpr("doc_id", "score"), k)


def terms_query(index: IndexTables, terms: list[str], k: int = 10) -> DataFrame:
    """ES `terms` query: un-analyzed exact terms, OR semantics."""
    s = scored_terms(index, sorted(set(terms)))
    return top_k(s.selectExpr("doc_id", "score"), k)


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
    (adds score), must_not = exclusion (no score).

    minimum_should_match (int or "N%"): at least that many DISTINCT
    should terms must match. ES default: 1 when there are only should
    clauses (any candidate matches ≥1 term, so that holds for free),
    0 when a must clause exists. Every gate is a per-doc count of
    matched must / should / must_not terms computed in the scoring
    aggregation itself: must_not terms ride the one bucket-pruned scan
    and a doc is kept only when it matched none of them — one scan and
    one shuffle, whatever the clauses."""
    must = sorted(set(must or []))
    should = sorted(set(should or []))
    must_not = sorted(set(must_not or []))

    all_scoring = sorted(set(must) | set(should))
    if not term_dfs(index, all_scoring):
        # no scoring term in the dictionary: no doc can score, so the
        # counted terms need no scan
        return phrase_empty(index)
    counts, gates = {}, []
    if must_not:
        # must_not rows are counted in n_matched too: the n_matched
        # gates below are exact only ANDed with this one
        counts["_n_not"] = must_not
        gates.append("_n_not = 0")
    if must:
        if must == all_scoring:
            # no extra should-terms: n_matched over the scoring set IS
            # the must-conjunction
            gates.append(f"n_matched = {len(must)}")
        else:
            counts["_n_must"] = must
            gates.append(f"_n_must = {len(must)}")
    if minimum_should_match is not None and should:
        msm = resolve_msm(minimum_should_match, len(should))
        if msm > 1 or (msm == 1 and must):
            if not must and should == all_scoring:
                # pure-should bool: n_matched counts exactly the
                # should terms
                gates.append(f"n_matched >= {msm}")
            else:
                counts["_n_should"] = should
                gates.append(f"_n_should >= {msm}")
    s = _scored_terms(index, {"score": all_scoring}, counts)
    if gates:
        s = s.where(" AND ".join(gates))
    return top_k(s.selectExpr("doc_id", "score"), k)


# below this many dictionary hits, expansion collects the terms and
# keeps STATIC bucket partition pruning (zero-job driver-side bucket
# math); above it, hits stay distributed and postings are semi-joined
WILDCARD_COLLECT_THRESHOLD = 128
# upper bound of a prefix range scan: term >= p AND term < p + _MAX_CHAR
_MAX_CHAR = "\uffff"


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
                return t.where(f"term >= {Q.lit(pre)} AND term < {Q.lit(pre + _MAX_CHAR)}")
            if suf and not pre:
                rev = getattr(index, "terms_rev", None)
                if rev is not None:
                    rs = suf[::-1]
                    return rev.where(
                        f"rev >= {Q.lit(rs)} AND rev < {Q.lit(rs + _MAX_CHAR)}"
                    ).selectExpr("term", "df")
                return t.where(f"endswith(term, {Q.lit(suf)})")
            if pre and suf:
                return t.where(
                    f"startswith(term, {Q.lit(pre)}) AND endswith(term, {Q.lit(suf)})"
                    f" AND length(term) >= {len(pre) + len(suf)}"
                )
            return t  # bare "*": every term
        if len(parts) == 3 and parts[0] == "" and parts[2] == "" and parts[1]:
            return t.where(f"contains(term, {Q.lit(parts[1])})")
    return t.where(f"term RLIKE {Q.lit('^' + _glob_to_regex(p) + '$')}")


def dict_hits_regexp(index: IndexTables, pattern: str) -> DataFrame:
    """Dictionary rows matching an anchored ES regexp."""
    return index.terms.where(f"term RLIKE {Q.lit(f'^{pattern}$')}")


def dict_hits_fuzzy(index: IndexTables, term: str, max_edits: int = 2) -> DataFrame:
    """Dictionary rows within `max_edits` Levenshtein distance of the
    (lowercased) term. The length window |len(t)-len(q)| ≤ max_edits is
    a necessary condition pushed ahead of the levenshtein evaluation —
    at 10^9 dictionary terms it prunes the scan to a narrow length band
    before the O(nm) distance runs. Spark's levenshtein() also takes a
    threshold arg, which short-circuits rows beyond the bound."""
    return index.terms.where(_fuzzy_pred(term.lower(), max_edits))


def _fuzzy_pred(q: str, max_edits: int) -> str:
    n = len(q)
    return (
        f"length(term) >= {n - max_edits} AND length(term) <= {n + max_edits}"
        f" AND levenshtein(term, {Q.lit(q)}, {max_edits}) >= 0"
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
    pred = Q.in_list("variant", qvars)
    if n_buckets is not None and "vbucket" in fuzzy.columns:
        # persisted layout: driver-side bucket math prunes directories
        buckets = sorted({term_bucket(v, n_buckets) for v in qvars})
        pred = f"{Q.in_list('vbucket', buckets)} AND {pred}"
    cand = fuzzy.where(pred).selectExpr("term").distinct()
    return index.terms.join(cand, "term", "left_semi").where(_fuzzy_pred(q, max_edits))


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
    rows = hits.selectExpr("term").limit(WILDCARD_COLLECT_THRESHOLD + 1).collect()
    if not rows:
        return index.postings.selectExpr(
            "doc_id", "0.0D AS score", "CAST(0 AS BIGINT) AS n_matched"
        ).limit(0)
    if len(rows) <= WILDCARD_COLLECT_THRESHOLD:
        return scored_terms(index, sorted(r["term"] for r in rows))
    rows = _candidates_semi(index, hits).join(hits.selectExpr("term", "df"), "term")
    contrib = Q.contrib(Q.idf(index.n_docs, "CAST(df AS DOUBLE)"), "tf", "dl", index.avg_dl)
    return _score_agg(rows, contrib, {"score": None})


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
    return top_k(scored_expansion(index, hits).selectExpr("doc_id", "score"), k)


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
    hb = hits.selectExpr(
        "term", f"CAST(pmod(xxhash64(term), {index.n_buckets}) AS INT) AS bucket"
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
    rows = hits.selectExpr("term").limit(WILDCARD_COLLECT_THRESHOLD + 1).collect()
    if not rows:
        return index.postings.where("FALSE")
    if len(rows) <= WILDCARD_COLLECT_THRESHOLD:
        return _candidates(index, [r["term"] for r in rows])
    return _candidates_semi(index, hits)


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
    return top_k(cand.selectExpr("doc_id", "1.0D AS score").distinct(), k)


def term_filter_count(index: IndexTables, terms: list[str]) -> int:
    """Q13 `count`: exact hit count for an OR-of-terms query."""
    return _candidates(index, sorted(set(terms))).selectExpr("doc_id").distinct().count()


def _conjunction_docset(index: IndexTables, dfs: dict[str, int]) -> DataFrame:
    """Docs containing ALL of the (dictionary-present) terms keyed in
    `dfs` — a rarest-term-first left_semi chain over the POSTINGS table
    (the same candidate-restriction trick MaxScore uses in
    query/wand.py): the rarest term's doc set is small, so every later
    step is a semi-join of a hot posting scan against a small
    (AQE-broadcastable) doc set. Returns the rarest term's posting
    rows; callers use it as a semi-join's right side, which the
    optimizer prunes to doc_id — position arrays never enter the plan."""
    order = sorted(dfs, key=lambda t: (dfs[t], t))
    docset = _candidates(index, [order[0]])
    for t in order[1:]:
        docset = docset.join(_candidates(index, [t]), "doc_id", "left_semi")
    return docset


def _positions_join(
    index: IndexTables, terms: list[str], docset: DataFrame | None = None
) -> tuple[DataFrame, dict[str, str]]:
    """One positions column per term (term -> its column name),
    INNER-joined on doc_id: the join chain IS the all-terms-present
    check, and measured 3.3x faster at 1.2M docs than the former
    groupBy + map_from_entries(collect_list) pivot (ObjectHashAggregate's
    per-row map building lost to plain shuffle joins; 'load config'
    dense-phrase warm 3.5s -> 1.1s). dl rides the first frame. A
    `docset` left_semi-trims every term's scan before the joins."""
    cols = {t: f"_p{i}" for i, t in enumerate(terms)}
    joined = None
    for t in terms:
        sel = ["doc_id", f"positions AS {cols[t]}"] + (["dl"] if joined is None else [])
        part = _candidates(index, [t]).selectExpr(*sel)
        if docset is not None:
            part = part.join(docset, "doc_id", "left_semi")
        joined = part if joined is None else joined.join(part, "doc_id")
    return joined, cols


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
    necessary and sufficient (sql.spread_slop; oracle mirrors with
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
            docset = _conjunction_docset(index, dfs)

    joined, cols = _positions_join(index, uniq, docset)

    if slop == 0 or len(terms) == 2:
        # phrase = exists start p with term_i at position p+i for all i:
        # narrow the start set with array filter/contains — all JVM-side
        # array expressions, no UDF. The 2-term slop form is already
        # exactly Lucene's move count for distinct terms; q != p keeps
        # "a a"-style repeats on distinct tokens.
        starts = cols[terms[0]]
        for i, t in enumerate(terms[1:], start=1):
            nxt = cols[t]
            if slop == 0:
                step = f"p -> array_contains({nxt}, p + {i})"
            else:
                step = f"p -> exists({nxt}, q -> abs(q - (p + {i})) <= {slop} AND q != p)"
            starts = f"filter({starts}, {step})"
        matched = joined.where(f"size({starts}) > 0")
    else:
        matched = joined.where(Q.spread_slop([cols[t] for t in terms], slop))

    # Score: BM25 over the phrase's unique terms (ES scores the phrase
    # clause with term statistics of its members). Zero-shuffle: tf =
    # |positions| per column, dl carried in the rows, idfs from the
    # driver-side dfs; contributions chain left-to-right in term-sorted
    # order from 0.0 — the exact float association of the oracle's
    # sorted fold (no explode, no groupBy)
    score = Q.positions_score(cols, dfs, index.n_docs, index.avg_dl)
    return top_k(matched.selectExpr("doc_id", f"{score} AS score"), k)


def phrase_empty(index: IndexTables) -> DataFrame:
    return index.postings.selectExpr("doc_id", "0.0D AS score").limit(0)
