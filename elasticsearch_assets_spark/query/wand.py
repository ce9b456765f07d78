"""Block-max pruned top-k over the packed index (MaxScore family).

Rank-safe pruning strategies, chosen per query shape:

- single term: true block-max skip. Phase 1 scores the highest-bound
  blocks until k docs are seen, establishing θ (a lower bound on the
  final k-th score); phase 2 decodes only blocks whose upper bound
  idf·max_tfn·(k1+1) ≥ θ. Every doc lives in exactly one block of the
  term, so a skipped block cannot contain a top-k doc — rank-identical
  by construction (ties: a pruned doc's score is strictly < θ, so the
  doc_id tie-break can never be reached).

- multi term (OR/AND): MaxScore term partitioning. θ comes from the
  rarest term's exact contributions (its idf is the largest, so it
  yields the tightest cheap bound). Terms whose bound prefix-sum ≤ θ
  are "non-essential": a doc matching ONLY those cannot reach θ.
  Candidates = docs in essential terms' postings; exact scores are then
  computed over all query terms restricted to candidates (left_semi).
  The hot Zipf-head terms ("return", "self") are precisely the ones
  that become non-essential — their billion-row posting lists are never
  aggregated, only semi-joined on the (small) candidate set.

Candidate-aware decode skip: packed blocks carry 128-byte doc_id
Blooms; non-essential blocks that provably hold no candidate are never
decoded (rank-safe — Bloom false negatives are impossible).

Serving-path routing note: the packed path trades latency for storage
(varbyte-compressed blocks, Arrow-batched Python decode); measured at
240k docs the row-postings path answers hot multi-term queries ~3x
faster while the packed path reads ~4x fewer bytes. A deployment
serves latency-critical queries from row postings and storage-bound /
scan-heavy workloads from blocks — both are rank-AND-score identical
(tests/test_codec_blocks.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.indexing import codec
from elasticsearch_assets_spark.query import sql as Q
from elasticsearch_assets_spark.query.bm25 import K1, idf
from elasticsearch_assets_spark.query.exec import _score_agg

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


class PackedIndex:
    """blocks + term dictionary + stats (the compressed serving index)."""

    def __init__(
        self,
        blocks: DataFrame,
        terms: DataFrame,
        n_docs: int,
        avg_dl: float,
        n_buckets: int,
        block_size: int = 128,
    ):
        self.blocks = blocks
        self.terms = terms
        self.n_docs = n_docs
        self.avg_dl = avg_dl
        self.n_buckets = n_buckets
        self.block_size = block_size

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        """term -> (df, max_tfn over all its blocks). Tiny driver fetch."""
        if not terms:
            return {}
        rows = (
            self.blocks.where(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.max("max_tfn").alias("mt"))
            .join(self.terms.where(F.col("term").isin(terms)), "term")
            .select("term", "df", "mt")
            .collect()
        )
        return {r["term"]: (int(r["df"]), float(r["mt"])) for r in rows}


# candidate sets larger than this skip the Bloom prefilter: probe cost
# is O(candidates × blocks) and a big candidate set means few skippable
# blocks anyway (every block likely holds SOME candidate). Decode-skip
# pays off exactly for selective queries — few candidates, hot terms.
BLOOM_CAND_THRESHOLD = 4_000


def bloom_skip_blocks(blocks: DataFrame, cand: DataFrame) -> DataFrame:
    """Drop packed blocks whose Bloom proves they contain NO candidate
    doc (the wand.py roadmap note, now implemented). Pass-through when
    the index predates blooms or the candidate set is too large."""
    if "bloom" not in blocks.columns:
        return blocks
    rows = cand.limit(BLOOM_CAND_THRESHOLD + 1).collect()
    if len(rows) > BLOOM_CAND_THRESHOLD:
        return blocks
    if not rows:
        return blocks.where(F.lit(False))
    pos = codec.bloom_positions(np.array([r["doc_id"] for r in rows], np.int64))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            # one vectorized probe for the whole batch: (n_blocks, bytes)
            # bloom matrix × (C, K) candidate bit positions
            mat = np.frombuffer(
                b"".join(pdf["bloom"]), dtype=np.uint8
            ).reshape(len(pdf), -1)
            hit = (mat[:, pos >> 3] >> (pos & 7)) & 1  # (n_blocks, C, K)
            keep = hit.all(axis=2).any(axis=1)
            yield pdf[keep]

    return blocks.mapInPandas(gen, schema=blocks.schema)


# Above this many estimated blocks, the decode input is round-robin
# repartitioned to defaultParallelism first. A term's blocks are
# deliberately CONTIGUOUS in the bucket layout (row-group pruning and
# sequential posting reads need that), which means a hot term's decode
# otherwise lands entirely on the 1-2 scan/cache partitions that own it:
# probed at 2.4M docs (r6), a 3-hot-term OR decoded ~56k blocks nearly
# single-threaded — 17-20s warm, each stage one straggler task. One
# shuffle of the packed bytes buys a 32-way decode; small/selective
# queries (the common case) stay shuffle-free.
SPREAD_BLOCK_THRESHOLD = 2048


def _spread_for_decode(index: PackedIndex, qblocks: DataFrame, terms: list[str], stats) -> DataFrame:
    est_blocks = sum(
        -(-stats[t][0] // index.block_size) for t in terms if t in stats
    )
    if est_blocks < SPREAD_BLOCK_THRESHOLD:
        return qblocks
    return qblocks.repartition(
        qblocks.sparkSession.sparkContext.defaultParallelism
    )


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Packed block rows → posting rows.

    Fully vectorized per Arrow batch: all blocks' varbyte streams are
    concatenated and decoded in ONE numpy pass (varbyte streams are
    self-delimiting, so concatenation is decode-transparent), then the
    per-block delta cumsum is recovered with a segment-offset
    subtraction — no Python loop over blocks or postings.
    """

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            total = int(ns.sum())
            if total == 0:
                continue
            deltas = codec.zigzag_decode(
                codec.varbyte_decode(b"".join(pdf["docs_vb"]), total)
            )
            # per-block cumsum: global cumsum minus each segment's
            # preceding prefix (first delta of a block is its raw id)
            g = np.cumsum(deltas)
            starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
            prefix = np.zeros(len(ns), dtype=np.int64)
            prefix[1:] = g[starts[1:] - 1]
            doc_ids = g - np.repeat(prefix, ns)
            tfs = codec.varbyte_decode(b"".join(pdf["tfs_vb"]), total)
            dls = codec.varbyte_decode(b"".join(pdf["dls_vb"]), total)
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), ns),
                    "doc_id": doc_ids,
                    "tf": tfs.astype(np.int32),
                    "dl": dls.astype(np.int32),
                }
            )

    return blocks.mapInPandas(gen, schema=DECODED_SCHEMA)


def _score_decoded(
    decoded: DataFrame, stats: dict[str, tuple[int, float]], n_docs: int, avg_dl: float
) -> DataFrame:
    """Exact BM25 over decoded posting rows → (doc_id, n_matched, dl,
    score): the idfs ride one map literal built from `stats`, folded by
    exec._score_agg — the row-postings path's aggregation."""
    dfs = {t: df_ for t, (df_, _) in stats.items()}
    contrib = Q.contrib(f"element_at({Q.idf_map(n_docs, dfs)}, term)", "tf", "dl", avg_dl)
    return _score_agg(decoded, contrib, {"score": sorted(stats)})


def scored_terms_packed(index: PackedIndex, text: str) -> DataFrame | None:
    """Exact per-doc BM25 over the packed index WITHOUT pruning or
    limit: decode → score. Used when the caller wants the full scored
    set (e.g. rounded re-ranking for cross-engine stable top-k).
    Returns None when no query term exists in the dictionary."""
    qterms = sorted(set(analyze_text(text)))
    stats = index.term_stats(qterms)
    qterms = [t for t in qterms if t in stats]
    if not qterms:
        return None
    qblocks = _spread_for_decode(
        index, index.blocks.where(F.col("term").isin(qterms)), qterms, stats
    )
    decoded = decode_blocks(qblocks)
    return _score_decoded(decoded, stats, index.n_docs, index.avg_dl)


def match_query_packed(
    index: PackedIndex, text: str, k: int = 10, operator: str = "or"
) -> DataFrame:
    """BM25 top-k over the packed index — rank-identical to the
    uncompressed path (tested), with MaxScore/block-max pruning."""
    analyzed = sorted(set(analyze_text(text)))
    stats = index.term_stats(analyzed)
    qterms = [t for t in analyzed if t in stats]
    spark = index.blocks.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not qterms:
        return empty
    # ES match operator=and: a query term absent from the dictionary can
    # never be matched, so the conjunction is empty (keeps this path
    # rank-identical to exec.match_query, which compares n_matched
    # against the UNfiltered analyzed term count)
    if operator == "and" and len(qterms) < len(analyzed):
        return empty

    qblocks = index.blocks.where(F.col("term").isin(qterms))

    if len(qterms) == 1 and operator != "and":
        return _single_term_blockmax(index, qblocks, qterms[0], stats, k)

    # ---- MaxScore ----
    bounds = {
        t: idf(index.n_docs, df_) * mt * (K1 + 1.0) for t, (df_, mt) in stats.items()
    }
    # θ: exact contributions of the rarest term (highest idf). Skip the
    # θ job entirely when it provably cannot prune: θ ≤ bounds[rarest],
    # so if even that upper bound is below no term's bound prefix, no
    # term can become non-essential (common for 2-3 similar-df terms) —
    # saves a decode+collect round trip per query.
    rarest = min(qterms, key=lambda t: stats[t][0])
    theta_ub = bounds[rarest]
    min_bound = min(bounds[t] for t in qterms if t != rarest) if len(qterms) > 1 else 0.0
    theta = 0.0
    if stats[rarest][0] >= k and min_bound <= theta_ub:
        r_scored = _score_decoded(
            decode_blocks(
                _spread_for_decode(
                    index,
                    qblocks.where(F.col("term") == rarest),
                    [rarest],
                    stats,
                )
            ),
            {rarest: stats[rarest]},
            index.n_docs,
            index.avg_dl,
        )
        theta_rows = (
            r_scored.orderBy(F.desc("score")).limit(k).select("score").collect()
        )
        theta = theta_rows[-1]["score"] if len(theta_rows) >= k else 0.0

    # essential = terms not provably useless under θ
    by_bound = sorted(qterms, key=lambda t: bounds[t])
    non_essential: list[str] = []
    acc = 0.0
    for t in by_bound[:-1]:  # always keep at least the largest-bound term
        if acc + bounds[t] <= theta:
            non_essential.append(t)
            acc += bounds[t]
        else:
            break
    essential = [t for t in qterms if t not in non_essential]

    if non_essential:
        # candidates come from essential terms only; non-essential
        # posting lists are decoded only where a candidate MIGHT live —
        # the per-block Bloom drops the rest before decode (rank-safe:
        # Bloom false negatives are impossible, and a non-candidate doc
        # can never enter the final scoring set anyway). The essential
        # decode is persisted: it feeds both the candidate set (an
        # action inside bloom_skip_blocks) and the final scoring pass.
        ess_decoded = decode_blocks(
            _spread_for_decode(
                index,
                qblocks.where(F.col("term").isin(essential)),
                essential,
                stats,
            )
        ).persist()
        cand = ess_decoded.select("doc_id").distinct()
        ne_blocks = qblocks.where(F.col("term").isin(non_essential))
        ne_blocks = bloom_skip_blocks(ne_blocks, cand)
        ne_decoded = decode_blocks(ne_blocks).join(cand, "doc_id", "left_semi")
        decoded = ess_decoded.unionByName(ne_decoded)
    else:
        ess_decoded = None
        decoded = decode_blocks(
            _spread_for_decode(index, qblocks, qterms, stats)
        )

    scored = _score_decoded(decoded, stats, index.n_docs, index.avg_dl)
    if operator == "and":
        scored = scored.where(F.col("n_matched") == len(qterms))
    topk = (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    if ess_decoded is not None:
        # materialize the ≤k result rows, then release the block cache —
        # otherwise every MaxScore query leaks a persisted DataFrame for
        # the session lifetime
        rows = [(r["doc_id"], r["score"]) for r in topk.collect()]
        ess_decoded.unpersist()
        return spark.createDataFrame(rows, "doc_id long, score double")
    return topk


def _phase1_blocks(qblocks: DataFrame, k: int) -> tuple[list, int]:
    """Phase-1 block selection for single-term block-max: the highest-
    bound blocks until ≥ k docs are covered. Every block holds ≥1 doc,
    so the k highest-bound blocks always cover ≥ min(k, df) docs — a
    distributed orderBy().limit(k) (TakeOrderedAndProject) bounds the
    driver fetch at O(k) metadata rows, NOT O(df/128): a Zipf-head term
    with 10^9 postings would otherwise land ~8M block-meta rows on the
    driver per query. Returns (block_ids, docs_covered)."""
    meta = (
        qblocks.select("block", "n", "max_tfn")
        .orderBy(F.desc("max_tfn"), F.asc("block"))
        .limit(k)
        .collect()
    )
    got, top_blocks = 0, []
    for r in meta:
        top_blocks.append(r["block"])
        got += r["n"]
        if got >= k:
            break
    return top_blocks, got


def _single_term_blockmax(
    index: PackedIndex, qblocks: DataFrame, term: str, stats, k: int
) -> DataFrame:
    df_, _mt = stats[term]

    # phase 1: highest-bound blocks until ≥ k docs seen → θ
    top_blocks, _got = _phase1_blocks(qblocks, k)
    p1 = _score_decoded(
        decode_blocks(qblocks.where(F.col("block").isin(top_blocks))),
        {term: stats[term]},
        index.n_docs,
        index.avg_dl,
    )
    p1_rows = (
        p1.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    )
    theta = p1_rows[-1]["score"] if len(p1_rows) >= k else -1.0

    # phase 2: decode only blocks whose upper bound can reach θ. The
    # bound reads the idf the scores use (the JVM-side ln() of the idf
    # map), so a block holding a doc tied at θ is never skipped
    bound = f"{Q.idf(index.n_docs, Q.lit(float(df_)))} * max_tfn * {Q.lit(K1 + 1.0)}"
    keep = qblocks.where(f"{bound} >= {Q.lit(float(theta))}")
    if top_blocks:
        keep = keep.where(f"NOT {Q.in_list('block', top_blocks)}")
    p2 = _score_decoded(
        decode_blocks(keep), {term: stats[term]}, index.n_docs, index.avg_dl
    )
    spark = qblocks.sparkSession
    p1_df = spark.createDataFrame(
        [(r["doc_id"], r["score"]) for r in p1_rows], "doc_id long, score double"
    )
    allc = p1_df.unionByName(p2.select("doc_id", "score"))
    return allc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
