"""Block packing: postings → compressed block rows with block-max
metadata (the north rule's "docID delta + variable-byte compression"
and "block-max" storage).

Each (term, block) row holds ≤ ~block_size postings packed as binary:

    term, bucket, block, n, max_tfn, docs_vb, tfs_vb, dls_vb

- Block assignment is pmod(xxhash64(doc_id), n_blocks(term)) with
  n_blocks = ceil(df / block_size): a hot term with a billion postings
  becomes millions of independent rows packed by independent tasks —
  NO task ever owns a whole term (the salted-shuffle hot-term defense;
  a row_number window over term would serialize exactly there).
- max_tfn = max over the block of tf/(tf + k1*(1-b+b*dl/avgdl)) — the
  score upper bound for the block is idf(term) * max_tfn * (k1+1),
  computable at query time from the term dictionary alone.
- Encoding runs in mapInPandas over partition-sorted postings: ONE
  numpy pass per Arrow batch encodes EVERY block in the batch with
  segment-offset slicing (the mirror of the vectorized decoder in
  query/wand.py::decode_blocks). The former per-(term, block)
  applyInPandas paid Python/pandas overhead once per BLOCK — measured
  342 s for 1.92M blocks at 1.2M docs; this shape pays it once per
  ~10k-row Arrow batch.
- Groups never span partitions (the repartition key includes term), but
  they DO span Arrow batch boundaries — the generator carries the tail
  group of each batch into the next and flushes it at end-of-partition.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_assets_spark.indexing import codec
from elasticsearch_assets_spark.indexing.build import IndexTables, _write_bucketed
from elasticsearch_assets_spark.query.bm25 import K1, B

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("block", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("max_tfn", T.DoubleType(), False),
        T.StructField("docs_vb", T.BinaryType(), False),
        T.StructField("tfs_vb", T.BinaryType(), False),
        T.StructField("dls_vb", T.BinaryType(), False),
        # 128-byte doc_id Bloom: lets MaxScore skip DECODING
        # non-essential blocks that contain no candidate doc
        T.StructField("bloom", T.BinaryType(), False),
    ]
)


def _assign_blocks(index: IndexTables, block_size: int) -> DataFrame:
    nb = F.greatest(
        F.ceil(F.col("df") / F.lit(block_size)).cast("int"), F.lit(1)
    ).alias("n_blocks")
    return (
        index.postings.join(index.terms.select("term", "df"), "term")
        .withColumn("n_blocks", nb)
        .withColumn(
            "block",
            F.pmod(F.xxhash64("doc_id"), F.col("n_blocks").cast("long")).cast("int"),
        )
        .select("term", "bucket", "block", "doc_id", "tf", "dl")
    )


def _group_starts(terms: np.ndarray, blocks: np.ndarray) -> np.ndarray:
    """Start index of every (term, block) run in already-sorted arrays."""
    if len(terms) == 0:
        return np.zeros(0, dtype=np.int64)
    change = np.empty(len(terms), dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (blocks[1:] != blocks[:-1])
    return np.flatnonzero(change)


def _slices(flat: bytes, lens: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Cut one concatenated varbyte stream into per-block segments."""
    blk = np.add.reduceat(lens, starts) if len(starts) else lens[:0]
    offs = np.concatenate(([0], np.cumsum(blk)))
    return [flat[offs[i] : offs[i + 1]] for i in range(len(starts))]


def _encode_batch(pdf: pd.DataFrame, avg_dl: float, k1: float, b: float) -> pd.DataFrame:
    """Encode every (term, block) group in a doc_id-sorted batch — one
    vectorized numpy pass over the whole batch, per-block output rows."""
    terms = pdf["term"].to_numpy()
    blocks = pdf["block"].to_numpy(np.int64)
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)

    starts = _group_starts(terms, blocks)
    ngroups = len(starts)
    ns = np.diff(np.append(starts, len(pdf)))
    gidx = np.repeat(np.arange(ngroups), ns)

    # upstream sortWithinPartitions(..., doc_id) makes each group sorted;
    # fall back to an explicit segment sort if a caller skipped it
    deltas = doc_ids.copy()
    deltas[1:] -= doc_ids[:-1]
    deltas[starts] = doc_ids[starts]
    inner = np.ones(len(doc_ids), dtype=bool)
    inner[starts] = False
    if len(doc_ids) and (deltas[inner] <= 0).any():
        order = np.lexsort((doc_ids, gidx))
        terms, blocks, doc_ids, tfs, dls = (
            terms[order], blocks[order], doc_ids[order], tfs[order], dls[order]
        )
        deltas = doc_ids.copy()
        deltas[1:] -= doc_ids[:-1]
        deltas[starts] = doc_ids[starts]

    docs_flat, docs_lens = codec.varbyte_encode_with_lengths(
        codec.zigzag_encode(deltas)
    )
    tfs_flat, tfs_lens = codec.varbyte_encode_with_lengths(tfs.astype(np.uint64))
    dls_flat, dls_lens = codec.varbyte_encode_with_lengths(dls.astype(np.uint64))

    tfn = tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl))
    max_tfn = np.maximum.reduceat(tfn, starts) if ngroups else tfn[:0]

    # all blooms at once: (ngroups, 128-byte) bit matrix, scattered by
    # (block row, bit position) pairs
    bits = np.zeros((ngroups, codec.BLOOM_BITS // 8), dtype=np.uint8)
    pos = codec.bloom_positions(doc_ids)  # (N, K)
    rows = np.repeat(gidx, pos.shape[1])
    posf = pos.ravel()
    np.bitwise_or.at(bits, (rows, posf >> 3), (1 << (posf & 7)).astype(np.uint8))

    return pd.DataFrame(
        {
            "term": terms[starts],
            "bucket": pdf["bucket"].to_numpy(np.int64)[starts].astype(np.int32),
            "block": blocks[starts].astype(np.int32),
            "n": ns.astype(np.int32),
            "max_tfn": max_tfn,
            "docs_vb": _slices(docs_flat, docs_lens, starts),
            "tfs_vb": _slices(tfs_flat, tfs_lens, starts),
            "dls_vb": _slices(dls_flat, dls_lens, starts),
            "bloom": [bits[i].tobytes() for i in range(ngroups)],
        }
    )


def _pack_gen(avg_dl: float, k1: float, b: float):
    """mapInPandas generator factory: encodes complete groups per batch,
    carrying the (possibly incomplete) tail group into the next batch."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            starts = _group_starts(
                pdf["term"].to_numpy(), pdf["block"].to_numpy(np.int64)
            )
            if len(starts) <= 1:
                pending = pdf
                continue
            cut = int(starts[-1])
            pending = pdf.iloc[cut:].reset_index(drop=True)
            yield _encode_batch(pdf.iloc[:cut], avg_dl, k1, b)
        if pending is not None and len(pending):
            yield _encode_batch(pending, avg_dl, k1, b)

    return gen


def pack_blocks(
    index: IndexTables,
    block_size: int = 128,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """postings + term dictionary → packed block rows, shuffled keyed
    (term, block) at the session's shuffle parallelism — the in-memory
    serving shape. Each (term, block) group lands in exactly one
    partition, sorted contiguous with doc_id ascending, which is the
    encoder's input contract.
    """
    part = (
        _assign_blocks(index, block_size)
        .repartition("term", "block")
        .sortWithinPartitions("term", "block", "doc_id")
    )
    return part.mapInPandas(_pack_gen(index.avg_dl, k1, b), schema=BLOCK_SCHEMA)


def pack_and_write_blocks(
    index: IndexTables, path: str, block_size: int = 128
) -> None:
    """Single-shuffle pack→write: postings shuffle ONCE into the bucketed
    write layout (build._write_bucketed), sorted (term, block, doc_id) —
    which also meets the encoder's input contract — and blocks are
    encoded in place, so the blocks themselves never reshuffle."""
    _write_bucketed(
        _assign_blocks(index, block_size),
        os.path.join(path, "blocks"),
        index.n_buckets,
        sort_cols=("term", "block", "doc_id"),
        encode=lambda rows: rows.mapInPandas(
            _pack_gen(index.avg_dl, K1, B), schema=BLOCK_SCHEMA
        ),
    )


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "blocks"))
