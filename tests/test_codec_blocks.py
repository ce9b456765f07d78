"""Varbyte codec unit tests + packed-index rank/score parity."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_assets_spark.indexing import codec


# ---- codec goldens ------------------------------------------------------
def test_varbyte_roundtrip_golden():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**63 - 1], dtype=np.uint64)
    buf = codec.varbyte_encode(vals)
    out = codec.varbyte_decode(buf, len(vals))
    assert (out == vals).all()


def test_varbyte_small_values_one_byte():
    vals = np.arange(0, 128, dtype=np.uint64)
    assert len(codec.varbyte_encode(vals)) == 128


def test_varbyte_decode_truncated_raises():
    # a block cut short on disk fails loudly, also under python -O
    buf = codec.varbyte_encode(np.array([1, 300, 2**20], dtype=np.uint64))
    with pytest.raises(ValueError):
        codec.varbyte_decode(buf[:-1], 3)


def test_zigzag():
    v = np.array([0, -1, 1, -2, 2, -(2**62), 2**62], dtype=np.int64)
    assert (codec.zigzag_decode(codec.zigzag_encode(v)) == v).all()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=200)
)
def test_varbyte_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert (codec.varbyte_decode(codec.varbyte_encode(vals), len(vals)) == vals).all()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=200,
        unique=True,
    )
)
def test_block_roundtrip_property(ids):
    doc_ids = np.array(ids, dtype=np.int64)
    tfs = (np.abs(doc_ids) % 17 + 1).astype(np.int64)
    dls = (np.abs(doc_ids) % 999 + 1).astype(np.int64)
    d_vb, t_vb, l_vb = codec.encode_block(doc_ids, tfs, dls)
    d, t, l = codec.decode_block(d_vb, t_vb, l_vb, len(doc_ids))
    order = np.argsort(doc_ids, kind="stable")
    assert (d == doc_ids[order]).all()
    assert (t == tfs[order]).all()
    assert (l == dls[order]).all()


# ---- packed index parity -------------------------------------------------
@pytest.fixture(scope="module")
def packed(spark, corpus):
    from elasticsearch_assets_spark.indexing.blockpack import pack_blocks
    from elasticsearch_assets_spark.query.wand import PackedIndex

    index, oracle = corpus
    blocks = pack_blocks(index, block_size=64).persist()
    blocks.count()
    return (
        PackedIndex(blocks, index.terms, index.n_docs, index.avg_dl, index.n_buckets),
        oracle,
    )


def _assert_parity(got_df, expected, tol=1e-6):
    got = [(r["doc_id"], r["score"]) for r in got_df.collect()]
    assert len(got) == len(expected)
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed, (got[:5], expected[:5])
        assert abs(gs - es) <= tol * max(1.0, abs(es))


@pytest.mark.parametrize(
    "text,k,op",
    [
        ("return", 10, "or"),  # hot single term → block-max path
        ("uniq_7", 5, "or"),  # rare single term
        ("parse_date mergeBatch", 25, "or"),  # MaxScore multi-term
        ("parse_date mergeBatch", 25, "and"),
        ("return self value merge", 15, "or"),  # hot head terms
        ("no_such_term", 10, "or"),
        # AND with a dictionary-missing term: the conjunction is empty
        # (ES match operator=and) — must agree with the uncompressed path
        ("merge no_such_term", 10, "and"),
    ],
)
def test_packed_matches_oracle(packed, text, k, op):
    from elasticsearch_assets_spark.query.wand import match_query_packed

    pidx, oracle = packed
    got = match_query_packed(pidx, text, k=k, operator=op)
    exp = oracle.match(text, k=k, operator=op)
    _assert_parity(got, exp)


def test_packed_spread_decode_rank_identical(packed, monkeypatch):
    """The r6 pre-decode repartition (hot-term parallelism at scale)
    must be rank/score-invisible: force the threshold to 0 so every
    decode takes the shuffled path, and compare against the oracle."""
    from elasticsearch_assets_spark.query import wand

    pidx, oracle = packed
    monkeypatch.setattr(wand, "SPREAD_BLOCK_THRESHOLD", 0)
    for text, k, op in [
        ("return self value merge", 15, "or"),
        ("parse_date mergeBatch", 25, "and"),
        ("uniq_7", 5, "or"),
    ]:
        got = wand.match_query_packed(pidx, text, k=k, operator=op)
        exp = oracle.match(text, k=k, operator=op)
        _assert_parity(got, exp)


def test_bloom_positions_roundtrip():
    ids = np.array([1, 7, 123456789, -5, 2**62], dtype=np.int64)
    bloom = codec.bloom_build(ids)
    assert len(bloom) == codec.BLOOM_BITS // 8
    # every member must test positive (no false negatives)
    assert codec.bloom_may_contain_any(bloom, codec.bloom_positions(ids))
    for i in ids:
        assert codec.bloom_may_contain_any(
            bloom, codec.bloom_positions(np.array([i], np.int64))
        )


def test_bloom_decode_skip_prunes_blocks_rank_safe(packed, spark):
    """Candidate-aware decode skip: a rare+hot query must decode FEWER
    non-essential blocks than exist, with rank-identical results."""
    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.query.wand import (
        bloom_skip_blocks,
        match_query_packed,
    )

    pidx, oracle = packed
    # rare term drives candidates; 'return' is the Zipf head
    text = "return uniq_7"
    got = match_query_packed(pidx, text, k=10)
    exp = oracle.match(text, k=10)
    _assert_parity(got, exp)

    # direct prune evidence: candidates of the rare terms vs hot blocks
    from elasticsearch_assets_spark.query.wand import decode_blocks

    rare_docs = (
        decode_blocks(pidx.blocks.where(F.col("term").isin(["uniq", "7"])))
        .select("doc_id")
        .distinct()
    )
    hot_blocks = pidx.blocks.where(F.col("term") == "return")
    total = hot_blocks.count()
    # a single candidate doc lives in exactly one block of the hot term
    # (+ Bloom false positives): nearly all decode work is skipped
    one = rare_docs.orderBy("doc_id").limit(1)
    survived = bloom_skip_blocks(hot_blocks, one).count()
    assert survived < total, (survived, total)
    # empty candidate set prunes everything
    empty = rare_docs.limit(0)
    assert bloom_skip_blocks(hot_blocks, empty).count() == 0


def test_packed_blocks_bounded(packed):
    """No block materially exceeds the target size (hash balance)."""
    pidx, _ = packed
    mx = pidx.blocks.agg({"n": "max"}).collect()[0][0]
    assert mx <= 64 * 4  # hash variance allowance


def test_pack_blocks_tiny_arrow_batches_identical(spark, corpus):
    """Force 13-row Arrow batches so (term, block) groups straddle batch
    boundaries INSIDE a real Spark job — the carry-over must make the
    packed output byte-identical to the default-batch pack."""
    from elasticsearch_assets_spark.indexing.blockpack import pack_blocks

    index, _ = corpus

    def snap(blocks):
        return sorted(
            (r["term"], r["block"], r["n"], bytes(r["docs_vb"]),
             bytes(r["tfs_vb"]), bytes(r["dls_vb"]), bytes(r["bloom"]),
             round(r["max_tfn"], 12))
            for r in blocks.collect()
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    want = snap(pack_blocks(index, block_size=16))
    try:
        spark.conf.set(key, "13")
        got = snap(pack_blocks(index, block_size=16))
    finally:
        spark.conf.set(key, default)
    assert got == want
