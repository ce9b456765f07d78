"""Streaming segment ingest + compaction lifecycle: files land ->
micro-batches commit segments through the manifest -> readers always
see exactly-one copy of every row -> compaction merges segments behind
one atomic manifest row -> GC removes the replaced dirs.

The streamed index must be posting-multiset identical to a batch build
of the same docs (BM25 stats derive from postings at query time, so
multiset identity == query identity).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.plans import manifest as M
from elasticsearch_assets_spark.streaming.ingest import stream_index_ingest

N_PARTS = 4


def _fingerprint(spark, path):
    df = M.read_resumable_postings(spark, path)
    row = df.agg(
        F.count("*").alias("rows"),
        F.sum(F.pmod(F.xxhash64("term", "doc_id"), F.lit(1000003))).alias("h"),
        F.sum("tf").alias("tfsum"),
    ).collect()[0]
    return (row["rows"], row["h"], row["tfsum"])


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_corpus_pandas(300, seed=13)


def _run_stream(spark, src, idx, ckpt, schema):
    q = stream_index_ingest(
        spark, src, schema, idx, ckpt,
        n_parts=N_PARTS, n_buckets=8, keep_positions=True,
    )
    q.awaitTermination()


def test_stream_ingest_compact_gc_lifecycle(spark, corpus_pdf, tmp_path):
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    batch_idx = str(tmp_path / "batch_idx")
    os.makedirs(src)
    schema = spark.createDataFrame(corpus_pdf.head(2)).schema

    # two files land -> availableNow drains them as two micro-batches
    corpus_pdf.iloc[:100].to_parquet(os.path.join(src, "f1.parquet"))
    corpus_pdf.iloc[100:200].to_parquet(os.path.join(src, "f2.parquet"))
    _run_stream(spark, src, idx, ckpt, schema)
    assert M.done_parts(spark, idx) == set(range(2 * N_PARTS))

    # streamed == batch build of the same docs (posting multiset)
    df200 = spark.createDataFrame(corpus_pdf.iloc[:200])
    M.build_index_resumable(df200, batch_idx, n_parts=4, keep_positions=True)
    assert _fingerprint(spark, idx) == _fingerprint(spark, batch_idx)

    # a third file lands; restart from the SAME checkpoint processes
    # ONLY the new file (batch 2 -> segments 8..11)
    corpus_pdf.iloc[200:].to_parquet(os.path.join(src, "f3.parquet"))
    _run_stream(spark, src, idx, ckpt, schema)
    assert M.done_parts(spark, idx) == set(range(3 * N_PARTS))
    batch_idx_300 = str(tmp_path / "batch_idx_300")
    df300 = spark.createDataFrame(corpus_pdf)
    M.build_index_resumable(df300, batch_idx_300, n_parts=4, keep_positions=True)
    fp300 = _fingerprint(spark, batch_idx_300)
    assert _fingerprint(spark, idx) == fp300

    # prox stream streamed in too: tf == len(positions) per posting
    pos = M.read_resumable_positions(spark, idx)
    bad = pos.where(F.size("positions") <= 0).count()
    assert bad == 0
    assert pos.count() == fp300[0]

    # an uncommitted data dir (crash between data write and manifest
    # commit) is invisible to readers
    shutil.copytree(
        os.path.join(idx, "postings", "part=0"),
        os.path.join(idx, "postings", "part=999"),
    )
    assert _fingerprint(spark, idx) == fp300
    shutil.rmtree(os.path.join(idx, "postings", "part=999"))

    # compact the first run's 8 segments into one; readers unchanged,
    # replaced ids hidden the instant the compaction row commits (the
    # old dirs are still on disk here)
    M.compact_segments(spark, idx, list(range(8)), new_part=1000)
    assert M.done_parts(spark, idx) == {1000, 8, 9, 10, 11}
    assert _fingerprint(spark, idx) == fp300
    assert os.path.isdir(os.path.join(idx, "postings", "part=0"))

    # compacted manifest row: additive fingerprint + lineage
    m = {r["partition_id"]: r for r in M.read_manifest(spark, idx).collect()}
    assert m[1000]["replaces"] == ",".join(str(p) for p in range(8))
    assert int(m[1000]["input_fingerprint"]) == sum(
        int(m[p]["input_fingerprint"]) for p in range(8)
    )
    assert m[1000]["rows"] == sum(m[p]["rows"] for p in range(8))

    # GC removes replaced dirs + rows; readers and live set unchanged
    assert M.gc_replaced_segments(spark, idx) == list(range(8))
    assert not os.path.isdir(os.path.join(idx, "postings", "part=0"))
    assert not os.path.isdir(os.path.join(idx, "positions", "part=3"))
    assert M.done_parts(spark, idx) == {1000, 8, 9, 10, 11}
    assert _fingerprint(spark, idx) == fp300
    assert M.gc_replaced_segments(spark, idx) == list(range(8))  # idempotent

    # drift-refresh assumes hash-part keying -> must refuse this index
    with pytest.raises(ValueError, match="compacted or stream-ingested"):
        M.refresh_index(df300, idx, n_parts=N_PARTS)


def test_ingest_batch_replay_is_idempotent(spark, corpus_pdf, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(corpus_pdf.iloc[:120])
    built = M.ingest_segment_batch(docs, idx, batch_id=0, n_parts=N_PARTS)
    assert built == list(range(N_PARTS))
    fp = _fingerprint(spark, idx)
    n_rows = M.read_manifest(spark, idx).count()
    # a replayed batch (same batch_id, same rows) skips everything
    assert M.ingest_segment_batch(docs, idx, batch_id=0, n_parts=N_PARTS) == []
    assert _fingerprint(spark, idx) == fp
    assert M.read_manifest(spark, idx).count() == n_rows


def test_batch_resume_skips_compacted_parts(spark, corpus_pdf, tmp_path):
    """Resuming a completed-then-compacted BATCH build must not rebuild
    the replaced hash parts (their docs live in the merged segment) —
    even after GC removed the replaced rows themselves."""
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(corpus_pdf.iloc[:150])
    M.build_index_resumable(docs, idx, n_parts=4)
    fp = _fingerprint(spark, idx)
    M.compact_segments(spark, idx, [0, 1], new_part=100)
    M.build_index_resumable(docs, idx, n_parts=4)  # no-op resume
    assert M.done_parts(spark, idx) == {100, 2, 3}
    assert _fingerprint(spark, idx) == fp
    M.gc_replaced_segments(spark, idx)
    M.build_index_resumable(docs, idx, n_parts=4)  # still a no-op
    assert M.done_parts(spark, idx) == {100, 2, 3}
    assert _fingerprint(spark, idx) == fp


def test_auto_compact_tiered_policy(spark, corpus_pdf, tmp_path):
    """auto_compact merges the smallest live segments into NEGATIVE ids
    (batch segment ids are always >= 0, so a positive new_part could
    collide with a FUTURE batch's deterministic id and make ingest skip
    that segment as done — silent loss of the micro-batch). Readers see
    an unchanged posting multiset throughout; the policy is idempotent
    once within bound."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(corpus_pdf.iloc[:60])
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(8))
    for b in range(8):
        M.ingest_segment_batch(docs.where(h == b), idx, batch_id=b,
                               n_parts=1, n_buckets=8)
    assert M.done_parts(spark, idx) == set(range(8))
    fp = _fingerprint(spark, idx)

    groups = M.auto_compact(spark, idx, max_live=3, max_merge=3)
    live = M.done_parts(spark, idx)
    assert len(live) <= 3
    assert all(len(g) >= 2 for g in groups)
    assert min(live) < 0  # compacted ids from the negative range
    assert _fingerprint(spark, idx) == fp
    assert M.auto_compact(spark, idx, max_live=3, max_merge=3) == []

    # next batch lands on its deterministic id with no collision, and
    # its docs actually arrive
    M.ingest_segment_batch(docs.limit(0), idx, batch_id=100, n_parts=1,
                           n_buckets=8)
    assert 100 in M.done_parts(spark, idx)
    assert _fingerprint(spark, idx) == fp  # empty batch adds nothing

    # GC of all replaced segments leaves the live set + multiset intact
    M.gc_replaced_segments(spark, idx)
    assert _fingerprint(spark, idx) == fp
    assert next(iter(M.done_parts(spark, idx) - {100})) is not None


def test_serve_resumable_index_matches_batch_scoring(spark, corpus_pdf, tmp_path):
    """A streamed+compacted index served through serve_resumable_index
    must score match queries identically (to float round-off in avg_dl
    accumulation order) to an in-memory build_index over the same docs
    — n_docs/avg_dl derive from manifest rows + denormalized dl, terms
    from one postings agg, n_buckets from build meta."""
    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.indexing.build import build_index
    from elasticsearch_assets_spark.query import exec as qx

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(corpus_pdf.iloc[:150])
    even = docs.where(F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2)) == 0)
    odd = docs.where(F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2)) == 1)
    M.ingest_segment_batch(even, idx, batch_id=0, n_parts=2, n_buckets=8,
                           keep_positions=True)
    M.ingest_segment_batch(odd, idx, batch_id=1, n_parts=2, n_buckets=8,
                           keep_positions=True)
    M.compact_segments(spark, idx, [0, 1], new_part=50)

    served = M.serve_resumable_index(spark, idx)
    ref = build_index(docs, n_buckets=8, keep_positions=True)
    assert served.n_docs == ref.n_docs == 150
    assert served.avg_dl == pytest.approx(ref.avg_dl, rel=1e-12)
    assert served.n_buckets == 8
    assert served.positions is not None

    terms = ["merge", "stream", "batch"]
    got = {
        r["doc_id"]: round(r["score"], 6)
        for r in qx.scored_terms(served, terms).collect()
    }
    want = {
        r["doc_id"]: round(r["score"], 6)
        for r in qx.scored_terms(ref, terms).collect()
    }
    assert got == want and len(got) > 0

    # a batch with a conflicting bucket count must refuse (wrong-B
    # segments would silently break query-side bucket pruning)
    with pytest.raises(ValueError, match="n_buckets"):
        M.ingest_segment_batch(docs, idx, batch_id=9, n_parts=2, n_buckets=4,
                               keep_positions=True)


def test_ingest_doc_id_col_passthrough(spark, corpus_pdf, tmp_path):
    """doc_id_col uses the caller's id verbatim (testdata documents
    carry their own doc_id) instead of xxhash64(id_cols)."""
    idx = str(tmp_path / "idx")
    pdf = corpus_pdf.iloc[:60].copy()
    pdf["my_id"] = range(1000, 1060)
    docs = spark.createDataFrame(pdf)
    M.ingest_segment_batch(docs, idx, batch_id=0, n_parts=2, n_buckets=8,
                           doc_id_col="my_id")
    ids = {
        r["doc_id"]
        for r in M.read_resumable_postings(spark, idx)
        .select("doc_id").distinct().collect()
    }
    assert ids and ids <= set(range(1000, 1060))


def test_compact_segments_validation(spark, corpus_pdf, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(corpus_pdf.iloc[:80])
    M.build_index_resumable(docs, idx, n_parts=4)
    with pytest.raises(ValueError, match=">= 2"):
        M.compact_segments(spark, idx, [0], new_part=50)
    with pytest.raises(ValueError, match="not live"):
        M.compact_segments(spark, idx, [0, 7], new_part=50)
    with pytest.raises(ValueError, match="already has a manifest row"):
        M.compact_segments(spark, idx, [0, 1], new_part=2)
    M.compact_segments(spark, idx, [0, 1], new_part=50)
    # a replaced (no longer live) segment can't be compacted again
    with pytest.raises(ValueError, match="not live"):
        M.compact_segments(spark, idx, [0, 2], new_part=51)
    # chained compaction of the merged segment is fine
    M.compact_segments(spark, idx, [50, 2], new_part=51)
    assert M.done_parts(spark, idx) == {51, 3}
