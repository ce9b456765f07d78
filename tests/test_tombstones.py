"""Tombstone deletes over the resumable/streamed index — the Lucene
liveDocs lifecycle (ElasticsearchBulkSender.ts:55-73 delete actions on
the write side):

- delete_docs commits tombstone batches (parquet _SUCCESS = commit)
- serving anti-joins dead docs out of postings/positions while corpus
  stats (df, n_docs, avg_dl) keep counting them — Lucene docFreq/maxDoc
  semantics, until a purging merge
- compact_segments(purge_deletes=True) physically drops dead rows,
  corrects the merged manifest row's doc count, and retires tombstones
  ONLY on a full merge (partial merges must keep them — a re-ingested
  doc_id can live in an unmerged segment)
- after the full purging merge the index is posting-multiset identical
  to a batch build over the surviving docs
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.plans import manifest as M


def _fingerprint(spark, path):
    df = M.read_resumable_postings(spark, path)
    row = df.agg(
        F.count("*").alias("rows"),
        F.sum(F.pmod(F.xxhash64("term", "doc_id"), F.lit(1000003))).alias("h"),
        F.sum("tf").alias("tfsum"),
    ).collect()[0]
    return (row["rows"], row["h"], row["tfsum"])


@pytest.fixture(scope="module")
def deleted_index(spark, tmp_path_factory):
    """Streamed 2-batch index (120 docs) + a deterministic tombstone
    set drawn from committed postings."""
    pdf = generate_corpus_pandas(120, seed=7)
    idx = str(tmp_path_factory.mktemp("tomb") / "idx")
    for b in (0, 1):
        lo, hi = b * 60, (b + 1) * 60
        M.ingest_segment_batch(
            spark.createDataFrame(pdf.iloc[lo:hi]),
            idx,
            batch_id=b,
            n_parts=2,
            n_buckets=8,
            keep_positions=True,
        )
    dead = [
        r["doc_id"]
        for r in M.read_resumable_postings(spark, idx)
        .select("doc_id")
        .distinct()
        .where(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
        .collect()
    ]
    assert len(dead) >= 5
    return idx, pdf, sorted(dead)


def test_serving_excludes_deleted_but_stats_stay(spark, deleted_index):
    idx, _, dead = deleted_index
    before = M.serve_resumable_index(spark, idx)
    n = M.delete_docs(spark, idx, dead[:3])
    assert n == 3
    # second batch through the DataFrame form; overlap is a no-op
    n2 = M.delete_docs(
        spark, idx, spark.createDataFrame([(i,) for i in dead], "doc_id long")
    )
    assert n2 == len(dead)

    after = M.serve_resumable_index(spark, idx)
    live_ids = {
        r["doc_id"] for r in after.postings.select("doc_id").distinct().collect()
    }
    assert live_ids.isdisjoint(set(dead))
    pos_ids = {
        r["doc_id"]
        for r in after.postings.where(F.size("positions") > 0)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert pos_ids.isdisjoint(set(dead))

    # Lucene semantics: df/n_docs/avg_dl still count the dead docs
    assert after.n_docs == before.n_docs
    assert after.avg_dl == before.avg_dl
    assert (
        after.terms.orderBy("term").collect()
        == before.terms.orderBy("term").collect()
    )
    # raw serving still exposes everything
    raw = M.serve_resumable_index(spark, idx, apply_deletes=False)
    assert set(dead) <= {
        r["doc_id"] for r in raw.postings.select("doc_id").distinct().collect()
    }


def test_uncommitted_tombstone_batch_is_invisible(spark, deleted_index):
    idx, _, dead = deleted_index
    tomb_before = M.read_deletes(spark, idx).count()
    # a crash mid-write leaves a dir without _SUCCESS
    broken = os.path.join(idx, "deletes", "b97")
    os.makedirs(broken)
    with open(os.path.join(broken, "junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert M.read_deletes(spark, idx).count() == tomb_before
    import shutil

    shutil.rmtree(broken)


def test_partial_purge_keeps_tombstones(spark, deleted_index):
    idx, _, dead = deleted_index
    rows = {
        r["partition_id"]: int(r["rows"])
        for r in M.read_manifest(spark, idx)
        .where(F.col("status") == "done")
        .collect()
    }
    # batch 0 = segments {0,1}: how many dead docs live there?
    seg0 = spark.read.parquet(
        os.path.join(idx, "postings", "part=0"),
        os.path.join(idx, "postings", "part=1"),
    )
    covered = (
        seg0.select("doc_id")
        .distinct()
        .where(F.col("doc_id").isin(dead))
        .count()
    )
    assert covered > 0
    M.compact_segments(spark, idx, [0, 1], new_part=-1, purge_deletes=True)
    m = {
        r["partition_id"]: r
        for r in M.read_manifest(spark, idx)
        .where(F.col("status") == "done")
        .collect()
    }
    assert int(m[-1]["rows"]) == rows[0] + rows[1] - covered
    # merged segment physically dropped the dead rows
    merged = spark.read.parquet(os.path.join(idx, "postings", "part=-1"))
    assert merged.where(F.col("doc_id").isin(dead)).count() == 0
    # PARTIAL merge: tombstones still live (segments 2,3 may hold dead docs)
    assert M.read_deletes(spark, idx) is not None
    live = M.serve_resumable_index(spark, idx)
    assert {
        r["doc_id"] for r in live.postings.select("doc_id").distinct().collect()
    }.isdisjoint(set(dead))


def test_full_purge_retires_tombstones_and_matches_batch_build(
    spark, deleted_index, tmp_path
):
    idx, pdf, dead = deleted_index
    live_before = M.done_parts(spark, idx)
    M.compact_segments(
        spark, idx, sorted(live_before), new_part=-2, purge_deletes=True
    )
    # full merge applied every tombstone -> retired
    assert M.read_deletes(spark, idx) is None

    # posting-multiset identical to a batch build over surviving docs
    surv_idx = str(tmp_path / "surv")
    docs = spark.createDataFrame(pdf)
    from elasticsearch_assets_spark.indexing.build import with_doc_id

    surv = with_doc_id(docs, ("repo", "path", "commit"), "content").where(
        ~F.col("doc_id").isin(dead)
    ).drop("doc_id", "content_sha")
    M.build_index_resumable(
        surv, surv_idx, n_parts=2, n_buckets=8, keep_positions=True
    )
    assert _fingerprint(spark, idx) == _fingerprint(spark, surv_idx)

    # stats converged: n_docs now counts only survivors
    served = M.serve_resumable_index(spark, idx)
    ref = M.serve_resumable_index(spark, surv_idx)
    assert served.n_docs == ref.n_docs
    assert served.avg_dl == ref.avg_dl
