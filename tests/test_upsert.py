"""Index-layer update/upsert — Lucene updateDocument (delete-then-add)
for the reference's bulk ``update``/``upsert`` actions
(ElasticsearchBulkSender.ts:62-79), built on SCOPED tombstones:

- upsert_segment_batch tombstones the batch's doc ids with
  ``applies_below = batch_id*n_parts`` then ingests the batch as new
  segments: copies in older segments die, the re-ingested copies (at or
  above the boundary) survive
- stats stay Lucene (maxDoc/docFreq count old AND new copies until a
  purging merge)
- a merge that mixes old and new copies into one relabeled segment must
  NOT break the scope: rows carry their original segment id as data
  (orig_part) and the tombstone condition tests the effective id
- a full purging merge drops the dead copies, converges stats, retires
  tombstones, and leaves the index posting-multiset identical to a
  batch build over the final doc versions
- replay (foreachBatch restart) is idempotent: extra tombstone batches
  are absorbed by the max-scope union, committed segments are skipped
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.indexing.build import with_doc_id
from elasticsearch_assets_spark.plans import manifest as M

N_PARTS = 2  # batch k -> segments {2k, 2k+1}


def _served_fp(spark, idx):
    """Multiset fingerprint of the LIVE (tombstone-applied) postings."""
    post = M.serve_resumable_index(spark, idx).postings
    row = post.agg(
        F.count("*").alias("rows"),
        F.sum(F.pmod(F.xxhash64("term", "doc_id"), F.lit(1000003))).alias("h"),
        F.sum("tf").alias("tfsum"),
    ).collect()[0]
    return (row["rows"], row["h"], row["tfsum"])


@pytest.fixture(scope="module")
def upserted_index(spark, tmp_path_factory):
    """100 docs in two append batches, then 10 of batch 0's docs
    re-written with new content via upsert batch 2 (segments 4,5 —
    applies_below = 4)."""
    pdf = generate_corpus_pandas(100, seed=11)
    idx = str(tmp_path_factory.mktemp("ups") / "idx")
    for b in (0, 1):
        lo, hi = b * 50, (b + 1) * 50
        M.ingest_segment_batch(
            spark.createDataFrame(pdf.iloc[lo:hi]),
            idx,
            batch_id=b,
            n_parts=N_PARTS,
            n_buckets=8,
            keep_positions=True,
        )
    upd = pdf.iloc[:10].copy()
    upd["content"] = upd["content"] + " zzzupdated marker"
    built = M.upsert_segment_batch(
        spark.createDataFrame(upd),
        idx,
        batch_id=2,
        n_parts=N_PARTS,
        n_buckets=8,
        keep_positions=True,
    )
    assert sorted(built) == [4, 5]
    upd_ids = sorted(
        r["doc_id"]
        for r in with_doc_id(spark.createDataFrame(upd))
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert len(upd_ids) == 10
    return idx, pdf, upd, upd_ids


def test_upsert_serves_new_content_exactly_once(spark, upserted_index):
    idx, _, upd, upd_ids = upserted_index
    served = M.serve_resumable_index(spark, idx)

    # every live doc id appears exactly once (old copies dead)
    assert served.postings.select("doc_id").distinct().count() == 100
    marker = served.postings.where(F.col("term") == "zzzupdated")
    assert {r["doc_id"] for r in marker.select("doc_id").collect()} == set(
        upd_ids
    )
    assert marker.count() == 10  # one live copy each

    # the live postings of an updated doc are EXACTLY the new content's:
    # multiset-compare against a throwaway build of just the new rows
    from elasticsearch_assets_spark.indexing.build import build_index

    fresh = build_index(
        spark.createDataFrame(upd), n_buckets=8, keep_positions=False
    )
    mine = (
        served.postings.where(F.col("doc_id").isin(upd_ids))
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").alias("tf"))
    )
    theirs = fresh.postings.select("doc_id", "term", "tf")
    assert mine.exceptAll(theirs).count() == 0
    assert theirs.exceptAll(mine).count() == 0

    # prox stream follows the same liveDocs
    pos_terms = {
        r["term"]
        for r in served.positions.where(F.col("doc_id").isin(upd_ids))
        .select("term")
        .distinct()
        .collect()
    }
    assert "zzzupdated" in pos_terms

    # Lucene stats: old + new copies both count until a purging merge
    assert served.n_docs == 110


def test_upsert_replay_is_idempotent(spark, upserted_index):
    idx, _, upd, upd_ids = upserted_index
    before = _served_fp(spark, idx)
    tomb_before = {
        (r["doc_id"], r["applies_below"])
        for r in M.read_deletes(spark, idx).collect()
    }
    assert tomb_before == {(i, 2 * N_PARTS) for i in upd_ids}

    # foreachBatch replay: same batch re-runs both steps
    built = M.upsert_segment_batch(
        spark.createDataFrame(upd),
        idx,
        batch_id=2,
        n_parts=N_PARTS,
        n_buckets=8,
        keep_positions=True,
    )
    assert built == []  # segments already committed
    tomb_after = {
        (r["doc_id"], r["applies_below"])
        for r in M.read_deletes(spark, idx).collect()
    }
    assert tomb_after == tomb_before  # extra batch absorbed by max-scope
    assert _served_fp(spark, idx) == before


def test_merge_mixing_old_and_new_copies_keeps_scope_exact(
    spark, upserted_index
):
    """THE provenance case: merge the old copies' segments (0,1) WITH
    the re-ingested copies' segments (4,5) into one relabeled segment.
    Without orig_part the scoped tombstone (applies_below=4) would
    either kill the new copies or resurrect the old ones."""
    idx, _, _, upd_ids = upserted_index
    before = _served_fp(spark, idx)
    M.compact_segments(spark, idx, [0, 1, 4, 5], new_part=-1)
    assert _served_fp(spark, idx) == before

    served = M.serve_resumable_index(spark, idx)
    marker = served.postings.where(F.col("term") == "zzzupdated")
    assert marker.count() == 10
    assert served.postings.select("doc_id").distinct().count() == 100
    # non-purging merge: stats still count the dead copies
    assert served.n_docs == 110


def test_full_purge_converges_to_batch_build_of_final_versions(
    spark, upserted_index, tmp_path
):
    idx, pdf, upd, upd_ids = upserted_index
    live = sorted(M.done_parts(spark, idx))
    M.compact_segments(spark, idx, live, new_part=-2, purge_deletes=True)
    assert M.read_deletes(spark, idx) is None  # full merge retired them

    # final corpus = originals with the 10 updated rows' content swapped
    final = pdf.copy()
    final.iloc[:10, final.columns.get_loc("content")] = upd["content"].values
    ref_idx = str(tmp_path / "ref")
    M.build_index_resumable(
        spark.createDataFrame(final),
        ref_idx,
        n_parts=2,
        n_buckets=8,
        keep_positions=True,
    )
    assert _served_fp(spark, idx) == _served_fp(spark, ref_idx)

    served = M.serve_resumable_index(spark, idx)
    ref = M.serve_resumable_index(spark, ref_idx)
    assert served.n_docs == ref.n_docs == 100
    assert served.avg_dl == ref.avg_dl


def test_scope_union_takes_widest(spark, tmp_path):
    """read_deletes folds overlapping batches to the per-doc MAX scope:
    scoped then unscoped == dead everywhere; two upsert scopes == the
    later boundary wins."""
    idx = str(tmp_path / "scopes")
    M.delete_docs(spark, idx, [1, 2], applies_below=4)
    M.delete_docs(spark, idx, [2])  # unscoped plain delete
    M.delete_docs(spark, idx, [1], applies_below=8)
    got = {
        r["doc_id"]: r["applies_below"]
        for r in M.read_deletes(spark, idx).collect()
    }
    assert got == {1: 8, 2: M._NO_BOUND}


def test_unpurged_same_length_upsert_counts_every_copy_in_avg_dl(
    spark, tmp_path
):
    """An upsert that keeps a doc's token count leaves two live copies
    with the same (doc_id, dl) until a purging merge. n_docs counts
    both copies, so avg_dl must sum dl over both as well — not over
    distinct (doc_id, dl) pairs."""
    pdf = generate_corpus_pandas(20, seed=3)
    pdf["content"] = pdf["content"] + " zzzbefore"
    idx = str(tmp_path / "idx")
    M.ingest_segment_batch(
        spark.createDataFrame(pdf), idx, batch_id=0, n_parts=N_PARTS, n_buckets=8
    )
    upd = pdf.iloc[:1].copy()
    upd["content"] = upd["content"].str.replace("zzzbefore", "zzzafter")
    M.upsert_segment_batch(
        spark.createDataFrame(upd), idx, batch_id=1, n_parts=N_PARTS, n_buckets=8
    )

    served = M.serve_resumable_index(spark, idx)
    raw = M.serve_resumable_index(spark, idx, apply_deletes=False).postings
    copies = raw.select("doc_id", "part", "dl").distinct()
    assert copies.count() == 21  # the edited doc lives in two segments
    sum_dl = copies.agg(F.sum("dl")).collect()[0][0]
    assert served.n_docs == 21
    assert served.avg_dl == sum_dl / served.n_docs
