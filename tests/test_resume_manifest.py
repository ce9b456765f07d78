"""Kill/resume: a crashed index build resumes from the manifest and
produces an index identical to a single-shot build (FIXTURES.md T4)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.plans import manifest as M

N = 300
N_PARTS = 6


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(generate_corpus_pandas(N, seed=42))


def _postings_fingerprint(spark, path):
    df = M.read_resumable_postings(spark, path)
    row = df.agg(
        F.count("*").alias("rows"),
        F.sum(F.xxhash64("term", "doc_id") % 1000003).alias("h"),
        F.sum("tf").alias("tfsum"),
    ).collect()[0]
    return (row["rows"], row["h"], row["tfsum"])


def test_kill_resume_identical(spark, docs, tmp_path):
    full = str(tmp_path / "full")
    crashy = str(tmp_path / "crashy")

    # single-shot reference build
    M.build_index_resumable(docs, full, n_parts=N_PARTS, run_id="r0")
    assert len(M.done_parts(spark, full)) == N_PARTS

    # crash after 2 parts
    with pytest.raises(RuntimeError, match="injected failure"):
        M.build_index_resumable(
            docs, crashy, n_parts=N_PARTS, run_id="r1", fail_after_parts=2
        )
    done_after_crash = M.done_parts(spark, crashy)
    assert len(done_after_crash) == 2

    # fingerprints recorded so far must match the (unchanged) input
    assert M.verify_fingerprints(spark, crashy, docs, n_parts=N_PARTS)

    # resume: only the missing parts build
    M.build_index_resumable(docs, crashy, n_parts=N_PARTS, run_id="r2")
    assert len(M.done_parts(spark, crashy)) == N_PARTS

    # resumed index == single-shot index
    assert _postings_fingerprint(spark, crashy) == _postings_fingerprint(spark, full)

    # resumed parts carry both run_ids (lineage preserved)
    m = M.read_manifest(spark, crashy)
    runs = {r["run_id"] for r in m.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}


def test_manifest_metrics(spark, docs, tmp_path):
    p = str(tmp_path / "m")
    M.build_index_resumable(docs, p, n_parts=N_PARTS, run_id="r")
    m = M.read_manifest(spark, p)
    rows = m.collect()
    assert len(rows) == N_PARTS
    assert sum(r["rows"] for r in rows) == N
    assert all(r["duration_ms"] >= 0 for r in rows)
    assert all(r["bytes"] > 0 for r in rows)


def test_incremental_refresh_rebuilds_only_drifted_parts(spark, docs, tmp_path):
    """§7.8 incremental maintenance: content edits rebuild only the
    affected hash-partitions; result == full rebuild on the new input."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "inc")
    full = str(tmp_path / "inc_full")
    M.build_index_resumable(docs, p, n_parts=N_PARTS, run_id="base")

    # refresh with unchanged input → no-op
    assert M.refresh_index(docs, p, n_parts=N_PARTS, run_id="noop") == []

    # edit the content of a few docs (commit unchanged → same doc_id,
    # different content_sha: the hardest drift case)
    docs2 = docs.withColumn(
        "content",
        F.when(
            F.xxhash64("repo", "path", "commit") % 50 == 0,
            F.concat(F.col("content"), F.lit("\nEDITED = true")),
        ).otherwise(F.col("content")),
    )
    stale = M.refresh_index(docs2, p, n_parts=N_PARTS, run_id="inc1")
    assert 0 < len(stale) < N_PARTS, stale  # some but not all parts

    # untouched parts keep their original run_id (they were not rebuilt)
    m = {r["partition_id"]: r["run_id"] for r in M.read_manifest(spark, p).collect()}
    for part in range(N_PARTS):
        assert m[part] == ("inc1" if part in stale else "base")

    # refreshed index == full rebuild on docs2
    M.build_index_resumable(docs2, full, n_parts=N_PARTS, run_id="f")
    assert _postings_fingerprint(spark, p) == _postings_fingerprint(spark, full)

    # idempotent: second refresh is a no-op
    assert M.refresh_index(docs2, p, n_parts=N_PARTS, run_id="inc2") == []


def test_resume_noop_when_complete(spark, docs, tmp_path):
    p = str(tmp_path / "n")
    M.build_index_resumable(docs, p, n_parts=N_PARTS, run_id="a")
    before = _postings_fingerprint(spark, p)
    M.build_index_resumable(docs, p, n_parts=N_PARTS, run_id="b")
    m = M.read_manifest(spark, p)
    # no new rows: every part was already done
    assert m.count() == N_PARTS
    assert _postings_fingerprint(spark, p) == before


def test_resumable_build_with_positions_kill_resume(spark, tmp_path):
    """keep_positions resumable build: kill mid-run, resume, and the
    positions must be complete and phrase-consistent — identical
    (term, doc_id, positions) multiset to an uninterrupted build."""
    from elasticsearch_assets_spark.corpus import generate_corpus
    from elasticsearch_assets_spark.plans.manifest import (
        build_index_resumable,
        read_resumable_postings,
    )

    docs = generate_corpus(spark, 400, seed=7)
    p1 = str(tmp_path / "killed")
    try:
        build_index_resumable(
            docs, p1, n_parts=4, fail_after_parts=2, keep_positions=True
        )
        raise AssertionError("injected failure did not fire")
    except RuntimeError:
        pass
    build_index_resumable(docs, p1, n_parts=4, keep_positions=True)
    p2 = str(tmp_path / "clean")
    build_index_resumable(docs, p2, n_parts=4, keep_positions=True)

    def snap_pos(path):
        return sorted(
            (r["term"], r["doc_id"], tuple(r["positions"]), r["dl"])
            for r in read_resumable_postings(spark, path).collect()
        )

    assert snap_pos(p1) == snap_pos(p2)
    # positions are a postings column: no second table on disk
    assert not os.path.isdir(os.path.join(p1, "positions"))
    # tf = size(positions) on every row
    post = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in read_resumable_postings(spark, p1).collect()
    }
    for term, doc_id, pos, _dl in snap_pos(p1):
        assert post[(term, doc_id)] == len(pos)


def test_refresh_preserves_positions_by_default(spark, tmp_path):
    """ADVICE r5: refresh_index of a keep_positions index must keep
    writing prox dirs for rebuilt parts (default = the index's own
    build-time setting from build_meta.json), and an explicit
    conflicting flag must raise, not silently delete them."""
    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.corpus import generate_corpus

    docs = generate_corpus(spark, 300, seed=11)
    p = str(tmp_path / "posidx")
    M.build_index_resumable(docs, p, n_parts=4, keep_positions=True)
    assert M.read_build_meta(p) == {"keep_positions": True, "n_buckets": 16}

    docs2 = docs.withColumn(
        "content",
        F.when(
            F.xxhash64("repo", "path", "commit") % 20 == 0,
            F.concat(F.col("content"), F.lit("\nEDITED = true")),
        ).otherwise(F.col("content")),
    )
    stale = M.refresh_index(docs2, p, n_parts=4, run_id="r1")
    assert stale  # something drifted
    # positions complete and consistent with a clean keep_positions build
    clean = str(tmp_path / "clean")
    M.build_index_resumable(docs2, clean, n_parts=4, keep_positions=True)
    snap = lambda path: sorted(
        (r["term"], r["doc_id"], tuple(r["positions"]))
        for r in M.read_resumable_postings(spark, path).collect()
    )
    assert snap(p) == snap(clean)
    assert not os.path.isdir(os.path.join(p, "positions"))

    # explicit conflicting flag raises instead of deleting prox dirs
    with pytest.raises(ValueError, match="keep_positions"):
        M.refresh_index(docs2, p, n_parts=4, keep_positions=False)
    with pytest.raises(ValueError, match="keep_positions"):
        M.build_index_resumable(docs2, p, n_parts=4, keep_positions=False)


def test_readers_skip_uncommitted_part_dirs(spark, docs, tmp_path):
    """ADVICE r5: a part dir written just before a crash (no manifest
    row) must not leak into read_resumable_postings."""
    import shutil

    p = str(tmp_path / "uncommitted")
    M.build_index_resumable(docs, p, n_parts=4, keep_positions=True)
    committed_rows = M.read_resumable_postings(spark, p).count()

    # simulate a crash: data dir for a phantom part lands, manifest doesn't
    shutil.copytree(
        os.path.join(p, "postings", "part=0"), os.path.join(p, "postings", "part=9")
    )

    assert M.read_resumable_postings(spark, p).count() == committed_rows
    parts = {
        r["_part"]
        for r in M.read_resumable_postings(spark, p)
        .select(F.col("part").alias("_part"))
        .distinct()
        .collect()
    }
    assert 9 not in parts
