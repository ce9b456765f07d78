"""The index commit log (plans/manifest.py, ``<index>/_log/``):

- every commit point is crash-safe: with the commit made to raise after
  the data write and before its version file exists, readers still see
  the state from before the failed commit, and a retry of the same call
  converges to the no-crash result
- a reopened index never serves stale df: after an upsert, a delete and
  a purging merge, the served ``terms`` and the query path's df lookup
  equal a fresh aggregation over the committed postings, and after the
  purge a two-term match equals the BM25 oracle over the live docs
- the same holds after every other kind of commit (build, in-place
  refresh, ingest, partial merge, GC, a crashed ingest), and serving
  reads the dictionaries of the live adds only
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.indexing.build import with_doc_id
from elasticsearch_assets_spark.plans import manifest as M
from elasticsearch_assets_spark.query import exec as qx
from elasticsearch_assets_spark.query.oracle import OracleIndex


def _fp(df):
    row = df.agg(
        F.count("*").alias("rows"),
        F.sum(F.pmod(F.xxhash64("term", "doc_id"), F.lit(1000003))).alias("h"),
    ).collect()[0]
    return (row["rows"], row["h"])


def _view(spark, path):
    """Everything a reader of the index can see."""
    tomb = M.read_deletes(spark, path)
    ix = M.serve_resumable_index(spark, path)
    return {
        "live": M.done_parts(spark, path),
        "manifest": sorted(
            (r["partition_id"], r["run_id"], r["input_fingerprint"], r["rows"],
             r["bytes"], r["replaces"])
            for r in M.read_manifest(spark, path).collect()
        ),
        "deletes": None if tomb is None else sorted(map(tuple, tomb.collect())),
        "stats": (ix.n_docs, ix.avg_dl),
        "postings": _fp(ix.postings),
        "positions": _fp(ix.postings.where(F.size("positions") == F.col("tf"))),
    }


def _data_files(path):
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        if os.path.basename(d) != "_log"
        for f in files
    }


def _log_files(path):
    return os.listdir(os.path.join(path, "_log"))


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A killed 4-part build (parts 0 and 1 committed, with positions)
    plus one tombstone batch."""
    pdf = generate_corpus_pandas(90, seed=5)
    path = str(tmp_path_factory.mktemp("crash") / "base")
    docs = spark.createDataFrame(pdf.iloc[:60])
    with pytest.raises(RuntimeError, match="injected failure"):
        M.build_index_resumable(
            docs, path, n_parts=4, keep_positions=True, fail_after_parts=2
        )
    dead = M.read_resumable_postings(spark, path).select("doc_id").distinct()
    M.delete_docs(spark, path, dead.orderBy("doc_id").limit(3))
    return path, pdf


def _upsert(spark, path, pdf):
    upd = pdf.iloc[:5].copy()
    upd["content"] = upd["content"] + " zzzcrash"
    return M.upsert_segment_batch(
        spark.createDataFrame(upd), path, batch_id=10, n_parts=1,
        keep_positions=True,
    )


def _upsert_delete_step(spark, path, pdf):
    ids = with_doc_id(spark.createDataFrame(pdf.iloc[:5])).select("doc_id")
    M.delete_docs(spark, path, ids, applies_below=10)


# case -> (call, which of its commits raises, the commits it makes
# before that one)
CASES = {
    "part_build": (
        lambda s, p, pdf: M.build_index_resumable(
            s.createDataFrame(pdf.iloc[:60]), p, n_parts=4, keep_positions=True
        ),
        1,
        None,
    ),
    "ingest": (
        lambda s, p, pdf: M.ingest_segment_batch(
            s.createDataFrame(pdf.iloc[60:]), p, batch_id=5, n_parts=2,
            keep_positions=True,
        ),
        1,
        None,
    ),
    "upsert_delete_step": (_upsert, 1, None),
    "upsert_ingest_step": (_upsert, 2, _upsert_delete_step),
    "delete_docs": (
        lambda s, p, pdf: M.delete_docs(
            s, p, with_doc_id(s.createDataFrame(pdf.iloc[20:25])).select("doc_id")
        ),
        1,
        None,
    ),
    "compaction": (
        lambda s, p, pdf: M.compact_segments(s, p, [0, 1], new_part=-1),
        1,
        None,
    ),
    "purge_and_retire": (
        lambda s, p, pdf: M.compact_segments(
            s, p, [0, 1], new_part=-1, purge_deletes=True
        ),
        1,
        None,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_at_each_commit_point(spark, base, tmp_path, monkeypatch, case):
    call, crash_at, committed_before = CASES[case]
    src, pdf = base
    before, crashed, control = (
        str(tmp_path / n) for n in ("before", "crashed", "control")
    )
    for p in (before, crashed, control):
        shutil.copytree(src, p)
    if committed_before is not None:
        committed_before(spark, before, pdf)
    want_after_crash = _view(spark, before)
    call(spark, control, pdf)
    want_after_retry = _view(spark, control)

    data, log = _data_files(crashed), _log_files(crashed)
    real, n_commits = M.write_exclusive, []

    def crashing_commit(target, obj):
        n_commits.append(target)
        if len(n_commits) == crash_at:
            raise RuntimeError("injected commit crash")
        return real(target, obj)

    with monkeypatch.context() as mp:
        mp.setattr(M, "write_exclusive", crashing_commit)
        with pytest.raises(RuntimeError, match="injected commit crash"):
            call(spark, crashed, pdf)
    # the crash hit after the data write, before the version file
    assert _data_files(crashed) - data
    assert len(_log_files(crashed)) == len(log) + crash_at - 1
    assert _view(spark, crashed) == want_after_crash

    call(spark, crashed, pdf)
    assert _view(spark, crashed) == want_after_retry


def test_reopen_never_serves_stale_df(spark, tmp_path):
    pdf = generate_corpus_pandas(80, seed=23)
    idx = str(tmp_path / "idx")
    for b in (0, 1):
        M.ingest_segment_batch(
            spark.createDataFrame(pdf.iloc[b * 40:(b + 1) * 40]), idx,
            batch_id=b, n_parts=2, n_buckets=8,
        )
    docs = {
        r["doc_id"]: r["content"]
        for r in with_doc_id(spark.createDataFrame(pdf)).collect()
    }
    upd = pdf.iloc[:6].copy()
    upd["content"] = upd["content"] + " zzzfresh reopen"
    upd_docs = {
        r["doc_id"]: r["content"]
        for r in with_doc_id(spark.createDataFrame(upd)).collect()
    }
    dead = sorted(
        r["doc_id"]
        for r in with_doc_id(spark.createDataFrame(pdf.iloc[40:44])).collect()
    )
    common = analyze_text(pdf["content"].iloc[0])[0]
    probe = ["zzzfresh", common]

    def reopen():
        ix = M.serve_resumable_index(spark, idx)
        fresh = {
            r["term"]: r["df"]
            for r in M.read_resumable_postings(spark, idx)
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }
        assert {r["term"]: r["df"] for r in ix.terms.collect()} == fresh
        assert qx.term_dfs(ix, probe) == {t: fresh[t] for t in probe if t in fresh}
        return ix

    old = reopen()  # its df cache now holds the pre-upsert counts
    M.upsert_segment_batch(
        spark.createDataFrame(upd), idx, batch_id=2, n_parts=2, n_buckets=8
    )
    assert qx.term_dfs(reopen(), ["zzzfresh"]) == {"zzzfresh": 6}
    assert qx.term_dfs(old, ["zzzfresh"]) == {}
    M.delete_docs(spark, idx, dead)
    reopen()
    M.compact_segments(
        spark, idx, sorted(M.done_parts(spark, idx)),
        new_part=M.next_compact_id(spark, idx), purge_deletes=True,
    )
    ix = reopen()

    live = {**docs, **upd_docs}
    for d in dead:
        del live[d]
    oracle = OracleIndex(live)
    assert (ix.n_docs, ix.avg_dl) == (oracle.n_docs, oracle.avg_dl)
    text = f"zzzfresh {common}"

    def canon(rows):
        return sorted((-round(float(s), 4), int(d)) for d, s in rows)

    got = [
        (r["doc_id"], r["score"])
        for r in qx.match_query(ix, text, k=1000).collect()
    ]
    assert got and canon(got) == canon(oracle.match(text, k=1000))


def test_served_df_through_lifecycle(spark, tmp_path, monkeypatch):
    """After each kind of commit the served df (``terms`` and
    ``term_dfs``) equals a fresh aggregation over the committed
    postings, an absent term reads 0, and serving reads exactly the
    dictionaries the live adds name: never one of a merged-away,
    refresh-replaced or uncommitted segment."""
    from urllib.parse import urlparse

    pdf = generate_corpus_pandas(60, seed=29)
    idx = str(tmp_path / "idx")
    dict_dir = os.path.join(idx, "dicts")
    loaded, never = [], set()
    real_load = M._load_dict

    def load(file):
        loaded.append(file)
        return real_load(file)

    monkeypatch.setattr(M, "_load_dict", load)

    def dicts_of(adds):
        return {os.path.join(idx, a["dict"]) for a in adds}

    def check():
        loaded.clear()
        ix = M.serve_resumable_index(spark, idx)
        fresh = {
            r["term"]: r["df"]
            for r in M.read_resumable_postings(spark, idx)
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }
        assert {r["term"]: r["df"] for r in ix.terms.collect()} == fresh
        assert qx.term_dfs(ix, sorted(fresh)) == fresh
        some = min(fresh)
        assert qx.term_dfs(ix, ["zzzabsent", some]) == {some: fresh[some]}
        assert not ix._df_cache
        live = dicts_of(M._snapshot(idx).live().values())
        assert set(loaded) == live
        assert {urlparse(f).path for f in ix.terms.inputFiles()} == live
        assert not live & never

    docs = spark.createDataFrame(pdf.iloc[:40])
    M.build_index_resumable(docs, idx, n_parts=4, n_buckets=8)
    check()

    edited = pdf.iloc[:40].copy()
    edited.iloc[0, edited.columns.get_loc("content")] += " zzzrefreshed"
    before = M._snapshot(idx).segments
    rebuilt = M.refresh_index(spark.createDataFrame(edited), idx, n_parts=4, n_buckets=8)
    assert len(rebuilt) == 1
    never |= dicts_of(before[p] for p in rebuilt)
    check()

    upd = pdf.iloc[1:4].copy()
    upd["content"] = upd["content"] + " zzzupserted"
    M.upsert_segment_batch(spark.createDataFrame(upd), idx, batch_id=4, n_parts=1, n_buckets=8)
    check()
    M.ingest_segment_batch(spark.createDataFrame(pdf.iloc[40:]), idx, batch_id=5, n_parts=1, n_buckets=8)
    check()
    dead = [r["doc_id"] for r in with_doc_id(spark.createDataFrame(pdf.iloc[40:43])).collect()]
    M.delete_docs(spark, idx, dead)
    check()

    M.compact_segments(spark, idx, [0, 1], new_part=M.next_compact_id(spark, idx))
    snap = M._snapshot(idx)
    never |= dicts_of(snap.segments[p] for p in (0, 1))
    check()
    M.compact_segments(
        spark, idx, sorted(M.done_parts(spark, idx)),
        new_part=M.next_compact_id(spark, idx), purge_deletes=True,
    )
    snap = M._snapshot(idx)
    never |= dicts_of(snap.segments[p] for p in snap.removed)
    check()
    assert M.gc_replaced_segments(spark, idx)
    assert not any(os.path.exists(f) for f in never)
    check()

    def crash(target, obj):
        raise RuntimeError("injected commit crash")

    with monkeypatch.context() as mp:
        mp.setattr(M, "write_exclusive", crash)
        with pytest.raises(RuntimeError, match="injected commit crash"):
            M.ingest_segment_batch(
                spark.createDataFrame(upd), idx, batch_id=6, n_parts=1, n_buckets=8
            )
    orphans = {os.path.join(dict_dir, f) for f in os.listdir(dict_dir)} - dicts_of(
        M._snapshot(idx).segments.values()
    )
    assert orphans
    never |= orphans
    check()


def test_driver_read_cache_is_bounded_and_thread_safe(tmp_path, monkeypatch):
    """The driver-side cache of dictionary and tombstone reads, hit from
    many threads at once: every read returns its own file's contents and
    the cache never holds more than its entry bound."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    for i in range(12):
        f = str(tmp_path / f"d{i}.parquet")
        pq.write_table(pa.table({"term": [f"t{i}", f"u{i}"], "df": [i, i + 1]}), f)
        files.append(f)
    monkeypatch.setattr(M, "_READS", type(M._READS)())
    monkeypatch.setattr(M, "_READS_MAX_ENTRIES", 9)
    wrong, sizes = [], []

    def reader(k):
        for j in range(60):
            i = (k * 7 + j) % len(files)
            if M._load_dict(files[i]) != {f"t{i}": i, f"u{i}": i + 1}:
                wrong.append(i)
            with M._READS_LOCK:
                sizes.append(sum(map(len, M._READS.values())))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert len(sizes) == 16 * 60 and max(sizes) <= 9
