"""The two batch writers and their one bucketed layout: write_index and
build_and_write_index must produce IDENTICAL doc_norms and stats —
including on corpora containing null-text docs, where ANSI Spark 4
makes size(NULL) NULL (ADVICE r3: dl must coalesce to 0 so avg_dl and
the per-doc dl agree between the two paths)."""

from __future__ import annotations

import json
import os

import pytest


@pytest.fixture(scope="module")
def null_text_docs(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, None),
        (3, "alpha alpha delta"),
        (4, ""),
        (5, "beta"),
    ]
    return spark.createDataFrame(rows, "doc_id long, content string")


def _write(docs, path, writer, **kw):
    """Write docs with one of the two batch writers, kw passed to the
    build."""
    from elasticsearch_assets_spark.indexing.build import (
        build_and_write_index,
        build_index,
        write_index,
    )

    if writer == "build_and_write_index":
        build_and_write_index(docs, path, **kw)
    else:
        index = build_index(docs, keep_positions=True, **kw)
        write_index(index, path)
        index.unpersist()


def test_fanout_write_layout_invariants(spark, tmp_path):
    """The skew-splitting write (bucket, reseeded-hash(term)) must keep
    the layout contracts consumers rely on: every row of a term in ONE
    bucket directory, at most WRITE_FANOUT files per bucket, each file
    internally (term, doc_id)-sorted, and no term split across files.
    Checked for both batch writers."""
    import glob

    import pyarrow.parquet as pq

    from elasticsearch_assets_spark.corpus import generate_corpus
    from elasticsearch_assets_spark.indexing.build import WRITE_FANOUT

    docs = generate_corpus(spark, 3000, seed=11)
    for writer in ("build_and_write_index", "write_index"):
        path = str(tmp_path / writer)
        _write(docs, path, writer, n_buckets=4)
        buckets = sorted(glob.glob(f"{path}/postings/bucket=*"))
        assert len(buckets) == 4, (writer, buckets)
        term_home: dict[str, str] = {}
        for b in buckets:
            files = glob.glob(f"{b}/*.parquet")
            assert 1 <= len(files) <= WRITE_FANOUT, (writer, b, len(files))
            for f in files:
                t = pq.read_table(f, columns=["term", "doc_id"])
                rows = list(zip(t["term"].to_pylist(), t["doc_id"].to_pylist()))
                assert rows == sorted(rows), (writer, f)  # within-file sort
                for term, _ in rows:
                    home = term_home.setdefault(term, f)
                    assert home == f, (writer, term, home, f)  # whole terms per file


def test_writers_doc_norms_and_stats_identical(spark, null_text_docs, tmp_path):
    from elasticsearch_assets_spark.indexing.build import read_index

    out = {}
    for writer in ("build_and_write_index", "write_index"):
        path = str(tmp_path / writer)
        _write(null_text_docs, path, writer, doc_id_col="doc_id", n_buckets=4)
        with open(os.path.join(path, "stats.json")) as f:
            stats = json.load(f)
        norms = read_index(spark, path).doc_norms.select("doc_id", "dl").collect()
        out[writer] = stats, sorted((r["doc_id"], r["dl"]) for r in norms)
    assert out["build_and_write_index"] == out["write_index"]
    stats, norms = out["write_index"]
    # null/empty text docs present with dl=0 (NOT dropped, NOT null)
    dls = dict(norms)
    assert dls[2] == 0 and dls[4] == 0
    assert stats["n_docs"] == 5
    # avg over ALL docs incl. the zero-length ones: (3+0+3+0+1)/5
    assert abs(stats["avg_dl"] - 7 / 5) < 1e-9


def test_write_index_job_count(spark, tmp_path):
    """A small write_index submits 12 jobs. The tail persists the
    dictionary aggregation once and writes terms/ before terms_rev/ on
    one thread, so the aggregation is computed by one job; started
    together, the two dictionary writes each computed it (13 jobs)."""
    import uuid

    from elasticsearch_assets_spark.corpus import generate_corpus
    from elasticsearch_assets_spark.indexing.build import build_index, write_index

    index = build_index(generate_corpus(spark, 360, seed=5), keep_positions=True, n_buckets=4)
    sc = spark.sparkContext
    group = f"write-index-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "write_index job count")
    try:
        write_index(index, str(tmp_path / "idx"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        index.unpersist()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 12


def test_blocks_write_layout_invariants(spark, tmp_path):
    """pack_and_write_blocks must honor the SAME contracts as the
    postings write (VERDICT r4 defect 1): ≤ WRITE_FANOUT files per
    bucket directory, file-internal (term, block) order preserved (no
    unstable writer-inserted sort), and whole terms per file; and its
    blocks must equal the in-memory pack_blocks rows."""
    import glob

    import pyarrow.parquet as pq

    from elasticsearch_assets_spark.corpus import generate_corpus
    from elasticsearch_assets_spark.indexing.blockpack import (
        pack_and_write_blocks,
        pack_blocks,
        read_blocks,
    )
    from elasticsearch_assets_spark.indexing.build import WRITE_FANOUT, build_index

    docs = generate_corpus(spark, 2000, seed=13)
    index = build_index(docs, n_buckets=4, keep_positions=False)

    p = str(tmp_path / "one_shuffle")
    pack_and_write_blocks(index, p, block_size=8)
    buckets = sorted(glob.glob(f"{p}/blocks/bucket=*"))
    assert len(buckets) == 4, buckets
    term_home: dict[str, str] = {}
    for b in buckets:
        files = glob.glob(f"{b}/*.parquet")
        assert 1 <= len(files) <= WRITE_FANOUT, (b, len(files))
        for f in files:
            t = pq.read_table(f, columns=["term", "block"])
            rows = list(zip(t["term"].to_pylist(), t["block"].to_pylist()))
            assert rows == sorted(rows), f  # file-internal order
            for term, _ in rows:
                home = term_home.setdefault(term, f)
                assert home == f, (term, home, f)  # whole terms/file

    def content(blk):
        return sorted(
            (r["term"], r["block"], r["n"], bytes(r["docs_vb"]))
            for r in blk.select("term", "block", "n", "docs_vb").collect()
        )

    assert content(read_blocks(spark, p)) == content(pack_blocks(index, block_size=8))
    index.unpersist()


def test_pack_gen_group_spans_batches():
    """A (term, block) group split across Arrow batch boundaries must be
    re-assembled by the carry-over, producing the same blocks as a
    single-batch encode."""
    import numpy as np
    import pandas as pd

    from elasticsearch_assets_spark.indexing import codec
    from elasticsearch_assets_spark.indexing.blockpack import _pack_gen

    rows = []
    for term, block, ids in [
        ("alpha", 0, [3, 9, 27]),
        ("alpha", 1, [5, 6, 7, 8]),
        ("beta", 0, [1, 2]),
        ("gamma", 2, [100, 200, 300, 400, 500]),
    ]:
        for d in ids:
            rows.append((term, 1, block, d, d % 5 + 1, d % 9 + 1))
    pdf = pd.DataFrame(
        rows, columns=["term", "bucket", "block", "doc_id", "tf", "dl"]
    )
    gen = _pack_gen(avg_dl=4.0, k1=1.2, b=0.75)

    def run(chunks):
        out = list(gen_iter(chunks))
        return sorted(
            (r.term, r.block, r.n, bytes(r.docs_vb), bytes(r.tfs_vb))
            for df in out
            for r in df.itertuples()
        )

    def gen_iter(chunks):
        g = _pack_gen(avg_dl=4.0, k1=1.2, b=0.75)
        return g(iter(chunks))

    whole = run([pdf])
    # split mid-group at every possible boundary
    for cut in range(1, len(pdf)):
        split = run([pdf.iloc[:cut].copy(), pdf.iloc[cut:].copy()])
        assert split == whole, cut
    # and a 3-way ragged split
    assert run([pdf.iloc[:2], pdf.iloc[2:3], pdf.iloc[3:]]) == whole
    # decode roundtrip on one block
    term, block, n, docs_vb, tfs_vb = whole[0]
    d = np.cumsum(codec.zigzag_decode(codec.varbyte_decode(docs_vb, n)))
    assert list(d) == [3, 9, 27]


def test_arrow_encoder_matches_jvm_reference(spark, tmp_path):
    """r7: build_and_write_index runs the analyzer + per-doc tf inside
    one vectorized mapInArrow stage (indexing/arrowtf.py). Its output
    must be row-identical to the JVM reference pipeline (build_index:
    analyze_col + explode + groupBy) on a corpus covering unicode
    special-casing, null/empty/sep-only text, and repeated terms."""
    from elasticsearch_assets_spark.indexing.build import (
        build_and_write_index,
        build_index,
    )

    rows = [
        (1, "r1", "parseDate base64Url HTTPServer foo_bar/baz.qux"),
        (2, "r1", "İstanbul STRAßE what café ÇŐDE"),
        (3, "r2", None),
        (4, "r2", ""),
        (5, "r2", "///...___"),
        (6, "r3", "dup dup dup Dup DUP aA aA bB"),
        (7, "r3", "x " * 400 + "yZ"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, content string")

    ref = build_index(
        docs, doc_id_col="doc_id", n_buckets=4, keep_positions=False,
        cache=False, source_cols=("lang",),
    )
    out = str(tmp_path / "arrow_idx")
    got = build_and_write_index(
        docs, out, doc_id_col="doc_id", n_buckets=4, source_cols=("lang",)
    )

    cols = ["term", "doc_id", "tf", "dl", "bucket"]
    a, b = ref.postings.select(*cols), got.postings.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    dn = ["doc_id", "dl", "content_sha", "lang"]
    c, d = ref.doc_norms.select(*dn), got.doc_norms.select(*dn)
    assert c.exceptAll(d).count() == 0 and d.exceptAll(c).count() == 0
    t1, t2 = ref.terms, got.terms
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0
    assert got.n_docs == ref.n_docs and got.avg_dl == ref.avg_dl

    # encode_tf directly: kept columns are quoted in its output schema
    # (a name with a space survives), reserved output names raise
    from elasticsearch_assets_spark.indexing.arrowtf import encode_tf

    odd = docs.withColumnRenamed("lang", "src lang")
    enc = encode_tf(odd, "content", keep=["doc_id", "src lang"])
    assert sorted(
        (r["doc_id"], r["src lang"], r["dl"]) for r in enc.collect()
    ) == sorted((r["doc_id"], r["lang"], r["dl"]) for r in c.collect())
    with pytest.raises(ValueError, match="collides"):
        encode_tf(docs, "content", keep=["doc_id", "dl"])


def test_arrow_analyze_fuzz_parity():
    """arrow_analyze (RE2) must tokenize byte-identically to the pure-
    Python oracle analyze_text on arbitrary unicode (the 3-engine
    analyzer contract extends to the 4th implementation)."""
    import random

    import pyarrow as pa

    from elasticsearch_assets_spark.functions.analyzer import analyze_text
    from elasticsearch_assets_spark.indexing.arrowtf import arrow_analyze

    rng = random.Random(7)
    texts = [None, "", " ", "aA", "HTTPServer2x", "İİabc"]
    for _ in range(300):
        n = rng.randrange(0, 60)
        s = "".join(
            chr(c) if not 0xD800 <= (c := rng.randrange(1, 0x2FFFF)) <= 0xDFFF
            else "a"
            for _ in range(n)
        )
        texts.append(s)
    for _ in range(300):
        texts.append(
            "".join(rng.choice("aA bB_c/D.e0 9Zzé") for _ in range(rng.randrange(0, 80)))
        )
    toks = arrow_analyze(pa.array(texts, type=pa.string())).to_pylist()
    for t, r in zip(texts, toks):
        expected = analyze_text(t) if t else []
        got = [x for x in (r or []) if x]
        assert got == expected, repr(t)
