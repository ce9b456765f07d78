"""Rank-AND-score parity: distributed engine vs single-process oracle.

This is the core correctness gate from BASELINE.json: top-k docIDs and
BM25 scores rank-identical, ties broken (score desc, doc_id asc),
scores equal to 1e-6.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.indexing.build import with_doc_id
from elasticsearch_assets_spark.query import exec as qx

from tests.conftest import N_CORPUS_DOCS as N_DOCS


def _assert_parity(got_df, expected, tol=1e-6):
    got = [(r["doc_id"], r["score"]) for r in got_df.collect()]
    assert len(got) == len(expected), (len(got), len(expected))
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed, (got, expected)
        assert abs(gs - es) <= tol * max(1.0, abs(es))


@pytest.mark.parametrize(
    "text,k,op",
    [
        ("return", 10, "or"),          # head term (in nearly every doc)
        ("parseDate", 10, "or"),        # camelCase mid-frequency
        ("uniq_7", 10, "or"),           # unique long-tail: exactly 1 hit
        ("no_such_token_xyz", 10, "or"),  # zero hits
        ("parse_date mergeBatch", 25, "or"),
        ("parse_date mergeBatch", 25, "and"),
        ("import src module util", 100, "and"),
        ("loadConfig", 13, "or"),       # matches all docs; ties -> doc_id
    ],
)
def test_match_parity(corpus, text, k, op):
    index, oracle = corpus
    _assert_parity(qx.match_query(index, text, k=k, operator=op), oracle.match(text, k=k, operator=op))


@pytest.mark.parametrize(
    "must,should,must_not,k",
    [
        (["return", "self"], ["parse"], ["uniq_3"], 20),
        (["return"], ["parse", "merge"], ["parse"], 50),  # must_not also a should term
        (["return"], ["parse"], ["no_such_token_xyz"], 50),  # must_not not in the dictionary
        ([], ["parse", "merge"], ["batch"], 50),  # must_not with no must
        ([], ["parse"], ["load"], 50),  # must_not removes every candidate
        (["merge"], ["parse"], ["return"], 50),  # head-term must_not
    ],
    ids=["base", "not_in_should", "not_absent", "no_must", "not_all", "not_head"],
)
def test_bool_parity(corpus, must, should, must_not, k):
    index, oracle = corpus
    got = qx.bool_query(index, must=must, should=should, must_not=must_not, k=k)
    exp = oracle.bool_query(must=must, should=should, must_not=must_not, k=k)
    _assert_parity(got, exp)


def test_phrase_parity(corpus):
    index, oracle = corpus
    got = qx.phrase_query(index, "load config", k=15)
    exp = oracle.phrase("load config", k=15)
    _assert_parity(got, exp)


def test_phrase_slop_parity(corpus):
    index, oracle = corpus
    for slop in (1, 2):
        got = qx.phrase_query(index, "load config", k=50, slop=slop)
        exp = oracle.phrase("load config", k=50, slop=slop)
        _assert_parity(got, exp)
    # slop only widens: the slop-2 hit set contains the exact hits
    exact = {r["doc_id"] for r in qx.phrase_query(index, "load config", k=10**6).collect()}
    sloppy = {
        r["doc_id"]
        for r in qx.phrase_query(index, "load config", k=10**6, slop=2).collect()
    }
    assert exact <= sloppy


def test_phrase_slop_semantics(spark):
    """Two-term Lucene move-count parity on a hand corpus: gap-1 needs
    slop 1; reversed adjacency needs slop 2 (moves = |pos_b-pos_a-1|)."""
    from elasticsearch_assets_spark.indexing.build import build_index

    rows = [
        (1, "alpha beta rest"),  # exact
        (2, "alpha gap beta"),  # one gap -> slop 1
        (3, "beta alpha rest"),  # reversed adjacent -> slop 2
        (4, "alpha x y z beta"),  # 3 gaps -> slop 3
        (5, "beta only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    idx = build_index(docs, doc_id_col="doc_id", n_buckets=4)

    def hits(slop):
        return {
            r["doc_id"]
            for r in qx.phrase_query(idx, "alpha beta", k=100, slop=slop).collect()
        }

    assert hits(0) == {1}
    assert hits(1) == {1, 2}
    assert hits(2) == {1, 2, 3}
    assert hits(3) == {1, 2, 3, 4}


def test_wildcard(corpus):
    index, oracle = corpus
    # "load*" matches real dictionary terms (analyzer splits loadConfig
    # -> load, config); assert non-vacuously.
    exp = {
        d
        for t, posting in oracle.tf.items()
        if t.startswith("load")
        for d in posting
    }
    assert exp, "fixture must contain load* terms"
    got = {r["doc_id"] for r in qx.wildcard_query(index, "load*", k=10**6).collect()}
    assert got == exp


def test_wildcard_zero_match(corpus):
    index, _ = corpus
    assert qx.wildcard_query(index, "zz_nohit*", k=10).count() == 0


def test_count(corpus):
    index, oracle = corpus
    n = qx.term_filter_count(index, ["parse", "merge"])
    exp = len(set(oracle.tf.get("parse", {})) | set(oracle.tf.get("merge", {})))
    assert n == exp


def test_direct_write_build_equivalent(corpus, spark, tmp_path):
    """build_and_write_index (single-pass, bench path) produces an index
    whose query results are identical to the cached-build path."""
    from elasticsearch_assets_spark.indexing.build import (
        build_and_write_index,
        read_index,
    )

    _index, oracle = corpus
    pdf = generate_corpus_pandas(N_DOCS, seed=42)
    docs = spark.createDataFrame(pdf)
    p = str(tmp_path / "dwi")
    idx = build_and_write_index(docs, p, n_buckets=8)
    assert idx.n_docs == N_DOCS
    got = qx.match_query(idx, "parse_date mergeBatch", k=20)
    _assert_parity(got, oracle.match("parse_date mergeBatch", k=20))
    # and a reload sees the same stats
    idx2 = read_index(spark, p)
    assert (idx2.n_docs, idx2.avg_dl) == (idx.n_docs, idx.avg_dl)


def test_sha_invariant(corpus, spark):
    """Per-row invariant (BASELINE.json input_hint): sha256(content) of
    each ingested row equals the indexed doc store's content_sha."""
    import hashlib

    index, _oracle = corpus
    stored = {
        r["doc_id"]: r["content_sha"]
        for r in index.doc_norms.select("doc_id", "content_sha").collect()
    }
    pdf = generate_corpus_pandas(N_DOCS, seed=42)
    raw = {
        r["doc_id"]: r["content"]
        for r in with_doc_id(spark.createDataFrame(pdf))
        .select("doc_id", "content")
        .collect()
    }
    assert len(stored) == len(raw) == N_DOCS
    for d, t in raw.items():
        assert stored[d] == hashlib.sha256(t.encode()).hexdigest()


def test_phrase_slop_spread_semantics_3term(spark):
    """3+-term sloppy phrases use Lucene's SHARED slop budget (spread of
    adjusted positions), not independent per-term windows (the r≤4
    documented deviation, closed in r5). Key divergence: 'alpha gamma
    beta' vs phrase 'alpha beta gamma' displaces beta +1 and gamma -1 —
    per-term windows matched it at slop 1; Lucene's spread is 2."""
    from elasticsearch_assets_spark.indexing.build import build_index
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    rows = [
        (1, "alpha beta gamma end"),      # exact: spread 0
        (2, "alpha x beta gamma"),        # beta,gamma displaced +1: spread 1
        (3, "alpha gamma beta end"),      # swap: adj a=0 b=+1 g=-1 -> spread 2
        (4, "gamma beta alpha end"),      # full reverse: adj 2,0,-2 -> spread 4
        (5, "alpha x x beta x x gamma"),  # adj 0,2,4 -> spread 4
        (6, "beta alpha gamma end"),      # adj a=1 b=-1 g=0 -> spread 2
        (7, "alpha beta x end"),          # gamma missing: never
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    idx = build_index(docs, doc_id_col="doc_id", n_buckets=4)
    oracle = OracleIndex({r[0]: r[1] for r in rows})

    expected = {0: {1}, 1: {1, 2}, 2: {1, 2, 3, 6}, 3: {1, 2, 3, 6},
                4: {1, 2, 3, 4, 5, 6}}
    for slop, exp in expected.items():
        got = {
            r["doc_id"]
            for r in qx.phrase_query(
                idx, "alpha beta gamma", k=100, slop=slop
            ).collect()
        }
        assert got == exp, (slop, got, exp)
        ogot = {d for d, _ in oracle.phrase("alpha beta gamma", k=100, slop=slop)}
        assert ogot == exp, (slop, ogot, exp)


def test_phrase_slop_repeated_terms_distinct_tokens(spark):
    """Repeated phrase terms need DISTINCT tokens: 'alpha beta alpha'
    against a doc with only one alpha never matches; with two alphas
    spanning beta it does."""
    from elasticsearch_assets_spark.indexing.build import build_index

    rows = [
        (1, "alpha beta alpha end"),   # exact
        (2, "alpha beta gap end"),     # single alpha: never matches
        (3, "alpha beta x alpha end"), # second alpha displaced +1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    idx = build_index(docs, doc_id_col="doc_id", n_buckets=4)

    def hits(slop):
        return {
            r["doc_id"]
            for r in qx.phrase_query(
                idx, "alpha beta alpha", k=100, slop=slop
            ).collect()
        }

    assert hits(0) == {1}
    assert hits(1) == {1, 3}
    assert hits(4) == {1, 3}  # doc 2 stays out at any slop


def test_phrase_slop_distinct_terms_merge_pred_parity(spark):
    """Engine vs oracle across random docs for DISTINCT-term 3/4-term
    sloppy phrases — pins the r6 merge-scan predicate
    (_spread_slop_merge_pred) doc-for-doc against the brute-force-
    pinned oracle on dense, repetitive token streams."""
    import random

    from elasticsearch_assets_spark.indexing.build import build_index
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    rng = random.Random(13)
    vocab = ["a", "b", "c", "d", "x"]
    rows = [
        (i + 1, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 18))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    idx = build_index(docs, doc_id_col="doc_id", n_buckets=4)
    oracle = OracleIndex(dict(rows))
    for phrase in ["a b c", "c a d", "a b c d"]:
        for slop in (1, 2, 4):
            got = {
                r["doc_id"]
                for r in qx.phrase_query(idx, phrase, k=1000, slop=slop).collect()
            }
            want = {d for d, _ in oracle.phrase(phrase, k=1000, slop=slop)}
            assert got == want, (phrase, slop, got ^ want)
    idx.unpersist()


def test_phrase_slop_repeated_terms_engine_oracle_parity(spark, tmp_path):
    """Engine vs oracle on adversarial repeated-term sloppy phrases
    (the exact staircase-assignment semantics must agree doc-for-doc;
    the oracle itself is brute-force-pinned in test_property_fuzz),
    over the in-memory build and its written copy."""
    from elasticsearch_assets_spark.indexing.build import (
        build_index,
        read_index,
        write_index,
    )
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    texts = [
        "a a a b", "a b a a", "a a b a a", "b a b a b", "a b b a",
        "a x a x a", "x a a x", "a a a a", "b a a b a", "a b a b a b",
    ]
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    idx = build_index(docs, doc_id_col="doc_id", n_buckets=4)
    p = str(tmp_path / "idx")
    write_index(idx, p)
    # positions are a postings column: no second table on disk
    assert not os.path.isdir(os.path.join(p, "positions"))
    written = read_index(spark, p)
    assert written.postings.where(F.size("positions") != F.col("tf")).count() == 0
    oracle = OracleIndex(dict(rows))
    for index in (idx, written):
        for phrase in ["a a a", "a b a", "a a b a"]:
            for slop in (0, 1, 2, 3):
                got = {
                    r["doc_id"]
                    for r in qx.phrase_query(index, phrase, k=100, slop=slop).collect()
                }
                want = {d for d, _ in oracle.phrase(phrase, k=100, slop=slop)}
                assert got == want, (phrase, slop, got, want)
    idx.unpersist()
