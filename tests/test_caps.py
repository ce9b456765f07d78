"""Hot-bucket cap drop OBSERVABILITY (VERDICT r4 'what's wrong' #3):
a degenerate corpus whose hottest bucket exceeds max_bucket must
report exactly what was dropped, and a clean corpus must report zero.
Also pins the connected_components checkpoint-storage release
(ADVICE r4): per-round localCheckpoints must not accumulate in the
block manager for the life of the session."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.operators import dedup, similarity
from elasticsearch_assets_spark.operators.caps import drop_observation, drop_stats


@pytest.fixture()
def degenerate_docs(spark):
    # 30 identical docs (one giant LSH bucket per band) + 3 distinct
    rows = [(i, "the same exact text repeated verbatim") for i in range(30)]
    rows += [(100, "alpha beta gamma"), (101, "delta epsilon zeta"),
             (102, "eta theta iota")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_drop_stats_degenerate(degenerate_docs):
    obs = drop_observation("mh_drops")
    pairs = dedup.minhash_lsh_candidates(
        degenerate_docs, "text", "doc_id", bands=4, max_bucket=10, drop_obs=obs
    )
    assert pairs.count() == 0  # the only dup bucket was dropped
    s = drop_stats(obs)
    # 30 identical docs × 4 bands = 120 dropped rows in 4 buckets
    assert s["dropped_rows"] == 120, s
    assert s["dropped_buckets"] == 4, s
    assert s["largest_dropped_bucket"] == 30, s


def test_minhash_drop_stats_clean(spark):
    rows = [(i, f"unique document number {i} with words {i * 7} {i * 13}")
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = drop_observation("mh_clean")
    dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", bands=4, max_bucket=10, drop_obs=obs
    ).count()
    s = drop_stats(obs)
    assert s == {"dropped_rows": 0, "dropped_buckets": 0,
                 "largest_dropped_bucket": 0}
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_lsh_candidates(docs, "text", "doc_id", k=10, bands=4)


def test_simhash_drop_stats(degenerate_docs):
    obs = drop_observation("sh_drops")
    pairs = dedup.simhash_near_dups(
        degenerate_docs, "text", "doc_id", bits=16, max_hamming=2,
        max_bucket=10, drop_obs=obs,
    )
    pairs.count()
    s = drop_stats(obs)
    # 30 identical docs × 3 bands dropped
    assert s["dropped_rows"] == 90, s
    assert s["dropped_buckets"] == 3, s
    with pytest.raises(ValueError, match="exceeds 32"):
        dedup.simhash(degenerate_docs, "text", "doc_id", bits=33)


def test_near_dup_pairs_drop_stats(spark):
    # 25 near-identical vectors share one sign bucket > max_bucket
    base = [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2]
    rows = [(i, [v + i * 1e-4 for v in base]) for i in range(25)]
    rows += [(100, [-1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    obs = drop_observation("nd_drops")
    out = similarity.near_dup_pairs(
        emb, threshold=0.99, bucket_dims=list(range(8)), max_bucket=10,
        drop_obs=obs,
    )
    assert out.count() == 0
    s = drop_stats(obs)
    assert s["dropped_rows"] == 25, s
    assert s["dropped_buckets"] == 1, s
    assert s["largest_dropped_bucket"] == 25, s


def test_jaccard_verified_threads_drop_obs(degenerate_docs):
    obs = drop_observation("jv_drops")
    out = dedup.jaccard_pairs_verified(
        degenerate_docs, "text", "doc_id", threshold=0.5, max_bucket=10,
        drop_obs=obs,
    )
    assert out.count() == 0
    assert drop_stats(obs)["dropped_buckets"] == 4


def test_connected_components_releases_round_checkpoints(spark):
    sc = spark.sparkContext
    # settle: unrelated fixtures may hold persisted RDDs
    before = len(sc._jsc.getPersistentRDDs())
    # a 3-chain + a pair → needs >1 round to propagate min labels
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs)
    got = {(r["node"], r["cluster_id"]) for r in out.collect()}
    assert got == {(2, 2), (3, 2), (4, 2), (5, 2), (10, 10), (11, 10)}
    after = len(sc._jsc.getPersistentRDDs())
    # only the RETURNED labels checkpoint may remain (edges + all prior
    # round checkpoints released)
    assert after <= before + 1, (before, after)


def test_near_dup_banded_drop_stats(spark):
    # the banded variant threads drop_obs through its per-band cap
    base = [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2,
            0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2]
    rows = [(i, [v + i * 1e-4 for v in base]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    obs = drop_observation("ndb_drops")
    out = similarity.near_dup_pairs_banded(
        emb, threshold=0.99, max_bucket=5, drop_obs=obs,
    )
    assert out.count() == 0
    s = drop_stats(obs)
    # 12 vectors share both 8-bit band buckets -> 2 bands x 12 rows
    assert s["dropped_rows"] == 24, s
    assert s["dropped_buckets"] == 2, s
    assert s["largest_dropped_bucket"] == 12, s
