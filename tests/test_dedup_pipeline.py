"""Near-dup pipeline on a corpus with PLANTED near-duplicates: the
LSH-verified path finds what the exact path finds (high recall, exact
precision), and exact dedup collapses true duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.operators import dedup


@pytest.fixture(scope="module")
def dup_corpus(spark):
    """200 base docs + near-dups of the first 20 (one token appended)
    + exact dups of the next 10."""
    pdf = generate_corpus_pandas(200, seed=42)
    rows = list(pdf.itertuples(index=False, name=None))
    for i in range(20):
        r = rows[i]
        rows.append((r[0], r[1] + ".neardup", r[2], r[3], r[4] + " appendedToken"))
    for i in range(20, 30):
        r = rows[i]
        rows.append((r[0], r[1] + ".exactdup", r[2], r[3], r[4]))
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    return df.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))


def test_exact_dedup_collapses_true_dups(dup_corpus):
    out = dedup.exact_dedup(dup_corpus, "content", "doc_id")
    assert out.count() == 220  # 230 rows, 10 exact dups collapsed
    assert out.where(F.col("dup_count") == 2).count() == 10


def test_lsh_verified_matches_exact(dup_corpus):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(
            dup_corpus, "content", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    verified = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs_verified(
            dup_corpus, "content", "doc_id", n=3, threshold=0.8, k=8, bands=4
        ).collect()
    }
    # the 20 planted near-dups + 10 exact dups must be found
    assert len(exact) >= 30
    # exact precision: every verified pair is a true pair
    assert verified <= exact
    # recall ≥ 90% at s≥0.8 with k=8/bands=4 (theory ≈ 0.96)
    assert len(verified) >= 0.9 * len(exact), (len(verified), len(exact))


def test_simhash_near_dups_hot_bucket_cap(spark):
    """A degenerate band (near-constant docs) must be dropped above
    max_bucket — the quadratic band join is bounded by the cap, and
    non-degenerate pairs survive."""
    # 40 near-identical docs (one shared vocabulary) + 2 distinct dups
    rows = [(i, "alpha beta gamma delta shared text body") for i in range(40)]
    rows += [(100, "totally different unique corpus here"),
             (101, "totally different unique corpus here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.simhash_near_dups(
        df, "text", "doc_id", bits=16, max_hamming=2, max_bucket=10_000
    )
    capped = dedup.simhash_near_dups(
        df, "text", "doc_id", bits=16, max_hamming=2, max_bucket=30
    )
    # uncapped: the 40-clone cluster yields ~C(40,2) pairs
    assert uncapped.count() >= 40 * 39 // 2
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # capped: every band bucket holding the 40 clones (>30) is dropped…
    assert all(a >= 100 for a, _ in got), got
    # …but the distinct-pair bucket (size 2 per band) survives
    assert (100, 101) in got


def test_connected_components_hand_graph(spark):
    from elasticsearch_assets_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6), (9, 8), (9, 10)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_connected_components_matches_union_find(spark):
    """Random pair graph vs a driver-side union-find oracle."""
    import random

    from elasticsearch_assets_spark.operators import dedup

    rng = random.Random(7)
    nodes = list(range(100))
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(df).collect()
    }
    assert got == want


def test_connected_components_star_equivalence(spark):
    """VERDICT r5 #9: large-star/small-star contraction must produce
    the identical clustering as min-label on random graphs."""
    import random

    from elasticsearch_assets_spark.operators import dedup

    rng = random.Random(23)
    for trial in range(3):
        nodes = list(range(60))
        pairs = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(40 + trial * 20)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        ml = {
            r["node"]: r["cluster_id"]
            for r in dedup.connected_components(df).collect()
        }
        st = {
            r["node"]: r["cluster_id"]
            for r in dedup.connected_components(df, method="star").collect()
        }
        assert st == ml, (trial, {k: (st.get(k), ml.get(k)) for k in set(st) ^ set(ml) or st if st != ml})


def test_connected_components_star_long_chain(spark):
    """The star method's reason to exist: a 60-node chain exceeds
    min-label's 25-round default (O(diameter)) but star contraction
    (O(log^2 n) rounds) resolves it inside the same budget."""
    import pytest as _pytest

    from elasticsearch_assets_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=25)
    got = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(
            chain, max_iter=25, method="star"
        ).collect()
    }
    assert set(got.values()) == {0} and len(got) == 61


def test_connected_components_unknown_method(spark):
    import pytest as _pytest

    from elasticsearch_assets_spark.operators import dedup

    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="unknown method"):
        dedup.connected_components(df, method="bogus")


def test_connected_components_nonconvergence_raises(spark):
    from elasticsearch_assets_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=3)
    got = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(chain, max_iter=15).collect()
    }
    assert set(got.values()) == {0} and len(got) == 11


def test_dedup_apply_keeps_canonical_and_unpaired(spark):
    from elasticsearch_assets_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 5)], "id_a long, id_b long")
    clusters = dedup.connected_components(pairs)
    kept = {r["doc_id"] for r in dedup.dedup_apply(docs, clusters).collect()}
    # component {1,2,5} -> keep 1; docs 0,3,4,6 unpaired -> keep
    assert kept == {0, 1, 3, 4, 6}


def _capped_buckets(keyed: dict, max_bucket: int):
    """{(band, key): [ids]} -> (kept buckets, DropCounter-style stats)."""
    dropped = [ids for ids in keyed.values() if len(ids) > max_bucket]
    kept = [sorted(ids) for ids in keyed.values() if len(ids) <= max_bucket]
    stats = {
        "dropped_rows": sum(len(ids) for ids in dropped),
        "dropped_buckets": len(dropped),
        "largest_dropped_bucket": max((len(ids) for ids in dropped), default=0),
    }
    return kept, stats


def _bucket_pairs(kept):
    """Every id_a < id_b pair sharing a kept bucket."""
    from itertools import combinations

    return {p for ids in kept for p in combinations(ids, 2)}


def test_banded_builders_match_python_reference(spark, dup_corpus):
    """Each near-dup builder's exact pair set and drop counts against a
    plain-Python reference that bands, caps and enumerates pairs on its
    own from the builder's per-doc inputs (simhash fingerprints, minhash
    signatures, raw vectors). Twelve identical docs and ten near-
    identical vectors make one bucket per band above max_bucket."""
    import numpy as np

    from elasticsearch_assets_spark.operators import similarity
    from elasticsearch_assets_spark.operators.caps import drop_observation

    same = spark.createDataFrame(
        [(i, "one boilerplate header copied verbatim into every doc") for i in range(12)],
        "doc_id long, content string",
    )
    docs = dup_corpus.select("doc_id", "content").unionByName(same)

    # simhash: 3 bands of 5, 5 and 6 bits, Hamming <= 2
    obs = drop_observation()
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_dups(
            docs, "content", "doc_id", bits=16, max_hamming=2, max_bucket=10,
            drop_obs=obs,
        ).collect()
    }
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "content", "doc_id").collect()}
    keyed = {}
    for d, h in fp.items():
        for band, (lo, hi) in enumerate([(0, 5), (5, 10), (10, 16)]):
            keyed.setdefault((band, h[lo:hi]), []).append(d)
    kept, stats = _capped_buckets(keyed, 10)
    want = set()
    for a, b in _bucket_pairs(kept):
        ham = sum(x != y for x, y in zip(fp[a], fp[b]))
        if ham <= 2:
            want.add((a, b, ham))
    assert stats["largest_dropped_bucket"] >= 12 and want
    assert got == want
    assert obs.stats() == stats

    # minhash: k=8 in 4 bands of 2 slices
    obs = drop_observation()
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            docs, "content", "doc_id", k=8, bands=4, max_bucket=10, drop_obs=obs
        ).collect()
    }
    keyed = {}
    for r in dedup.minhash_signatures(docs, "content", "doc_id", k=8).collect():
        for band in range(4):
            key = (r[f"mh_{2 * band}"], r[f"mh_{2 * band + 1}"])
            keyed.setdefault((band, key), []).append(r["doc_id"])
    kept, stats = _capped_buckets(keyed, 10)
    assert stats == {"dropped_rows": 48, "dropped_buckets": 4, "largest_dropped_bucket": 12}
    assert got == _bucket_pairs(kept) and got
    assert obs.stats() == stats

    # embeddings: 10 near-identical vectors, 40 random ones and a
    # perturbed copy of each of the first 12 random ones
    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 16))
    hot = np.abs(rng.normal(size=16)) + 1.0
    vecs = [hot + 1e-3 * i for i in range(10)]
    vecs += list(base) + [v + 0.05 * rng.normal(size=16) for v in base[:12]]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    signs = ["".join("1" if x >= 0 else "0" for x in v) for v in vecs]

    def cosine(a, b):
        return float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))

    threshold = 0.9
    for name, bands in (
        ("near_dup_pairs", [list(range(8))]),
        ("near_dup_pairs_banded", [list(range(8)), list(range(8, 16))]),
    ):
        keyed = {}
        for i, s in enumerate(signs):
            for band, dims in enumerate(bands):
                keyed.setdefault((band, "".join(s[d] for d in dims)), []).append(i)
        kept, stats = _capped_buckets(keyed, 6)
        want = {
            p: cosine(*p) for p in _bucket_pairs(kept) if cosine(*p) >= threshold
        }
        # no pair sits within rounding of the threshold
        assert all(abs(cosine(*p) - threshold) > 1e-9 for p in _bucket_pairs(kept))
        assert stats["largest_dropped_bucket"] >= 10 and want
        obs = drop_observation()
        if name == "near_dup_pairs":
            out = similarity.near_dup_pairs(
                emb, threshold, bucket_dims=bands[0], max_bucket=6, drop_obs=obs
            )
        else:
            out = similarity.near_dup_pairs_banded(
                emb, threshold, band_dims=bands, max_bucket=6, drop_obs=obs
            )
        rows = out.collect()
        assert len(rows) == len(want), name
        got = {(r["id_a"], r["id_b"]): r["cosine"] for r in rows}
        assert got.keys() == want.keys(), name
        for p, c in want.items():
            assert got[p] == pytest.approx(c, rel=1e-12), (name, p)
        assert obs.stats() == stats, name
