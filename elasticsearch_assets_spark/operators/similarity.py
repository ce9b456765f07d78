"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — the baseline; one pass, no
  shuffle except the TakeOrderedAndProject heap merge.
- lsh_topk: random-hyperplane-style sign-bucket prefilter — the scale
  path: only the query's bucket (+ optional neighbor buckets by probe)
  is scanned. Hyperplanes are fixed coordinate subsets so the bucketing
  is reproducible in SQL for the oracle.
- near_dup_pairs / near_dup_pairs_banded: cosine ≥ threshold pairs
  within one sign bucket or any of several sign bands, generated by
  caps.banded_pairs; the exact all-pairs crossJoin is gated behind
  all_pairs=True for small-input verification only.

All dot products run as JVM array expressions (zip_with + aggregate) in
double precision, left-to-right, so DuckDB's list functions reproduce
them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elasticsearch_assets_spark.operators.caps import banded_pairs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (id, cosine), ties → id asc.

    The query norm is folded driver-side and injected as a literal
    (r7): ||q|| is constant across rows, yet as a column expression it
    re-ran a zip_with + fold over the 64-element literal array for
    EVERY row (HOFs are not constant-folded). The Python fold below is
    the identical IEEE op sequence (left-to-right acc += x*x on
    doubles, correctly-rounded sqrt), so the injected literal is
    bit-identical to the per-row JVM fold it replaces."""
    import math

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    acc = 0.0
    for x in query_vec:
        acc += float(x) * float(x)
    nq = math.sqrt(acc)
    scored = emb.select(
        F.col(id_col),
        (_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(nq))).alias(
            "cosine"
        ),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def sign_bucket(vec_col: Column, dims: list[int]) -> Column:
    """LSH bucket key: sign bits of fixed coordinates. A degenerate but
    deterministic random-hyperplane family (axis-aligned hyperplanes) —
    kept as the cheap legacy family and the oracle-friendly baseline;
    production quality is random_hyperplanes/hyperplane_bucket below."""
    bits = [
        F.when(F.element_at(vec_col, d + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for d in dims
    ]
    return F.concat(*bits)


# ---- production LSH family: seeded Gaussian hyperplanes (r6) ---------
#
# Axis-aligned sign bits only separate on the coordinate axes — on
# embeddings whose variance isn't axis-aligned they approach random
# bucketing. The classic SimHash/Charikar family draws each hyperplane
# normal from an isotropic Gaussian: P(bit differs) = angle(a,b)/pi for
# ANY direction, which is the property the recall math assumes. The
# planes are generated from a recorded seed (python random.Random —
# platform-stable) and persisted verbatim in ann.json, so queries, the
# DuckDB oracle, and future sessions all hash with the SAME planes.


def random_hyperplanes(
    n_planes: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """`n_planes` fixed Gaussian hyperplane normals in R^dim. Purely a
    function of (n_planes, dim, seed) — deterministic across runs and
    machines (random.Random is specified, unlike numpy's generators
    across versions)."""
    import random

    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def hyperplane_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bucket key: one sign bit per hyperplane, bit i = dot(vec,
    plane_i) >= 0. Dots are JVM aggregate(zip_with(...)) folds — the
    planes ride the plan as array literals (k×dim doubles: tiny), so
    the whole key stays inside whole-stage codegen with no UDF."""
    bits = []
    for p in planes:
        lit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(_dot(vec_col, lit) >= 0, F.lit("1")).otherwise(F.lit("0"))
        )
    return F.concat(*bits)


def plane_dots_py(query_vec: list[float], planes: list[list[float]]) -> list[float]:
    """Driver-side query-to-plane dots, folded LEFT-TO-RIGHT like the
    JVM aggregate — bit-identical bucket assignment for the query."""
    out = []
    for p in planes:
        acc = 0.0
        for x, y in zip(query_vec, p):
            acc += float(x) * float(y)
        out.append(acc)
    return out


def query_buckets_planes(
    query_vec: list[float], planes: list[list[float]], probes: int = 1
) -> list[str]:
    """Multi-probe bucket list for the hyperplane family: the query's
    bucket plus single-bit flips ordered by |dot| margin ascending (the
    planes the query is closest to are the ones a true neighbor most
    likely lands on the other side of)."""
    dots = plane_dots_py(query_vec, planes)
    bits = ["1" if d >= 0 else "0" for d in dots]
    out = ["".join(bits)]
    order = sorted(range(len(planes)), key=lambda i: abs(dots[i]))
    for i in order:
        if len(out) >= probes:
            break
        flipped = bits.copy()
        flipped[i] = "0" if flipped[i] == "1" else "1"
        out.append("".join(flipped))
    return out[:probes]


def default_n_bits(n_vectors: int, target_bucket: int = 512) -> int:
    """Bits scaled to corpus size: 2^bits buckets sized so the expected
    bucket holds ~target_bucket vectors (10^9 vectors -> 21 bits ->
    ~500/bucket), floor 4. The scan cost per probe is O(target_bucket);
    recall is recovered with multi-probe, not bigger buckets."""
    import math

    if n_vectors <= 0:
        return 4
    return max(4, math.ceil(math.log2(max(1.0, n_vectors / target_bucket))))


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: list[int] | None = None,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: scan only vectors in the query's sign bucket.
    At scale the table is written partitionBy(bucket) so this prunes to
    one directory; recall is tuned by the bit count and multi-probe.

    `planes` selects the Gaussian-hyperplane family (production
    quality); `dims` the axis-aligned legacy family; default = 4
    hyperplanes seeded 42."""
    if planes is None and dims is None:
        planes = random_hyperplanes(4, len(query_vec))
    if planes is not None:
        qb = query_buckets_planes(query_vec, planes, probes=1)[0]
        bucketed = emb.withColumn(
            "_bucket", hyperplane_bucket(F.col(vec_col), planes)
        )
    else:
        qb = "".join("1" if query_vec[d] >= 0 else "0" for d in dims)
        bucketed = emb.withColumn("_bucket", sign_bucket(F.col(vec_col), dims))
    cand = bucketed.where(F.col("_bucket") == qb)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def write_ann_index(
    emb: DataFrame,
    path: str,
    dims: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_bits: int | None = None,
    seed: int = 42,
) -> None:
    """Persist the ANN scale path: embeddings written partitionBy(sign
    bucket). A query then prunes to bucket DIRECTORIES (PartitionFilters
    in the scan), not a post-scan filter — at 10^9 vectors only the
    probed buckets' files are opened.

    Default family (r6): seeded Gaussian hyperplanes with the bit count
    scaled to corpus size (default_n_bits) — the planes are RECORDED in
    ann.json so every reader (queries, the DuckDB oracle, later
    sessions) hashes identically. Pass `dims` to force the axis-aligned
    legacy family, or `planes` to bring your own."""
    import json
    import os

    if dims is not None and planes is not None:
        raise ValueError("pass dims OR planes, not both")
    if dims is None and planes is None:
        first = emb.select(vec_col).first()
        dim = len(first[0]) if first else 0
        if n_bits is None:
            n_bits = default_n_bits(emb.count())
        planes = random_hyperplanes(n_bits, dim, seed)
    bucket = (
        hyperplane_bucket(F.col(vec_col), planes)
        if planes is not None
        else sign_bucket(F.col(vec_col), dims)
    )
    (
        emb.withColumn("bucket", bucket)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "vectors"))
    )
    meta: dict = {"id_col": id_col, "vec_col": vec_col}
    if planes is not None:
        meta["planes"] = planes
        meta["seed"] = seed
    else:
        meta["dims"] = dims
    with open(os.path.join(path, "ann.json"), "w") as f:
        json.dump(meta, f)


def query_buckets(query_vec: list[float], dims: list[int], probes: int = 1) -> list[str]:
    """The query's sign bucket plus (probes-1) nearest neighbor buckets
    (single-bit flips, weakest-margin coordinates first) — standard
    multi-probe LSH recall boost without extra tables."""
    bits = ["1" if query_vec[d] >= 0 else "0" for d in dims]
    out = ["".join(bits)]
    # flip order: coordinates with the smallest |value| first (most
    # likely to differ for a true near neighbor)
    order = sorted(range(len(dims)), key=lambda i: abs(query_vec[dims[i]]))
    for i in order:
        if len(out) >= probes:
            break
        flipped = bits.copy()
        flipped[i] = "0" if flipped[i] == "1" else "1"
        out.append("".join(flipped))
    return out[:probes]


def ann_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    probes: int = 1,
) -> DataFrame:
    """Top-k over the persisted ANN index: bucket partition pruning
    (directory skip) + exact cosine within the probed buckets. The
    hash family comes from ann.json — recorded hyperplanes (production)
    or axis dims (legacy) — so query-side bucketing always matches the
    build."""
    import json
    import os

    with open(os.path.join(path, "ann.json")) as f:
        meta = json.load(f)
    if "planes" in meta:
        buckets = query_buckets_planes(query_vec, meta["planes"], probes)
    else:
        buckets = query_buckets(query_vec, meta["dims"], probes)
    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    cand = vecs.where(F.col("bucket").isin(buckets))
    return cosine_topk(cand, query_vec, k, meta["id_col"], meta["vec_col"])


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the second scale path beside sign-bucket LSH.
# Deterministic Lloyd iterations expressed as DataFrame ops; the coarse
# quantizer (centroid list) is tiny and lives on the driver.
# ---------------------------------------------------------------------------


def _cosine_to_centroids(vec_col: Column, centroids: list[list[float]]) -> Column:
    """array<double> of cosines from vec to each centroid (JVM exprs)."""
    cols = []
    for c in centroids:
        lit = F.array(*[F.lit(float(x)) for x in c])
        cols.append(cosine_col(vec_col, lit))
    return F.array(*cols)


def assign_centroid(vec_col: Column, centroids: list[list[float]]) -> Column:
    """argmax cosine, ties → lowest centroid id (array_position finds
    the FIRST occurrence of the max)."""
    cos = _cosine_to_centroids(vec_col, centroids)
    return (F.array_position(cos, F.array_max(cos)) - 1).cast("int")


def ivf_train(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic k-means for the coarse quantizer: init = a
    HASH-ORDERED sample (the k vectors with the smallest
    xxhash64(id) — r6, VERDICT r5 #7: the former k-smallest-id seed
    degenerates when low ids are correlated, e.g. ingestion order =
    topic order; hash order is a uniform draw that stays a pure
    function of the ids, so retrains reproduce bit-for-bit), then
    `iters` Lloyd steps (assign = JVM column exprs; means = one groupBy
    per step; the k×dim centroid table is the only driver-side state)."""
    init = (
        emb.orderBy(F.asc(F.xxhash64(id_col)), F.asc(id_col))
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [list(map(float, r[0])) for r in init]
    for _ in range(iters):
        assigned = emb.withColumn(
            "_c", assign_centroid(F.col(vec_col), centroids)
        )
        means = (
            assigned.select("_c", F.posexplode(vec_col).alias("_d", "_v"))
            .groupBy("_c", "_d")
            .agg(F.avg("_v").alias("m"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in means:
            by_c.setdefault(r["_c"], {})[r["_d"]] = float(r["m"])
        centroids = [
            [by_c[c][d] for d in sorted(by_c[c])] if c in by_c else centroids[c]
            for c in range(k)
        ]
    return centroids


def write_ivf_index(
    emb: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Persist the IVF index: vectors written partitionBy(centroid) so a
    query scans only the probed lists (directory pruning), plus the
    quantizer as JSON."""
    import json
    import os

    centroids = ivf_train(emb, k, iters, id_col, vec_col)
    (
        emb.withColumn("centroid", assign_centroid(F.col(vec_col), centroids))
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(os.path.join(path, "vectors"))
    )
    with open(os.path.join(path, "ivf.json"), "w") as f:
        json.dump(
            {"centroids": centroids, "id_col": id_col, "vec_col": vec_col}, f
        )
    return centroids


def ivf_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: rank centroids by cosine to the query (driver-side,
    k_centroids×dim flops), scan the top-`nprobe` inverted lists only
    (partition pruning), exact cosine re-rank within them."""
    import json
    import math
    import os

    with open(os.path.join(path, "ivf.json")) as f:
        meta = json.load(f)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb)

    ranked = sorted(
        range(len(meta["centroids"])),
        key=lambda c: (-cos(query_vec, meta["centroids"][c]), c),
    )
    probe = ranked[:nprobe]
    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    cand = vecs.where(F.col("centroid").isin(probe))
    return cosine_topk(cand, query_vec, k, meta["id_col"], meta["vec_col"])


def near_dup_pairs_banded(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_dims: list[list[int]] | None = None,
    max_bucket: int | None = 10_000,
    drop_obs=None,
) -> DataFrame:
    """Embedding near-duplicate pairs with BANDED sign buckets: a pair
    is a candidate if it shares the full sign pattern of ANY band (the
    LSH OR-of-ANDs construction minhash banding uses). With b bands of
    r bits each, P(candidate) = 1-(1-p^r)^b for per-bit agreement p —
    at cosine 0.95 (p≈0.90) two 8-bit bands give ~0.70 vs ~0.43 for one
    16-bit bucket: banding buys recall while every join stays a keyed
    equi-join on (band, bits). Exact cosine verification keeps
    precision exact. Per-(band,bucket) max_bucket cap bounds the
    quadratic term under degenerate skew."""
    if band_dims is None:
        band_dims = [[0, 1, 2, 3, 4, 5, 6, 7], [8, 9, 10, 11, 12, 13, 14, 15]]
    keys = [sign_bucket(F.col(vec_col), dims) for dims in band_dims]
    # The cosine is filtered BEFORE the distinct: it is a function of
    # the pair, so the distinct shuffles (id_a, id_b, cosine) per
    # near-dup pair instead of two vectors per banded candidate.
    pairs = banded_pairs(
        emb.select(id_col, vec_col), id_col, keys, max_bucket, drop_obs
    )
    return _cosine_pairs(pairs, vec_col, threshold).distinct()


def _cosine_pairs(pairs: DataFrame, vec_col: str, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine) ≥ threshold over pairs carrying both sides'
    vectors as <vec_col>_a / <vec_col>_b."""
    cos = cosine_col(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b"))
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


DEFAULT_BUCKET_DIMS = [0, 1, 2, 3, 4, 5, 6, 7]


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_dims: list[int] | None = None,
    max_bucket: int | None = 10_000,
    all_pairs: bool = False,
    drop_obs=None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.
    Pairs are only considered within a sign bucket (the scale path —
    near-dups almost surely share sign patterns); bucket_dims defaults
    to the first 8 dimensions (256 buckets). The exact all-pairs
    crossJoin — quadratic, small-input verification ONLY — must be
    requested explicitly with all_pairs=True.

    The within-bucket join is quadratic in bucket size, so buckets
    larger than `max_bucket` are dropped entirely (the same hot-bucket
    defense as dedup.minhash_lsh_candidates — a degenerate bucket of
    near-identical vectors at 10^9 rows would otherwise explode to
    ~10^15 candidate pairs; drop_obs observes the drop counts, see
    operators.caps). Use ≥8
    bucket_dims at scale: 2^bits buckets bound the expected bucket size,
    and near_dup_pairs_banded (OR-of-bands) recovers recall."""
    if all_pairs and bucket_dims is not None:
        raise ValueError("all_pairs=True is the exact path; drop bucket_dims")
    if all_pairs:
        # explicit small-input exact path (recall oracles, tests)
        a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias(f"{vec_col}_a"))
        b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias(f"{vec_col}_b"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    else:
        if bucket_dims is None:
            bucket_dims = DEFAULT_BUCKET_DIMS
        key = sign_bucket(F.col(vec_col), bucket_dims)
        pairs = banded_pairs(
            emb.select(id_col, vec_col), id_col, [key], max_bucket, drop_obs
        )
    return _cosine_pairs(pairs, vec_col, threshold)
