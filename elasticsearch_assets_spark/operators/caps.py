"""Banded candidate pairs and hot-bucket capping with OBSERVABLE drops.

`banded_pairs` is the one pair generator of every near-dup family
(minhash LSH, simhash Hamming bands, banded and single-bucket
embedding sign buckets): one band explode, one hot-bucket cap, one
(band, key) grouping whose member lists are exploded into pairs.
Callers only supply the per-band keys and verify the pairs it
returns.

It bounds the quadratic term by dropping buckets larger than
`max_bucket` (a degenerate bucket of near-identical content at 10^9
rows would otherwise explode to ~10^15 candidate pairs). A silent drop
is wrong-by-omission at 100 TB — the hottest buckets are exactly the
most-duplicated documents a dedup run exists to find — so the cap is
centralized here with an optional `DropCounter` that reports exactly
what was dropped.

Why NOT `df.observe(Observation, ...)`: measured on this Spark 4
build, a CollectMetrics node placed under an LSH self-join is
unreliable — AQE's empty-relation propagation elides the node entirely
when the downstream result is provably empty (`Observation.get` then
throws on a schema-less row), and even with AQE off the doubly-
referenced subtree can report metrics from the wrong traversal. The
counter instead holds a tiny one-row aggregate DataFrame over the SAME
sized frame the cap filtered; reading it is a second, explicitly
lazy pass (an operator that persists the frame it bands — e.g.
minhash_lsh_candidates, its signatures — serves that pass from cache).

Usage:
    ctr = DropCounter()
    pairs = minhash_lsh_candidates(df, ..., drop_obs=ctr)
    pairs.count()
    stats = ctr.stats()   # {'dropped_rows': .., 'dropped_buckets': ..,
                          #  'largest_dropped_bucket': ..}
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elasticsearch_assets_spark.query.sql import ident


class DropCounter:
    """Deferred drop accounting for one capped query. `stats()` runs a
    small aggregate job on first call (cached afterwards): count of
    dropped rows, number of oversized buckets, and the largest bucket's
    size — the triage numbers for 'did the cap eat my duplicates'."""

    def __init__(self, name: str = "bucket_drops") -> None:
        self.name = name
        self._stats_df: DataFrame | None = None
        self._stats: dict[str, int] | None = None

    def _attach(self, sized: DataFrame, max_bucket: int, size_col: str) -> None:
        dropped = F.col(size_col) > max_bucket
        self._stats_df = sized.agg(
            F.coalesce(
                F.sum(F.when(dropped, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias("dropped_rows"),
            F.coalesce(
                # exact distinct-bucket count without a second groupBy:
                # each dropped bucket of size s contributes s * (1/s) = 1
                F.sum(F.when(dropped, F.lit(1.0) / F.col(size_col))), F.lit(0.0)
            ).alias("dropped_buckets"),
            F.coalesce(F.max(F.when(dropped, F.col(size_col))), F.lit(0)).alias(
                "largest_dropped_bucket"
            ),
        )

    def stats(self) -> dict[str, int]:
        if self._stats is None:
            if self._stats_df is None:
                raise ValueError(
                    f"DropCounter {self.name!r} was never attached to a "
                    "capped query (pass it as drop_obs=)"
                )
            row = self._stats_df.collect()[0]
            self._stats = {
                "dropped_rows": int(row["dropped_rows"]),
                "dropped_buckets": int(round(row["dropped_buckets"])),
                "largest_dropped_bucket": int(row["largest_dropped_bucket"]),
            }
        return self._stats


def drop_observation(name: str = "bucket_drops") -> DropCounter:
    """A fresh counter for one capped query."""
    return DropCounter(name)


def cap_buckets(
    df: DataFrame,
    keys: list[str],
    max_bucket: int,
    drop_obs: DropCounter | None = None,
    size_col: str = "_bs",
) -> DataFrame:
    """Drop rows of buckets (groups of `keys`) larger than max_bucket.
    The surviving frame keeps `size_col` (callers drop it or reuse it).
    With drop_obs, the counter is attached to the pre-filter sized
    frame; its stats() runs one tiny aggregate job on demand."""
    sized = df.withColumn(
        size_col, F.count("*").over(Window.partitionBy(*keys))
    )
    if drop_obs is not None:
        drop_obs._attach(sized, max_bucket, size_col)
    return sized.where(F.col(size_col) <= max_bucket)


def banded_pairs(
    rows: DataFrame,
    id_col: str,
    keys: list[Column],
    max_bucket: int | None,
    drop_obs: DropCounter | None = None,
) -> DataFrame:
    """Candidate pairs of rows that share the key of any band.

    `keys` holds one Column per band, evaluated over `rows`. Every band
    is built in ONE projection, posexplode(array(*keys)) AS (band, key),
    so the source is scanned and encoded once however many bands there
    are (a per-band union re-runs the whole lineage per band). Buckets
    of (band, key) above `max_bucket` are dropped by cap_buckets unless
    it is None. Each bucket is then collected into one member list, and
    its pairs are the two-fold explode of that list with id_a < id_b.
    The collect groups on the cap window's (band, key) partitioning, so
    one exchange serves the cap and the pairs, and the lineage under it
    runs once whether or not `rows` is cached. A keyed self-join needs
    a reused exchange for that, and AQE reuses none over a cached
    source: each join side re-reads the cache and banded and shuffled
    it again (measured on minhash_lsh_candidates under
    dedup.jaccard_pairs_verified, whose persisted shingles are
    substituted into the signature lineage).

    Returns id_a < id_b plus each other column of `rows` once per side,
    suffixed _a and _b. A pair appears once for each band it shares.
    Every column of `rows` rides in the member lists (nothing is pruned
    inside a collect_list), so `rows` should hold only the id, the
    columns the keys read and the columns the caller reads. Nothing is
    persisted here."""
    cols = [id_col, *[c for c in rows.columns if c != id_col]]
    banded = rows.select("*", F.posexplode(F.array(*keys)).alias("band", "key"))
    if max_bucket is not None:
        banded = cap_buckets(banded, ["band", "key"], max_bucket, drop_obs)
    # SQL text, not Column ops: one py4j call per DataFrame op instead
    # of ~15 per Column op, and this builds 2 x len(cols) projections
    # per call.
    members = banded.groupBy("band", "key").agg(
        F.expr(f"collect_list(struct({', '.join(map(ident, cols))}))").alias("_m")
    )
    i = ident(id_col)
    return (
        members.where("size(_m) > 1")
        .selectExpr("_m", "explode(_m) AS _a")
        .selectExpr("_a", "explode(_m) AS _b")
        .where(f"_a.{i} < _b.{i}")
        .selectExpr(
            *[
                f"_{s}.{ident(c)} AS {ident(('id' if c == id_col else c) + '_' + s)}"
                for s in "ab"
                for c in cols
            ]
        )
    )


def drop_stats(obs: DropCounter) -> dict[str, int]:
    """Materialized drop counts for a counter passed to cap_buckets."""
    return obs.stats()
