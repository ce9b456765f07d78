"""Segment-index state as ONE append-only commit log: checkpoint/resume
with hole tracking, incremental refresh, streamed segments, compaction
and tombstone deletes (SURVEY.md D6/D7/O11 + §7.8; FIXTURES.md T4).

The reference tracks slice-level progress with hole bookkeeping
(dateSlicer.ts:308-335, date-helpers.ts:287-390) so a killed run resumes
without re-reading completed ranges. Here every change to an index's
state is one commit file ``<index>/_log/<version:020d>.json`` — the
Delta Lake transaction-log design without the object-store parts. A
commit is a list of actions:

- ``meta``: ``keep_positions`` and ``n_buckets``, recorded with the
  index's first segment
- ``add``: one segment — ``id``, ``run_id``, ``input_fingerprint``,
  ``rows``, ``bytes``, ``duration_ms`` and ``sum_dl`` (Σ dl over its
  docs). An add for an id that is already live replaces it, which is
  how refresh_index rebuilds a drifted part
- ``remove``: the segment ids a compaction merged (same commit as the
  merged segment's add)
- ``delete``: a tombstone parquet dir and its ``applies_below`` scope
- ``retire``: the tombstone dirs a full purging merge applied

Commit rule: data files land first; the commit is then an exclusive
create of the next version file (sources/state_storage.write_exclusive).
A crash between the two leaves only unreferenced data — invisible to
readers, overwritten by a retry (the one exception is refresh_index,
see there). Readers replay the log on the driver
into a snapshot (live segments, every id ever used, live tombstone
dirs, meta), once per public call, so knowing what is committed costs
no Spark job; serve_resumable_index takes n_docs and avg_dl straight
from the live adds. gc_replaced_segments deletes merged-away segment
data and never rewrites the log. Single writer: a second writer that
races for a version gets an error, never a lost commit.

Segment data is ``<index>/postings/part=<id>``: one parquet dir per
segment, rows (term, doc_id, tf, dl, bucket, orig_part) plus a
``positions`` column exactly when the meta says ``keep_positions``.
There is no second per-segment stream: writes, compaction, GC and the
tombstone anti-join each handle this one table.

Segments are input partitions: pmod(xxhash64(doc_id), n_parts) for
batch builds (stable across runs because doc_id is content-derived,
never monotonically_increasing_id) or ``batch_id*n_parts + i`` for
streamed micro-batches. Resume = build the parts that have no add (the
reference's "holes"). Incremental maintenance = rebuild the parts whose
fingerprint no longer matches the input: fingerprint = order-independent
sum over pmod(xxhash64(doc_id, content_sha), p), so adds, deletes AND
content-only edits all flip the affected partition — nothing else
rebuilds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import analyze_col
from elasticsearch_assets_spark.indexing.build import posting_rows, with_doc_id
from elasticsearch_assets_spark.sources.state_storage import write_exclusive

MANIFEST_SCHEMA = (
    "run_id string, partition_id int, input_fingerprint string, "
    "rows long, bytes long, duration_ms long, status string, "
    "replaces string"
)


def _segment_schema(keep_positions: bool) -> str:
    """Read schema of the segment dirs. Every row carries its ORIGINAL
    segment id as data (orig_part): a merge relabels rows under the
    merged id, and scoped tombstones must keep testing the id the row
    was ingested under. ``part`` is the partition column the basePath
    read exposes."""
    pos = "positions array<int>, " if keep_positions else ""
    return (
        f"term string, doc_id bigint, tf int, dl int, {pos}bucket int, "
        "orig_part int, part int"
    )


_DELETES_SCHEMA = "doc_id bigint, applies_below bigint"

_FP_MOD = 1_000_003
_NO_BOUND = (1 << 63) - 1  # tombstone applies to every segment
_LOG_NAME = re.compile(r"^\d{20}\.json$")


def _part_dir(path: str, part: int) -> str:
    return os.path.join(path, "postings", f"part={part}")


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


# ---------------------------------------------------------------------------
# The commit log
# ---------------------------------------------------------------------------


@dataclass
class _Snapshot:
    """The replayed log. ``segments`` holds every id ever added (its
    current add) — the resume skip-set and the id-reuse guard, since a
    merged-away id must never be rebuilt or reissued; ``live`` subtracts
    the compaction-removed ids."""

    version: int = -1
    segments: dict = field(default_factory=dict)
    removed: set = field(default_factory=set)
    tombs: list = field(default_factory=list)
    meta: dict = field(default_factory=dict)

    def live(self) -> dict:
        return {i: a for i, a in self.segments.items() if i not in self.removed}

    def apply(self, actions: list) -> None:
        merged = sorted(i for a in actions for i in a.get("remove", ()))
        for action in actions:
            ((kind, body),) = action.items()
            if kind == "meta":
                self.meta = body
            elif kind == "add":
                self.segments[body["id"]] = dict(body, replaces=merged or None)
            elif kind == "remove":
                self.removed.update(body)
            elif kind == "delete":
                self.tombs.append(body)
            elif kind == "retire":
                self.tombs = [t for t in self.tombs if t["dir"] not in body]


def _snapshot(path: str) -> _Snapshot:
    snap = _Snapshot()
    d = _log_dir(path)
    names = os.listdir(d) if os.path.isdir(d) else []
    for name in sorted(n for n in names if _LOG_NAME.match(n)):
        with open(os.path.join(d, name)) as f:
            snap.apply(json.load(f))
        snap.version = int(name[:20])
    return snap


def _commit(path: str, snap: _Snapshot, actions: list) -> None:
    """Publish ``actions`` as the next version and fold them into the
    caller's snapshot (which stays current for the rest of the call)."""
    os.makedirs(_log_dir(path), exist_ok=True)
    version = snap.version + 1
    target = os.path.join(_log_dir(path), f"{version:020d}.json")
    if not write_exclusive(target, actions):
        raise RuntimeError(
            f"another writer committed version {version} of the index at "
            f"{path} — the commit log is single-writer"
        )
    snap.apply(actions)
    snap.version = version


def _metrics(obs: Observation) -> dict:
    """An Observation's metrics after the action that carried it. When
    the optimizer proves the observed input empty it drops the
    observing node and reports nothing — the metrics of an empty input,
    so they read as zero."""
    try:
        return {k: v or 0 for k, v in obs.get.items()}
    except Py4JJavaError:
        return {}


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The log as a table: one current row per segment id, in
    MANIFEST_SCHEMA. Merged-away segments keep their row (``replaces``
    on the merged segment names them) until gc_replaced_segments has
    deleted their data."""
    snap = _snapshot(path)
    rows = [
        (
            a["run_id"],
            i,
            a["input_fingerprint"],
            a["rows"],
            a["bytes"],
            a["duration_ms"],
            "done",
            ",".join(str(p) for p in a["replaces"]) if a["replaces"] else None,
        )
        for i, a in sorted(snap.segments.items())
        if i not in snap.removed or os.path.isdir(_part_dir(path, i))
    ]
    return spark.createDataFrame(rows, MANIFEST_SCHEMA)


def read_build_meta(path: str) -> dict:
    """Build-time settings of the index: {"keep_positions", "n_buckets"}
    (empty before its first segment commits)."""
    return dict(_snapshot(path).meta)


def _check_meta(
    snap: _Snapshot, path: str, keep_positions: bool, n_buckets: int
) -> None:
    """A resume that flips keep_positions would leave a MIXED index
    (some segments with a positions column, some without) that loses
    phrase recall for the positions-less parts, and a segment built
    with a different n_buckets would break bucket pruning (query-side
    pmod(xxhash64(term), B) no longer matches the rows' bucket column —
    silent recall loss, not an error). Both raise instead."""
    meta = snap.meta
    if meta and meta["keep_positions"] != keep_positions:
        raise ValueError(
            f"index at {path} was built with keep_positions="
            f"{meta['keep_positions']}; pass keep_positions="
            f"{meta['keep_positions']} (or rebuild from scratch) instead of "
            f"{keep_positions} — mixing would silently drop phrase recall"
        )
    if meta and meta["n_buckets"] != n_buckets:
        raise ValueError(
            f"index at {path} was built with n_buckets={meta['n_buckets']}; "
            f"a segment with n_buckets={n_buckets} would break bucket "
            "pruning (query-side term->bucket math must match every "
            "segment) — pass the original value or rebuild"
        )


# ---------------------------------------------------------------------------
# Segment builds: batch build, resume, refresh
# ---------------------------------------------------------------------------


def _fp_col():
    return F.sum(F.pmod(F.xxhash64("doc_id", "content_sha"), F.lit(_FP_MOD))).alias(
        "fp"
    )


def _with_parts(
    docs: DataFrame,
    id_cols,
    text_col: str,
    n_parts: int,
    part_offset: int = 0,
    doc_id_col: str | None = None,
) -> DataFrame:
    """doc_id_col, when given, is used verbatim as the doc id (mirrors
    build_index's doc_id_col — e.g. the testdata documents.doc_id)
    instead of xxhash64(*id_cols); content_sha still derives from the
    text so fingerprints keep detecting content-only edits."""
    if doc_id_col is not None:
        base = docs.withColumn("doc_id", F.col(doc_id_col).cast("long")).withColumn(
            "content_sha", F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
        )
    else:
        base = with_doc_id(docs, id_cols, text_col)
    return base.withColumn(
        "_part",
        (F.lit(part_offset) + F.pmod(F.xxhash64("doc_id"), F.lit(n_parts))).cast(
            "int"
        ),
    )


def _fresh_fingerprints(base: DataFrame) -> dict[int, str]:
    return {
        r["_part"]: str(r["fp"])
        for r in base.groupBy("_part").agg(_fp_col()).collect()
    }


def _build_part(
    base: DataFrame, path: str, snap: _Snapshot, part: int, n_buckets: int,
    text_col: str, run_id: str, keep_positions: bool = False,
) -> None:
    """Build one partition's postings (with a positions column when
    keep_positions) in ONE write, then commit its ``add`` (with the
    index ``meta`` when it is the first segment). The same token groupBy
    as indexing/build (posting_rows); dl is computed MAP-SIDE as
    size(analyzed tokens). The add's rows/bytes/fingerprint/sum_dl ride
    the data write as an Observation — no separate stats job."""
    t0 = time.time()
    obs = Observation()
    toks = (
        base.where(F.col("_part") == part)
        .withColumn("_toks", analyze_col(text_col))
        .withColumn("dl", F.coalesce(F.size("_toks"), F.lit(0)).cast("int"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            _fp_col(),
            F.sum(F.length(text_col)).alias("bytes"),
            F.sum("dl").alias("sum_dl"),
        )
    )
    posting_rows(toks, n_buckets, keep_positions).withColumn(
        "orig_part", F.lit(part)
    ).write.mode("overwrite").parquet(_part_dir(path, part))

    m = _metrics(obs)
    add = {
        "id": part,
        "run_id": run_id,
        "input_fingerprint": str(m.get("fp", 0)),
        "rows": m.get("rows", 0),
        "bytes": m.get("bytes", 0),
        "duration_ms": int((time.time() - t0) * 1000),
        "sum_dl": m.get("sum_dl", 0),
    }
    meta = {"keep_positions": keep_positions, "n_buckets": n_buckets}
    _commit(path, snap, ([] if snap.meta else [{"meta": meta}]) + [{"add": add}])


def done_parts(spark: SparkSession, path: str) -> set[int]:
    """LIVE committed segments: every add minus the compaction-removed
    ids — a merged segment's commit atomically adds it AND removes its
    inputs, so readers never double-count."""
    return set(_snapshot(path).live())


def build_index_resumable(
    docs: DataFrame,
    path: str,
    n_parts: int = 8,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    run_id: str = "run",
    fail_after_parts: int | None = None,
    keep_positions: bool = False,
    doc_id_col: str | None = None,
) -> None:
    """Build (or resume) the partitioned index at `path`.

    fail_after_parts injects a crash after N newly-built parts — the
    kill/resume test hook. keep_positions adds the positions column to
    every segment row so a resumable/incremental index can serve phrase
    queries. Parts merged away by a compaction count as built (their
    docs live on in the merged segment).
    """
    snap = _snapshot(path)
    _check_meta(snap, path, keep_positions, n_buckets)
    base = _with_parts(docs, id_cols, text_col, n_parts, doc_id_col=doc_id_col)
    built = 0
    for part in range(n_parts):
        if part in snap.segments:
            continue
        _build_part(
            base, path, snap, part, n_buckets, text_col, run_id, keep_positions
        )
        built += 1
        if fail_after_parts is not None and built >= fail_after_parts:
            raise RuntimeError(f"injected failure after {built} parts")


def refresh_index(
    docs: DataFrame,
    path: str,
    n_parts: int = 8,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    run_id: str = "refresh",
    keep_positions: bool | None = None,
) -> list[int]:
    """Incremental maintenance (SURVEY.md §7.8): rebuild ONLY partitions
    whose input fingerprint drifted (adds/deletes/content edits).
    Returns the rebuilt part ids — empty list when nothing changed.

    keep_positions defaults to the index's OWN build-time setting
    (the log's meta) — a refresh of a keep_positions index must not
    rebuild parts without positions (phrase queries would then miss
    those parts' docs with no error). An explicit conflicting flag
    raises.

    A drifted part is rewritten IN PLACE before its new add commits, so
    a crash mid-refresh can leave that part serving its new rows under
    its old add's stats; the old fingerprint still mismatches, so
    re-running the refresh rebuilds and commits it.
    """
    snap = _snapshot(path)
    if keep_positions is None:
        keep_positions = bool(snap.meta.get("keep_positions", False))
    if snap.removed or any(i >= n_parts for i in snap.segments):
        # a compacted or stream-ingested index's segments no longer
        # align with the hash-part keying this drift scan assumes — a
        # "refresh" here would rebuild hash parts whose docs also live
        # in merged/batch segments (silent double-count)
        raise ValueError(
            f"index at {path} has compacted or stream-ingested segments; "
            "refresh_index only supports batch-partitioned indexes "
            f"(n_parts={n_parts}) — rebuild, or ingest changes as new "
            "segments"
        )
    _check_meta(snap, path, keep_positions, n_buckets)
    base = _with_parts(docs, id_cols, text_col, n_parts)
    fresh = _fresh_fingerprints(base)
    stale = [
        part
        for part in range(n_parts)
        if snap.segments.get(part, {}).get("input_fingerprint") != fresh.get(part, "0")
    ]
    for part in stale:
        _build_part(
            base, path, snap, part, n_buckets, text_col, run_id, keep_positions
        )
    return stale


def verify_fingerprints(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    id_cols=("repo", "path", "commit"),
    text_col: str = "content",
    n_parts: int = 8,
) -> bool:
    """Resume-safety check: the live segments' fingerprints still match
    the input (detects input drift between the killed run and the
    resume)."""
    fresh = _fresh_fingerprints(_with_parts(docs, id_cols, text_col, n_parts))
    return all(
        fresh.get(pid) == a["input_fingerprint"]
        for pid, a in _snapshot(path).live().items()
    )


# ---------------------------------------------------------------------------
# Readers + serving
# ---------------------------------------------------------------------------


def _read_segments(spark: SparkSession, path: str, snap: _Snapshot, ids) -> DataFrame:
    """Read the given segments' dirs — never a dir the log does not
    name: a segment dir written just before a crash (data landed, commit
    didn't) must not leak into reads. The explicit schema spares a
    footer-inference job per read."""
    base = os.path.join(path, "postings")
    parts = [_part_dir(path, p) for p in sorted(ids) if os.path.isdir(_part_dir(path, p))]
    if not parts:
        raise FileNotFoundError(
            f"no committed postings parts under {path} — build the index first"
        )
    schema = _segment_schema(bool(snap.meta.get("keep_positions")))
    return spark.read.schema(schema).option("basePath", base).parquet(*parts)


def read_resumable_postings(spark: SparkSession, path: str) -> DataFrame:
    """Postings of a resumable index, restricted to live segments (with
    the positions column when built with keep_positions)."""
    snap = _snapshot(path)
    return _read_segments(spark, path, snap, snap.live())


def serve_resumable_index(
    spark: SparkSession,
    path: str,
    apply_deletes: bool = True,
):
    """IndexTables over a resumable/streamed index's LIVE segments — the
    serving handle for query/exec, no batch re-index needed:

    - postings (with the positions column, when built with
      keep_positions) read through the log: live segments only,
      compaction-removed ids excluded
    - terms (df) from one postings aggregation
    - n_docs = Σ rows and avg_dl = Σ sum_dl / n_docs over the live
      adds — no Spark job. Every live copy of a doc counts (an
      unpurged upsert's old and new copy are two docs to the stats, as
      in Lucene), and zero-token docs count with dl=0, matching the
      batch builder's coalesced dl=0 semantics
    - n_buckets from the log's meta (bucket pruning needs the exact
      build-side value)
    - tombstoned docs (delete_docs) are anti-joined out of postings,
      but ONLY after the corpus stats (df, n_docs, avg_dl)
      are derived — Lucene liveDocs semantics: a deleted doc stops
      matching immediately, while docFreq/maxDoc keep counting it until
      a purging merge rewrites the segments (compact_segments
      purge_deletes=True). apply_deletes=False serves the raw segments.

    Stats reflect the segments committed at call time — re-call after
    new batches land, the way Lucene reopens a reader per refresh.
    """
    from elasticsearch_assets_spark.indexing.build import IndexTables

    snap = _snapshot(path)
    live = snap.live()
    post = _read_segments(spark, path, snap, live)
    n_docs = sum(a["rows"] for a in live.values())
    sum_dl = sum(a["sum_dl"] for a in live.values())
    avg_dl = sum_dl / n_docs if n_docs else 0.0
    # df from the FULL committed postings (pre-tombstone), per Lucene
    terms = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    doc_dl = post.select("doc_id", "dl").distinct()
    tomb = _tombstones(spark, path, snap) if apply_deletes else None
    if tomb is not None:
        # tombstone sets are small relative to the corpus (a large
        # backlog is what purge_deletes compactions are for), so Spark
        # picks a broadcast anti-join from the parquet size stats — no
        # forced broadcast of an unbounded frame. The scope predicate
        # (orig_part < applies_below) rides the doc_id hash join as a
        # residual filter.
        post = post.join(tomb, _dead_row_cond(post, tomb), "left_anti")
    return IndexTables(
        postings=post,
        terms=terms,
        doc_norms=doc_dl,
        n_docs=n_docs,
        avg_dl=avg_dl,
        n_buckets=int(snap.meta["n_buckets"]),
    )


# ---------------------------------------------------------------------------
# Streaming ingest: one micro-batch -> n_parts new committed segments
# ---------------------------------------------------------------------------


def _ingest(
    docs: DataFrame, path: str, snap: _Snapshot, batch_id: int, n_parts: int,
    n_buckets: int, text_col: str, id_cols, keep_positions: bool, run_id: str,
    doc_id_col: str | None,
) -> list[int]:
    lo = batch_id * n_parts
    base = _with_parts(
        docs, id_cols, text_col, n_parts, part_offset=lo, doc_id_col=doc_id_col
    )
    built: list[int] = []
    for part in range(lo, lo + n_parts):
        if part in snap.segments:
            continue
        _build_part(
            base, path, snap, part, n_buckets, text_col, run_id, keep_positions
        )
        built.append(part)
    return built


def ingest_segment_batch(
    docs: DataFrame,
    path: str,
    batch_id: int,
    n_parts: int = 4,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    keep_positions: bool = False,
    run_id: str | None = None,
    doc_id_col: str | None = None,
) -> list[int]:
    """Append one micro-batch of docs as ``n_parts`` NEW segments with
    the deterministic ids ``batch_id*n_parts + [0, n_parts)`` — the
    Lucene segment-per-flush model on the commit log, one commit per
    segment. Designed as a Structured Streaming ``foreachBatch`` sink
    (streaming/ingest.py): a replayed batch (restart from checkpoint
    re-delivers the same files, so the same rows) skips its already-
    committed segments and rebuilds the rest byte-identically —
    idempotent re-execution = effectively-once ingest, with no
    distributed transaction.

    Returns the segment ids built by THIS call (committed ones are
    skipped). Segments are served by read_resumable_postings exactly
    like batch parts; BM25 stats (n_docs, avg_dl) come from the
    live adds at serve time, so they stay correct as segments land.
    """
    snap = _snapshot(path)
    _check_meta(snap, path, keep_positions, n_buckets)
    return _ingest(
        docs, path, snap, batch_id, n_parts, n_buckets, text_col, id_cols,
        keep_positions, run_id or f"batch-{batch_id}", doc_id_col,
    )


def upsert_segment_batch(
    docs: DataFrame,
    path: str,
    batch_id: int,
    n_parts: int = 4,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    keep_positions: bool = False,
    run_id: str | None = None,
    doc_id_col: str | None = None,
) -> list[int]:
    """Index-layer update/upsert — Lucene's updateDocument
    (delete-then-add) for the reference's bulk ``update``/``upsert``
    actions (ElasticsearchBulkSender.ts:62-79): tombstone the batch's
    doc ids SCOPED BELOW the batch's own segment range
    (``applies_below = batch_id*n_parts``), then ingest the batch as
    new segments. Copies of these docs in any older segment stop
    matching the moment the tombstone commits; the re-ingested copies
    live at-or-above the boundary and survive — including through later
    merges, which preserve each row's original segment id (orig_part).

    Commit order: tombstone FIRST — a crash between the two steps
    leaves the doc briefly absent (old copy dead, new not yet visible),
    never duplicated; a foreachBatch replay re-runs both steps
    idempotently (an extra tombstone batch is absorbed by the max-scope
    union, committed segments are skipped). Until a purging merge, BM25
    stats count old AND new copies (Lucene maxDoc/docFreq over
    not-yet-merged deletes); compact_segments(purge_deletes=True)
    converges them.
    """
    spark = docs.sparkSession
    snap = _snapshot(path)
    _check_meta(snap, path, keep_positions, n_buckets)
    lo = batch_id * n_parts
    if doc_id_col is not None:
        ids = docs.select(F.col(doc_id_col).alias("doc_id"))
    else:
        ids = with_doc_id(docs, id_cols, text_col).select("doc_id")
    _delete(spark, path, snap, ids, applies_below=lo)
    return _ingest(
        docs, path, snap, batch_id, n_parts, n_buckets, text_col, id_cols,
        keep_positions, run_id or f"upsert-{batch_id}", doc_id_col,
    )


# ---------------------------------------------------------------------------
# Segment compaction + GC (merge small streamed segments, Lucene-style)
# ---------------------------------------------------------------------------


def compact_segments(
    spark: SparkSession,
    path: str,
    parts: list[int],
    new_part: int,
    run_id: str = "compact",
    purge_deletes: bool = False,
) -> None:
    """Merge the live segments ``parts`` into ONE segment ``new_part``.
    Pure data movement — postings rows (positions included, for a
    keep_positions index) are re-written under the new part dir in one
    write; no re-tokenization.

    Commit protocol: one commit holds the merged segment's ``add`` and
    the ``remove`` of its inputs, so readers see exactly-one copy of
    every row at every instant. A crash before it leaves only an
    unreferenced data dir (invisible, rewritten by a retry); the
    removed dirs stay on disk until ``gc_replaced_segments`` (lazy,
    idempotent).

    Fingerprints are additive (an order-independent sum over docs), so
    the merged segment's fingerprint is the sum of its inputs' — no
    source-doc scan. Its sum_dl (Σ tf over the rewritten postings)
    rides the postings write as an Observation.

    ``purge_deletes=True`` is the Lucene purging merge: tombstoned rows
    (delete_docs) are dropped while rewriting, the merged segment's doc
    count subtracts the purged docs (so served n_docs/avg_dl stop
    counting them), and — only when ``parts`` covers EVERY live segment
    (a full merge) — the same commit retires the now-applied
    tombstones. A partial purge keeps all tombstones: a doc_id
    re-ingested by a later batch can live in a segment outside this
    merge, and retiring its tombstone would resurrect that copy.
    Caveats (documented, not silent): a purged index's fingerprint
    stays the additive input sum (lineage-only — refresh_index already
    refuses compacted indexes), and a tombstoned ZERO-TOKEN doc has no
    postings rows to detect, so it keeps counting toward n_docs until
    its segment is fully re-ingested.
    """
    _compact(spark, path, _snapshot(path), parts, new_part, run_id, purge_deletes)


def _compact(
    spark: SparkSession, path: str, snap: _Snapshot, parts: list[int],
    new_part: int, run_id: str, purge_deletes: bool = False,
) -> None:
    if len(parts) < 2:
        raise ValueError("compaction needs >= 2 segments")
    live = snap.live()
    missing = [p for p in parts if p not in live]
    if missing:
        raise ValueError(f"segments not live/committed: {missing}")
    if new_part in snap.segments:
        raise ValueError(f"segment id {new_part} already has a manifest row")

    t0 = time.time()
    tomb = _tombstones(spark, path, snap) if purge_deletes else None
    purged_docs = 0
    obs = Observation()
    merged = _read_segments(spark, path, snap, parts)
    if tomb is not None:
        dm = merged.select("doc_id", "orig_part").distinct()
        purged_docs = dm.join(tomb, _dead_row_cond(dm, tomb), "left_semi").count()
        merged = merged.join(tomb, _dead_row_cond(merged, tomb), "left_anti")
    # rows keep their orig_part; the `part` partition column itself
    # must not be written into the files (it would collide with
    # partition discovery on re-read)
    merged.drop("part").observe(obs, F.sum("tf").alias("sum_dl")).write.mode(
        "overwrite"
    ).parquet(_part_dir(path, new_part))

    add = {
        "id": new_part,
        "run_id": run_id,
        "input_fingerprint": str(sum(int(live[p]["input_fingerprint"]) for p in parts)),
        "rows": sum(live[p]["rows"] for p in parts) - purged_docs,
        "bytes": sum(live[p]["bytes"] for p in parts),
        "duration_ms": int((time.time() - t0) * 1000),
        "sum_dl": _metrics(obs).get("sum_dl", 0),
    }
    actions = [{"add": add}, {"remove": sorted(parts)}]
    retired = []
    if tomb is not None and set(parts) == set(live):
        retired = [t["dir"] for t in snap.tombs]
        actions.append({"retire": retired})
    _commit(path, snap, actions)
    for d in retired:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def _next_compact_id(snap: _Snapshot) -> int:
    return min((i for i in snap.segments if i < 0), default=0) - 1


def next_compact_id(spark: SparkSession, path: str) -> int:
    """Allocate a collision-proof id for a compacted segment: streamed
    batch segments are always ``batch_id*n_parts + i >= 0``, so
    compacted segments live in the NEGATIVE range. A positive new_part
    that collided with a future batch's deterministic id would make
    ingest_segment_batch skip that segment as already-done — silent
    loss of the whole micro-batch. Descends from -1; removed ids stay
    reserved (the log keeps every id it ever added)."""
    return _next_compact_id(_snapshot(path))


def auto_compact(
    spark: SparkSession,
    path: str,
    max_live: int = 8,
    max_merge: int = 8,
    run_id: str = "auto-compact",
) -> list[list[int]]:
    """Tiered merge policy (the Lucene TieredMergePolicy analogue for
    streamed indexes): while more than ``max_live`` segments are live,
    merge the SMALLEST ones (by doc count — small segments are what
    streaming accumulates) in groups of at most ``max_merge``, into
    negative ids from next_compact_id. Deterministic given the log
    (ties broken by segment id), idempotent once the live count is
    within bound. Returns the merge groups executed, in order."""
    snap = _snapshot(path)
    merged: list[list[int]] = []
    while True:
        live = sorted((a["rows"], i) for i, a in snap.live().items())
        if len(live) <= max_live:
            return merged
        # one merge shrinks the live count by (k-1); take just enough
        # of the smallest segments to land inside the bound, capped
        k = min(max_merge, len(live) - max_live + 1)
        group = sorted(pid for _, pid in live[:k])
        _compact(spark, path, snap, group, _next_compact_id(snap), run_id)
        merged.append(group)


def gc_replaced_segments(spark: SparkSession, path: str) -> list[int]:
    """Remove the data dirs of compaction-removed segments. Safe any
    time after the compaction committed (readers already exclude
    them); the log is never rewritten, so this is idempotent and
    returns every removed id."""
    replaced = sorted(_snapshot(path).removed)
    for p in replaced:
        shutil.rmtree(_part_dir(path, p), ignore_errors=True)
    return replaced


# ---------------------------------------------------------------------------
# Tombstone deletes (the Lucene liveDocs/.liv analogue)
# ---------------------------------------------------------------------------
#
# The reference's bulk sender emits `delete` actions keyed by doc id
# (ElasticsearchBulkSender.ts:55-73 — `_delete_id` metadata and the
# config.delete path both build `{action: {delete: meta}}`), and
# Elasticsearch/Lucene honor them with per-segment liveDocs bitsets:
# the doc stops matching immediately, its postings stay on disk, and
# corpus statistics (docFreq, maxDoc) keep counting it until a merge
# rewrites the segment. This section is that lifecycle for the
# resumable/streamed index, on the same commit log as the segments:
#
# - delete_docs writes one parquet dir deletes/<version> and commits a
#   `delete` action naming it with its applies_below scope; the dir is
#   named after the version that publishes it, so a retry after a crash
#   overwrites its own orphan
# - serve_resumable_index anti-joins the live tombstones out of
#   postings (stats untouched)
# - compact_segments(purge_deletes=True) is the purging merge; a FULL
#   one commits a `retire` of every live tombstone dir in the same
#   commit as the merged segment, then deletes those dirs
# - the log itself is never rewritten, by GC or anything else


def delete_docs(
    spark: SparkSession, path: str, ids, applies_below: int | None = None
) -> int:
    """Tombstone doc ids in the index at ``path``. ``ids`` is either a
    DataFrame with a ``doc_id`` column or an iterable of ints. Each
    call commits ONE ``delete`` action; a crash before the commit
    leaves the tombstone invisible, and the call is simply re-issued.
    Re-deleting an already-dead id is a harmless no-op (readers take
    the max-scope union of all live tombstones). Returns the batch's
    distinct id count.

    ``applies_below`` scopes the tombstone to segments with
    ``partition_id < applies_below`` — the update primitive
    (upsert_segment_batch): kill the copies that predate a boundary
    while the re-ingested copy above it survives. Default: unscoped
    (kills the doc everywhere), the plain delete."""
    return _delete(spark, path, _snapshot(path), ids, applies_below)


def _delete(
    spark: SparkSession, path: str, snap: _Snapshot, ids,
    applies_below: int | None,
) -> int:
    bound = _NO_BOUND if applies_below is None else int(applies_below)
    if isinstance(ids, DataFrame):
        df = ids.select(F.col("doc_id").cast("long").alias("doc_id"))
    else:
        df = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
    obs = Observation()
    rel = os.path.join("deletes", f"{snap.version + 1:020d}")
    df.distinct().withColumn("applies_below", F.lit(bound).cast("long")).coalesce(
        1
    ).observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        os.path.join(path, rel)
    )
    _commit(path, snap, [{"delete": {"dir": rel, "applies_below": bound}}])
    return _metrics(obs).get("n", 0)


def _tombstones(spark: SparkSession, path: str, snap: _Snapshot) -> DataFrame | None:
    if not snap.tombs:
        return None
    t = spark.read.schema(_DELETES_SCHEMA).parquet(
        *(os.path.join(path, t["dir"]) for t in snap.tombs)
    )
    return t.groupBy("doc_id").agg(F.max("applies_below").alias("applies_below"))


def read_deletes(spark: SparkSession, path: str) -> DataFrame | None:
    """The live tombstone set, one row per doc_id with the WIDEST
    scope: (doc_id, applies_below). A segment row is dead iff some
    tombstone names its doc_id with ``orig_part < applies_below`` ⟺
    ``orig_part < max(applies_below)`` — so the per-doc max is the
    exact union of all batches. None when the index has no live
    tombstones."""
    return _tombstones(spark, path, _snapshot(path))


def _dead_row_cond(data: DataFrame, tomb: DataFrame):
    """Join condition marking a segment row dead under a scoped
    tombstone set: same doc_id and the row's ORIGINAL segment id
    (orig_part, kept through merges) below the tombstone's boundary.
    Testing the merged id instead would let a scoped tombstone
    committed before a merge kill re-ingested copies it never covered
    (or spare old ones it did)."""
    return (data["doc_id"] == tomb["doc_id"]) & (
        data["orig_part"] < tomb["applies_below"]
    )
