"""Keyed state storage (SURVEY.md S4: elasticsearch_state_storage).

The reference wraps an LRU cache over ES mget/mset
(asset/src/elasticsearch_state_storage/api.ts:4-30). In Spark the
per-worker LRU disappears: `mget` is a broadcast/semi join against the
backing table, `mset` is a keyed merge + snapshot write, and hot reads
are `.persist()`. The chunked-mget concurrency knobs (chunk 2500,
concurrency 10 — schema.ts:14-37) are subsumed by partitioned joins.

Backing store: a base parquet snapshot + ordered delta directories,
committed via MONOTONICALLY VERSIONED commit files claimed with an
atomic hard-link (the filesystem CAS). `mset` writes ONLY the update
batch as a delta (no full-table rewrite); once `compact_every` deltas
accumulate, the merged table is materialized into a fresh base snapshot
and the deltas retire — classic LSM shape, so write cost is O(batch)
amortized instead of O(table) per call.

Concurrent writers (K1.i retry-on-conflict,
ElasticsearchBulkSender.ts:88-90 `retry_on_conflict`): each commit
claims version N+1 by hard-linking a fully-written temp file to
`_commit-{N+1}` — exactly one writer can create that name, the loser
re-reads the new state (which now includes the winner's deltas),
re-merges its OWN delta on top and retries, up to `retry_on_conflict`
times. No delta is ever lost to a pointer race, unlike the previous
last-pointer-write-wins `_latest` file. On an object store without
atomic link/rename the same protocol maps onto conditional PUTs
(If-None-Match) or an Iceberg/metastore optimistic commit.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_assets_spark.operators.writer import merge_index

_COMMIT_RE = re.compile(r"^_commit-(\d{12})\.json$")


class CommitConflictError(RuntimeError):
    """All retry_on_conflict attempts lost the commit race."""


def write_exclusive(target: str, obj) -> bool:
    """Atomically create ``target`` holding ``obj`` as JSON — the one
    commit primitive for versioned state files (StateStorage commits,
    the index commit log in plans/manifest.py). The JSON goes to a
    fsynced temp file beside ``target``, which is then hard-linked to
    the target name: link(2) is atomic and fails if the name exists, so
    exactly ONE writer creates each name and it only ever appears fully
    written. Returns False when ``target`` already exists."""
    tmp = os.path.join(os.path.dirname(target), f"_tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class StateStorage:
    # class-level default: bare instances (tests exercise the pointer
    # layer via __new__) still resolve versions by full listing
    _known_version = -1

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "doc_id",
        compact_every: int = 8,
        retry_on_conflict: int = 10,
        keep_commits: int = 8,
        gc_grace_seconds: float = 3600.0,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.compact_every = compact_every
        self.retry_on_conflict = retry_on_conflict
        # GC policy (ADVICE r4: commits/deltas/snapshots were never
        # pruned): keep the newest `keep_commits` commit files; data
        # dirs referenced by NONE of them are deleted once older than
        # `gc_grace_seconds` (the grace protects a concurrent writer's
        # just-written, not-yet-committed delta dir — it has no commit
        # reference until its CAS lands).
        self.keep_commits = keep_commits
        self.gc_grace_seconds = gc_grace_seconds
        # fast-forward cache: after the first full listing, newer
        # versions are found by probing version+1, +2, ... — O(new
        # commits) instead of O(directory) per operation
        self._known_version = -1
        os.makedirs(path, exist_ok=True)

    # -- snapshot plumbing -------------------------------------------------
    def _commit_path(self, version: int) -> str:
        return os.path.join(self.path, f"_commit-{version:012d}.json")

    def _versioned_state(self) -> tuple[dict, int]:
        """Current (state, version). Version 0 = nothing committed yet
        (or only a legacy `_latest` pointer, absorbed read-only)."""
        best = -1
        if self._known_version >= 0 and os.path.exists(
            self._commit_path(self._known_version)
        ):
            # fast-forward from the cached version (commit numbers are
            # dense); falls through to the full listing if our cached
            # commit file was GC'd from under us by another writer
            best = self._known_version
            while os.path.exists(self._commit_path(best + 1)):
                best += 1
        else:
            for name in os.listdir(self.path):
                m = _COMMIT_RE.match(name)
                if m:
                    best = max(best, int(m.group(1)))
        if best >= 0:
            self._known_version = best
            with open(self._commit_path(best)) as f:
                return json.load(f), best
        legacy = os.path.join(self.path, "_latest")
        if os.path.exists(legacy):
            with open(legacy) as f:
                st = json.load(f)
            if "snapshot" in st:  # pre-delta pointer layout
                st = {"base": st["snapshot"], "deltas": []}
            return st, 0
        return {"base": None, "deltas": []}, 0

    def _state(self) -> dict:
        return self._versioned_state()[0]

    def _try_commit(self, version: int, state: dict) -> bool:
        return write_exclusive(self._commit_path(version), state)

    def _next_dir(self, kind: str) -> str:
        import time as _t

        return os.path.join(
            self.path,
            f"{kind}-{int(_t.time() * 1000):013d}-{uuid.uuid4().hex[:8]}",
        )

    def _merged(self, state: dict) -> DataFrame | None:
        base = (
            self.spark.read.parquet(state["base"])
            if state["base"] is not None
            else None
        )
        cur = base
        for d in state["deltas"]:
            delta = self.spark.read.parquet(d)
            cur = delta if cur is None else merge_index(cur, delta, self.key)
        return cur

    def _gc(self) -> None:
        """Prune storage metadata after a successful commit (ADVICE r4):
        delete commit files older than the newest `keep_commits`, then
        delete delta/snapshot dirs referenced by NO retained commit and
        older than the grace window. Safe under concurrency: readers
        resolve only the MAX version (never a pruned one barring a
        reader stalled >keep_commits commits), a racing writer's
        uncommitted delta dir is younger than the grace window, and a
        lost unlink/rmtree race is ignored."""
        import shutil
        import time as _t

        names = os.listdir(self.path)
        commits = sorted(
            int(m.group(1))
            for m in (_COMMIT_RE.match(n) for n in names)
            if m
        )
        if not commits:
            return
        cutoff = commits[-1] - self.keep_commits
        for v in commits:
            if v <= cutoff:
                try:
                    os.unlink(self._commit_path(v))
                except FileNotFoundError:
                    pass
        referenced: set[str] = set()
        for v in commits:
            if v > cutoff:
                try:
                    with open(self._commit_path(v)) as f:
                        st = json.load(f)
                except (FileNotFoundError, json.JSONDecodeError):
                    continue
                if st.get("base"):
                    referenced.add(os.path.basename(st["base"]))
                referenced.update(
                    os.path.basename(d) for d in st.get("deltas", [])
                )
        now = _t.time()
        for n in names:
            if not (n.startswith("delta-") or n.startswith("snapshot-")):
                continue
            if n in referenced:
                continue
            p = os.path.join(self.path, n)
            try:
                if now - os.path.getmtime(p) < self.gc_grace_seconds:
                    continue
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)

    # -- API (mirrors get/set/mget/mset) ------------------------------------
    def table(self) -> DataFrame | None:
        """Current state: base snapshot + ordered delta merges (lazy —
        one plan, no materialization until an action runs)."""
        return self._merged(self._state())

    def mset(self, updates: DataFrame) -> None:
        """Upsert a batch of keyed records (last write wins per key).
        Writes ONLY the batch as a delta; every `compact_every` deltas
        the merged table compacts into a fresh base snapshot. The
        commit is an optimistic CAS: a lost race re-reads the winner's
        state and re-applies THIS delta on top, `retry_on_conflict`
        times (K1.i)."""
        delta_dir = self._next_dir("delta")
        updates.write.mode("overwrite").parquet(delta_dir)
        for _attempt in range(self.retry_on_conflict + 1):
            state, version = self._versioned_state()
            deltas = state["deltas"] + [delta_dir]
            snap_dir = None
            if state["base"] is None or len(deltas) >= self.compact_every:
                merged = self._merged({"base": state["base"], "deltas": deltas})
                snap_dir = self._next_dir("snapshot")
                merged.write.mode("overwrite").parquet(snap_dir)
                new_state = {"base": snap_dir, "deltas": []}
            else:
                new_state = {"base": state["base"], "deltas": deltas}
            if self._try_commit(version + 1, new_state):
                self._known_version = version + 1
                self._gc()
                return
            # lost the race: drop the orphaned snapshot (the delta is
            # still ours to re-commit against the NEW state)
            if snap_dir is not None:
                import shutil

                shutil.rmtree(snap_dir, ignore_errors=True)
        raise CommitConflictError(
            f"mset lost the commit race {self.retry_on_conflict + 1} "
            f"times (retry_on_conflict={self.retry_on_conflict})"
        )

    # broadcast mget key sets only up to this many keys (the reference
    # chunks mget at 2500/request; a forced broadcast of an UNBOUNDED
    # caller frame is a driver OOM at scale)
    MGET_BROADCAST_KEYS = 100_000

    def mget(self, keys: DataFrame) -> DataFrame:
        """Fetch records for a keyed frame — broadcast join when the key
        set is small (the mget analogue), plain shuffle semi-join
        otherwise (the threshold probe is a limit-bounded count, never
        a full materialization)."""
        cur = self.table()
        if cur is None:
            return keys.limit(0)
        ks = keys.select(self.key).distinct()
        n = ks.limit(self.MGET_BROADCAST_KEYS + 1).count()
        side = F.broadcast(ks) if n <= self.MGET_BROADCAST_KEYS else ks
        return cur.join(side, self.key, "left_semi")

    def get(self, key_value) -> dict | None:
        cur = self.table()
        if cur is None:
            return None
        rows = cur.where(F.col(self.key) == key_value).limit(1).collect()
        return rows[0].asDict() if rows else None

    def set(self, record: dict) -> None:
        self.mset(self.spark.createDataFrame([record]))

    def cached(self) -> DataFrame | None:
        """Hot-read path: persist the latest snapshot (replaces the
        reference's 2^31-entry LRU)."""
        t = self.table()
        return t.persist() if t is not None else None
