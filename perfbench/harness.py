"""Shared machinery for the benchmark: the Spark session sized for the
host, spans with Spark job-group attribution, event-log counters and
small statistics helpers.

Nothing here changes library behaviour: the session is built with
``session.get_spark``'s own arguments and environment variables, and
spans are taken around calls into the library's public functions.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import time

# Local mode runs every task inside the driver JVM, so this is the whole
# executor heap. 4 GB holds every workload's working set here with room
# to spare and leaves most of a 15 GB host to other tenants.
HEAP = "4g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_info() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpus": host_cpus(), "heap": HEAP, "loadavg": load}


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: on a shared host, the main cause of
    run-to-run drift."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def start_spark(work: str, event_log: str | None):
    """A local[nproc] session whose scratch space (shuffle, temp files)
    lives under ``work``. ``event_log`` is a directory: when given, Spark
    writes its event log there (the traced run's counter source)."""
    from elasticsearch_assets_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", cpus=host_cpus(), extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (which also runs every task locally)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return float(s[int(k)])


def tail_percentile(n: int) -> int | None:
    """The highest of p99/p95/p90/p80 with at least ten samples beyond it."""
    for q in (99, 95, 90, 80):
        if n * (100 - q) / 100 >= 10:
            return q
    return None


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the library, kept in memory.

    A span records (id, name, start, end, parent, request, phase). While
    a span is open its id is the Spark job group, so the event log ties
    every Spark job to the innermost span that launched it. A disabled
    tracer, or one made inactive for an operation, records nothing and
    touches no Spark state."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.active = True
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.t0 = time.perf_counter()
        # wall seconds spent in each phase (setup, warmup, timed, gate)
        self.phase_s: dict[str, float] = {}
        self._phase, self._phase_t = "setup", self.t0

    @property
    def phase(self) -> str:
        return self._phase

    @phase.setter
    def phase(self, name: str) -> None:
        now = time.perf_counter()
        self.phase_s[self._phase] = self.phase_s.get(self._phase, 0.0) + now - self._phase_t
        self._phase, self._phase_t = name, now

    @contextlib.contextmanager
    def span(self, name: str, request=None):
        if not (self.enabled and self.active):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "phase": self.phase,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"span-{sp['id']}", name)
        sp["start"] = time.perf_counter() - self.t0
        try:
            yield
        finally:
            sp["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def select(self, name: str, phase: str | None = "timed") -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (phase is None or s["phase"] == phase)
        ]

    def attach_counters(self, counters: dict) -> None:
        """Fold per-job-group Spark counters into each span (self only:
        jobs launched by a child span count against the child)."""
        for s in self.spans:
            s["spark"] = counters.get(f"span-{s['id']}", dict(EMPTY_COUNTERS))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_ms(spans) -> list[float]:
    return [(s["end"] - s["start"]) * 1000 for s in spans]


def span_sum(spans, counter: str) -> float:
    return float(sum(s["spark"][counter] for s in spans))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EMPTY_COUNTERS = {
    "jobs": 0,
    "tasks": 0,
    "task_cpu_ms": 0.0,
    "gc_ms": 0,
    "fetch_wait_ms": 0,
    "shuffle_write_bytes": 0,
    "spill_bytes": 0,
    "input_rows": 0,
}


def event_log_counters(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs launched and the summed task metrics of their
    stages. Read after the session stopped, so the log is complete."""
    files = [
        p
        for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    if not files:
        raise RuntimeError(f"no Spark event log under {event_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out.setdefault(group, dict(EMPTY_COUNTERS))["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = out[group]
                    c["tasks"] += 1
                    c["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0
                    )
                    c["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    c["input_rows"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    return out


# ---------------------------------------------------------------------------
# closed-loop timing
# ---------------------------------------------------------------------------


class Loop:
    """One client, closed loop: the next operation starts when the
    previous one returned. An operation that raises counts as failed
    and its latency is not recorded.

    With an enabled tracer, every other operation runs untraced, so one
    window yields both the per-layer spans and, from the latency of the
    two halves, the overhead of taking them."""

    def __init__(self, tracer: Tracer | None = None):
        self.tracer = tracer if tracer is not None and tracer.enabled else None
        self.latencies: list[float] = []
        self.traced: list[bool] = []  # per recorded latency
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.wall = 0.0

    def call(self, fn, *args):
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:300])
            return None
        self.latencies.append(time.perf_counter() - t)
        self.traced.append(self.tracer is not None and self.tracer.active)
        return out

    def run(self, seconds: float, fn, min_ops: int = 2, max_ops: int | None = None, multiple: int = 1) -> None:
        """Call ``fn(i)`` for i = 0, 1, ... until ``seconds`` elapsed, at
        least ``min_ops`` calls were made (two at least: a median, and in
        a traced run one call of each kind) and the call count is a
        multiple of ``multiple``; or until ``max_ops`` calls were made."""
        t0 = time.perf_counter()
        i = 0
        while (i < min_ops or i % multiple or time.perf_counter() - t0 < seconds) and (max_ops is None or i < max_ops):
            if self.tracer is not None:
                self.tracer.active = i % 2 == 0
            self.call(fn, i)
            i += 1
        self.wall = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.active = True


def warm_up(fn, ops: int) -> dict:
    """Call ``fn(i)`` for i = 0 .. ops-1 before the timed window. The
    length is fixed, not "until latency levels off": a fresh JVM keeps
    getting faster for longer than the runner's time budget lets a run
    warm up, so the timed window is close to, not at, steady state
    (README.md, "How a run is set up"). Returns the warm-up length."""
    t0 = time.perf_counter()
    for i in range(ops):
        fn(i)
    return {"ops": ops, "seconds": time.perf_counter() - t0}
