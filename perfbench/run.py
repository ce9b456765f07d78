"""Repository benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload search_zipf --seed 1 --seconds 10 --trace 0

Runs one workload (see BENCHMARK.json and perfbench/README.md) in one
process against a local[nproc] Spark session and prints two JSON lines:
a ``detail`` line (host, sample counts, warm-up length and the
workload's own figures) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics plus the
tracing overhead: in a traced run every other timed operation runs
with spans off, and the overhead is the ratio of the two halves'
median latencies. Scratch files live under ``.perfbench/`` in the
repository root; span files are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "elasticsearch_assets_spark")):
        print("perfbench: elasticsearch_assets_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers unpickle the library's mapInPandas/mapInArrow
    # functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import harness as H
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = _spec()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    evdir = os.path.join(work, "eventlog")
    detail = {"workload": args.workload, "seed": args.seed, "host": H.host_info()}
    ticks = H.cpu_ticks()
    spark = None
    try:
        spark = H.start_spark(work, evdir if args.trace else None)
        tr = H.Tracer(spark, enabled=bool(args.trace))
        res = WORKLOADS[args.workload](Ctx(spark, args.seed, args.seconds, tr, os.path.join(work, "data")))
        tr.phase = "done"
        detail["phase_s"] = tr.phase_s
        detail["host"]["cpu_steal_share"] = H.steal_share(ticks, H.cpu_ticks())
        rss_mb = H.jvm_peak_rss_mb(spark)
        detail["peak_rss_mb"] = rss_mb
        H.stop_jvm(spark)
        spark = None
        if args.trace:
            tr.attach_counters(H.event_log_counters(evdir))
            values = res.layers()
            timed = [s for s in tr.spans if s["phase"] == "timed"]
            n_traced = max(1, sum(res.loop.traced))
            values["spark.gc_ms"] = H.span_sum(timed, "gc_ms") / n_traced
            values["spark.fetch_wait_ms"] = H.span_sum(timed, "fetch_wait_ms") / n_traced
            on = [x for x, t in zip(res.loop.latencies, res.loop.traced) if t]
            off = [x for x, t in zip(res.loop.latencies, res.loop.traced) if not t]
            values["trace.overhead_pct"] = (H.median(on) / H.median(off) - 1) * 100
            detail["traced_op_p50_ms"] = H.median(on) * 1000
            detail["untraced_op_p50_ms"] = H.median(off) * 1000
            values["jvm.peak_rss_mb"] = rss_mb
            trace_file = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
            tr.write(trace_file)
            detail["trace_file"] = os.path.relpath(trace_file, ROOT)
            names = spec["per_layer"]
        else:
            lat = res.loop.latencies
            values = {
                "setup_s": res.setup_s,
                "op_p50_ms": H.median(lat) * 1000,
                "ops_per_s": len(lat) / res.loop.wall,
            }
            names = spec["end_to_end"]
    finally:
        if spark is not None:
            H.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    # a layer the workload never calls reads 0 (README.md, per-layer
    # table); any other metric it did not produce fails the run
    metrics, problems = {}, list(res.problems)
    for m in names:
        if m["name"] not in values and not m["name"].startswith(res.absent):
            problems.append(f"metric {m['name']} missing")
        metrics[m["name"]] = {"value": float(values.pop(m["name"], 0.0)), "unit": m["unit"]}
    if values:  # figures of a workload BENCHMARK.json does not list
        detail["other_metrics"] = values
    loop = res.loop
    detail.update(
        {
            "error_rate": loop.failed / max(1, loop.attempted),
            "errors": loop.errors[:5],
            "problems": problems[:20],
            "notes": res.notes,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()},
        }
    )
    print(json.dumps({"detail": detail}))
    correct = not problems
    print(
        json.dumps(
            {"correct": correct, "attempted": loop.attempted, "failed": loop.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
