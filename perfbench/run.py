"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload query_headline --seed 1 --seconds 15 --trace 0

Runs one workload as a closed loop with one client for ``--seconds``
seconds on ``local[nproc]``, checks the engine's outputs, and prints as
its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` installs the per-layer tracing and reports the per-layer
metrics. A line before it records host context (capacity canary, cores)
and the workload's own named metrics; per-op rows go to
``.perfbench/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _workloads():
    from wl_query import QueryHeadline
    from wl_tables import IngestIncremental

    return {"query_headline": QueryHeadline, "ingest_incremental": IngestIncremental}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    # the engine is imported from the checkout this file sits in
    sys.path.insert(0, ROOT)
    import incremental_dagster_delta_spark  # noqa: F401  (fail early outside a checkout)

    from harness import (
        Recorder,
        capacity_canary,
        cpu_seconds,
        peak_rss_mb,
        retained_mb,
        start_spark,
        stop_spark,
    )

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(os.path.join(work, "eventlog"))
    rec = Recorder(tracer)
    t0 = time.perf_counter()
    spark = start_spark(work, args.cpus, tracer.event_log_dir if tracer else None)
    session_s = time.perf_counter() - t0
    try:
        if tracer is not None:
            tracer.install(spark)
        wl = workloads[args.workload](spark, args.seed, work, rec, tracer)
        wl.setup()
        setup_s = cpu_seconds()
        setup_wall_s = time.perf_counter() - T_START
        wl.loop(time.perf_counter() + args.seconds)
        wl.verify()
        rss = peak_rss_mb(spark)
        retained = retained_mb(spark)
        generic, named = wl.metrics()
        named["peak_rss_mb"] = (rss, "MB")
        named["setup_wall_s"] = (setup_wall_s, "s")
        files_per_leaf = _files_per_leaf(wl) if tracer is not None else 0.0
    finally:
        stop_spark(spark)

    e2e = {"setup_s": (setup_s, "s"), "retained_mb": (retained, "MB")}
    e2e.update({k: (v, "s") for k, v in generic.items()})
    if tracer is None:
        metrics = e2e
    else:
        metrics = tracer.report(rec, wl, files_per_leaf)
        metrics["session.start_s"] = (session_s, "s")
        metrics.update({f"traced.{k}": v for k, v in e2e.items()})
        st = tracer.selftest
        rec.check(
            "trace_selftest",
            st["event_log_jobs"] == st["status_tracker_jobs"] == 2,
            f"event log {st['event_log_jobs']} jobs, status tracker {st['status_tracker_jobs']}",
        )

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": args.cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "canary_sha256_gbps": capacity_canary(tuple(sorted({1, len(os.sched_getaffinity(0))}))),
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "selftest": tracer.selftest if tracer else None,
        "failures": rec.failures,
    }
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-cpus{args.cpus}"
    with open(os.path.join(results, stem + ".jsonl"), "w") as fh:
        fh.write(json.dumps({"context": context}, default=str) + "\n")
        for i, o in enumerate(rec.ops):
            row = {"op": i, "kind": o.kind, "wall_s": o.wall, "cpu_s": o.cpu, "ok": o.ok, **o.info}
            fh.write(json.dumps(row, default=str) + "\n")
    print(json.dumps({"context": context}, default=str))
    print(
        json.dumps(
            {
                "correct": rec.failed == 0,
                "attempted": rec.attempted,
                "failed": rec.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _files_per_leaf(wl) -> float:
    """Data files per leaf partition of the ``processed`` table."""
    pipe = getattr(wl, "pipe", None)
    if pipe is None or not pipe.processed.exists():
        return 0.0
    from wl_tables import data_files

    files = data_files(pipe.processed)
    return len(files) / max(1, len({os.path.dirname(f) for f in files}))


if __name__ == "__main__":
    sys.exit(main())
