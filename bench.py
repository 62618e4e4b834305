"""Benchmark harness: runs the headline (bench=True) query set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE JSON line:

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q_...": sec, ...}, "sf": 0.1}

Each query is timed over a full execution (collect) after a shared warmup
that pays one-time JVM/codegen costs; per-query time is the median of
``REPS`` runs so a stray GC pause doesn't skew a round.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from incremental_dagster_delta_spark.queries import QUERIES
from incremental_dagster_delta_spark.session import get_spark

# REPS=5 from round 8 (was 3): this VM's run-to-run variance is ±15%,
# and the r7 recorded bench was a uniformly-slow sample that triggered a
# drift investigation my re-times contradicted — at ~40 s/rep the extra
# two reps cost ~80 s and halve the median's variance. Overridable for
# fast local iteration via SPARK_GRAFT_BENCH_REPS.
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def _stage_inputs(sf_dir: str) -> str:
    """Copy the input parquet into tmpfs and run against the copy.

    The bench's contract is to measure COMPUTE on warm inputs (the
    shared warmup pass pays one-time costs). This guest runs DAMON
    proactive reclaim (`kdamond` active), which can strip the page
    cache between warmup and the timed reps; tmpfs pages are
    swap-backed and this box has no swap, so a /dev/shm copy is pinned
    in RAM and the warm-input premise holds by construction, removing
    input IO as a variable entirely. (It is NOT a cure-all: the r12
    slowdown this was built to investigate turned out to be host CPU
    capacity — aggregate throughput measured flat from 8 to 32
    threads — which no staging can fix; see docs/SCALE.md.) Falls back
    to double raw-reads when /dev/shm is unavailable."""
    import glob
    import shutil

    if not os.path.isdir("/dev/shm"):
        for _ in range(2):
            for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
                with open(p, "rb") as fh:
                    while fh.read(1 << 24):
                        pass
        return sf_dir
    dst = os.path.join(
        "/dev/shm/spark_graft_bench", os.path.basename(os.path.normpath(sf_dir))
    )
    os.makedirs(dst, exist_ok=True)
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        q = os.path.join(dst, os.path.basename(p))
        # size alone can collide when testdata is regenerated with the
        # same row counts; copy2 preserves mtime, so (size, mtime) is a
        # staleness fingerprint that survives across bench invocations.
        if not (
            os.path.exists(q)
            and os.path.getsize(q) == os.path.getsize(p)
            and os.path.getmtime(q) == os.path.getmtime(p)
        ):
            shutil.copy2(p, q)
    return dst


def _capacity_canary() -> dict[str, float]:
    """Host-capacity canary: sha256 GB/s at 1/8/32 threads (~0.5 s).

    The r12 round-close slowdown was diagnosed as the guest's 32 vCPUs
    being backed by ~8 physical cores (aggregate throughput flat from 8
    to 32 threads — docs/SCALE.md). Recording the probe with every bench
    lets cross-round ratios be normalized by actual host capacity
    instead of re-litigating "regressions" that are environment. sha256
    in a thread pool releases the GIL inside OpenSSL, so the scaling
    curve measures real core availability."""
    import concurrent.futures
    import hashlib

    blob = b"\xab" * (8 << 20)  # 8 MiB per hash call

    def one(n_iter: int) -> None:
        for _ in range(n_iter):
            hashlib.sha256(blob).digest()

    out: dict[str, float] = {}
    for threads in (1, 8, 32):
        n_iter = 4
        with concurrent.futures.ThreadPoolExecutor(threads) as ex:
            t0 = time.perf_counter()
            list(ex.map(one, [n_iter] * threads))
            dt = time.perf_counter() - t0
        out[f"t{threads}"] = round(threads * n_iter * len(blob) / dt / 1e9, 2)
    return out


def main() -> None:
    # Session shuffle partitions stay at the cluster-shaped 2×cores
    # default: CPU-bound aggregations over the fact tables want the full
    # core count. The corpus-join family (narrow-row self-joins whose
    # per-task constants dominate at test SFs) declares @query(size_from=)
    # and runs under the scoped execution policy (tables.sized_shuffle:
    # partition count from input bytes, AQE off at its floor) — a global
    # data-sized default was measured to win there but cost the lineitem
    # queries 0.2-0.5 s each, a net loss.
    orig_sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = _stage_inputs(orig_sf_dir)
    spark = get_spark(app_name="bench")
    bench_queries = {n: s for n, s in QUERIES.items() if s.bench}

    def run(spec) -> None:
        # noop sink: full query execution JVM-side without paying the
        # row-by-row Python deserialization a collect() would add (the
        # full-table-output window query collects 150k rows otherwise,
        # and driver-side GC makes that timing swing 1-15s run to run)
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        # queries may persist() intermediates scoped to one execution;
        # drop them so reps don't accumulate cached copies
        spark.catalog.clearCache()

    # Warmup: executes every headline query once (JVM JIT, codegen cache,
    # parquet footer reads) so the timed runs measure steady-state.
    for name, spec in bench_queries.items():
        run(spec)

    times: dict[str, float] = {}
    for name, spec in bench_queries.items():
        samples = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            run(spec)
            samples.append(time.perf_counter() - t0)
        samples.sort()
        times[name] = round(samples[len(samples) // 2], 3)

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": _sf_from_dir(orig_sf_dir),
                "canary_sha256_gbps": _capacity_canary(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
