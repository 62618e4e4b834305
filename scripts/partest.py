#!/usr/bin/env python
"""Parallel test runner: split tests/test_*.py into N duration-balanced
buckets and run N pytest processes concurrently, one Spark JVM each.

Why not pytest-xdist: the environment ships no xdist (and installs are
off-limits), but the suite's bottleneck is wall-clock serialization of
~790 Spark-bound tests behind ONE JVM — the box comfortably runs
several 8-core Spark sessions side by side (each worker runs in its own
scratch cwd, so spark-warehouse/ and any cwd-relative state never
collide; all Spark ports are randomized by default).

Balancing: greedy assignment by recorded per-file durations when
``.partest_durations.json`` exists (written by this script after every
green run with no extra pytest args), else by file size as a first-run
proxy.

Usage: python scripts/partest.py [N_WORKERS] [extra pytest args...]
Exit code: 0 iff every worker passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(REPO, "tests")
DURATIONS = os.path.join(REPO, ".partest_durations.json")


# Files that accept PARTEST_SHARD=i/n (round-robin parametrize slice).
# test_oracle.py alone is ~12 min — longer than any balanced bucket —
# so every worker runs its 1/n slice of it instead of one worker
# swallowing the whole file.
SHARDABLE = {"test_oracle.py"}


def buckets(n: int) -> list[list[str]]:
    files = sorted(
        f for f in os.listdir(TESTS) if f.startswith("test_") and f.endswith(".py")
    )
    try:
        weights = json.load(open(DURATIONS))
    except Exception:
        weights = {}
    cost = {f: weights.get(f, os.path.getsize(os.path.join(TESTS, f)) / 1e4) for f in files}
    out: list[list[str]] = [[] for _ in range(n)]
    # every worker carries its shard of each shardable file; seed the
    # load accordingly so the remaining files balance around it
    load = [sum(cost[f] for f in SHARDABLE if f in files) / n] * n
    for f in sorted((f for f in files if f not in SHARDABLE), key=lambda f: -cost[f]):
        i = load.index(min(load))
        out[i].append(f)
        load[i] += cost[f]
    return [sorted(SHARDABLE & set(files)) + b for b in out]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 3
    extra = sys.argv[2:] if len(sys.argv) > 1 and sys.argv[1].isdigit() else sys.argv[1:]
    groups = buckets(n)
    procs = []
    t0 = time.time()
    for i, group in enumerate(groups):
        cwd = tempfile.mkdtemp(prefix=f"partest{i}_")
        log = open(os.path.join(cwd, "pytest.log"), "w")
        cmd = [
            sys.executable, "-m", "pytest", "-q",
            *(os.path.join(TESTS, f) for f in group),
            # partest is the CANONICAL FULL run: override the pyproject
            # addopts' -m "not slow" (the default `pytest tests/` keeps a
            # fast selection to fit the driver's verify budget)
            "-m", "slow or not slow",
            "--durations=0", "-p", "no:cacheprovider", *extra,
        ]
        # Spark's Python WORKER subprocesses import the package by name
        # (custom DataSource classes, mapInPandas closures); with the
        # scratch cwd they no longer find it implicitly, so export it.
        env = dict(os.environ)
        env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
        env["PARTEST_SHARD"] = f"{i}/{len(groups)}"
        procs.append((
            subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT, env=env),
            cwd, group, log,
        ))
    rc = 0
    per_file: dict[str, float] = {}
    for p, cwd, group, log in procs:
        p.wait()
        log.close()
        text = open(os.path.join(cwd, "pytest.log")).read()
        tail = [ln for ln in text.splitlines() if ln.strip()][-1:]
        print(f"[worker {cwd}] rc={p.returncode} files={len(group)} :: {tail[0] if tail else ''}")
        if p.returncode != 0:
            rc = p.returncode
            fails = [ln for ln in text.splitlines() if ln.startswith("FAILED") or ln.startswith("ERROR")]
            print("\n".join(fails[:40]))
        # fold --durations output into per-file weights for the next run
        for ln in text.splitlines():
            parts = ln.split()
            if len(parts) >= 3 and parts[0].endswith("s") and "::" in parts[-1]:
                try:
                    sec = float(parts[0][:-1])
                except ValueError:
                    continue
                fname = os.path.basename(parts[-1].split("::")[0])
                per_file[fname] = per_file.get(fname, 0.0) + sec
    # weights come only from a green, unfiltered run: extra pytest args
    # (-k, -m, ...) would record the durations of a slice as the file's
    if rc == 0 and per_file and not extra:
        json.dump(per_file, open(DURATIONS, "w"), indent=0, sort_keys=True)
    print(f"partest: {len(groups)} workers, wall {time.time() - t0:.0f}s, rc={rc}")
    # Canonical test count: summing the workers' per-shard "N passed"
    # lines over-counts (PARTEST_SHARD slices parametrize differently
    # per worker), which is how a snapshot once claimed 905 tests when
    # clean collection says fewer (VERDICT r14 #8). Print the number a
    # plain `pytest --collect-only -q` confirms — cite THIS in
    # snapshots. Green runs only: a failed run cites nothing, and the
    # collection pass imports the whole package (r15 review).
    if rc == 0:
        out = subprocess.run(
            [sys.executable, "-m", "pytest", "--collect-only", "-q", TESTS,
             "-m", "slow or not slow", "-p", "no:cacheprovider"],
            capture_output=True, text=True, cwd=REPO,
        )
        tail = [ln for ln in out.stdout.splitlines() if "collected" in ln][-1:]
        print(f"canonical collected total: {tail[0] if tail else 'unknown'}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
