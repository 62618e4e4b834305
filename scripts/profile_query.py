"""Per-stage time attribution for one or more registered queries.

Runs each named query once for warmup and once measured (noop sink, the
bench methodology), with the Spark UI enabled, then pulls the REST API
for per-stage executorRunTime / shuffle bytes so optimization targets
the stage that actually costs time (guide §1.1/§7.1) instead of the one
that looks expensive in the plan. The measured run also reports its
Spark job count (jobs per query is the key layer metric at small scale
factors), counted through a job group and the status tracker.

Usage: python scripts/profile_query.py q_doc_similarity [q_x ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incremental_dagster_delta_spark.queries import QUERIES
from incremental_dagster_delta_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark(app_name="profile", extra_conf={"spark.ui.enabled": "true"})
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages() -> list[dict]:
        # ALL statuses (ADVICE r15): complete-only with a fixed settle
        # sleep silently dropped stages still active/failed at poll time,
        # skewing the attribution this script exists for.
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages") as r:
            return json.load(r)

    def run(spec) -> float:
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    for name in names:
        spec = QUERIES[name]
        run(spec)  # warmup
        before = {s["stageId"] for s in stages()}
        sc = spark.sparkContext
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        try:
            wall = run(spec)
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        # poll until the stage set is stable instead of one fixed sleep
        prev_ids: set[int] = set()
        for _ in range(20):
            time.sleep(0.25)
            cur = {s["stageId"] for s in stages()}
            if cur == prev_ids:
                break
            prev_ids = cur
        new = [s for s in stages() if s["stageId"] not in before]
        # a stage whose shuffle output an earlier job already wrote is
        # SKIPPED: it ran no task and is not a stage still in flight
        skipped = [s for s in new if s.get("status") == "SKIPPED"]
        incomplete = [s for s in new if s.get("status") not in ("COMPLETE", "SKIPPED")]
        new.sort(key=lambda s: -s["executorRunTime"])
        tot_run = sum(s["executorRunTime"] for s in new)
        print(f"\n== {name}: wall {wall:.2f}s, {jobs} jobs, {len(new)} stages "
              f"({len(skipped)} skipped, {len(incomplete)} not COMPLETE at poll), "
              f"executorRunTime total {tot_run/1e3:.2f}s")
        for s in new[:14]:
            nm = s["name"].split("\n")[0][:80]
            print(
                f"  stage {s['stageId']:>4} run={s['executorRunTime']/1e3:6.2f}s "
                f"tasks={s['numCompleteTasks']:>3} "
                f"in={s['inputBytes']>>20}MB sh_r={s['shuffleReadBytes']>>10}KB "
                f"sh_w={s['shuffleWriteBytes']>>10}KB  {nm}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
