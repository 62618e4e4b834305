"""Spark jobs per ingest commit.

A tick and a ``refresh(day)`` each compute their new rows once and write
``quarantine``, ``processed``, ``backwards`` and ``listing`` as
projections of that one cached frame, under the small-input policy of
the session that runs them. These tests pin the job counts that buys; a
write that re-runs the listing scan, the anti-join or its own shuffle
shows up as extra jobs (a tick fired 18 and a refresh 10 when every
output re-ran them).
"""

from __future__ import annotations

import os
import uuid

from incremental_dagster_delta_spark.streaming.pipeline import IngestPipeline

EXPECTATIONS = {"alpha_word": "word RLIKE '^[a-z]+$'"}


def _land(root: str, day: str, files: dict[str, str]) -> None:
    leaf = os.path.join(root, f"day={day}")
    os.makedirs(leaf, exist_ok=True)
    for name, word in files.items():
        with open(os.path.join(leaf, name), "w") as f:
            f.write(word)


def _marker_job(spark, group: str) -> int:
    """Id of a one-task job run in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setJobGroup(None, None)
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


def _jobs(spark, fn) -> int:
    """Jobs ``fn()`` fires, on any thread. The stream runs the
    ``foreachBatch`` body on its own thread under its own job group, so
    the count is the gap between the ids of two marker jobs (Spark
    numbers an application's jobs consecutively)."""
    tag = uuid.uuid4().hex
    before = _marker_job(spark, f"before-{tag}")
    fn()
    return _marker_job(spark, f"after-{tag}") - before - 1


def test_tick_and_refresh_job_counts(spark, tmp_path):
    """A tick landing files on two days, one file failing the expectation,
    fires at most 8 jobs; ``refresh(day)`` at most 4.

    The backfill stays under 32 files on purpose: on restart the stream
    re-plans its last committed batch, and a batch of more than 32 files
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``) is then
    listed in a parallel-discovery job with one task per file, a job the
    next tick pays regardless of how it writes."""
    ingest, root = str(tmp_path / "ingest"), str(tmp_path / "tables")
    for day in ("2024-03-01", "2024-03-02"):
        _land(ingest, day, {"a0.txt": "spark", "a1.txt": "delta", "a2.txt": "merge"})
    pipe = IngestPipeline(
        spark, ingest, root, expectations=EXPECTATIONS, export_delta_log=True
    )
    pipe.run_incremental()

    _land(ingest, "2024-03-02", {"b0.txt": "stream"})
    _land(ingest, "2024-03-03", {"b1.txt": "window", "b2.txt": "Not-A-Word"})
    tick = _jobs(spark, pipe.run_incremental)
    assert pipe.processed.read().count() == 8
    assert pipe.quarantine.read().count() == 1
    assert pipe.listing.read().count() == 9

    _land(ingest, "2024-03-02", {"b3.txt": "filter"})
    refresh = _jobs(spark, lambda: pipe.refresh("2024-03-02"))
    assert pipe.processed.read().where("day = '02'").count() == 5
    assert pipe.backwards.read().count() == 9
    assert pipe.listing.read().count() == 10

    assert 0 < tick <= 8, f"tick fired {tick} jobs"
    assert 0 < refresh <= 4, f"refresh fired {refresh} jobs"
