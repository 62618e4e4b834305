"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files, around calls into each
engine layer's public functions (the engine itself is not instrumented):

- ``tables.load_table`` under every name a module bound it to;
- ``queries``: each qid's build (``spec.fn``), and its Catalyst phases;
- ``sources``, ``streaming``, ``quality``, ``tableio``, ``deltalog``: the
  functions the ingest pipeline calls;
- Spark's jobs, stages and tasks, parsed from the event log after the
  session stops. Jobs are attributed to ops and spans by submission time,
  which also covers jobs the streaming thread fires (``setJobGroup`` does
  not reach that thread);
- streaming trigger phases from a ``StreamingQueryListener``. File counts
  come from the generator, not from ``numInputRows``.

Spans stay in memory and are written out when the run ends. A span nested
inside a span of the same name is not counted again.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

from harness import slope

STREAM_PHASES = {
    "latest_offset_ms": "latestOffset",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    op: int | None  # index of the timed op it ran in; None outside ops
    result: object = None


class Tracer:
    def __init__(self, event_log_dir: str) -> None:
        self.event_log_dir = event_log_dir
        self.spans: list[Span] = []
        self.op_index: int | None = None
        self._tls = threading.local()
        self._lock = threading.Condition()
        self._progress: list[dict] = []
        self._terminated_at: list[int] = []  # len(_progress) at each query end
        self.selftest: dict = {}

    # -- spans -------------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if getattr(tracer._tls, name, False):
                return orig(*args, **kwargs)
            setattr(tracer._tls, name, True)
            op = tracer.op_index
            t0 = time.time() * 1000
            res = None
            try:
                res = orig(*args, **kwargs)
                return res
            finally:
                setattr(tracer._tls, name, False)
                keep = res if isinstance(res, (bool, int)) else None
                tracer.spans.append(Span(name, t0, time.time() * 1000, op, keep))

        setattr(owner, attr, traced)

    def install(self, spark) -> None:
        import incremental_dagster_delta_spark.queries  # noqa: F401  (bind every load_table)
        from incremental_dagster_delta_spark import quality, tables
        from incremental_dagster_delta_spark.deltalog import DeltaLogExporter
        from incremental_dagster_delta_spark.streaming import pipeline
        from incremental_dagster_delta_spark.tableio import PartitionedTable

        orig_load = tables.load_table
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("incremental_dagster_delta_spark") and (
                getattr(mod, "load_table", None) is orig_load
            ):
                self._wrap(mod, "load_table", "tables.load_table")
        self._wrap(pipeline, "read_text_files", "sources")
        self._wrap(pipeline, "stream_text_files", "sources")
        self._wrap(pipeline.IngestPipeline, "run_incremental", "streaming.run")
        self._wrap(quality, "split", "quality.split")
        for meth in ("append_batch", "overwrite_partitions", "read"):
            self._wrap(PartitionedTable, meth, f"tableio.{meth}")
        self._wrap(DeltaLogExporter, "export", "deltalog.export")
        spark.streams.addListener(_listener(self))
        self._selftest(spark)

    def build_query(self, fn, spark, sf_dir: str):
        t0 = time.time() * 1000
        try:
            return fn(spark, sf_dir)
        finally:
            self.spans.append(Span("queries.build", t0, time.time() * 1000, self.op_index))

    def catalyst(self, df, op) -> None:
        """Catalyst phase times of ``df``'s own QueryExecution. The noop
        write plans a separate command, so ``df`` is planned once more
        here, after the op's clock stopped."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in CATALYST_PHASES:
            o = phases.get(name)
            out[name] = float(o.get().durationMs()) if o.isDefined() else 0.0
        op.info["catalyst_ms"] = out

    def _selftest(self, spark) -> None:
        """A toy aggregate whose noop write fires two jobs under AQE (the
        shuffle map stage, then the result stage); the event-log count in
        its window must equal the status tracker's count for its group."""
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        sc.setJobGroup("perfbench-selftest", "two-job toy action")
        t0 = time.time() * 1000
        spark.range(0, 64, 1, 4).groupBy((F.col("id") % 2).alias("k")).count().write.format(
            "noop"
        ).mode("overwrite").save()
        t1 = time.time() * 1000
        self.selftest = {
            "window": (t0, t1),
            "status_tracker_jobs": len(sc.statusTracker().getJobIdsForGroup("perfbench-selftest")),
        }
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    # -- streaming ---------------------------------------------------------

    def _on_progress(self, p: dict) -> None:
        with self._lock:
            self._progress.append(p)

    def _on_terminated(self) -> None:
        with self._lock:
            self._terminated_at.append(len(self._progress))
            self._lock.notify_all()

    def streaming_tick(self, op) -> None:
        """Attach the trigger phases of the stream ``op`` just ran. Each
        ``run_incremental`` call is one query, so its progress events lie
        between the previous query's end and its own."""
        k = sum(1 for s in self.spans if s.name == "streaming.run") - 1
        with self._lock:
            self._lock.wait_for(lambda: len(self._terminated_at) > k, timeout=30)
            if len(self._terminated_at) <= k:
                return
            lo = self._terminated_at[k - 1] if k > 0 else 0
            events = self._progress[lo : self._terminated_at[k]]
        d = {key: sum(e.get(phase, 0) for e in events) for key, phase in STREAM_PHASES.items()}
        d["trigger_ms"] = sum(e.get("triggerExecution", 0) for e in events)
        d["batches"] = len(events)
        op.info["streaming"] = d

    # -- report ------------------------------------------------------------

    def _events(self) -> list[dict]:
        out = []
        for path in sorted(glob.glob(os.path.join(self.event_log_dir, "*"))):
            with open(path) as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
        return out

    def report(self, rec, wl, files_per_leaf: float) -> dict:
        """Per-layer metrics; each op's Spark counters and layer times are
        added to its ``info`` for the per-op rows. Totals over the timed ops
        are divided by the number of the workload's primary ops (a query
        pass, an ingest cycle), so runs of different lengths compare."""
        spark_ops, job_at = _spark_per_op(self._events(), rec.ops)
        n = max(1, wl.n_primary())

        def spans(name):
            return [s for s in self.spans if s.name == name and s.op is not None]

        def total_s(name):
            return sum(s.end_ms - s.start_ms for s in spans(name)) / 1000 / n

        def calls(name):
            return len(spans(name)) / n

        def jobs_in(name):
            ss = spans(name)
            return sum(1 for t in job_at if any(s.start_ms <= t <= s.end_ms for s in ss)) / n

        def op_sum(key, sub=None):
            tot = 0.0
            for o in rec.ops:
                v = o.info.get(key) if sub is None else o.info.get(key, {}).get(sub)
                tot += v or 0.0
            return tot / n

        appends = spans("tableio.append_batch")
        ticks = rec.of("tick")
        stream_walls = sum(
            o.wall - o.info["streaming"]["trigger_ms"] / 1000 for o in rec.ops if "streaming" in o.info
        )
        st = self.selftest
        st["event_log_jobs"] = sum(1 for t in job_at if st["window"][0] <= t <= st["window"][1])
        layer = {
            "sources.calls": (calls("sources"), "count"),
            "sources.s": (total_s("sources"), "s"),
            "streaming.run_s": (total_s("streaming.run"), "s"),
            "streaming.start_stop_s": (stream_walls / n, "s"),
            **{f"streaming.{k}": (op_sum("streaming", k), "ms") for k in STREAM_PHASES},
            "streaming.tick_growth_s_per_1k_files": (
                1000 * slope([o.info["history"] for o in ticks], [o.wall for o in ticks]),
                "s",
            ),
            "quality.split_s": (total_s("quality.split"), "s"),
            "tableio.append_batch_s": (total_s("tableio.append_batch"), "s"),
            "tableio.append_batch_calls": (calls("tableio.append_batch"), "count"),
            "tableio.append_batch_published_frac": (
                sum(1 for s in appends if s.result is True) / len(appends) if appends else 0.0,
                "ratio",
            ),
            "tableio.overwrite_partitions_s": (total_s("tableio.overwrite_partitions"), "s"),
            "tableio.overwrite_partitions_calls": (calls("tableio.overwrite_partitions"), "count"),
            "tableio.read_s": (total_s("tableio.read"), "s"),
            "tableio.files_per_leaf": (files_per_leaf, "count"),
            "deltalog.export_s": (total_s("deltalog.export"), "s"),
            "deltalog.export_calls": (calls("deltalog.export"), "count"),
            "deltalog.versions_written": (
                sum(1 for s in spans("deltalog.export") if isinstance(s.result, int) and s.result >= 0) / n,
                "count",
            ),
            "tables.load_table_calls": (calls("tables.load_table"), "count"),
            "tables.load_table_s": (total_s("tables.load_table"), "s"),
            "tables.load_table_jobs": (jobs_in("tables.load_table"), "count"),
            "queries.build_s": (total_s("queries.build"), "s"),
            "queries.build_jobs": (jobs_in("queries.build"), "count"),
            **{
                f"catalyst.{p}_ms": (op_sum("catalyst_ms", p), "ms")
                for p in CATALYST_PHASES
            },
        }
        for key, unit in SPARK_KEYS.items():
            layer[f"spark.{key}"] = (sum(s[key] for s in spark_ops) / n, unit)

        for i, o in enumerate(rec.ops):
            o.info["spark"] = spark_ops[i]
            layers = o.info["layers_s"] = {}
            for s in self.spans:
                if s.op == i:
                    layers[s.name] = layers.get(s.name, 0.0) + (s.end_ms - s.start_ms) / 1000
        return layer


SPARK_KEYS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "driver_gap_s": "s",
}


def _spark_per_op(events: list[dict], ops) -> tuple[list[dict], list[int]]:
    """Per-op Spark counters from event-log records, plus every job's
    submission time (for span attribution). A job belongs to the op whose
    window holds its submission; its stages and tasks go with it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: list[int] = []
    tasks: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None}
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages_done.append(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics", {})
            wr = tm.get("Shuffle Write Metrics", {})
            tasks.append(
                {
                    "stage": e["Stage ID"],
                    "failed": e["Task End Reason"].get("Reason") != "Success",
                    "run_ms": tm.get("Executor Run Time", 0),
                    "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write": wr.get("Shuffle Bytes Written", 0),
                }
            )

    def op_of(t: int) -> int | None:
        for i, o in enumerate(ops):
            if o.start_ms <= t <= o.end_ms:
                return i
        return None

    job_op = {j: op_of(v["start"]) for j, v in jobs.items()}
    per_op = [dict.fromkeys(SPARK_KEYS, 0.0) for _ in ops]
    for j, i in job_op.items():
        if i is not None:
            per_op[i]["jobs"] += 1
    for sid in stages_done:
        i = job_op.get(stage_job.get(sid))
        if i is not None:
            per_op[i]["stages"] += 1
    for t in tasks:
        i = job_op.get(stage_job.get(t["stage"]))
        if i is None:
            continue
        per_op[i]["tasks"] += 1
        per_op[i]["failed_tasks"] += t["failed"]
        per_op[i]["executor_run_s"] += t["run_ms"] / 1000
        per_op[i]["shuffle_read_mb"] += t["read"] / 1e6
        per_op[i]["shuffle_write_mb"] += t["write"] / 1e6
    for i, o in enumerate(ops):
        intervals = sorted(
            (max(v["start"], o.start_ms), min(v["end"] or o.end_ms, o.end_ms))
            for j, v in jobs.items()
            if job_op[j] == i
        )
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in intervals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        per_op[i]["driver_gap_s"] = max(0.0, o.wall - covered / 1000)
    return per_op, [v["start"] for v in jobs.values()]


def _listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            tracer._on_progress(dict(event.progress.durationMs))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            tracer._on_terminated()

    return ProgressListener()

