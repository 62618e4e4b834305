"""Incremental multi-hop ingest pipeline (reference §2.3 I1–I12).

Reimplements the reference DAG ``listing → processed → backwards``
(reference ``ingest_example/__init__.py:7-15``) as a Structured Streaming
medallion chain over the wholetext file source:

- **listing** (reference ``listing.py``): subsumed by the file source's
  checkpointed seen-files log; also materialized as a queryable
  single-column table per SURVEY.md §1.1(2).
- **processed** (reference ``processed.py``): (filename, word, word_length)
  + ``$time$expand`` year/month/day string columns, appended to a
  hive-partitioned table. The count-offset watermark (processed.py:44-49)
  disappears — exactly-once-per-file is the source contract.
- **backwards** (reference ``backwards.py:14-15``): word reversed, derived
  from processed rows inside the same micro-batch (``foreachBatch``), so
  the multi-hop stays a single checkpointed stream.

Modes, sharing one transform (the reference readme's wish at
``readme.md:15-19`` that incremental/refresh be expressible over the same
op):

- ``run_incremental()``  — Trigger.AvailableNow stream: first call is the
  backfill (I9), later calls pick up only new files (I1–I7).
- ``refresh(day)``       — batch re-read of one day's files + partition
  overwrite (I8/I11), per-table rather than the reference's global flag
  (SURVEY.md §7.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incremental_dagster_delta_spark.functions import expand_time
from incremental_dagster_delta_spark.sources.ingest import read_text_files, stream_text_files
from incremental_dagster_delta_spark.tableio import PartitionedTable
from incremental_dagster_delta_spark.tables import sized_shuffle

PROCESSED_PARTITIONS = ["year", "month", "day", "word_length"]  # processed.py:34


def await_or_raise(q, timeout_sec: int) -> None:
    """``awaitTermination`` with the boolean return actually checked.

    ``StreamingQuery.awaitTermination(t)`` returns False on timeout with
    the query STILL RUNNING; ignoring that and proceeding (e.g. starting a
    second stream on the same checkpoint) turns a slow run into an opaque
    concurrent-checkpoint error or a partial output directory. On timeout,
    stop the query and raise a clear error instead.
    """
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within {timeout_sec}s"
        )


BACKWARDS_PARTITIONS = ["year", "month", "day"]  # backwards.py:11


def to_processed(files: DataFrame) -> DataFrame:
    """(filename, word, word_length, day=YYYY-MM-DD) → processed schema.

    Mode-oblivious transform shared by streaming, backfill and refresh —
    the abstraction the reference asks for at readme.md:18-19.
    """
    out = expand_time(files.withColumn("_d", F.to_date("day")), "_d", "daily")
    return out.select("filename", "word", "word_length", "year", "month", "day")


def to_backwards(processed: DataFrame) -> DataFrame:
    """word → reverse(word), keeping the name (backwards.py:14-15)."""
    return processed.select(
        "filename",
        F.reverse(F.col("word")).alias("word"),
        "word_length",
        "year",
        "month",
        "day",
    )


PROCESSED_SCHEMA = (
    "filename string, word string, word_length long, year string, month string, day string"
)


class IngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        ingest_root: str,
        tables_root: str,
        derive_backwards: bool = True,
        expectations: dict[str, str] | None = None,
        export_delta_log: bool = False,
    ) -> None:
        """``derive_backwards=False`` skips the in-batch backwards hop so
        the cascade topology (``run_backwards_cascade``) can own it.

        ``expectations`` are SQL boolean rules over the *processed*
        schema (see :mod:`incremental_dagster_delta_spark.quality`);
        failing rows divert to a ``quarantine`` table (tagged with the
        violated rule names) instead of ``processed`` — the Dagster
        asset-check gate, evaluated in the same micro-batch pass with no
        extra scan.

        ``export_delta_log=True`` appends one ``_delta_log`` version per
        output table after every micro-batch that changed it (see
        :mod:`incremental_dagster_delta_spark.deltalog`), so foreign
        Delta readers track the pipeline's outputs commit by commit —
        the interop the reference gets from writing real Delta. The
        export is a driver-side metadata diff (O(files)); a crash-replay
        of an already-applied batch diffs to nothing and writes no
        version, preserving exactly-once in the log too."""
        self.spark = spark
        self.ingest_root = ingest_root
        self.tables_root = tables_root
        self.derive_backwards = derive_backwards
        self.expectations = expectations
        self.export_delta_log = export_delta_log
        self.quarantine = PartitionedTable(
            spark, os.path.join(tables_root, "quarantine", "v1"), ["day"]
        )
        self.checkpoint = os.path.join(tables_root, "_checkpoints", "ingest")
        self.cascade_checkpoint = os.path.join(tables_root, "_checkpoints", "backwards")
        self.listing = PartitionedTable(spark, os.path.join(tables_root, "listing", "v1"), ["day"])
        self.processed = PartitionedTable(
            spark, os.path.join(tables_root, "processed", "v1"), PROCESSED_PARTITIONS
        )
        self.backwards = PartitionedTable(
            spark, os.path.join(tables_root, "backwards", "v1"), BACKWARDS_PARTITIONS
        )
        self._exporters: dict[str, object] = {}

    def _export_logs(self) -> None:
        """One incremental `_delta_log` version per changed output table."""
        if not self.export_delta_log:
            return
        from incremental_dagster_delta_spark.deltalog import DeltaLogExporter

        # no exists() gate: a table whose last visible file was removed
        # still needs the remove-only version; one never written is a
        # no-op (-1)
        for table in (self.processed, self.backwards, self.listing, self.quarantine):
            ex = self._exporters.get(table.path)
            if ex is None:
                ex = self._exporters[table.path] = DeltaLogExporter(table)
            ex.export(operation="STREAMING UPDATE")

    # -- incremental (streaming) -------------------------------------------

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch = one incremental unit (reference I11). The
        DataFrame is the *new files only* slice — the source checkpoint did
        the set difference (sensors.py:53) for us.

        Writes are idempotent per ``batch_id`` (``append_batch``), so a
        crash-and-replay between the table writes cannot duplicate rows —
        parity with the reference's transactional Delta writes.

        The batch runs under the small-input policy of its OWN session
        (``sized_shuffle(batch_df)``: a ``foreachBatch`` DataFrame is bound
        to the stream's cloned session), and its new rows are computed
        once: deduplicated against listing, hash-partitioned into one
        partition per day and cached by the count that tests emptiness.
        All four outputs are narrow projections of that one frame
        (:meth:`_publish`), so each write is one job that reads the cache,
        and a day's rows sit in one task — one parquet file per leaf
        partition per batch, not one per (task × leaf), the small-files
        failure mode SURVEY.md §7.7 flags at 100 TB scale.
        """
        with sized_shuffle(batch_df):
            raw = batch_df.persist()
            try:
                # the batch's days (driver-side distinct over a micro-batch
                # — bounded) double as the emptiness probe, and the collect
                # fills the cache the dedup below reads
                days = sorted(r["day"] for r in raw.select("day").distinct().collect())
                if not days:
                    return
                fresh = raw
                # exactly-once across the refresh/stream seam (r15 review):
                # refresh() consumes whatever source files exist, including
                # files the source checkpoint has not delivered yet — those
                # are already recorded in listing, and appending them again
                # here would double their rows. The anti-join is pruned to
                # the batch's day partitions, so at scale it reads only the
                # listing leaves this batch touches.
                if self.listing.exists():
                    in_list = ", ".join(f"'{d}'" for d in days)
                    seen = self.listing.read(f"day IN ({in_list})").select(
                        "filename", "day"
                    )
                    fresh = raw.join(seen, ["filename", "day"], "left_anti")
                fresh = fresh.repartition(len(days), "day").persist()
                try:
                    # one job: the emptiness test fills the cache
                    if not fresh.count():
                        return  # every file already ingested by a refresh
                    raw.unpersist()  # one batch copy cached at a time
                    self._publish(
                        fresh,
                        lambda t, df: t.append_batch(df, batch_id),
                        backwards=self.derive_backwards,
                    )
                finally:
                    fresh.unpersist()
            finally:
                raw.unpersist()

    def _publish(self, fresh: DataFrame, write, backwards: bool) -> None:
        """Write one commit wave from its deduplicated source rows.

        ``fresh`` holds ``(filename, word, word_length, day)``; every
        output is a narrow projection of it, written with
        ``write(table, df)`` in the order quarantine, processed,
        backwards, listing — listing last, so a file counts as consumed
        only once its rows are in. Quarantined rows are partitioned by
        the FULL date: the processed schema's ``day`` is the expanded
        day-of-month string ('26'), so partitioning quarantine by it
        collided different months in one leaf — inconsistent with listing
        and unprunable by date (r15 review)."""
        proc = to_processed(fresh)
        if self.expectations:
            from incremental_dagster_delta_spark.quality import split

            frames = split(proc, self.expectations)
            write(
                self.quarantine,
                frames.quarantine.withColumn(
                    "day", F.concat_ws("-", "year", "month", "day")
                ),
            )
            proc = frames.good
        write(self.processed, proc)
        if backwards:
            write(self.backwards, to_backwards(proc))
        write(self.listing, fresh.select("filename", "day"))
        self._export_logs()

    def run_incremental(
        self, timeout_sec: int = 300, max_files_per_trigger: int | None = None
    ) -> None:
        """Process all files not yet seen by the checkpoint, then stop.

        First invocation = backfill over everything present (reference I9);
        subsequent invocations = incremental ticks (reference I1–I7). The
        checkpoint survives restarts — cursor persistence/recovery for free.

        ``max_files_per_trigger`` bounds each micro-batch (AvailableNow
        honors source admission limits, unlike the legacy once-trigger):
        a 100 TB backfill becomes a sequence of bounded, individually
        committed batches instead of one cluster-sized transaction, and a
        crash loses at most one bounded batch of work.
        """
        stream = stream_text_files(
            self.spark, self.ingest_root, max_files_per_trigger=max_files_per_trigger
        )
        q = (
            stream.writeStream.foreachBatch(self._handle_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, timeout_sec)

    def run_backwards_cascade(self, timeout_sec: int = 300) -> None:
        """Alternative multi-hop topology (SURVEY.md §3.3): ``backwards``
        as its OWN checkpointed stream reading the ``processed`` table
        directory with a parquet file-stream source — the vanilla-parquet
        analogue of ``spark.readStream.format("delta")`` on the upstream
        table. Use with ``derive_backwards=False``; each hop then has an
        independent checkpoint, restart story, and trigger cadence.

        The hop's own micro-batches are idempotent the same way the
        ingest hop's are (append_batch + batch markers), so crash-replay
        between the hops cannot duplicate rows.
        """
        stream = (
            self.spark.readStream.schema(PROCESSED_SCHEMA)
            .option("basePath", self.processed.path)
            .parquet(self.processed.path)
        )

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            with sized_shuffle(batch_df):
                out = to_backwards(batch_df)
                # the batch's day partitions double as the emptiness probe
                triples = sorted(
                    (r["year"], r["month"], r["day"])
                    for r in out.select("year", "month", "day").distinct().collect()
                )
                if not triples:
                    return
                # refresh() rewrites processed's day into NEW parquet file
                # names and writes backwards for that day directly; this
                # file-stream then re-discovers the refreshed files as
                # unseen and would append their rows a second time (r15
                # review). Anti-join against the rows already present for
                # the batch's day partitions (per-file grain: a file's rows
                # land together, so filename+date identifies them).
                if self.backwards.exists():
                    pred = " OR ".join(
                        f"(year = '{y}' AND month = '{m}' AND day = '{d}')"
                        for y, m, d in triples
                    )
                    seen = self.backwards.read(pred).select(
                        "filename", "year", "month", "day"
                    )
                    out = out.join(
                        seen, ["filename", "year", "month", "day"], "left_anti"
                    )
                self.backwards.append_batch(
                    out.repartition(len(triples), "year", "month", "day"), batch_id
                )

        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", self.cascade_checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, timeout_sec)

    # -- refresh (batch partition overwrite) --------------------------------

    def refresh(self, day: str) -> None:
        """Recompute one day partition from source files and overwrite just
        that partition (reference I8: delta_io.py:92-107), scoped per-table
        rather than via the reference's global refresh flag.

        Uses the crash-atomic ``overwrite_partitions`` with a day scope:
        staged write + marker + per-leaf swap, so a killed refresh can
        never leave a half-written day, and a ``word_length`` leaf whose
        value vanished from the day's files is dropped in the same
        transaction — the reference's ``replaceWhere`` on the day
        predicate (delta_io.py:104-107) replaces the entire day.

        r15 review hardening: refresh applies the SAME expectations gate
        as the streaming path (violating rows go to quarantine for the
        day — replacing its stale quarantine rows — never to processed),
        and the exactly-once contract survives the seam in both
        directions: files refresh consumed ahead of the source
        checkpoint are recorded in listing, and ``_handle_batch``
        anti-joins against listing so their later stream delivery is a
        no-op; the cascade topology's re-discovery of the refreshed
        files is likewise absorbed by its per-file anti-join.

        Like a tick, the day's files are read once: they run under the
        small-input policy (``sized_shuffle(files)``), are gathered into
        one cached partition, and all four overwrites are projections of
        that frame (:meth:`_publish`) — the first write fills the cache,
        the rest read it, each in one job.
        """
        y, m, d = day.split("-")
        files = read_text_files(self.spark, self.ingest_root).where(F.col("day") == day)
        scopes = {
            self.quarantine.path: {"day": day},
            self.processed.path: {"year": y, "month": m, "day": d},
            self.backwards.path: {"year": y, "month": m, "day": d},
            self.listing.path: {"day": day},
        }
        with sized_shuffle(files):
            fresh = files.repartition(1, "day").persist()
            try:
                self._publish(
                    fresh,
                    lambda t, df: t.overwrite_partitions(df, **scopes[t.path]),
                    backwards=True,
                )
            finally:
                fresh.unpersist()
