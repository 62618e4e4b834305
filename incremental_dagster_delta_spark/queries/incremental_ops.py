"""Rows-only qids for the reference's incremental/storage operators
(SURVEY.md §2.1 S3-S6, §2.3 I4/I8-I12) — the ops whose semantics live in
table state and checkpoints rather than in a SQL-expressible result.

Each query drives the real engine machinery (PartitionedTable /
IngestPipeline / Structured Streaming) over a deterministic fixture in a
fresh temp dir and returns the resulting table state as a DataFrame, so
the driver's rows-only check pins row counts and schema every round.
All content is seeded — repeated runs return identical rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import functions as F

from incremental_dagster_delta_spark.queries.registry import QUERIES as _Q
from incremental_dagster_delta_spark.queries.registry import query
from incremental_dagster_delta_spark.sources.fixture import generate_ingest_fixture
from incremental_dagster_delta_spark.sources.ingest import read_text_files
from incremental_dagster_delta_spark.streaming.pipeline import IngestPipeline, await_or_raise
from incremental_dagster_delta_spark.tableio import PartitionedTable
from incremental_dagster_delta_spark.tables import literal_df


def _tmp(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"spark_graft_{tag}_")


# Names registered before this module imports — the module-end loop wraps
# everything registered AFTER this point in the scoped shuffle-partition
# context (r15 review: three hand-maintained name lists meant every new
# qid had to be remembered in one of them or silently ran with the
# session's full partition count).
_PRE_EXISTING = set(_Q)


@contextmanager
def _few_shuffle_partitions(spark, n: int = 8):
    """These qids run micro-pipelines over ~dozens of rows; under a
    default session (200 shuffle partitions) the stateful streaming ones
    pay state-store setup per partition per micro-batch (~90 s for the
    sessionizer). Scope the partition count down and restore after."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _fixture(tag: str, waves: int = 1) -> str:
    root = _tmp(f"{tag}_ingest")
    for w in range(waves):
        generate_ingest_fixture(root, files_per_day_per_wave=6, wave=w)
    return root


# --------------------------------------------------------------------------
# Oracle fixtures. Each qid below runs the ENGINE (PartitionedTable /
# IngestPipeline / Structured Streaming) over its own temp copy of the
# seeded fixture — but because the generator is deterministic, the
# expected OUTPUT of every table/pipeline operation is a pure function of
# the fixture content, which DuckDB can recompute with read_text() over a
# static copy at a fixed path. That turns these from rows-only checks
# into real hash-checked rows: the streaming engine's materialized state
# must equal the declarative spec of what ingestion should have produced.
# (q_sessionize_stateful, q_late_data, and q_quota_stateful use literal
# expected-output oracles instead: their two-wave scenarios are
# deterministic, so the watermark/timeout/state semantics pin a fixed
# result table — hash-checked since r5.)
# --------------------------------------------------------------------------
def _build_oracle_fixture(waves: int) -> str:
    """Content-addressed oracle fixture (r4 verdict #3): the old scheme
    generated into ONE fixed path guarded by ``if not os.path.exists`` —
    a stale or partially-written copy from a crashed earlier run would
    poison the oracle forever while the Spark side used a fresh temp dir.
    The digest is computed from the generator's (path, content) stream
    IN MEMORY (r15 review: digesting the walked bytes required a full
    throwaway disk build on every import of the queries package); the
    tree is written — into a fresh temp dir, atomically renamed to the
    digest-keyed path — only when the digest dir is missing. The digest
    path can only ever hold a complete, correct copy (rename is atomic;
    a half-built tree never lands there), and any change to the
    generator moves the path instead of silently reusing stale
    content."""
    import hashlib

    from incremental_dagster_delta_spark.sources.fixture import fixture_entries

    entries = [
        e
        for _w in range(waves)
        for e in fixture_entries(files_per_day_per_wave=6, wave=_w)
    ]
    h = hashlib.sha256()
    for rel, content in sorted(entries):
        h.update(rel.encode())
        h.update(content.encode())
    final = f"/tmp/spark_graft/incr_oracle_fixture_{h.hexdigest()[:16]}/w{waves}"
    if os.path.exists(final):
        return final
    build = tempfile.mkdtemp(prefix=f"spark_graft_oraclefix_build_w{waves}_")
    for _w in range(waves):
        generate_ingest_fixture(build, files_per_day_per_wave=6, wave=_w)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(build, final)
    except OSError:
        # either a concurrent builder won the rename race (theirs is
        # byte-identical — content-addressed), or the rename itself
        # failed (EXDEV across filesystems, EACCES): only the first is
        # benign, so re-raise unless the destination actually exists
        # (r15 review: swallowing EXDEV returned a path never created)
        shutil.rmtree(build, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final


_ORACLE_FIX_W1 = _build_oracle_fixture(1)  # wave 0 only
_ORACLE_FIX_W2 = _build_oracle_fixture(2)  # waves 0+1

# read_text() projections shared by the oracles below.
_DAY = "regexp_extract(filename, 'day=([0-9-]+)', 1)"
_BASE = "regexp_extract(filename, '([^/]+)$', 1)"
_WORD = "trim(content)"


# --- S3: hive partition discovery -------------------------------------------


@query(
    "q_partition_discovery",
    tags=("scan", "reference:S3"),
    oracle=f"""
    SELECT {_DAY} AS day, COUNT(*) AS n_files
    FROM read_text('{_ORACLE_FIX_W1}/day=*/*.txt') GROUP BY 1
    """,
)
def q_partition_discovery(spark, sf_dir):
    """day=YYYY-MM-DD directory keys become a partition column via hive
    discovery (reference generate.py:12-14, sensors.py:45): one row per
    discovered partition with its file count."""
    root = _fixture("discovery")
    try:
        df = read_text_files(spark, root)
        out = df.groupBy("day").agg(F.count("*").alias("n_files")).orderBy("day")
        # materialize so the fixture dir can be removed — the lazy frame
        # was the one leak in this module's otherwise-uniform
        # build/checkpoint/rmtree discipline (r15 review)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- S4/S6: append-mode partitioned sink ------------------------------------


@query(
    "q_delta_append",
    tags=("sink", "reference:S4"),
    oracle=f"""
    SELECT {_BASE} AS filename, {_WORD} AS word,
           CAST(length({_WORD}) AS BIGINT) AS word_length, {_DAY} AS day
    FROM read_text('{_ORACLE_FIX_W2}/day=*/*.txt')
    """,
)
def q_delta_append(spark, sf_dir):
    """Two successive appends accumulate (reference delta_io.py:91);
    returns the final table ordered state: 2 waves × 3 days × 6 files.
    Oracle: the appended table must equal the wholetext projection of
    BOTH waves — recomputed by DuckDB from the static fixture copy."""
    root = _fixture("append", waves=2)
    tdir = _tmp("append_table")
    try:
        table = PartitionedTable(spark, os.path.join(tdir, "t"), ["day"])
        files = read_text_files(spark, root).repartition("day")
        table.append(files.where(F.col("filename").startswith("w0")))
        table.append(files.where(F.col("filename").startswith("w1")))
        return table.read().orderBy("day", "filename").localCheckpoint()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


@query(
    "q_partitioned_write",
    tags=("sink", "reference:S6"),
    oracle=f"""
    SELECT {_DAY} AS day, CAST(length({_WORD}) AS BIGINT) AS word_length, COUNT(*) AS n
    FROM read_text('{_ORACLE_FIX_W1}/day=*/*.txt') GROUP BY 1, 2
    """,
)
def q_partitioned_write(spark, sf_dir):
    """Hive partitionBy incl. the data-derived word_length column
    (reference processed.py:34): partition columns read back with the
    types they were written with, from the table's recorded schema —
    ``day`` as string, ``word_length`` as bigint like the oracle's."""
    root = _fixture("pwrite")
    tdir = _tmp("pwrite_table")
    try:
        table = PartitionedTable(spark, os.path.join(tdir, "t"), ["day", "word_length"])
        table.append(read_text_files(spark, root).repartition("day"))
        out = (
            table.read()
            .groupBy("day", "word_length")
            .agg(F.count("*").alias("n"))
            .orderBy("day", "word_length")
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


# --- S5 / I8: partition-scoped overwrite (refresh / replaceWhere) -----------


@query(
    "q_replace_where",
    tags=("sink", "reference:S5"),
    oracle=f"""
    SELECT {_DAY} AS day, {_BASE} AS filename,
           CASE WHEN {_DAY} = '2024-03-26' THEN upper({_WORD}) ELSE {_WORD} END AS word
    FROM read_text('{_ORACLE_FIX_W1}/day=*/*.txt')
    """,
)
def q_replace_where(spark, sf_dir):
    """Partition-scoped overwrite (reference delta_io.py:92-107): rewrite
    one day with modified rows; other days untouched, stale rows gone —
    the oracle applies the same per-day rewrite declaratively."""
    root = _fixture("replace")
    tdir = _tmp("replace_table")
    try:
        table = PartitionedTable(spark, os.path.join(tdir, "t"), ["day"])
        files = read_text_files(spark, root).repartition("day")
        table.append(files)
        # refresh 2024-03-26 with uppercased words — crash-atomic swap
        refreshed = files.where(F.col("day") == "2024-03-26").withColumn("word", F.upper("word"))
        table.overwrite_partitions(refreshed, day="2024-03-26")
        out = table.read().select("day", "filename", "word").orderBy("day", "filename")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


@query(
    "q_refresh_overwrite",
    tags=("incremental", "reference:I8"),
    oracle=f"""
    SELECT substr({_DAY}, 1, 4) AS year, substr({_DAY}, 6, 2) AS month,
           substr({_DAY}, 9, 2) AS day,
           COUNT(*) AS n_rows, COUNT(DISTINCT {_BASE}) AS n_files
    FROM read_text('{_ORACLE_FIX_W1}/day=*/*.txt') GROUP BY 1, 2, 3
    """,
)
def q_refresh_overwrite(spark, sf_dir):
    """Full refresh of one day through the pipeline API (reference's
    refresh flag, per-table here — SURVEY.md §7.4): incremental ingest
    then refresh('2024-03-26') must be a no-op on row counts — pinned by
    the oracle, which derives the expected counts straight from the
    fixture."""
    root = _fixture("refresh")
    tdir = _tmp("refresh_tables")
    try:
        pipe = IngestPipeline(spark, root, tdir)
        pipe.run_incremental()
        pipe.refresh("2024-03-26")
        out = (
            pipe.processed.read()
            .groupBy("year", "month", "day")
            .agg(F.count("*").alias("n_rows"), F.countDistinct("filename").alias("n_files"))
            .orderBy("year", "month", "day")
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


# --- I4 / I9 / I10: listing accumulation, backfill, multi-hop ---------------


@query(
    "q_listing_accumulate",
    tags=("incremental", "reference:I4"),
    oracle=f"""
    SELECT {_DAY} AS day, COUNT(*) AS n_files
    FROM read_text('{_ORACLE_FIX_W2}/day=*/*.txt') GROUP BY 1
    """,
)
def q_listing_accumulate(spark, sf_dir):
    """listing accumulates across incremental ticks (reference
    listing.py:30-41): two waves → per-day file counts double; the
    oracle counts both waves in the static fixture."""
    root = _tmp("accum_ingest")
    tdir = _tmp("accum_tables")
    try:
        pipe = IngestPipeline(spark, root, tdir)
        generate_ingest_fixture(root, files_per_day_per_wave=6, wave=0)
        pipe.run_incremental()
        generate_ingest_fixture(root, files_per_day_per_wave=6, wave=1)
        pipe.run_incremental()
        out = pipe.listing.read().groupBy("day").agg(F.count("*").alias("n_files")).orderBy("day")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


@query(
    "q_backfill",
    tags=("incremental", "reference:I9"),
    oracle=f"""
    -- processed.day is the zero-padded day-of-month grain from
    -- $time$expand, not the full date key
    SELECT substr({_DAY}, 9, 2) AS day, COUNT(*) AS n_rows,
           COUNT(DISTINCT {_BASE}) AS n_files
    FROM read_text('{_ORACLE_FIX_W2}/day=*/*.txt') GROUP BY 1
    """,
)
def q_backfill(spark, sf_dir):
    """First AvailableNow run over a pre-populated directory = backfill
    (reference listing.py:19-28): all existing files processed once —
    exactly-once pinned by the oracle's per-day counts."""
    root = _fixture("backfill", waves=2)
    tdir = _tmp("backfill_tables")
    try:
        pipe = IngestPipeline(spark, root, tdir)
        pipe.run_incremental()
        out = (
            pipe.processed.read()
            .groupBy("day")
            .agg(F.count("*").alias("n_rows"), F.countDistinct("filename").alias("n_files"))
            .orderBy("day")
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


@query(
    "q_multi_hop",
    tags=("incremental", "reference:I10"),
    oracle=f"""
    -- processed.day is the zero-padded day-of-month grain (see q_backfill)
    SELECT substr({_DAY}, 9, 2) AS day, COUNT(*) AS n_rows,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM read_text('{_ORACLE_FIX_W1}/day=*/*.txt') GROUP BY 1
    """,
)
def q_multi_hop(spark, sf_dir):
    """listing → processed → backwards in one checkpointed stream
    (reference __init__.py:7-15): returns the per-day parity summary —
    rows equal across hops and every backwards.word is the reverse of
    its processed.word. The oracle pins n_mismatch = 0 AND the per-day
    row counts against the fixture."""
    root = _fixture("multihop")
    tdir = _tmp("multihop_tables")
    try:
        pipe = IngestPipeline(spark, root, tdir)
        pipe.run_incremental()
        proc = pipe.processed.read().select("filename", "day", "word")
        back = pipe.backwards.read().select(
            "filename", "day", F.col("word").alias("rev_word")
        )
        joined = proc.join(back, ["filename", "day"])
        out = (
            joined.groupBy("day")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("rev_word") != F.reverse("word"), 1).otherwise(0)).alias("n_mismatch"),
            )
            .orderBy("day")
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


# --- custom stateful streaming: applyInPandasWithState sessionization -------


@query(
    "q_sessionize_stateful",
    tags=("streaming", "stateful"),
    # Literal expected-sessions oracle (the q_drip_source VALUES pattern):
    # the two-wave scenario is deterministic, so the closed-session set is
    # a fixed table and the qid is HASH-checked, not rows-only (upgraded
    # r5 alongside q_quota_stateful).
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), '2024-05-01 00:00:00', '2024-05-01 00:08:00', CAST(3 AS BIGINT)),
      (1, '2024-05-01 00:30:00', '2024-05-01 00:32:00', 2),
      (2, '2024-05-01 00:00:00', '2024-05-01 00:09:00', 2)
    ) AS t(user_id, session_start, session_end, n_events)
    """,
)
def q_sessionize_stateful(spark, sf_dir):
    """Custom stateful operator (north star: non-SQL-expressible
    streaming): applyInPandasWithState sessionization with event-time
    timeouts (streaming/stateful.py). Deterministic two-wave scenario;
    returns the closed sessions (3: two for user 1, one for user 2)."""
    import datetime

    from incremental_dagster_delta_spark.streaming.stateful import sessionize

    base = _tmp("sess")
    in_dir, out_dir, cp = (os.path.join(base, d) for d in ("in", "out", "cp"))
    os.makedirs(in_dir)
    t0 = datetime.datetime(2024, 5, 1)
    mk = lambda spec: [(u, t0 + datetime.timedelta(minutes=m)) for u, m in spec]  # noqa: E731
    schema = "user_id long, ts timestamp"

    def run():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            sessionize(stream, gap_seconds=600, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 120)

    try:
        literal_df(
            spark, mk([(1, 0), (1, 5), (1, 8), (1, 30), (1, 32), (2, 0), (2, 9)]), schema
        ).write.mode("append").parquet(in_dir)
        run()
        literal_df(spark, mk([(1, 600), (2, 601)]), schema).write.mode(
            "append"
        ).parquet(in_dir)
        run()
        run()
        out = (
            spark.read.schema(
                "user_id long, session_start timestamp, session_end timestamp, n_events long"
            )
            .parquet(out_dir)
            .select(
                "user_id",
                F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
                "n_events",
            )
            .orderBy("user_id", "session_start")
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- I12: late-data handling with an event-time watermark -------------------


@query(
    "q_late_data",
    tags=("streaming", "reference:I12"),
    # Literal finalized-windows oracle: the scenario pins which windows
    # the watermark finalizes AND that the 2h-late wave-2 event is
    # dropped (minute 10 never increments window 00:00 past 2). Upgraded
    # from rows-only to hash-checked in r5.
    oracle="""
    SELECT * FROM (VALUES
      ('2024-05-01 00:00:00', CAST(2 AS BIGINT)),
      ('2024-05-01 01:00:00', 1),
      ('2024-05-01 02:00:00', 1),
      ('2024-05-01 03:00:00', 1)
    ) AS t(window_start, n)
    """,
)
def q_late_data(spark, sf_dir):
    """Event-time watermark drops too-late rows (reference's two-day
    lookback I3/I12, improved: bounded state instead of a blind spot —
    SURVEY.md §7.5). A 1-hour-watermarked windowed stream over two file
    waves; the wave-2 event 2h behind the watermark is dropped. Returns
    the finalized (window_start, n) rows."""
    import datetime

    base = _tmp("late")
    in_dir, out_dir, cp = (os.path.join(base, d) for d in ("in", "out", "cp"))
    os.makedirs(in_dir)
    t0 = datetime.datetime(2024, 5, 1)
    mk = lambda mins: [(i, t0 + datetime.timedelta(minutes=m)) for i, m in enumerate(mins)]  # noqa: E731
    schema = "event_id long, ts timestamp"

    def run():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "n")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 120)

    try:
        literal_df(spark, mk([5, 20, 65, 130, 185]), schema).write.mode(
            "append"
        ).parquet(in_dir)
        run()
        # minute 10 is now > 1h behind the watermark (2h05) → dropped
        literal_df(spark, mk([10, 305]), schema).write.mode("append").parquet(in_dir)
        run()
        run()  # flush windows finalized by the last watermark advance
        out = (
            spark.read.schema("window_start string, n long")
            .parquet(out_dir)
            .orderBy("window_start")
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- streaming exactly-once deduplication -----------------------------------


@query(
    "q_stream_dedup",
    tags=("streaming", "dedup"),
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Streaming exactly-once dedup: the events table is fed to a file
    stream TWICE (two waves of identical files — the at-least-once
    redelivery every real ingest pipeline must survive), deduped on
    event_id with streaming ``dropDuplicates`` state, and the
    materialized output must equal a single clean pass — the oracle is a
    plain aggregate over the original table, so the hash check proves the
    redelivered wave contributed zero rows. State holds one entry per
    key; production variant with bounded state is
    ``dropDuplicatesWithinWatermark`` (same plan shape, state evicted at
    the watermark), which tests/test_streaming.py covers — here the
    unbounded form keeps the output independent of event-time ordering."""
    base = _tmp("sdedup")
    in_dir, out_dir, cp = (os.path.join(base, d) for d in ("in", "out", "cp"))
    os.makedirs(in_dir)
    src = os.path.join(sf_dir, "events.parquet")

    def run():
        stream = spark.readStream.schema("event_id long, event_type string").parquet(in_dir)
        q = (
            stream.dropDuplicates(["event_id"])
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 120)

    try:
        shutil.copy(src, os.path.join(in_dir, "wave1.parquet"))
        run()
        shutil.copy(src, os.path.join(in_dir, "wave2.parquet"))  # full redelivery
        run()
        out = (
            spark.read.schema("event_id long, event_type string")
            .parquet(out_dir)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- per-key quota enforcement on the transformWithState surface ------------


@query(
    "q_quota_stateful",
    tags=("streaming", "stateful"),
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(10 AS BIGINT), CAST(1 AS BIGINT), true),
      (1, 11, 2, true),
      (1, 12, 3, true),
      (1, 13, 4, false),
      (1, 14, 5, false),
      (2, 20, 1, true),
      (2, 21, 2, true),
      (2, 22, 3, true)
    ) AS t(user_id, event_id, seq, admitted)
    """,
)
def q_quota_stateful(spark, sf_dir):
    """Per-key admission control (streaming/stateful.py
    ``enforce_quota``): two file waves deliver 5 events for user 1 and 3
    for user 2 against a budget of 3, and the lifetime counter in the
    state store must carry ACROSS micro-batches — user 1's third event
    arrives in wave 2 and is still admitted, the fourth is the first
    rejection. The oracle is the literal expected admission table
    derived from the deterministic scenario (the q_drip_source
    VALUES-literal pattern for engine-driven qids) — a HASH-checked
    stateful streaming qid, stronger than the sessionizer's rows-only
    check."""
    base = _tmp("quota")
    in_dir, out_dir, cp = (os.path.join(base, d) for d in ("in", "out", "cp"))
    os.makedirs(in_dir)
    schema = "user_id long, event_id long"

    from incremental_dagster_delta_spark.streaming.stateful import enforce_quota

    def run():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            enforce_quota(stream, budget=3)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 120)

    try:
        literal_df(spark, [(1, 10), (1, 11), (2, 20)], schema).write.mode("append").parquet(in_dir)
        run()
        literal_df(spark, [(1, 12), (1, 13), (1, 14), (2, 21), (2, 22)], schema).write.mode("append").parquet(in_dir)
        run()
        out = spark.read.schema("user_id long, event_id long, seq long, admitted boolean").parquet(
            out_dir
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- stream-stream interval join ---------------------------------------------


@query(
    "q_stream_join",
    tags=("streaming", "join"),
    # Literal expected-attributions oracle (the q_quota_stateful
    # VALUES-literal pattern): the two-wave scenario is deterministic, so
    # the matched set is a fixed table and the qid is HASH-checked.
    oracle="""
    SELECT * FROM (VALUES
      ('c1', CAST(1 AS BIGINT), '2024-05-01 00:00:00', '2024-05-01 00:15:00'),
      ('c2', 1, '2024-05-01 01:40:00', '2024-05-01 01:50:00')
    ) AS t(clk_id, ad_id, imp_ts, clk_ts)
    """,
)
def q_stream_join(spark, sf_dir):
    """Stream-stream interval join: clicks attribute to an impression on
    the same ad within a 30-minute window, with watermarks on BOTH sides
    so Spark can expire join state — the condition bounds event time in
    both directions, which is what keeps state finite at 100 TB/day
    (without the bound, every impression is kept forever waiting for a
    future click).

    The scenario forces cross-micro-batch state: click ``c2`` arrives in
    wave 2 and must join an impression delivered in wave 1, so the match
    can only come from the impression join state carried in the
    checkpoint. ``c3`` (outside the 30-min window) and ``c4`` (ad with no
    impression) must NOT appear; the hash check pins both the matches and
    the non-matches."""
    import datetime

    base = _tmp("sjoin")
    imp_dir, clk_dir, out_dir, cp = (os.path.join(base, d) for d in ("imp", "clk", "out", "cp"))
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)
    t0 = datetime.datetime(2024, 5, 1)
    m = lambda mins: t0 + datetime.timedelta(minutes=mins)  # noqa: E731
    imp_schema = "ad_id long, imp_ts timestamp"
    clk_schema = "ad_id long, clk_ts timestamp, clk_id string"

    def run():
        si = (
            spark.readStream.schema(imp_schema)
            .parquet(imp_dir)
            .withWatermark("imp_ts", "1 hour")
            .alias("imp")
        )
        sc = (
            spark.readStream.schema(clk_schema)
            .parquet(clk_dir)
            .withWatermark("clk_ts", "1 hour")
            .alias("clk")
        )
        q = (
            si.join(
                sc,
                F.expr(
                    "imp.ad_id = clk.ad_id AND "
                    "clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 30 minutes"
                ),
            )
            .select("clk_id", F.col("imp.ad_id").alias("ad_id"), "imp_ts", "clk_ts")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 120)

    try:
        literal_df(
            spark, [(1, m(0)), (2, m(10)), (3, m(20)), (1, m(100))], imp_schema
        ).write.mode("append").parquet(imp_dir)
        literal_df(spark, [(1, m(15), "c1")], clk_schema).write.mode(
            "append"
        ).parquet(clk_dir)
        run()
        # wave 2: c2 must join the WAVE-1 impression at t100 (state carry);
        # c3 is 35 min after ad 2's impression (outside the window); c4's ad
        # never had an impression.
        literal_df(
            spark, [(1, m(110), "c2"), (2, m(45), "c3"), (4, m(5), "c4")], clk_schema
        ).write.mode("append").parquet(clk_dir)
        run()
        run()
        out = (
            spark.read.schema("clk_id string, ad_id long, imp_ts timestamp, clk_ts timestamp")
            .parquet(out_dir)
            .select(
                "clk_id",
                "ad_id",
                F.date_format("imp_ts", "yyyy-MM-dd HH:mm:ss").alias("imp_ts"),
                F.date_format("clk_ts", "yyyy-MM-dd HH:mm:ss").alias("clk_ts"),
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# Every qid above that drives a pipeline/stream materializes its result
# (localCheckpoint) inside the call, so scoping the shuffle-partition
# count around the call covers the whole execution.
def _scoped(fn):
    import functools

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        with _few_shuffle_partitions(spark):
            return fn(spark, sf_dir)

    return wrapped


# --- compaction / small-files maintenance ------------------------------------


@query(
    "q_compaction_stats",
    tags=("storage", "maintenance"),
    # Literal oracle: the scenario is fully deterministic — 3 days × 4
    # single-row appends each = 12 files before, 1 file per leaf after,
    # 12 rows conserved (the q_drip_source VALUES pattern for
    # engine-driven qids).
    oracle="""
    SELECT * FROM (VALUES
      ('2024-06-01', CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
      ('2024-06-02', 4, 1, 4),
      ('2024-06-03', 4, 1, 4)
    ) AS t(day, files_before, files_after, n_rows)
    """,
)
def q_compaction_stats(spark, sf_dir):
    """OPTIMIZE/bin-packing maintenance surfaced as a query: an ingest
    that appends one file per record (the reference's wholetext pattern —
    one parquet per word, ``/root/reference/ingest_example/processed.py``
    — is a small-files generator by design) is compacted down to one
    file per leaf partition, and the report proves (a) file counts
    collapsed 4→1 per day and (b) not a row was lost. At 100 TB this is
    the scheduled maintenance job that keeps scan task counts sane;
    ``tableio.compact`` rewrites each leaf in parallel (repartition on
    the partition columns + deterministic salt) and commits the rewrite
    through the same intent marker and per-leaf swap as a partition
    overwrite, with crash recovery pinned in
    tests/test_compaction_crash.py."""
    import glob

    from incremental_dagster_delta_spark.tableio import PartitionedTable

    base = _tmp("compactq")
    tbl = PartitionedTable(spark, os.path.join(base, "t"), ["day"])

    def leaf_files(day: str) -> int:
        return len(glob.glob(os.path.join(base, "t", f"day={day}", "*.parquet")))

    try:
        days = ["2024-06-01", "2024-06-02", "2024-06-03"]
        for d in days:
            for i in range(4):  # one record per append = one file per record
                # literal_df, not createDataFrame: each of the 12
                # single-row appends otherwise pays a defaultParallelism-
                # wide python round-trip per write job (tables.literal_df)
                tbl.append(
                    literal_df(spark, [(d, i, f"rec-{d}-{i}")], "day string, seq long, payload string")
                )
        before = {d: leaf_files(d) for d in days}
        tbl.compact(target_files_per_partition=1)
        rows = {
            r["day"]: r["n"]
            for r in tbl.read().groupBy("day").agg(F.count("*").alias("n")).collect()
        }
        out = [(d, before[d], leaf_files(d), rows[d]) for d in days]
        return literal_df(
            spark, out, "day string, files_before long, files_after long, n_rows long"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- exactly-once batch publish under replay ---------------------------------


@query(
    "q_exactly_once_publish",
    tags=("storage", "streaming"),
    # Literal oracle: 2 committed batches, batch 0 REPLAYED after a
    # simulated crash — the table must hold exactly one copy of each
    # batch's rows and the commit metrics must count each batch once.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
      (1, 2, 2)
    ) AS t(batch_id, committed_rows, table_rows)
    """,
)
def q_exactly_once_publish(spark, sf_dir):
    """Exactly-once publish under at-least-once replay — the foreachBatch
    contract ``tableio.append_batch`` provides on plain parquet (Delta
    gets it from txnAppId/txnVersion): batch 0 is published, then
    REPLAYED as a restarted stream would after a crash between write and
    checkpoint commit, then batch 1 lands. The report joins each batch's
    commit-marker metrics against the actual row count carrying that
    batch's file prefix — both must equal the batch size exactly once;
    the replay must contribute ZERO rows. Crash windows inside the
    publish protocol itself are exercised step-by-step in
    tests/test_merge.py and tests/test_vacuum.py."""
    base = _tmp("e1pub")
    schema = "k long, day string"
    tbl = PartitionedTable(spark, os.path.join(base, "t"), ["day"])
    try:
        b0 = spark.createDataFrame(
            [(1, "2024-07-01"), (2, "2024-07-01"), (3, "2024-07-02")], schema
        )
        # plain calls with explicit checks, NOT asserts: python -O strips
        # assert statements including their side-effecting arguments, so
        # the publishes themselves would vanish (r15 review)
        results = [
            tbl.append_batch(b0, 0),
            tbl.append_batch(b0, 0),  # replay: marker short-circuits
            tbl.append_batch(
                spark.createDataFrame([(4, "2024-07-02"), (5, "2024-07-03")], schema),
                1,
            ),
        ]
        if results != [True, False, True]:
            raise RuntimeError(f"exactly-once publish contract broken: {results}")
        metrics = tbl.batch_metrics()
        per_batch = (
            tbl.read()
            .select(F.regexp_extract(F.input_file_name(), r"/b(\d+)-", 1).cast("long").alias("batch_id"))
            .groupBy("batch_id")
            .agg(F.count("*").alias("table_rows"))
        )
        committed = spark.createDataFrame(
            [(int(b), int(m.get("rows", -1))) for b, m in sorted(metrics.items())],
            "batch_id long, committed_rows long",
        )
        return committed.join(per_batch, "batch_id").localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)




# --- schema evolution on append ----------------------------------------------


@query(
    "q_schema_evolution",
    tags=("storage", "schema"),
    oracle="""
    SELECT * FROM (VALUES
      ('2024-08-01', CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
      ('2024-08-02', 2, 1)
    ) AS t(day, n_rows, n_null_score)
    """,
)
def q_schema_evolution(spark, sf_dir):
    """Schema evolution on append (Delta mergeSchema parity): wave 2
    adds a ``score`` column; the plain read serves the recorded union
    schema with NULLs for wave-1 rows — no rewrite of old files, no
    reader break. The report pins per-day row counts AND the null
    accounting for the late column (wave 1's two 08-01 rows + one
    08-02 row read back as null score; wave 2's 08-02 row carries a
    value). At 100 TB additive evolution must be metadata-only —
    exactly what this path is."""
    base = _tmp("schemaevo")
    tbl = PartitionedTable(spark, os.path.join(base, "t"), ["day"])
    try:
        tbl.append(
            spark.createDataFrame(
                [(1, "2024-08-01"), (2, "2024-08-01"), (3, "2024-08-02")],
                "k long, day string",
            )
        )
        tbl.append(
            spark.createDataFrame(
                [(4, "2024-08-02", 0.9)], "k long, day string, score double"
            )
        )
        out = (
            tbl.read()
            .groupBy("day")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("score").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null_score"),
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- partition delete (retention / GDPR) -------------------------------------


@query(
    "q_partition_delete",
    tags=("storage", "maintenance"),
    oracle="""
    SELECT * FROM (VALUES
      ('2024-08-02', CAST(1 AS BIGINT)),
      ('2024-08-03', CAST(2 AS BIGINT))
    ) AS t(day, n_rows)
    """,
)
def q_partition_delete(spark, sf_dir):
    """Partition-scoped deletion (``tableio.delete_partitions``) — the
    retention / right-to-erasure primitive: dropping day 08-01 removes
    its files without touching any other partition (metadata-cost
    operation at any scale; row-level deletes would rewrite files). The
    report is the surviving per-day counts, hash-pinned."""
    base = _tmp("pdel")
    tbl = PartitionedTable(spark, os.path.join(base, "t"), ["day"])
    try:
        tbl.append(
            spark.createDataFrame(
                [(1, "2024-08-01"), (2, "2024-08-01"), (3, "2024-08-02"),
                 (4, "2024-08-03"), (5, "2024-08-03")],
                "k long, day string",
            )
        )
        tbl.delete_partitions(day="2024-08-01")
        return (
            tbl.read().groupBy("day").agg(F.count("*").alias("n_rows")).localCheckpoint()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- time travel ---------------------------------------------------------------


@query(
    "q_time_travel",
    tags=("storage", "versioning"),
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
      (1, 3, 6),
      (2, 4, 10)
    ) AS t(as_of_batch, n_rows, key_sum)
    """,
)
def q_time_travel(spark, sf_dir):
    """Time travel (``read_as_of`` — Delta ``versionAsOf`` parity): three
    committed batches, and each historical snapshot must reconstruct the
    table EXACTLY as it stood after that batch (row count + key sum per
    version, hash-pinned). Snapshots resolve from batch-prefixed file
    names + commit markers — O(files) metadata, no data copy per
    version."""
    base = _tmp("ttravel")
    tbl = PartitionedTable(spark, os.path.join(base, "t"), ["day"])
    try:
        tbl.append_batch(
            spark.createDataFrame([(1, "2024-08-01"), (2, "2024-08-02")], "k long, day string"), 0
        )
        tbl.append_batch(spark.createDataFrame([(3, "2024-08-02")], "k long, day string"), 1)
        tbl.append_batch(spark.createDataFrame([(4, "2024-08-03")], "k long, day string"), 2)
        snaps = []
        for b in tbl.committed_batches():
            snaps.append(
                tbl.read_as_of(b).agg(
                    F.lit(b).cast("long").alias("as_of_batch"),
                    F.count("*").cast("long").alias("n_rows"),
                    F.sum("k").cast("long").alias("key_sum"),
                )
            )
        out = snaps[0]
        for s in snaps[1:]:
            out = out.unionAll(s)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# Every qid this module registered runs its micro-pipeline under the
# scoped shuffle-partition count — no opt-in list to forget.
for _name in set(_Q) - _PRE_EXISTING:
    _Q[_name].fn = _scoped(_Q[_name].fn)
