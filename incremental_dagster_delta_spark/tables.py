"""Testdata table loaders (TESTDATA.md / FIXTURES.md §B)."""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = {"region", "nation", "supplier"}


def ensure_session_defaults(spark: SparkSession) -> None:
    """One-time bootstrap of session confs this package requires, for
    sessions NOT built by :func:`session.get_spark` (the driver owns its
    own SparkSession). Idempotent and guarded — it never flips a conf that
    is already correct, so interleaved queries see a stable session. The
    confs involved: ``nanosAsLong`` — on Spark readers that still honor
    it, events.parquet's ``timestamp[ns]`` column arrives as LONG nanos;
    on PySpark ≥4.1 the conf is ignored and the column arrives as
    TIMESTAMP_NTZ directly — :func:`load_table` adapts to whichever dtype
    the reader actually produced, so setting this is a harmless fallback.
    And the UTC session timezone (r15 review): the NTZ branch casts the
    wall-clock to an instant via the session timezone, so a driver-owned
    session running non-UTC would shift every instant-based op (tumbling
    windows align to epoch instants) away from the DuckDB oracle's naive
    buckets."""
    for key, want in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            current = spark.conf.get(key)
        except Exception:
            current = None
        if current != want:
            try:
                spark.conf.set(key, want)
            except Exception:
                pass  # conf removed on some versions — callers cope


# Session confs that change what parquet schema inference returns for the
# same file; each is part of the schema cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (qualified path, length, mtime ms, conf values) -> inferred StructType.
_SCHEMAS: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    jvm = spark.sparkContext._jvm
    hpath = getattr(jvm, "org.apache.hadoop.fs.Path")(path)
    status = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).getFileStatus(hpath)
    key = (
        status.getPath().toString(),
        status.getLen(),
        status.getModificationTime(),
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table.

    The parquet schema is inferred once per process and then cached:
    ``spark.read.parquet`` infers it by reading the file footer in a Spark
    job on every call, so a cached schema read via ``.schema(...)`` fires
    no job at all. This caches catalog metadata (what a Hive or Delta
    catalog stores), never data. The key is the file's qualified path,
    length and modification time from one Hadoop ``getFileStatus`` call,
    so a file rewritten at the same path is re-inferred; plus the session
    values of the confs that change inference (``nanosAsLong``,
    ``binaryAsString``, ``int96AsTimestamp``, ``inferTimestampNTZ``), so a
    session that flips one gets the types it asked for. A directory path
    is keyed by the directory's own status, which a file rewritten in
    place inside it does not change.

    ``events.parquet`` stores nanosecond timestamps (``timestamp[ns]``).
    Different Spark versions surface that column differently, so the
    conversion branches on the ACTUAL dtype the reader produced:

    - ``bigint`` (``nanosAsLong`` honored, Spark ≤4.0): integer-divide to
      µs and rebuild a TimestampType.
    - ``timestamp_ntz`` (PySpark ≥4.1.2, which ignores the legacy conf and
      µs-truncates the nanos itself): cast to session-tz ``timestamp`` —
      the session timezone is UTC (session.py), so wall-clock values are
      unchanged and the schema matches DuckDB's TIMESTAMP in the oracle
      compare.
    - ``timestamp``: already what we want; pass through.

    Either way the result is µs-truncated exactly like DuckDB's TIMESTAMP,
    so oracle comparisons agree to the microsecond.
    """
    # Every table load (r15 review: previously events-only, but the
    # date-rendering queries on orders/lineitem — date_format, o_year,
    # datediff buckets — depend on the UTC session timezone just as the
    # instant-based events ops do; a driver-owned non-UTC session would
    # render every stored-at-UTC-midnight date as the previous day).
    ensure_session_defaults(spark)
    if name == "events":
        df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        ts_dtype = dict(df.dtypes)["ts"]
        if ts_dtype == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_dtype != "timestamp":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _input_bytes(df: DataFrame) -> int | None:
    """Best-effort input size of ``df``'s scan: sum of local input file
    sizes, falling back to the optimizer's file-index statistics; None
    when unknown (remote files without stats, checkpointed sources).
    Shared by :func:`sized_shuffle` and :func:`fan_out` — never stats
    remote files per-path from the driver (100k files = 100k serial RPCs
    before the query)."""
    from urllib.parse import urlparse

    byts = 0
    # Zero input files (a localCheckpoint()ed intermediate, a
    # createDataFrame source) is an UNKNOWN size, not a known 0-byte
    # input (r15 review).
    files = df.inputFiles()
    unsized = not files
    for p in files:
        parsed = urlparse(p)
        if parsed.scheme in ("", "file"):
            # urlparse handles both file:///x and single-slash file:/x URIs.
            if os.path.exists(parsed.path):
                byts += os.path.getsize(parsed.path)
            else:
                unsized = True
        else:
            unsized = True
    if unsized:
        # Fall back to the optimizer's file-index statistics — the scan's
        # total bytes, already cached by the FileIndex with zero extra
        # RPCs. If even that is unknown (the ~8 EB "unknown" default or
        # zero), report unknown rather than an under-count.
        try:
            stat = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            stat = 0
        if 0 < stat < (1 << 50):
            return stat
        return None
    return byts


# fan_out width floor for LINEAR per-byte corpus map stages (tokenize /
# shingle / sketch): ~32 KB of on-disk input per task ≈ 100-250 ms of
# shingle work at the measured rates — enough to amortize per-task
# constants without starving a healthy host. Adopted r16 after a
# 6-qid interleaved family A/B at canary 13.9-16.3 (OPTIMIZATION_r16.md:
# minhash 0.79×, ngram_jaccard 0.68×, cms 0.52×, doc_similarity 0.70×,
# decontaminate 0.82×); the embeddings-input class (pq_codes 0.94× with
# losing pairs) stays at full width. At real scale bytes/32 KB dwarfs
# 2×parallelism, so the floor never binds and fan_out stays a no-op on
# an already-split scan.
SHINGLE_TASK_BYTES = 32 << 10


def fan_out(
    df: DataFrame,
    spark: SparkSession,
    factor: int = 2,
    per_task_bytes: int | None = None,
) -> DataFrame:
    """Ensure at least ``factor × defaultParallelism`` partitions before a
    map-heavy stage (shingling, hashing, vector math).

    Small single-file parquet inputs arrive as ONE split, which serializes
    the whole map side onto one core. On a real cluster the scan already
    has thousands of splits and this is a no-op — the repartition only
    fires when the input is under-split for the machine.

    ``per_task_bytes`` (opt-in, r16) additionally floors the width at
    ``max(2, input_bytes / per_task_bytes)`` so a sub-MB input stops
    paying ``factor × parallelism`` near-empty tasks per downstream map
    wave; at real scale ``bytes/per_task_bytes`` dwarfs the machine
    width, so the cap never binds and the behavior is identical. Only
    use it for LINEAR per-byte map stages — a stage whose work EXPANDS
    superlinearly past the fan-out point (pair self-joins, Levenshtein
    blocks) wants full machine width regardless of input bytes."""
    target = factor * spark.sparkContext.defaultParallelism
    if per_task_bytes:
        byts = _input_bytes(df)
        if byts is not None:
            target = min(target, max(2, byts // per_task_bytes + 1))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def literal_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Single-partition DataFrame from a small literal row list — the
    fan_out inverse, for pinned oracle scenarios. ``schema`` is a DDL
    string or a StructType (q_row_construction passes the latter).

    ``spark.createDataFrame(list)`` parallelizes the pickled rows over
    defaultParallelism slices, and each slice's iterator is produced by
    a PYTHON worker round-trip. For a handful of literal rows that shape
    is pure overhead, and ``.coalesce(1)`` on top is the worst case: the
    single merged task walks all 32 parent slices SEQUENTIALLY, paying
    ~150 ms of worker handshake per slice (~5 s measured for a 6-row
    scenario — vs 0.2 s via this helper).

    Flat scalar rows (r16) take a parameterized ``VALUES`` fast path: a
    genuine LocalRelation, so ``isEmpty()``/``count()`` probes fold in
    the optimizer WITHOUT launching a job and even the write job skips
    the Python worker entirely (measured per 1-row append at equal
    canary: isEmpty+write 790 ms via the RDD path → 270 ms — the
    q_compaction_stats append loop and the streaming fixture writes are
    built from exactly these). Values travel as named sql() parameters
    (no string escaping), each column CAST to its declared type, so the
    result schema is identical to the RDD path's. Rows with arrays/
    structs/maps — or any value the parameter binder can't take — fall
    back to the RDD path: ONE slice, one python round-trip, a genuinely
    1-partition plan. (The RDD fallback is NOT Spark Connect-compatible;
    on a Connect session use plain ``createDataFrame(rows, schema)``.)"""
    import datetime

    from pyspark.sql.types import ArrayType, MapType, StructType

    rows = list(rows)
    st = None
    if rows:
        try:
            st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
        except Exception:
            st = None
    atomic = (str, int, float, bool, bytes, datetime.date, datetime.datetime, type(None))
    if (
        isinstance(st, StructType)
        and all(not isinstance(f.dataType, (ArrayType, MapType, StructType)) for f in st.fields)
        and all(
            isinstance(r, (tuple, list))
            and len(r) == len(st.fields)
            and all(isinstance(v, atomic) for v in r)
            for r in rows
        )
    ):
        try:
            args: dict = {}
            tuples = []
            for i, r in enumerate(rows):
                ph = []
                for j, v in enumerate(r):
                    k = f"p{i}_{j}"
                    args[k] = v
                    ph.append(f":{k}")
                tuples.append("(" + ", ".join(ph) + ")")
            cols = ", ".join(f"c{j}" for j in range(len(st.fields)))
            # IF(TRUE, …, NULL) pins analysis-time nullability to the
            # declared (default-nullable) schema — a VALUES column with
            # no NULLs would otherwise infer non-nullable and diverge
            # from the RDD path's schema; the optimizer still folds the
            # projection into the LocalRelation for execution.
            sel = ", ".join(
                (
                    f"IF(TRUE, CAST(c{j} AS {f.dataType.simpleString()}), NULL) AS `{f.name}`"
                    if f.nullable
                    else f"CAST(c{j} AS {f.dataType.simpleString()}) AS `{f.name}`"
                )
                for j, f in enumerate(st.fields)
            )
            return spark.sql(
                f"SELECT {sel} FROM (VALUES {', '.join(tuples)}) AS t({cols})",
                args=args,
            )
        except Exception:
            pass  # parameter binding not available/failed — RDD path below
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


@contextmanager
def sized_shuffle(
    df: DataFrame,
    expansion: float = 4.0,
    per_partition_bytes: int = 32 << 20,
):
    """The scoped small-input execution policy, set on the session that
    runs ``df``'s plan (``df.sparkSession``). Inside the scope:

    - ``spark.sql.shuffle.partitions`` is sized to the volume THIS query
      will actually shuffle: ``expansion ×`` the input's on-disk bytes
      (``df.inputFiles()``), one partition per ~32 MB, floored at a
      quarter of the machine's parallelism;
    - AQE (``spark.sql.adaptive.enabled``) is off exactly when that count
      sits at its floor, i.e. the estimated shuffle is at most
      ``floor × per_partition_bytes``.

    Rationale for the count: a session-wide partition count can't fit
    every query. The dedup/docsim family shuffles tens of MB at test
    scale factors — across 64 session-default partitions that is
    ~0.5 MB/task, and the per-task constant costs (sort-run setup,
    codegen init, commit) cost more than the data (measured: the
    q_ngram_jaccard pair join runs 2.3× faster at 8 partitions than at
    64 on sf0.1). The same formula sized from a 100 TB input yields
    thousands of partitions — this is the per-job shuffle sizing a
    cluster submit would configure, derived from input stats instead of
    hard-coded. AQE can only coalesce DOWN toward the machine's
    parallelism floor (``parallelismFirst``), so it never reaches the
    size-optimal count for sub-GB shuffles, and disabling
    ``parallelismFirst`` over-coalesces to one serial task.

    Rationale for AQE off at the floor: none of AQE's runtime rewrites
    has anything to act on there. Coalescing would stop at the floor
    anyway, and skew splitting starts at 256 MB per partition. What AQE
    still does is submit every shuffle stage as its own Spark job,
    ~74 ms each on a 4-vCPU host — the dominant cost of a small
    iterative query. Above the floor AQE stays on, so its coalescing
    and skew handling cover every input big enough to need them.

    An UNKNOWN input size (see :func:`_input_bytes`) leaves both confs
    alone rather than override with an under-count — pinning the floor
    there would force a possibly-multi-GB shuffle into a handful of
    partitions (r15 review) with AQE unable to split its skew.

    The scope follows ``df`` rather than taking a session argument: a
    ``foreachBatch`` body receives its DataFrame bound to the stream's
    cloned session, whose confs a caller's ``spark`` handle neither sees
    nor sets.
    """
    byts = _input_bytes(df)
    if byts is None:
        yield
        return
    spark = df.sparkSession
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    n = max(floor, min(100_000, int(byts * expansion / per_partition_bytes) + 1))
    confs = {"spark.sql.shuffle.partitions": str(n)}
    if n == floor:
        confs["spark.sql.adaptive.enabled"] = "false"
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


_EAGER_MATERIALIZE = True


@contextmanager
def lazy_plans():
    """Disable eager materialization inside queries so their FULL logical
    plan stays inspectable (plan-shape regression tests). Within this
    context, ``materialize_release`` is a no-op passthrough: cached
    intermediates stay persisted — callers should ``clearCache()`` after."""
    global _EAGER_MATERIALIZE
    prev = _EAGER_MATERIALIZE
    _EAGER_MATERIALIZE = False
    try:
        yield
    finally:
        # restore (not hardcode True): nested lazy_plans scopes must not
        # re-enable eager materialization for the outer scope (r15 review)
        _EAGER_MATERIALIZE = prev


def materialize_release(df: DataFrame, *cached: DataFrame) -> DataFrame:
    """Run ``df`` to completion now, then free the cached intermediates.

    Queries that ``persist()`` an intermediate referenced from multiple
    branches (inverted indexes, LSH band tables, IVF assignments) must not
    leak those cached blocks into a long-lived session: the driver runs
    100+ queries in ONE session, and accumulated caches eventually evict
    each other or spill (r2 verdict item 5). ``localCheckpoint(eager=True)``
    materializes the (small) final result and truncates its lineage, after
    which the intermediates are no longer referenced and can be unpersisted
    immediately — deterministic cleanup instead of waiting on the
    ContextCleaner's GC cycle. The checkpointed result itself is the
    query's output (top-k lists, dedup pairs — thousands of rows at most),
    so its block-manager footprint is negligible and is reclaimed when the
    returned DataFrame is dropped.
    """
    if not _EAGER_MATERIALIZE:
        return df
    try:
        out = df.localCheckpoint(eager=True)
    finally:
        # unpersist even when execution fails: a qid dying mid-sweep must
        # not leak its cached intermediates into the long-lived session —
        # the exact leak this helper exists to prevent (r15 review)
        for c in cached:
            c.unpersist()
    return out


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each testdata table as a temp view for spark.sql use."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
