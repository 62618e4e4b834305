"""``load_table`` infers each parquet file's schema once per process.

The cache is keyed by the file's status (path, length, mtime) and by the
session confs that change parquet schema inference, so these tests pin
the three behaviours that matter: a repeated load fires no Spark job, a
rewritten file is re-inferred, and a flipped inference conf takes effect.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from incremental_dagster_delta_spark.tables import load_table


def _jobs_in(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` fires, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_fires_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first = _jobs_in(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert first >= 1, "schema inference of an unseen file should run a job"
    second = _jobs_in(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert second == 0
    assert sorted(r.k for r in load_table(spark, str(tmp_path), "t").collect()) == [1, 2, 3]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": [10, 20]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(r.extra for r in df.collect()) == [10, 20]


def test_binary_as_string_flip_changes_type(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(load_table(spark, str(tmp_path), "t").schema["b"].dataType, T.BinaryType)
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert isinstance(df.schema["b"].dataType, T.StringType)
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
    finally:
        spark.conf.set(key, prev)
