"""Each table records its schema at commit and every read loads with it.

``_schema.json`` holds the table's whole Spark schema (data fields in
first-written order, then the partition columns). Reads pass it to
``spark.read.schema``, so building a read fires no Spark job, partition
values keep their written types whatever the session's inference
setting, evolved tables read as the union, and the Delta-log export
takes ``metaData.schemaString`` from the same record.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

from incremental_dagster_delta_spark.deltalog import DeltaLogExporter, _replay, read_delta_log
from incremental_dagster_delta_spark.tableio import HIVE_NULL_PARTITION, PartitionedTable

INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"


def _jobs_in(spark, fn):
    """(``fn()``, number of Spark jobs it fired), counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"table-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def inference_on(spark):
    """Partition type inference switched on for one test, restored after."""
    prev = spark.conf.get(INFER, None)
    spark.conf.set(INFER, "true")
    yield
    if prev is None:
        spark.conf.unset(INFER)
    else:
        spark.conf.set(INFER, prev)


def _typed_table(spark, path) -> PartitionedTable:
    """``month`` a zero-padded string partition, ``n`` an int partition
    with one null-valued leaf."""
    t = PartitionedTable(spark, str(path), ["month", "n"])
    schema = "k long, v string, month string, n int"
    t.append_batch(spark.createDataFrame([(1, "a", "03", 7), (2, "b", "03", None)], schema), 0)
    t.append_batch(spark.createDataFrame([(3, "c", "11", 7)], schema), 1)
    return t


def _types(df) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def test_reads_and_export_fire_no_spark_job(spark, tmp_path):
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    schema = "k long, v string, day string"
    t.append_batch(spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], schema), 0)
    t.append_batch(spark.createDataFrame([(3, "c", "d1")], schema), 1)
    builds = {
        "read": t.read,
        "read(predicate)": lambda: t.read("day = 'd1'"),
        "read_partition": lambda: t.read_partition(day="d1"),
        "read_as_of": lambda: t.read_as_of(0),
    }
    for name, build in builds.items():
        _, jobs = _jobs_in(spark, build)
        assert jobs == 0, name

    exporter = DeltaLogExporter(t)
    version, jobs = _jobs_in(spark, exporter.export)
    assert (version, jobs) == (0, 0)
    t.append_batch(spark.createDataFrame([(4, "d", "d3")], schema), 2)
    version, jobs = _jobs_in(spark, exporter.export)
    assert (version, jobs) == (1, 0)
    assert sorted(r["k"] for r in t.read_as_of(0).collect()) == [1, 2]


def test_recorded_types_survive_session_inference(spark, tmp_path, inference_on):
    t = _typed_table(spark, tmp_path / "t")
    df = t.read()
    assert _types(df) == {"k": "bigint", "v": "string", "month": "string", "n": "int"}
    assert sorted(r["month"] for r in df.collect()) == ["03", "03", "11"]
    assert t.read_partition(month="03").count() == 2

    null_leaf = t._live_data_files()[f"month=03/n={HIVE_NULL_PARTITION}"]
    only_null = t._read_files(null_leaf)
    assert _types(only_null)["n"] == "int"
    assert [(r["k"], r["n"]) for r in only_null.collect()] == [(2, None)]


def test_evolved_table_reads_union_and_exports_it(spark, tmp_path):
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append(spark.createDataFrame([(1, "d1")], "k long, day string"))
    t.append(spark.createDataFrame([(2, 0.5, "d2")], "k long, score double, day string"))
    df = t.read()
    assert df.columns == ["k", "score", "day"]
    assert sorted((r["k"], r["score"]) for r in df.collect()) == [(1, None), (2, 0.5)]

    DeltaLogExporter(t).export()
    meta = _replay(os.path.join(t.path, "_delta_log"))[2]
    assert meta["schemaString"] == df.schema.json()
    assert read_delta_log(t).schema == df.schema


def test_zero_row_commit_reads_empty_with_its_schema(spark, tmp_path):
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    assert t.append_batch(spark.createDataFrame([], "k long, v string, day string"), 0) is False
    assert t.committed_batches() == [0]
    df = t.read()
    assert _types(df) == {"k": "bigint", "v": "string", "day": "string"}
    assert df.count() == 0


def test_conflicting_type_raises_before_commit(spark, tmp_path):
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(spark.createDataFrame([(1, "d1")], "k long, day string"), 0)
    record = tmp_path / "t" / "_schema.json"
    before = record.read_bytes()
    bad = spark.createDataFrame([("x", "d1")], "k string, day string")
    writes = {
        "append_batch": lambda: t.append_batch(bad, 1),
        "overwrite_partitions": lambda: t.overwrite_partitions(bad, day="d1"),
        "append": lambda: t.append(bad),
    }
    for name, write in writes.items():
        with pytest.raises(ValueError, match="'k'"):
            write()
        assert t.committed_batches() == [0], name
        assert not os.path.exists(t.path + ".overwrite_pending.json"), name
        assert [(r["k"], r["day"]) for r in t.read().collect()] == [(1, "d1")], name
        assert record.read_bytes() == before, name


def test_torn_record_falls_back_to_tmp_leftover(spark, tmp_path, inference_on):
    t = _typed_table(spark, tmp_path / "t")
    record = tmp_path / "t" / "_schema.json"
    doc = record.read_bytes()
    (tmp_path / "t" / f"_schema.json.tmp-{uuid.uuid4().hex}").write_bytes(doc)
    record.write_bytes(doc[: len(doc) // 2])
    with pytest.raises(json.JSONDecodeError):
        json.loads(record.read_bytes())
    df = t.read()
    assert _types(df) == {"k": "bigint", "v": "string", "month": "string", "n": "int"}
    assert sorted(r["month"] for r in df.collect()) == ["03", "03", "11"]
