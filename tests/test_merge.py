"""MERGE-equivalent partition upsert tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from incremental_dagster_delta_spark.tableio import PartitionedTable


def _rows(table):
    return sorted((r["k"], r["day"], r["v"]) for r in table.read().collect())


def test_merge_partition_upserts(spark, tmp_path):
    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        "k long, v string, day string",
    )
    table.append(base.repartition("day"))

    updates = spark.createDataFrame(
        [(2, "B2", "2024-01-01"), (9, "new", "2024-01-01")], "k long, v string, day string"
    )
    table.merge_partition(updates, ["k"], day="2024-01-01")

    assert _rows(table) == [
        (1, "2024-01-01", "a"),  # untouched existing
        (2, "2024-01-01", "B2"),  # updated
        (3, "2024-01-02", "c"),  # other partition untouched
        (9, "2024-01-01", "new"),  # inserted
    ]

    # idempotent: merging the same updates again changes nothing
    table.merge_partition(updates, ["k"], day="2024-01-01")
    assert len(_rows(table)) == 4


def test_merge_rejects_rows_outside_target_partition(spark, tmp_path):
    """ADVICE fix: updates for OTHER partitions must be rejected loudly —
    appending them would skip the anti-join dedup (which only read the
    target partition) and silently duplicate keys elsewhere."""
    import pytest

    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (3, "c", "2024-01-02")], "k long, v string, day string"
    )
    table.append(base.repartition("day"))
    stray = spark.createDataFrame(
        [(2, "B2", "2024-01-01"), (3, "SNEAK", "2024-01-02")], "k long, v string, day string"
    )
    with pytest.raises(ValueError, match="outside the target partition"):
        table.merge_partition(stray, ["k"], day="2024-01-01")
    # table unchanged — no partial merge
    assert len(_rows(table)) == 2


def test_merge_into_empty_table(spark, tmp_path):
    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    updates = spark.createDataFrame([(1, "x", "2024-01-01")], "k long, v string, day string")
    table.merge_partition(updates, ["k"], day="2024-01-01")
    assert table.read().count() == 1
    assert table.read().where(F.col("v") == "x").count() == 1


def test_rejected_merge_leaves_partition_unchanged(spark, tmp_path):
    """A merge refused by a CHECK constraint must not touch the target
    partition: the constraint is checked before anything stages, and
    the partition is replaced in the same transaction that writes it."""
    import pytest

    from incremental_dagster_delta_spark.tableio import CheckConstraintViolation

    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    table.append(
        spark.createDataFrame(
            [(1, 10, "d1"), (2, 20, "d1"), (3, 30, "d2")], "k long, v long, day string"
        ).repartition("day")
    )
    table.add_check_constraint("v_positive", "v > 0")
    bad = spark.createDataFrame([(2, -5, "d1")], "k long, v long, day string")
    with pytest.raises(CheckConstraintViolation):
        table.merge_partition(bad, ["k"], day="d1")
    assert sorted((r["k"], r["v"], r["day"]) for r in table.read().collect()) == [
        (1, 10, "d1"),
        (2, 20, "d1"),
        (3, 30, "d2"),
    ]
