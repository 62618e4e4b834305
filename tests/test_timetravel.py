"""Time-travel (snapshot-as-of-batch) reads on PartitionedTable.

The reference inherits version history from delta-rs; here the
``b{batch_id}-`` file prefixes plus commit markers reconstruct any
committed snapshot.
"""

from __future__ import annotations

from incremental_dagster_delta_spark.tableio import PartitionedTable

import pytest


def _keys(df):
    return sorted(r["k"] for r in df.collect())


def test_read_as_of_reconstructs_each_snapshot(spark, tmp_path):
    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    schema = "k long, v string, day string"
    table.append_batch(
        spark.createDataFrame([(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], schema), 0
    )
    table.append_batch(spark.createDataFrame([(3, "c", "2024-01-01")], schema), 1)
    table.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], schema), 2)

    assert table.committed_batches() == [0, 1, 2]
    assert _keys(table.read_as_of(0)) == [1, 2]
    assert _keys(table.read_as_of(1)) == [1, 2, 3]
    assert _keys(table.read_as_of(2)) == [1, 2, 3, 4]
    # as-of between commits resolves to the highest committed id below it
    assert _keys(table.read_as_of(10)) == [1, 2, 3, 4]
    # current read sees everything the latest snapshot sees
    assert _keys(table.read()) == _keys(table.read_as_of(2))
    # partition columns survive the file-list read path
    snap = table.read_as_of(1)
    assert "day" in snap.columns
    assert sorted(r["day"] for r in snap.collect()) == [
        "2024-01-01",
        "2024-01-01",
        "2024-01-02",
    ]


def test_read_as_of_skips_uncommitted_and_empty(spark, tmp_path):
    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    schema = "k long, v string, day string"
    table.append_batch(spark.createDataFrame([(1, "a", "2024-01-01")], schema), 0)
    # empty batch commits a marker but publishes no files
    table.append_batch(spark.createDataFrame([], schema), 1)
    assert table.committed_batches() == [0, 1]
    assert _keys(table.read_as_of(1)) == [1]

    import pytest

    with pytest.raises(ValueError):
        table.read_as_of(-1)


def test_schema_evolution_merge_read(spark, tmp_path):
    """A later append may add columns (Delta mergeSchema parity): the
    plain read serves the recorded union schema, with the new columns
    as nulls on old rows."""
    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    table.append(spark.createDataFrame([(1, "a", "2024-01-01")], "k long, v string, day string"))
    table.append(
        spark.createDataFrame(
            [(2, "b", 7.5, "2024-01-02")], "k long, v string, score double, day string"
        )
    )
    merged = table.read()
    assert set(merged.columns) == {"k", "v", "score", "day"}
    by_k = {r["k"]: r["score"] for r in merged.collect()}
    assert by_k == {1: None, 2: 7.5}
    assert merged.count() == 2


def test_commit_markers_carry_row_metrics(spark, tmp_path):
    """append_batch records numOutputRows in the commit marker (Delta
    operationMetrics parity) via an Observation — no second counting
    job."""
    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    schema = "k long, v string, day string"
    table.append_batch(
        spark.createDataFrame([(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], schema), 0
    )
    table.append_batch(spark.createDataFrame([(3, "c", "2024-01-01")], schema), 1)
    table.append_batch(spark.createDataFrame([], schema), 2)
    m = table.batch_metrics()
    assert m[0]["rows"] == 2
    assert m[1]["rows"] == 1
    assert m[2]["rows"] == 0


def _fresh(spark, tmp_path, name="r"):
    table = PartitionedTable(spark, str(tmp_path / name), ["day"])
    schema = "k long, v string, day string"
    table.append_batch(
        spark.createDataFrame([(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], schema), 0
    )
    table.append_batch(spark.createDataFrame([(3, "c", "2024-01-01")], schema), 1)
    table.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], schema), 2)
    return table, schema


def test_restore_rolls_back_to_snapshot(spark, tmp_path):
    """restore(N) must leave read() == the pre-restore read_as_of(N),
    clear the rolled-back markers, and re-open the ids for replay."""
    table, schema = _fresh(spark, tmp_path)
    want = _keys(table.read_as_of(1))
    assert table.restore(1) == 1  # batch 2 rolled back
    assert _keys(table.read()) == want
    assert table.committed_batches() == [0, 1]
    # the rolled-back id is OPEN again: a replay re-publishes it
    assert table.append_batch(
        spark.createDataFrame([(9, "z", "2024-01-09")], schema), 2
    )
    assert _keys(table.read()) == [1, 2, 3, 9]
    # restoring to the current head is a no-op
    assert table.restore(2) == 0


def test_restore_is_idempotent_and_validates(spark, tmp_path):
    import pytest as _pytest

    table, schema = _fresh(spark, tmp_path)
    assert table.restore(0) == 2
    assert table.restore(0) == 0  # idempotent: nothing left to roll back
    assert _keys(table.read()) == [1, 2]
    with _pytest.raises(ValueError):
        table.restore(-1)  # no committed batch at or below


def test_restore_refuses_collapsed_history(spark, tmp_path):
    """compact() rewrites files without batch prefixes — restoring past
    it must refuse loudly (same contract as read_as_of), EXCEPT for
    0-row commits, which never had files and roll back marker-only."""
    import pytest as _pytest

    table, schema = _fresh(spark, tmp_path)
    table.compact()
    with _pytest.raises(ValueError, match="collapsed"):
        table.restore(1)
    # current state still fully readable
    assert _keys(table.read()) == [1, 2, 3, 4]
    # an empty commit after compaction CAN be rolled back: no files to lose
    empty = spark.createDataFrame([], "k long, v string, day string")
    table.append_batch(empty, 7)  # writes a 0-row marker
    assert 7 in table.committed_batches()
    assert table.restore(2) == 1
    assert 7 not in table.committed_batches()
    assert _keys(table.read()) == [1, 2, 3, 4]
