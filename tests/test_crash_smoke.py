"""Crash smoke test for the maintenance commit path, in the default
selection: one ``compact()``, one refresh-style ``overwrite_partitions``
and one deletion-vector ``purge()``, each killed right after writing its
intent marker, then ``recover()`` — rows and history floor must land
exactly where the uncrashed call would have put them. A last case reads
the change feed across such a recovered purge. The full crash
matrices (slow) live in test_compaction_crash, test_overwrite_crash,
test_maintenance_crash and test_history_floor.
"""

from __future__ import annotations

import os

import pytest

from incremental_dagster_delta_spark.tableio import (
    DeletionVectors,
    PartitionedTable,
    change_feed,
)

SCHEMA = "k long, v string, day string"
D1, D2 = "2024-01-01", "2024-01-02"


def _table(spark, path) -> PartitionedTable:
    t = PartitionedTable(spark, str(path), ["day"])
    for b in (1, 2):
        t.append_batch(
            spark.createDataFrame([(10 * b, "a", D1), (10 * b + 1, "b", D2)], SCHEMA), b
        )
    return t


def _crash_after_marker(monkeypatch, t, op) -> None:
    def crash(self, fs, Path):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(PartitionedTable, "_complete_overwrite", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        op()
    monkeypatch.undo()
    assert os.path.exists(t.path + ".overwrite_pending.json")
    t.recover()
    assert not os.path.exists(t.path + ".overwrite_pending.json")


def _keys(df) -> list[int]:
    return sorted(r["k"] for r in df.collect())


def test_compact_crash_recovers(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "t")
    _crash_after_marker(monkeypatch, t, t.compact)
    assert _keys(t.read()) == [10, 11, 20, 21]
    assert t._history_floor_info() == (2, True)  # row-preserving: exact
    assert _keys(t.read_as_of(2)) == [10, 11, 20, 21]


def test_refresh_crash_recovers(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "t")
    fresh = spark.createDataFrame([(99, "new", D1)], SCHEMA)
    _crash_after_marker(monkeypatch, t, lambda: t.overwrite_partitions(fresh, day=D1))
    assert _keys(t.read()) == [11, 21, 99]
    assert t._history_floor_info() == (2, False)  # row-changing: refused at floor


def test_purge_crash_recovers(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "t")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(10,), (21,)], "k long"), 3)
    _crash_after_marker(monkeypatch, t, dv.purge)
    # rewrite rolled forward; the watermark advance was lost with the
    # crash, so the tombstones still apply (a no-op on purged files)
    assert _keys(t.read()) == [11, 20]
    assert _keys(dv.read()) == [11, 20]
    assert dv.applied_through() == -1
    assert t._history_floor_full() == (2, False, True, 3)
    assert dv.purge() == 2  # re-run re-advances the watermark
    assert dv.applied_through() == 3
    assert _keys(dv.read()) == [11, 20]


def test_change_feed_across_recovered_purge(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "t")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(10,), (21,)], "k long"), 3)
    _crash_after_marker(monkeypatch, t, dv.purge)
    t.append_batch(spark.createDataFrame([(40, "c", D1), (41, "d", D2)], SCHEMA), 4)
    # delete version 3 is baked into the files while the watermark
    # advance was lost: its rows cannot be reconstructed
    with pytest.raises(ValueError, match="purge_through=3"):
        change_feed(t, dv, 2, 4)
    feed = change_feed(t, dv, 3, 4).collect()
    assert sorted((r["k"], r["_change_type"], r["_commit_version"]) for r in feed) == [
        (40, "insert", 4),
        (41, "insert", 4),
    ]
