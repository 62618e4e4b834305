"""Crash-test compact()'s commit (r2 verdict item 8).

compact() commits through ``overwrite_partitions``: stage the rewrite
(``.overwriting``) → write the intent marker
(``.overwrite_pending.json``) → per leaf, rename live → ``.preoverwrite``
shadow, rename staged → live, salvage (hidden root entries for the
unpartitioned whole-root swap; unconsumed racer files), delete the
shadow → advance the history floor → delete the marker. Each test
injects a crash at one of those steps, then asserts ``recover()`` (or
the next ``compact()``) converges to a complete, readable table with its
commit history intact and the floor advanced exactly as the happy path
would — the "readers never see a partial table" guarantee the parquet
fallback owes to Delta parity.
"""

from __future__ import annotations

import os

from incremental_dagster_delta_spark import tableio
from incremental_dagster_delta_spark.tableio import PartitionedTable

import pytest


def _make_table(spark, path: str, partition_cols=("day",)) -> PartitionedTable:
    table = PartitionedTable(spark, path, list(partition_cols))
    df = spark.createDataFrame(
        [(i, f"v{i}", "2024-01-0" + str(1 + i % 2)) for i in range(10)],
        "k long, v string, day string",
    )
    table.append_batch(df.repartition("day"), 1)
    return table


def _crashed_compact(monkeypatch, table, owner, name: str) -> None:
    """Run ``table.compact()`` with ``owner.name`` raising, simulating
    the process dying there."""

    def crash(*args, **kwargs):
        raise RuntimeError(f"simulated crash at {name}")

    monkeypatch.setattr(owner, name, crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        table.compact()
    monkeypatch.undo()


def _assert_intact(table: PartitionedTable) -> None:
    assert table.read().count() == 10
    assert sorted(r["k"] for r in table.read().collect()) == list(range(10))
    assert table.committed_batches() == [1]
    for suffix in (".overwriting", ".overwrite_pending.json", ".preoverwrite"):
        assert not os.path.exists(table.path.rstrip("/") + suffix)
    # row-preserving rewrite: floor at the plan-time head, at-floor exact
    assert table._history_floor_info() == (1, True)
    assert table.read_as_of(1).count() == 10


def test_crash_after_intent_marker_before_swap(spark, tmp_path, monkeypatch):
    """Staging and marker written, no leaf swapped: readers still see the
    old files; recovery rolls the committed rewrite FORWARD."""
    path = str(tmp_path / "t")
    table = _make_table(spark, path)
    _crashed_compact(monkeypatch, table, PartitionedTable, "_complete_overwrite")
    assert os.path.exists(path + ".overwrite_pending.json")
    assert table.read().count() == 10
    table.recover()
    _assert_intact(table)


def test_crash_between_leaf_swaps(spark, tmp_path, monkeypatch):
    """First leaf swapped (its shadow not yet deleted), second leaf not
    swapped: every leaf is whole, and recovery finishes the plan."""
    path = str(tmp_path / "t")
    table = _make_table(spark, path)
    _crashed_compact(monkeypatch, table, tableio, "_salvage_unconsumed_data_files")
    assert os.path.exists(path + ".preoverwrite")
    assert table.read().count() == 10
    table.recover()
    _assert_intact(table)


def test_crash_after_root_promote_before_sidecar_move(spark, tmp_path, monkeypatch):
    """Unpartitioned whole-root swap: staging promoted to root, but
    _commits still lives in the shadow. Recovery must roll FORWARD and
    salvage the markers."""
    path = str(tmp_path / "t")
    table = _make_table(spark, path, partition_cols=())
    _crashed_compact(monkeypatch, table, tableio, "_salvage_hidden_root_entries")
    # markers were not moved: root has none, the shadow has them
    assert not os.path.exists(os.path.join(path, "_commits"))
    assert os.path.exists(os.path.join(path + ".preoverwrite", "_commits"))
    table.recover()
    _assert_intact(table)


def test_crash_after_swaps_before_floor_advance(spark, tmp_path, monkeypatch):
    """Every leaf swapped; only the floor advance and the marker delete
    were lost."""
    path = str(tmp_path / "t")
    table = _make_table(spark, path)
    _crashed_compact(monkeypatch, table, PartitionedTable, "_advance_history_floor")
    assert table._history_floor() == -1
    table.recover()
    _assert_intact(table)


@pytest.mark.parametrize("crash_point", ["_complete_overwrite", "_advance_history_floor"])
def test_compact_runs_recovery_first(spark, tmp_path, monkeypatch, crash_point):
    """compact() itself must self-heal a previous interrupted commit
    before rewriting, so a crashed compaction followed by another
    compaction never loses data."""
    path = str(tmp_path / "t")
    table = _make_table(spark, path)
    _crashed_compact(monkeypatch, table, PartitionedTable, crash_point)
    n = table.compact()
    assert n > 0
    _assert_intact(table)


def test_compact_honors_target_files_per_partition(spark, tmp_path):
    """ADVICE fix: repartition by partition cols alone always yields one
    file per leaf; the salt path must yield ~target files per leaf."""
    path = str(tmp_path / "t")
    table = PartitionedTable(spark, path, ["day"])
    df = spark.createDataFrame(
        [(i, f"v{i}", "2024-01-01") for i in range(200)], "k long, v string, day string"
    )
    # many small input files
    table.append(df.repartition(16))
    leaf = os.path.join(path, "day=2024-01-01")
    n_before = len([f for f in os.listdir(leaf) if f.endswith(".parquet")])
    assert n_before >= 8
    table.compact(target_files_per_partition=3)
    n_after = len([f for f in os.listdir(leaf) if f.endswith(".parquet")])
    assert 1 <= n_after <= 3
    assert table.read().count() == 200
    table.compact(target_files_per_partition=1)
    n_single = len([f for f in os.listdir(leaf) if f.endswith(".parquet")])
    assert n_single == 1
    assert table.read().count() == 200


def test_read_as_of_history_floor_after_compact(spark, tmp_path):
    """Compaction rewrites away b{id}- prefixes and advances the history
    floor: snapshots BELOW the floor raise a descriptive error (not an
    inscrutable schema-inference failure, and never a silently partial
    snapshot), while the at-floor snapshot stays exactly readable — the
    rewritten unprefixed files ARE the state-at-floor base, and batches
    appended after the compaction layer on top."""
    import pytest

    path = str(tmp_path / "t")
    table = _make_table(spark, path)  # batch 1, 10 rows
    table.append_batch(
        spark.createDataFrame(
            [(100, "x", "2024-01-01")], "k long, v string, day string"
        ),
        2,
    )
    assert table.read_as_of(1).count() == 10  # history intact pre-compact
    table.compact()  # floor -> 2
    with pytest.raises(ValueError, match="collapsed"):
        table.read_as_of(1)
    assert table.read_as_of(2).count() == 11  # at-floor snapshot exact
    # post-compact appends time-travel on top of the rewritten base
    table.append_batch(
        spark.createDataFrame(
            [(101, "y", "2024-01-02")], "k long, v string, day string"
        ),
        3,
    )
    assert table.read_as_of(2).count() == 11
    assert table.read_as_of(3).count() == 12


def test_uncommitted_partials_never_baked_into_rewrites(spark, tmp_path):
    """A crashed writer's marker-less b{id}- files are NOT table state:
    compact() must exclude them from the rewrite (baking them into
    unprefixed files would make the batch's replay a permanent
    duplicate), compact_partitions must not count them toward
    min_files, and the batch's later replay still lands exactly once."""
    import glob
    import os
    import shutil

    path = str(tmp_path / "t")
    table = _make_table(spark, path)  # batch 1, 10 rows, day=01/02
    # fake a crashed batch-9 publish: copy a committed file under b9-
    src = glob.glob(os.path.join(path, "day=*", "b1-*.parquet"))[0]
    orphan = os.path.join(
        os.path.dirname(src), "b9-" + os.path.basename(src).split("-", 1)[1]
    )
    shutil.copyfile(src, orphan)

    # orphan does not count toward the incremental-OPTIMIZE threshold
    leaf = os.path.relpath(os.path.dirname(src), path)
    counts = {lf: n for lf, (_, n) in table._leaf_scopes_counts().items()}
    assert counts[leaf] == 1  # committed file only

    assert table.compact() > 0
    assert table.read().count() == 10  # orphan rows not baked in
    # replay of batch 9 now publishes exactly once
    df9 = spark.createDataFrame(
        [(99, "z", "2024-01-01")], "k long, v string, day string"
    )
    assert table.append_batch(df9, 9) is True
    assert table.read().count() == 11


def test_partial_rewrite_advances_history_floor(spark, tmp_path):
    """Per-leaf incremental OPTIMIZE erases SOME of a batch's prefixed
    files; the history floor turns what used to be silently-partial
    restore/read_as_of/change_feed results into loud refusals below the
    floor — and exact reads at or above it."""
    import pytest

    from incremental_dagster_delta_spark.tableio import change_feed

    schema = "k long, v string, day string"
    table = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    table.append_batch(
        spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], schema), 0
    )
    table.append_batch(
        spark.createDataFrame([(3, "c", "d1"), (4, "d", "d2")], schema), 1
    )
    assert table.compact_partitions(min_files=2) == 2  # floor -> 1
    for fn in (table.read_as_of, table.restore):
        with pytest.raises(ValueError, match="collapsed"):
            fn(0)
    with pytest.raises(ValueError, match="collapsed"):
        change_feed(table, None, 0, 1)
    assert sorted(r["k"] for r in table.read_as_of(1).collect()) == [1, 2, 3, 4]
