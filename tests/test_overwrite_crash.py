"""Crash-test the atomic partition-overwrite protocol (r4 verdict #7).

``overwrite_partitions`` publishes via: write staging (``.overwriting``)
→ write intent marker (``.overwrite_pending.json``, AFTER staging
completes) → per leaf: rename live → ``.preoverwrite`` shadow, rename
staged → live, delete shadow → delete staging + marker. Each test
reproduces the exact on-disk state a crash at one of those points leaves
behind, then asserts ``recover()`` (or the next overwrite call)
converges — marker present rolls FORWARD to the new data, marker absent
rolls BACK to the untouched original. This closes the one Delta semantic
the r3/r4 parquet mapping lacked: a killed replaceWhere can no longer
leave a half-written partition (reference delta_io.py:104-107 gets this
from delta-rs transactions).
"""

from __future__ import annotations

import json
import os
import shutil

from incremental_dagster_delta_spark.tableio import PartitionedTable

DAY1, DAY2 = "2024-01-01", "2024-01-02"


def _make_table(spark, path: str) -> PartitionedTable:
    table = PartitionedTable(spark, path, ["day"])
    df = spark.createDataFrame(
        [(i, "old", DAY1 if i < 5 else DAY2) for i in range(10)],
        "k long, v string, day string",
    )
    table.append(df.repartition("day"))
    return table


def _new_day1(spark):
    return spark.createDataFrame(
        [(100 + i, "new", DAY1) for i in range(3)], "k long, v string, day string"
    )


def _stage(spark, table: PartitionedTable, with_marker: bool) -> str:
    """Reproduce the on-disk state right after staging (and optionally the
    marker write) with NO swaps applied — the two earliest crash points."""
    staging = table.path.rstrip("/") + ".overwriting"
    _new_day1(spark).write.mode("overwrite").partitionBy("day").parquet(staging)
    if with_marker:
        with open(table.path.rstrip("/") + ".overwrite_pending.json", "w") as f:
            json.dump({"leaves": [{"leaf": f"day={DAY1}", "action": "swap"}]}, f)
    return staging


def _day_rows(table: PartitionedTable, day: str) -> list[tuple]:
    rows = table.read().where(f"day = '{day}'").collect()
    return sorted((r["k"], r["v"]) for r in rows)


def _assert_clean(table: PartitionedTable) -> None:
    base = table.path.rstrip("/")
    for suffix in (".overwriting", ".preoverwrite", ".overwrite_pending.json"):
        assert not os.path.exists(base + suffix), suffix


def test_happy_path_swaps_and_drops(spark, tmp_path):
    table = _make_table(spark, str(tmp_path / "t"))
    assert table.overwrite_partitions(_new_day1(spark), day=DAY1)
    assert _day_rows(table, DAY1) == [(100, "new"), (101, "new"), (102, "new")]
    assert _day_rows(table, DAY2) == [(i, "old") for i in range(5, 10)]
    _assert_clean(table)


def test_crash_after_staging_before_marker_rolls_back(spark, tmp_path):
    """No marker ⇒ the overwrite never became visible: original intact."""
    table = _make_table(spark, str(tmp_path / "t"))
    _stage(spark, table, with_marker=False)
    table.recover()
    assert _day_rows(table, DAY1) == [(i, "old") for i in range(5)]
    _assert_clean(table)


def test_crash_after_marker_rolls_forward(spark, tmp_path):
    """Marker present ⇒ staging is complete: recovery must publish."""
    table = _make_table(spark, str(tmp_path / "t"))
    _stage(spark, table, with_marker=True)
    table.recover()
    assert _day_rows(table, DAY1) == [(100, "new"), (101, "new"), (102, "new")]
    assert _day_rows(table, DAY2) == [(i, "old") for i in range(5, 10)]
    _assert_clean(table)


def test_crash_mid_swap_live_renamed_away(spark, tmp_path):
    """Worst window: the live leaf was renamed to the shadow and the crash
    hit before the staged leaf was promoted — the partition does not
    exist at all. Forward recovery must still publish the new data."""
    table = _make_table(spark, str(tmp_path / "t"))
    staging = _stage(spark, table, with_marker=True)
    leaf = f"day={DAY1}"
    shadow_root = table.path.rstrip("/") + ".preoverwrite"
    os.makedirs(shadow_root, exist_ok=True)
    os.rename(os.path.join(table.path, leaf), os.path.join(shadow_root, leaf))
    assert not os.path.exists(os.path.join(table.path, leaf))
    table.recover()
    assert _day_rows(table, DAY1) == [(100, "new"), (101, "new"), (102, "new")]
    _assert_clean(table)
    assert os.path.exists(staging) is False


def test_crash_after_promote_before_shadow_delete(spark, tmp_path):
    """Staged leaf promoted; stale shadow and marker survive the crash."""
    table = _make_table(spark, str(tmp_path / "t"))
    staging = _stage(spark, table, with_marker=True)
    leaf = f"day={DAY1}"
    shadow_root = table.path.rstrip("/") + ".preoverwrite"
    os.makedirs(shadow_root, exist_ok=True)
    os.rename(os.path.join(table.path, leaf), os.path.join(shadow_root, leaf))
    os.rename(os.path.join(staging, leaf), os.path.join(table.path, leaf))
    table.recover()
    assert _day_rows(table, DAY1) == [(100, "new"), (101, "new"), (102, "new")]
    _assert_clean(table)


def test_next_overwrite_converges_prior_crash(spark, tmp_path):
    """A new overwrite call must first converge an interrupted one — no
    explicit recover() needed."""
    table = _make_table(spark, str(tmp_path / "t"))
    _stage(spark, table, with_marker=True)
    day2 = spark.createDataFrame([(200, "newer", DAY2)], "k long, v string, day string")
    assert table.overwrite_partitions(day2, day=DAY2)
    # the interrupted day-1 overwrite rolled forward, then day 2 applied
    assert _day_rows(table, DAY1) == [(100, "new"), (101, "new"), (102, "new")]
    assert _day_rows(table, DAY2) == [(200, "newer")]
    _assert_clean(table)


def test_scope_drops_vanished_leaf(spark, tmp_path):
    """replaceWhere parity: a leaf inside the scope but absent from the
    new data is dropped in the same transaction."""
    table = _make_table(spark, str(tmp_path / "t"))
    # empty-scope overwrite: drops every leaf under the scope atomically
    empty = spark.createDataFrame([], "k long, v string, day string")
    assert table.overwrite_partitions(empty, day=DAY2) is False
    assert _day_rows(table, DAY2) == []
    assert _day_rows(table, DAY1) == [(i, "old") for i in range(5)]
    _assert_clean(table)


def test_multi_level_scope_drop(spark, tmp_path):
    """Two partition levels (day, wl): refreshing a day whose new data no
    longer contains one wl value must drop that leaf."""
    path = str(tmp_path / "t2")
    table = PartitionedTable(spark, path, ["day", "wl"])
    df = spark.createDataFrame(
        [(1, DAY1, 3), (2, DAY1, 5), (3, DAY2, 3)], "k long, day string, wl long"
    )
    table.append(df.repartition("day"))
    # recomputed day1 only has wl=3 now — wl=5 must vanish
    new = spark.createDataFrame([(10, DAY1, 3)], "k long, day string, wl long")
    assert table.overwrite_partitions(new, day=DAY1)
    got = sorted((r["k"], r["day"], r["wl"]) for r in table.read().collect())
    assert got == [(3, DAY2, 3), (10, DAY1, 3)]
    _assert_clean(table)


def test_stale_marker_replay_never_drops_later_appends(spark, tmp_path):
    """A drop plan is FENCED with the file names present at plan time:
    if the marker survives past completion (crash before its deletion)
    and a later append recreates the dropped leaf, replaying the marker
    must not delete the new committed files — the unfenced replay
    renamed the whole recreated leaf into the shadow and destroyed it."""
    import json
    import os

    from pyspark.sql import functions as F  # noqa: F401

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day", "wl"])
    schema = "k long, day string, wl string"
    t.append_batch(
        spark.createDataFrame(
            [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "a")], schema
        ),
        0,
    )
    # refresh day=d1 WITHOUT wl=b → plan contains a fenced drop of d1/b
    marker_path = str(tmp_path / "t") + ".overwrite_pending.json"
    real_complete = PartitionedTable._complete_overwrite
    captured = {}

    def capture_then_restore(self, fs, Path):
        if os.path.exists(marker_path):
            captured["plan"] = open(marker_path).read()
        real_complete(self, fs, Path)
        if "plan" in captured:  # simulate crash before marker deletion
            with open(marker_path, "w") as fh:
                fh.write(captured.pop("plan"))

    import pytest  # noqa: F401
    from unittest import mock

    with mock.patch.object(PartitionedTable, "_complete_overwrite", capture_then_restore):
        t.overwrite_partitions(
            spark.createDataFrame([(9, "d1", "a")], schema), day="d1"
        )
    assert os.path.exists(marker_path)  # stale marker left behind
    plan = json.loads(open(marker_path).read())["leaves"]
    assert any(e["action"] == "drop" and "files" in e for e in plan)

    # a later append recreates the dropped leaf with committed data
    t.append_batch(spark.createDataFrame([(7, "d1", "b")], schema), 1)
    t.recover()  # replays the stale plan — fenced, so batch 1 survives
    assert not os.path.exists(marker_path)
    assert sorted(r["k"] for r in t.read().collect()) == [3, 7, 9]
