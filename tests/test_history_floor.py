"""History-floor correctness across crash/recovery paths (ADVICE r13).

Three properties under test:

1. the floor advances on EVERY path that makes a rewrite visible —
   including ``recover()`` rolling a crashed overwrite/compaction
   forward — never only on the happy path;
2. the floor file survives a crash inside its own replace sequence
   (write-tmp → delete-main → rename): the tmp leftover still carries
   the floor, so collapsed history can never silently re-open;
3. exactness: a row-PRESERVING rewrite (compact / compact_partitions)
   leaves the at-floor snapshot exactly readable, while a row-CHANGING
   one (overwrite_partitions / purge) collapses into the floor batch and
   ``read_as_of``/``restore`` refuse AT the floor too. ``change_feed``
   still reconstructs delete content above an inexact floor (the
   post-rewrite state IS the content just before those versions).
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from incremental_dagster_delta_spark.tableio import (
    DeletionVectors,
    PartitionedTable,
    change_feed,
)

SCHEMA = "k long, v string, day string"
DAY1, DAY2 = "2024-01-01", "2024-01-02"


def _mk(spark, path, *, batches=(1, 2)) -> PartitionedTable:
    t = PartitionedTable(spark, str(path), ["day"])
    for b in batches:
        df = spark.createDataFrame(
            [(10 * b + i, f"b{b}", DAY1 if i < 2 else DAY2) for i in range(4)],
            SCHEMA,
        )
        t.append_batch(df.repartition("day"), b)
    return t


def _crash(*args, **kwargs):
    raise RuntimeError("simulated crash")


def _new_day1(spark):
    return spark.createDataFrame([(100, "new", DAY1)], SCHEMA)


# -- 1. recovery paths advance the floor ---------------------------------------


def test_recover_overwrite_advances_floor(spark, tmp_path):
    """Crash right after the intent marker was written: recover() rolls
    the overwrite forward AND advances the floor — without it, read_as_of
    below the true floor silently returned partial snapshots."""
    t = _mk(spark, tmp_path / "t")
    staging = t.path.rstrip("/") + ".overwriting"
    _new_day1(spark).write.mode("overwrite").partitionBy("day").parquet(staging)
    with open(t.path.rstrip("/") + ".overwrite_pending.json", "w") as f:
        json.dump(
            {
                "leaves": [{"leaf": f"day={DAY1}", "action": "swap"}],
                "row_preserving": False,
            },
            f,
        )
    assert t._history_floor() == -1
    t.recover()
    assert t._history_floor_info() == (2, False)
    with pytest.raises(ValueError, match="collapsed"):
        t.read_as_of(1)
    with pytest.raises(ValueError, match="row-changing"):
        t.read_as_of(2)
    # current state is the rolled-forward overwrite
    assert sorted(r["k"] for r in t.read().where(f"day = '{DAY1}'").collect()) == [100]


def test_legacy_marker_treated_as_row_changing(spark, tmp_path):
    """A marker written before the row_preserving flag existed replays as
    row-changing — refusing an exact-at-floor read is loud, serving a
    possibly-wrong one is not."""
    t = _mk(spark, tmp_path / "t")
    staging = t.path.rstrip("/") + ".overwriting"
    _new_day1(spark).write.mode("overwrite").partitionBy("day").parquet(staging)
    with open(t.path.rstrip("/") + ".overwrite_pending.json", "w") as f:
        json.dump({"leaves": [{"leaf": f"day={DAY1}", "action": "swap"}]}, f)
    t.recover()
    assert t._history_floor_info() == (2, False)


def test_recover_compaction_roll_forward_advances_floor(spark, tmp_path, monkeypatch):
    """Compact crash after every leaf swapped but before the floor
    advance: the marker roll-forward must advance the floor exactly like
    compact() would have — exact=True, at-floor snapshot readable."""
    t = _mk(spark, tmp_path / "t")
    monkeypatch.setattr(PartitionedTable, "_advance_history_floor", _crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact()
    monkeypatch.undo()
    assert t._history_floor() == -1
    t.recover()
    assert t._history_floor_info() == (2, True)
    assert t.read_as_of(2).count() == 8  # at-floor stays exact
    with pytest.raises(ValueError, match="collapsed"):
        t.read_as_of(1)


# -- 2. the floor file survives its own replace window -------------------------


def test_floor_survives_crash_between_delete_and_rename(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", batches=(1,))
    t.compact()
    assert t._history_floor_info() == (1, True)
    main = t._history_floor_path()
    # simulate the crash: new floor written to tmp, main already deleted,
    # rename never happened
    payload = json.load(open(main))
    os.remove(main)
    with open(main + ".tmp-deadbeef", "w") as f:
        json.dump(payload, f)
    assert t._history_floor_info() == (1, True)  # tmp leftover carries it
    # a torn tmp from another crash is skipped, never wedges reads
    with open(main + ".tmp-torn", "w") as f:
        f.write('{"floor": ')
    assert t._history_floor_info() == (1, True)
    # the next advance converges: main rewritten, stale tmps retired
    t.append_batch(spark.createDataFrame([(99, "x", DAY1)], SCHEMA), 2)
    t.compact()
    assert t._history_floor_info() == (2, True)
    assert os.path.exists(main)
    assert glob.glob(main + ".tmp-*") == []


def test_equal_floor_ties_resolve_to_least_exact(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", batches=(1,))
    t.compact()
    main = t._history_floor_path()
    with open(main + ".tmp-crashed", "w") as f:
        json.dump({"floor": 1, "exact": False}, f)
    assert t._history_floor_info() == (1, False)


# -- 3. exactness semantics ----------------------------------------------------


def test_row_changing_overwrite_refuses_at_floor(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    assert t.read_as_of(1).count() == 4
    t.overwrite_partitions(_new_day1(spark), day=DAY1)
    assert t._history_floor_info() == (2, False)
    for batch in (1, 2):
        with pytest.raises(ValueError):
            t.read_as_of(batch)
        with pytest.raises(ValueError):
            t.restore(batch)
    # snapshots strictly above the floor are exact again
    t.append_batch(spark.createDataFrame([(200, "b3", DAY2)], SCHEMA), 3)
    assert sorted(r["k"] for r in t.read_as_of(3).collect()) == sorted(
        r["k"] for r in t.read().collect()
    )


def test_compact_after_overwrite_cannot_restore_exactness(spark, tmp_path):
    """Exactness only downgrades at an unchanged floor: a later compact
    cannot make the overwritten floor batch time-travelable again."""
    t = _mk(spark, tmp_path / "t")
    t.overwrite_partitions(_new_day1(spark), day=DAY1)
    assert t._history_floor_info() == (2, False)
    t.compact()
    assert t._history_floor_info() == (2, False)
    with pytest.raises(ValueError, match="row-changing"):
        t.read_as_of(2)


def test_compact_then_overwrite_downgrades_exactness(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.compact()
    assert t._history_floor_info() == (2, True)
    assert t.read_as_of(2).count() == 8
    t.overwrite_partitions(_new_day1(spark), day=DAY1)
    assert t._history_floor_info() == (2, False)
    with pytest.raises(ValueError, match="row-changing"):
        t.read_as_of(2)


def test_compact_partitions_stays_exact_at_floor(spark, tmp_path):
    """The incremental OPTIMIZE routes through overwrite_partitions but
    is row-preserving — the at-floor snapshot must stay readable."""
    t = _mk(spark, tmp_path / "t")
    assert t.compact_partitions(min_files=2) == 2
    assert t._history_floor_info() == (2, True)
    assert t.read_as_of(2).count() == 8


def test_change_feed_reconstructs_deletes_above_inexact_floor(spark, tmp_path):
    """Delete-content reconstruction at prior_base == an inexact floor is
    legitimate for POST-purge delete versions: the post-purge state IS
    the table content just before them. A window reaching back across
    the purge watermark, though, would silently drop the baked-in
    versions' events — it must refuse instead (r14 review)."""
    t = _mk(spark, tmp_path / "t", batches=(1,))
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(t.read().where("k = 10").select("k"), 2)
    assert dv.purge() >= 1
    assert t._history_floor_info() == (1, False)
    with pytest.raises(ValueError, match="row-changing"):
        t.read_as_of(1)  # public time travel still refuses at the floor
    dv.mark_deleted(
        spark.createDataFrame([(11,)], "k long"), 3
    )
    # window spanning the purge: version 2's tombstones are baked into
    # the files, its delete events are unreconstructible — loud refusal,
    # never a feed that silently omits them
    with pytest.raises(ValueError, match="baked into"):
        change_feed(t, dv, from_batch=1, to_batch=3)
    # window at/above the watermark: version 3 reconstructs from the
    # post-purge state, which is exactly the content before it committed
    feed = change_feed(t, dv, from_batch=2, to_batch=3)
    rows = [(r["k"], r["_change_type"], r["_commit_version"]) for r in feed.collect()]
    assert rows == [(11, "delete", 3)]


# -- r14 review fixes -----------------------------------------------------------


def test_replay_floor_uses_rewrite_time_watermark_not_recovery_time(spark, tmp_path):
    """A crash replay must advance the floor to the watermark the
    rewrite actually collapsed (recorded in the marker at plan time):
    batches appended between the crash and the recovery keep their
    prefixes and must stay exactly readable (r14 review — recomputing
    max(committed) at replay time inflated the floor and refused them
    forever)."""
    t = _mk(spark, tmp_path / "t")  # batches 1, 2
    staging = t.path.rstrip("/") + ".overwriting"
    _new_day1(spark).write.mode("overwrite").partitionBy("day").parquet(staging)
    with open(t.path.rstrip("/") + ".overwrite_pending.json", "w") as f:
        json.dump(
            {
                "leaves": [{"leaf": f"day={DAY1}", "action": "swap"}],
                "row_preserving": False,
                "floor": 2,  # what overwrite_partitions records at plan time
            },
            f,
        )
    # the restarted pipeline appends MORE batches before anything recovers
    for b in (3, 4):
        t.append_batch(
            spark.createDataFrame([(100 + b, f"b{b}", DAY2)], SCHEMA), b
        )
    t.recover()
    assert t._history_floor_info() == (2, False)  # NOT (4, ...)
    assert t.read_as_of(3).count() > 0  # post-crash appends stay readable
    assert t.read_as_of(4).count() == t.read().count()
    with pytest.raises(ValueError):
        t.read_as_of(2)


def test_compact_recovery_floor_uses_plan_time_marker_floor(spark, tmp_path, monkeypatch):
    """Same property for a compact that crashed after its intent marker:
    the marker's plan-time head pins the recovery advance; appends
    landing after the crash are not swallowed under an inflated floor."""
    t = _mk(spark, tmp_path / "t")  # batches 1, 2
    path = t.path.rstrip("/")
    monkeypatch.setattr(PartitionedTable, "_complete_overwrite", _crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact()
    monkeypatch.undo()
    assert json.load(open(path + ".overwrite_pending.json"))["floor"] == 2
    # appends land before recovery runs (into a leaf the rewrite replaces)
    t.append_batch(spark.createDataFrame([(300, "b3", DAY2)], SCHEMA), 3)
    t.recover()
    assert t._history_floor_info() == (2, True)
    assert t.read_as_of(2).count() == 8  # at-floor exact
    assert t.read_as_of(3).count() == 9
    assert not os.path.exists(path + ".overwrite_pending.json")  # marker retired


def test_delete_partitions_advances_floor(spark, tmp_path):
    """delete_partitions erases committed batches' prefixed files — time
    travel below/at the delete must refuse loudly, and restore() must
    never fabricate a state by deleting only the surviving files (r14
    review: this was the one rewrite path without a floor advance)."""
    t = _mk(spark, tmp_path / "t")  # batches 1, 2 across DAY1/DAY2
    assert t.read_as_of(1).count() == 4
    t.delete_partitions(day=DAY1)
    assert t._history_floor_info() == (2, False)
    for b in (1, 2):
        with pytest.raises(ValueError):
            t.read_as_of(b)
        with pytest.raises(ValueError):
            t.restore(b)
    # later appends time-travel again
    t.append_batch(spark.createDataFrame([(300, "b3", DAY2)], SCHEMA), 3)
    assert t.read_as_of(3).count() == t.read().count()


def test_purge_watermark_survives_replace_crash_window(spark, tmp_path):
    """The purge watermark's replace has the same crash contract as the
    floor: a tmp leftover with the main file deleted still reads back
    (r14 review — a lost watermark re-reads purged DV batches as live
    and wedges the Delta export on 'unpurged deletion vectors')."""
    t = _mk(spark, tmp_path / "t", batches=(1,))
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(10,)], "k long"), 2)
    assert dv.purge() >= 1
    assert dv.applied_through() == 2
    wm = os.path.join(t.path, "_dv_applied")
    payload = open(wm).read()
    os.remove(wm)
    with open(wm + ".tmp-dead", "w") as f:
        f.write(payload)
    assert dv.applied_through() == 2  # tmp leftover carries it
    # torn tmp never wedges the read
    with open(wm + ".tmp-torn", "w") as f:
        f.write('{"through":')
    assert dv.applied_through() == 2


def test_delete_partitions_floor_scoping(spark, tmp_path):
    """The floor advance is scoped to victims holding SNAPSHOT-VISIBLE
    files: committed b{id}- files AND unprefixed files (the
    state-at-floor base / unversioned appends appear in every snapshot,
    so deleting one silently changes even at-floor reads — r14 review
    pass 3). Only a crashed writer's uncommitted orphans are exempt."""
    import shutil

    # (a) uncommitted-orphan-only leaf: no history collapses
    t = _mk(spark, tmp_path / "a")  # batches 1, 2 across DAY1/DAY2
    day3 = "2024-01-03"
    src = glob.glob(os.path.join(t.path, f"day={DAY1}", "b1-*.parquet"))[0]
    orphan_dir = os.path.join(t.path, f"day={day3}")
    os.makedirs(orphan_dir)
    shutil.copyfile(src, os.path.join(orphan_dir, "b9-" + os.path.basename(src)[3:]))
    t.delete_partitions(day=day3)
    assert t._history_floor_info() == (-1, True)
    assert t.read_as_of(1).count() == 4

    # (b) unversioned append on a committed table IS snapshot state:
    # deleting its leaf must advance the floor
    t2 = _mk(spark, tmp_path / "b")
    t2.append(spark.createDataFrame([(900, "plain", day3)], SCHEMA))
    assert t2.read_as_of(1).count() == 5  # snapshots include the plain row
    t2.delete_partitions(day=day3)
    assert t2._history_floor_info() == (2, False)
    with pytest.raises(ValueError):
        t2.read_as_of(1)

    # (c) post-compact all files are unprefixed: deleting a leaf must
    # downgrade the exact floor, or read_as_of(floor) silently loses rows
    t3 = _mk(spark, tmp_path / "c")
    t3.compact()
    assert t3._history_floor_info() == (2, True)
    assert t3.read_as_of(2).count() == 8
    t3.delete_partitions(day=DAY1)
    assert t3._history_floor_info() == (2, False)
    with pytest.raises(ValueError, match="row-changing"):
        t3.read_as_of(2)


def test_change_feed_tolerates_purged_zero_row_dv_version(spark, tmp_path):
    """A zero-row mark_deleted (the empty-commit skip) below the purge
    watermark is trivially reconstructible — no events — and must not
    trip the baked-in refusal (r14 review)."""
    t = _mk(spark, tmp_path / "t", batches=(1,))
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([], "k long"), 2)  # 0-row version
    dv.mark_deleted(spark.createDataFrame([(10,)], "k long"), 3)
    assert dv.purge() >= 1  # applied_through -> 3
    t.append_batch(spark.createDataFrame([(50, "x", DAY2)], SCHEMA), 4)
    # window spans the empty v2 AND the baked v3: only v3 must refuse
    with pytest.raises(ValueError, match="baked into"):
        change_feed(t, dv, from_batch=1, to_batch=4)
    # a window containing ONLY the purged EMPTY version serves cleanly —
    # this is the differential pin for the rows==0 exemption (a window
    # with no dv version at all would pass on pre-fix code too)
    only_empty = change_feed(t, dv, from_batch=1, to_batch=2).collect()
    assert only_empty == []
    # and a window above the watermark serves the later insert
    dv2_events = change_feed(t, dv, from_batch=3, to_batch=4).collect()
    assert [(r["k"], r["_change_type"]) for r in dv2_events] == [(50, "insert")]
