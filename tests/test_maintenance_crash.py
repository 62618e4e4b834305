"""Crash-matrix parity for the r13 maintenance surfaces (VERDICT r13 #4):
checkpoint writes (``deltalog.write_checkpoint`` + ``clean_metadata``)
and multi-leaf ``compact_partitions`` — directed windows plus a seeded
randomized interleave with injected crashes, at the coverage depth of
tests/test_overwrite_crash.py.

Checkpoint protocol windows (write tmp parquet → os.replace → write tmp
pointer → os.replace): every prefix leaves readers on the OLD
checkpoint/JSON state and the next write_checkpoint converges.
clean_metadata deletes one file at a time; any prefix leaves replay
(which starts at the checkpoint) unchanged.

compact_partitions windows: each leaf is an independent crash-atomic
overwrite, so a crash BETWEEN leaves (covered in test_deltalog) or
INSIDE a leaf's swap — after the intent marker, mid-roll-forward — must
converge via recover() with the history floor advanced exactly once.
"""

from __future__ import annotations

import glob
import json
import os
import random

import pytest

from incremental_dagster_delta_spark.deltalog import (
    DeltaLogExporter,
    _existing_versions,
    _last_checkpoint_info,
    read_delta_log,
    replay_file_set,
)
from incremental_dagster_delta_spark.tableio import PartitionedTable

SCHEMA = "k long, payload string, day string"
DAYS = ("2024-06-01", "2024-06-02", "2024-06-03")


def _mk(spark, path, n_batches=3) -> tuple[PartitionedTable, DeltaLogExporter]:
    t = PartitionedTable(spark, str(path), ["day"])
    for b in range(n_batches):
        t.append_batch(
            spark.createDataFrame(
                [(b * 10 + i, f"p{b}", DAYS[i % len(DAYS)]) for i in range(3)],
                SCHEMA,
            ),
            b,
        )
    ex = DeltaLogExporter(t, checkpoint_interval=0)
    ex.export()
    return t, ex


def _keys(df):
    return sorted(r["k"] for r in df.collect())


# -- checkpoint write windows --------------------------------------------------


def test_orphan_checkpoint_tmp_never_breaks_replay(spark, tmp_path):
    """Crash before the checkpoint parquet's os.replace: a .tmp- file
    lingers next to the log; readers and the next checkpoint ignore it."""
    t, ex = _mk(spark, tmp_path / "t")
    with open(
        os.path.join(ex.log_dir, f"{7:020d}.checkpoint.parquet.tmp-dead"), "wb"
    ) as fh:
        fh.write(b"\x00torn")
    assert _last_checkpoint_info(ex.log_dir) is None
    assert _keys(read_delta_log(t)) == _keys(t.read())
    v = ex.write_checkpoint()
    assert _last_checkpoint_info(ex.log_dir)["version"] == v
    assert _keys(read_delta_log(t)) == _keys(t.read())


def test_checkpoint_landed_pointer_not_repointed_converges(spark, tmp_path):
    """Crash between the checkpoint parquet landing and the
    _last_checkpoint repoint: readers replay from the old state, cleanup
    stays bounded by the OLD pointer, and re-running write_checkpoint
    repoints without data movement."""
    t, ex = _mk(spark, tmp_path / "t")
    v = ex.write_checkpoint()
    ptr = os.path.join(ex.log_dir, "_last_checkpoint")
    saved = open(ptr).read()
    os.remove(ptr)  # the exact pre-repoint disk state

    assert _last_checkpoint_info(ex.log_dir) is None
    assert _keys(read_delta_log(t)) == _keys(t.read())
    # cleanup without a pointer is a refusal, not a deletion
    assert ex.clean_metadata() == 0
    assert _existing_versions(ex.log_dir) != []

    v2 = ex.write_checkpoint()  # converges: same version, pointer lands
    assert v2 == v
    assert json.loads(open(ptr).read())["version"] == json.loads(saved)["version"]
    assert ex.clean_metadata() >= 1
    assert _keys(read_delta_log(t)) == _keys(t.read())


def test_orphan_pointer_tmp_ignored(spark, tmp_path):
    """Crash before the _last_checkpoint os.replace: the torn tmp
    pointer must not be consulted."""
    t, ex = _mk(spark, tmp_path / "t")
    v = ex.write_checkpoint()
    with open(os.path.join(ex.log_dir, "_last_checkpoint.tmp-dead"), "w") as fh:
        fh.write('{"version":')  # torn
    info = _last_checkpoint_info(ex.log_dir)
    assert info is not None and info["version"] == v
    assert _keys(read_delta_log(t)) == _keys(t.read())


def test_clean_metadata_interrupted_midway_replay_unchanged(spark, tmp_path):
    """clean_metadata deletes segment files one at a time; any prefix of
    those deletions leaves the checkpoint-based replay identical, and a
    re-run finishes the remainder."""
    t, ex = _mk(spark, tmp_path / "t")
    ex.write_checkpoint()
    before = _keys(read_delta_log(t))
    before_files = set(replay_file_set(ex.log_dir))
    victims = sorted(
        f
        for f in os.listdir(ex.log_dir)
        if f.endswith(".json") and f[:-5].isdigit()
    )
    assert len(victims) >= 1
    os.remove(os.path.join(ex.log_dir, victims[0]))  # partial cleanup crash
    assert _keys(read_delta_log(t)) == before
    assert ex.clean_metadata() == len(victims) - 1  # re-run finishes
    assert _keys(read_delta_log(t)) == before
    assert set(replay_file_set(ex.log_dir)) == before_files


def test_pointer_to_missing_checkpoint_degrades_to_json_replay(spark, tmp_path):
    """A _last_checkpoint naming a checkpoint file that is gone (e.g. a
    crashed foreign vacuum) must degrade to JSON replay while the
    segments survive — never a hard failure."""
    t, ex = _mk(spark, tmp_path / "t")
    v = ex.write_checkpoint()
    os.remove(os.path.join(ex.log_dir, f"{v:020d}.checkpoint.parquet"))
    assert _last_checkpoint_info(ex.log_dir) is None  # existence-checked
    assert _keys(read_delta_log(t)) == _keys(t.read())


# -- mid-swap crashes inside compact_partitions --------------------------------


def _offenders(t):
    return {
        dict(sc)["day"]: n for sc, n in t._leaf_scopes_counts().values()
    }


def test_compact_partitions_crash_inside_leaf_swap_converges(spark, tmp_path, monkeypatch):
    """Crash AFTER a leaf's intent marker is written but before its plan
    executes (the deepest window: the rewrite is committed but not yet
    visible): recover() rolls that leaf forward, the floor advances
    exactly as the happy path would, and a re-run compacts the remaining
    offenders."""
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    for b in range(4):
        t.append_batch(
            spark.createDataFrame(
                [(b * 10 + i, f"p{b}", DAYS[i]) for i in range(3)], SCHEMA
            ),
            b,
        )
    n_rows = t.read().count()
    assert all(n >= 2 for n in _offenders(t).values())

    real = PartitionedTable._complete_overwrite
    calls = {"n": 0}

    def dying(self, fs, Path):
        # one call per leaf (recover-first paths skip it when no marker
        # is pending): let the first leaf land, die on the second leaf's
        # marker-present roll-forward
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-swap")
        return real(self, fs, Path)

    monkeypatch.setattr(PartitionedTable, "_complete_overwrite", dying)
    with pytest.raises(RuntimeError, match="mid-swap"):
        t.compact_partitions(min_files=2)
    monkeypatch.setattr(PartitionedTable, "_complete_overwrite", real)

    # the crashed leaf's marker is on disk: recovery owes the roll-forward
    assert os.path.exists(t.path.rstrip("/") + ".overwrite_pending.json")
    t.recover()
    assert not os.path.exists(t.path.rstrip("/") + ".overwrite_pending.json")
    assert t.read().count() == n_rows
    # the recovered leaf's rewrite was row-preserving: floor exact
    assert t._history_floor_info() == (3, True)
    assert t.read_as_of(3).count() == n_rows

    remaining = sum(1 for n in _offenders(t).values() if n >= 2)
    assert t.compact_partitions(min_files=2) == remaining
    assert t.read().count() == n_rows
    assert all(n == 1 for n in _offenders(t).values())


def test_compact_partitions_crash_matrix_across_leaves(spark, tmp_path, monkeypatch):
    """Sweep the crash point across every leaf boundary AND every
    mid-swap window of a 3-offender compact_partitions; each converges
    to the same final state."""
    for crash_at in range(1, 7):
        path = tmp_path / f"t{crash_at}"
        t = PartitionedTable(spark, str(path), ["day"])
        for b in range(2):
            t.append_batch(
                spark.createDataFrame(
                    [(b * 10 + i, f"p{b}", DAYS[i]) for i in range(3)], SCHEMA
                ),
                b,
            )
        n_rows = t.read().count()

        real_complete = PartitionedTable._complete_overwrite
        calls = {"n": 0}

        def dying(self, fs, Path, _crash_at=crash_at, _calls=calls):
            _calls["n"] += 1
            if _calls["n"] >= _crash_at:
                raise RuntimeError("swept crash")
            return real_complete(self, fs, Path)

        monkeypatch.setattr(PartitionedTable, "_complete_overwrite", dying)
        try:
            n_done = t.compact_partitions(min_files=2)
            crashed = False
        except RuntimeError:
            crashed = True
        monkeypatch.setattr(PartitionedTable, "_complete_overwrite", real_complete)

        t.recover()
        assert t.read().count() == n_rows, f"crash_at={crash_at}"
        if not crashed:
            assert n_done == 3
        # convergence: finishing the job always lands in the same state
        t.compact_partitions(min_files=2)
        assert t.read().count() == n_rows, f"crash_at={crash_at}"
        assert all(n == 1 for n in _offenders(t).values()), f"crash_at={crash_at}"
        assert t._history_floor_info() == (1, True), f"crash_at={crash_at}"


# -- randomized crashy interleave ----------------------------------------------


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_randomized_crashy_maintenance_converges(spark, tmp_path, seed, monkeypatch):
    """Seeded interleave of append / delete / compact_partitions /
    checkpoint / cleanup with crashes injected into the two r13
    surfaces (mid-compact_partitions leaf swaps; the checkpoint
    pointer-repoint window). After every op — crashed or not — recover()
    plus an export must leave the replayed snapshot identical to
    table.read(), and stale maintenance state must not accumulate."""
    rng = random.Random(seed)
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    ex = DeltaLogExporter(t, checkpoint_interval=0)
    next_batch, next_key = 0, 0
    real_complete = PartitionedTable._complete_overwrite

    def do_append():
        nonlocal next_batch, next_key
        rows = [
            (next_key + i, f"p{next_key + i}", rng.choice(DAYS))
            for i in range(rng.randint(1, 6))
        ]
        next_key += len(rows)
        t.append_batch(spark.createDataFrame(rows, SCHEMA), next_batch)
        next_batch += 1

    def do_delete():
        t.delete_partitions(day=rng.choice(DAYS))

    def do_compact_partitions():
        if rng.random() < 0.6:  # crashy variant
            calls = {"n": 0}
            stop_at = rng.randint(1, 4)

            def dying(self, fs, Path):
                calls["n"] += 1
                if calls["n"] >= stop_at:
                    raise RuntimeError("chaos")
                return real_complete(self, fs, Path)

            monkeypatch.setattr(PartitionedTable, "_complete_overwrite", dying)
            try:
                t.compact_partitions(min_files=2)
            except RuntimeError:
                pass
            finally:
                monkeypatch.setattr(
                    PartitionedTable, "_complete_overwrite", real_complete
                )
        else:
            t.compact_partitions(min_files=2)

    def do_checkpoint():
        if not _existing_versions(ex.log_dir):
            return
        ex.write_checkpoint()
        if rng.random() < 0.5:  # crash in the repoint window
            ptr = os.path.join(ex.log_dir, "_last_checkpoint")
            if os.path.exists(ptr) and rng.random() < 0.5:
                os.remove(ptr)
        elif rng.random() < 0.5:
            ex.clean_metadata()

    do_append()
    ex.export()
    ops = [do_append, do_delete, do_compact_partitions, do_checkpoint]
    weights = [5, 2, 3, 3]
    for step in range(12):
        rng.choices(ops, weights=weights)[0]()
        t.recover()
        ex.export()
        expected = _keys(t.read()) if next_key else []
        try:
            got = _keys(read_delta_log(t))
        except ValueError:
            assert expected == []
            continue
        assert got == expected, f"seed={seed} step={step}"
    # no stale maintenance residue
    for suffix in (".overwriting", ".overwrite_pending.json", ".preoverwrite"):
        assert not os.path.exists(t.path.rstrip("/") + suffix)
    assert glob.glob(os.path.join(t.path, "_history_floor.json.tmp-*")) == []


def test_salvage_merges_recreated_commit_dir(spark, tmp_path, monkeypatch):
    """A writer that appends between an unpartitioned compact's root swap
    and its recovery recreates _commits in the promoted root; the salvage
    must MERGE the old markers in (top-level skip-if-exists stranded
    batches 1-2 in the shadow, after which their files read as
    vacuum-able orphans and time travel lost the history) — r14 review
    fallout."""
    from incremental_dagster_delta_spark import tableio

    t = PartitionedTable(spark, str(tmp_path / "t"), [])
    for b in (1, 2):
        t.append_batch(
            spark.createDataFrame([(10 * b, f"p{b}", DAYS[0])], SCHEMA), b
        )

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(tableio, "_salvage_hidden_root_entries", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact()
    monkeypatch.undo()
    # pre-recovery append recreates _commits with only marker 3
    t.append_batch(spark.createDataFrame([(30, "p3", DAYS[1])], SCHEMA), 3)
    assert t.committed_batches() == [3]
    t.recover()
    assert t.committed_batches() == [1, 2, 3]  # merged, not stranded
    assert t.read().count() == 3
    assert t.vacuum() == 0  # nothing reads as an orphan
    assert t.read().count() == 3


# -- r14 review pass 4: racer fences, purge resurrection, fail-loud metrics ----


def test_unpartitioned_purge_of_all_rows_keeps_tombstones(spark, tmp_path):
    """purge() on an unpartitioned base whose rows are ALL deleted cannot
    rewrite (the empty-commit guard no-ops the whole-table overwrite) —
    it must NOT advance the watermark over a rewrite that never ran,
    which retired the tombstones and resurrected every deleted row."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors

    t = PartitionedTable(spark, str(tmp_path / "t"), [])  # unpartitioned
    t.append_batch(
        spark.createDataFrame([(1, "a", DAYS[0]), (2, "b", DAYS[1])], SCHEMA), 1
    )
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,), (2,)], "k long"), 2)
    assert dv.read().count() == 0
    assert dv.purge() == 0  # cannot express "replace with empty": no-op
    assert dv.applied_through() == -1  # watermark untouched
    assert dv.read().count() == 0  # tombstones still live — no resurrection
    # base files still physically hold the rows; reads stay masked
    assert t.read().count() == 2


def test_change_feed_refuses_unordered_refresh_rewrite(spark, tmp_path):
    """A delete version whose reconstruction snapshot sits at a floor
    collapsed by a NON-purge rewrite (user refresh) must refuse: nothing
    records whether the refresh ran before or after the version, so the
    feed could silently omit delete events for rows the refresh removed."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors, change_feed

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame([(1, "a", DAYS[0]), (2, "b", DAYS[0])], SCHEMA), 0
    )
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,)], "k long"), 1)
    # user refresh drops k=1's row from the files AFTER the mark
    t.overwrite_partitions(
        spark.createDataFrame([(2, "b", DAYS[0])], SCHEMA), day=DAYS[0]
    )
    assert t._history_floor_full() == (0, False, False, None)
    with pytest.raises(ValueError, match="cannot be ordered"):
        change_feed(t, dv, from_batch=0, to_batch=1).collect()


def test_change_feed_refuses_crashed_purge_rewrite(spark, tmp_path):
    """A purge that rewrote the files but crashed before advancing its
    watermark leaves the same unordered state — refuse, not an empty
    feed."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors, change_feed

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame([(1, "a", DAYS[0]), (2, "b", DAYS[0])], SCHEMA), 0
    )
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,)], "k long"), 1)
    real = DeletionVectors._advance_watermark
    try:
        DeletionVectors._advance_watermark = lambda self, through: None  # crash
        assert dv.purge() == 1  # files rewritten, watermark NOT advanced
    finally:
        DeletionVectors._advance_watermark = real
    assert dv.applied_through() == -1
    # purge-claimed floor, with the baked-through version recorded at
    # plan time (r15: the record survives the watermark crash)
    assert t._history_floor_full() == (0, False, True, 1)
    with pytest.raises(ValueError, match="watermark advance did not complete"):
        change_feed(t, dv, from_batch=0, to_batch=1).collect()
    # a RE-RUN purge (the crash-recovery action) restores the ordering
    assert dv.purge() >= 0
    assert dv.applied_through() == 1
    dv.mark_deleted(spark.createDataFrame([(2,)], "k long"), 2)
    feed = change_feed(t, dv, from_batch=1, to_batch=2)
    assert [(r["k"], r["_change_type"]) for r in feed.collect()] == [(2, "delete")]


def test_compact_salvages_batch_committed_during_staging(spark, tmp_path, monkeypatch):
    """A batch that commits while compact() stages lands its files in a
    leaf the rewrite replaces; completion/recovery must salvage them into
    the new leaf (the consumed fence) instead of destroying them with the
    shadow while their marker survives — permanent row loss under a
    row-preserving operation."""
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    for b in (1, 2):
        t.append_batch(
            spark.createDataFrame([(10 * b, f"p{b}", DAYS[b % 2])], SCHEMA), b
        )
    path = t.path.rstrip("/")

    def racer_then_crash(self, fs, Path):
        # racer batch 3 commits into a rewritten leaf after staging, then
        # the compacting process dies before its marker rolls forward
        t.append_batch(spark.createDataFrame([(30, "p3", DAYS[0])], SCHEMA), 3)
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(PartitionedTable, "_complete_overwrite", racer_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact()
    monkeypatch.undo()
    # recovery owes the swap AND the racer's files
    t.recover()
    assert t.committed_batches() == [1, 2, 3]
    assert sorted(r["k"] for r in t.read().collect()) == [10, 20, 30]
    assert t._history_floor_info() == (2, True)  # marker floor, not "now"
    assert t.read_as_of(3).count() == 3  # racer stays exactly readable
    assert not os.path.exists(path + ".preoverwrite")


def test_leaf_overwrite_salvages_committed_racer_not_partials(spark, tmp_path):
    """The per-leaf swap's consumed fence: a racer batch committed into
    the leaf after staging is salvaged back; an uncommitted partial in
    the same leaf is NOT (its replay republishes it)."""
    import shutil

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(spark.createDataFrame([(1, "a", DAYS[0])], SCHEMA), 1)
    path = t.path.rstrip("/")
    leaf = f"day={DAYS[0]}"
    consumed = [
        f.rsplit("/", 1)[-1] for f in t._live_data_files()[leaf]
    ]
    # staged rewrite of the consumed file
    t.read().write.mode("overwrite").partitionBy("day").parquet(path + ".overwriting")
    # racer batch 2 commits into the SAME leaf post-staging
    t.append_batch(spark.createDataFrame([(2, "b", DAYS[0])], SCHEMA), 2)
    # plus an uncommitted b9- partial
    src = glob.glob(os.path.join(path, leaf, "b1-*.parquet"))[0]
    shutil.copyfile(
        src, os.path.join(path, leaf, "b9-" + os.path.basename(src).split("-", 1)[1])
    )
    with open(path + ".overwrite_pending.json", "w") as f:
        json.dump(
            {
                "leaves": [{"leaf": leaf, "action": "swap", "consumed": consumed}],
                "row_preserving": True,
                "floor": 1,
            },
            f,
        )
    t.recover()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]  # racer survives
    assert glob.glob(os.path.join(path, leaf, "b9-*")) == []  # partial does not
    assert t._history_floor_info() == (1, True)
    assert t.read_as_of(2).count() == 2


def test_restore_refuses_on_unreadable_marker_metrics(spark, tmp_path):
    """A damaged (empty/torn) commit marker must count as 'wrote rows'
    in the collapsed-history checks — restore/change_feed refuse loudly
    instead of being defeated exactly when the marker is damaged."""
    from incremental_dagster_delta_spark.tableio import change_feed

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(spark.createDataFrame([(1, "a", DAYS[0])], SCHEMA), 0)
    t.append_batch(spark.createDataFrame([(2, "b", DAYS[1])], SCHEMA), 1)
    # batch 1's marker is torn AND its files are gone (history collapsed)
    open(os.path.join(t.path, "_commits", "1"), "w").close()
    for f in glob.glob(os.path.join(t.path, "day=*", "b1-*.parquet")):
        os.remove(f)
    with pytest.raises(ValueError, match="collapsed|wrote rows"):
        t.restore(0)
    with pytest.raises(ValueError, match="collapsed"):
        change_feed(t, None, 0, 1).collect()


def test_change_feed_refuses_baked_versions_after_crashed_second_purge(
    spark, tmp_path
):
    """r14 ADVICE #1: an EARLIER purge completed (watermark >= 0), a
    LATER purge rewrote the files but crashed before advancing the
    watermark. Delete versions between the stale watermark and the
    crashed purge's through pass the `v <= applied` check, but their
    keys are already baked out of the files — the feed must refuse
    loudly instead of silently emitting zero delete rows."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors, change_feed

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame(
            [(1, "a", DAYS[0]), (2, "b", DAYS[0]), (3, "c", DAYS[0])], SCHEMA
        ),
        0,
    )
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,)], "k long"), 1)
    assert dv.purge() == 1  # first purge COMPLETES
    assert dv.applied_through() == 1
    dv.mark_deleted(spark.createDataFrame([(2,)], "k long"), 2)
    real = DeletionVectors._advance_watermark
    try:
        DeletionVectors._advance_watermark = lambda self, through: None  # crash
        assert dv.purge() == 1  # files rewritten, watermark stays at 1
    finally:
        DeletionVectors._advance_watermark = real
    assert dv.applied_through() == 1  # stale
    assert t._history_floor_full() == (0, False, True, 2)
    # v=2 passes the watermark check (2 > 1) but its keys are baked out
    with pytest.raises(ValueError, match="watermark advance did not complete"):
        change_feed(t, dv, from_batch=1, to_batch=2).collect()
    # re-running the purge (the documented recovery) re-advances the
    # watermark; v=2 then refuses via the standard baked-version check
    assert dv.purge() >= 0
    assert dv.applied_through() == 2
    with pytest.raises(ValueError, match="already baked"):
        change_feed(t, dv, from_batch=1, to_batch=2).collect()
    # and reads were correct throughout
    assert sorted(r["k"] for r in dv.read().collect()) == [3]


def test_purge_drop_fence_uses_consumed_files(spark, tmp_path):
    """r14 ADVICE #2: a drop plan raised by a purge must fence on the
    files the rewrite actually READ (_consumed), not the plan-time
    directory listing — a racer batch committed into the leaf between
    the rewrite's live-file read and the plan listing must survive."""
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(spark.createDataFrame([(1, "a", DAYS[0])], SCHEMA), 1)
    leaf = f"day={DAYS[0]}"
    consumed = [f.rsplit("/", 1)[-1] for f in t._live_data_files()[leaf]]
    # racer batch 2 commits into the SAME leaf after the live-file read
    t.append_batch(spark.createDataFrame([(2, "b", DAYS[0])], SCHEMA), 2)
    empty = spark.createDataFrame([], SCHEMA)
    t.overwrite_partitions(
        empty,
        _validate=False,
        _dv_purge=True,
        _purge_through=0,
        _consumed={leaf: consumed},
        day=DAYS[0],
    )
    # the consumed file is gone, the racer's rows survive
    assert sorted(r["k"] for r in t.read().collect()) == [2]
    assert glob.glob(os.path.join(t.path, leaf, "b1-*.parquet")) == []


def test_swap_salvage_rechecks_committed_set(spark, tmp_path, monkeypatch):
    """r14 ADVICE #4: a racer whose files landed in the old root before
    the swap but whose commit marker lands AFTER the salvage read the
    committed set — completion re-reads the set immediately before
    deleting the shadow and re-runs the salvage."""
    import shutil

    from incremental_dagster_delta_spark import tableio

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(spark.createDataFrame([(1, "a", DAYS[0])], SCHEMA), 1)
    path = t.path.rstrip("/")
    leaf = f"day={DAYS[0]}"
    consumed = [f.rsplit("/", 1)[-1] for f in t._live_data_files()[leaf]]
    # staged rewrite of the consumed file
    t.read().write.mode("overwrite").partitionBy("day").parquet(path + ".overwriting")
    # racer batch 2's FILES land, then its marker is withheld (in flight)
    t.append_batch(spark.createDataFrame([(2, "b", DAYS[0])], SCHEMA), 2)
    marker2 = os.path.join(path, "_commits", "2")
    with open(marker2) as f:
        saved_marker = f.read()
    os.remove(marker2)
    with open(path + ".overwrite_pending.json", "w") as f:
        json.dump(
            {
                "leaves": [{"leaf": leaf, "action": "swap", "consumed": consumed}],
                "row_preserving": True,
                "floor": 1,
            },
            f,
        )
    real = tableio._salvage_unconsumed_data_files
    calls = {"n": 0}

    def wrapper(fs, Path, old, new, cons, committed):
        calls["n"] += 1
        real(fs, Path, old, new, cons, committed)
        if calls["n"] == 1:
            # the racer's commit marker lands now — after the first
            # salvage read its committed set
            os.makedirs(os.path.dirname(marker2), exist_ok=True)
            with open(marker2, "w") as fh:
                fh.write(saved_marker)

    monkeypatch.setattr(tableio, "_salvage_unconsumed_data_files", wrapper)
    t.recover()
    assert calls["n"] == 2  # the re-read saw the grown set and re-ran
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    assert t.read_as_of(2).count() == 2


def test_dv_read_fails_loud_on_torn_sidecar_marker(spark, tmp_path):
    """VERDICT r14 #4: a DV sidecar commit marker that parses to {} must
    raise, not default to 'no rows' — the default would skip the
    anti-join and serve deleted rows. Explicit rows:0 markers (the
    empty-commit skip) stay on the fast path."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame([(1, "a", DAYS[0]), (2, "b", DAYS[0])], SCHEMA), 0
    )
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,)], "k long"), 1)
    assert sorted(r["k"] for r in dv.read().collect()) == [2]
    # an explicit rows:0 marker (empty mark_deleted) does not raise
    assert not dv.mark_deleted(spark.createDataFrame([], "k long"), 2)
    assert sorted(r["k"] for r in dv.read().collect()) == [2]
    # a torn (empty-file) marker in the sidecar's _commits raises
    open(os.path.join(t.path, "_dv", "_commits", "1"), "w").close()
    with pytest.raises(ValueError, match="unreadable commit marker"):
        dv.read().collect()


def test_purge_bakes_only_versions_at_or_below_through(spark, tmp_path, monkeypatch):
    """r15 review: a mark_deleted whose marker lands between purge()'s
    committed-batches read and its rewrite must NOT have its keys baked —
    the watermark and purge_through record only `through`, so a baked
    later version would make change_feed silently empty for it. The
    baked set is explicitly bounded to batches <= through; the racer's
    tombstone stays live and its feed reconstruction still works."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors, change_feed

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame(
            [(1, "a", DAYS[0]), (2, "b", DAYS[0]), (3, "c", DAYS[0])], SCHEMA
        ),
        0,
    )
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,)], "k long"), 1)
    dv.mark_deleted(spark.createDataFrame([(2,)], "k long"), 2)
    # simulate batch 2's marker landing AFTER purge read the committed
    # set: hide ids > 1 from committed_batches for the purge call
    real = PartitionedTable.committed_batches
    monkeypatch.setattr(
        PartitionedTable,
        "committed_batches",
        lambda self: [b for b in real(self) if b <= 1],
    )
    assert dv.purge() == 1
    monkeypatch.setattr(PartitionedTable, "committed_batches", real)
    assert dv.applied_through() == 1
    # k=2 was NOT baked (its version is above through) — raw base still
    # holds it, the live tombstone hides it from dv reads
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]
    assert sorted(r["k"] for r in dv.read().collect()) == [3]
    # and version 2's delete events still reconstruct — the exact feed
    # that silently emitted zero rows when the baked set was unbounded
    feed = change_feed(t, dv, from_batch=1, to_batch=2)
    assert [(r["k"], r["_change_type"]) for r in feed.collect()] == [(2, "delete")]


def test_dv_torn_marker_tolerated_when_rows_proven(spark, tmp_path):
    """r15 review scope-down of the torn-marker raise: when another
    readable batch already proves the sidecar holds rows, the anti-join
    runs regardless and includes the torn batch's committed files — no
    raise; and a torn marker at/below the purge watermark is inert."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame(
            [(1, "a", DAYS[0]), (2, "b", DAYS[0]), (3, "c", DAYS[0])], SCHEMA
        ),
        0,
    )
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,)], "k long"), 1)
    dv.mark_deleted(spark.createDataFrame([(2,)], "k long"), 2)
    # batch 1's marker tears; batch 2 (readable, rows>0) proves rows
    open(os.path.join(t.path, "_dv", "_commits", "1"), "w").close()
    assert sorted(r["k"] for r in dv.read().collect()) == [3]  # both subtracted
    # torn marker at/below the watermark: purge() bakes batch 2 (the
    # readable one); batch 1's keys ride along in the <= through set
    assert dv.purge() == 1
    assert dv.applied_through() == 2
    assert sorted(r["k"] for r in dv.read().collect()) == [3]
