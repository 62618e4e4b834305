"""Hidden sidecar state (``_dv``, ``_dv_applied``, ``_constraints.json``)
must survive every table-maintenance path — vacuum, compact, restore,
read_as_of, whole-table overwrite (unpartitioned purge) — exactly as
Delta's transaction log survives OPTIMIZE/VACUUM (ADVICE r11: the
pre-r12 code salvaged only ``_commits`` and judged nested sidecar files
against the BASE table's committed set, silently resurrecting
soft-deleted rows)."""

from __future__ import annotations

import glob

import pytest

from incremental_dagster_delta_spark import tableio
from incremental_dagster_delta_spark.tableio import (
    DeletionVectors,
    PartitionedTable,
    change_feed,
)

SCHEMA = "k long, payload string, day string"


def _base(spark, path, partitioned=True):
    t = PartitionedTable(spark, str(path), ["day"] if partitioned else [])
    t.append_batch(
        spark.createDataFrame(
            [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (3, "c", "2024-01-01")],
            SCHEMA,
        ),
        0,
    )
    return t


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_vacuum_keeps_live_deletion_vectors(spark, tmp_path):
    """The recommended disjoint version sequence (base batch 0, DV
    batches 1..n) means every committed sidecar file's id is UNcommitted
    in the base table — vacuum must skip hidden subtrees entirely."""
    t = _base(spark, tmp_path / "t")
    dv = DeletionVectors(t, "k")
    assert dv.mark_deleted(_keys(spark, 1), 1)
    assert dv.mark_deleted(_keys(spark, 3), 2)
    before = sorted(glob.glob(str(tmp_path / "t" / "_dv" / "b*")))
    assert before, "sidecar wrote prefixed data files"

    assert t.vacuum() == 0  # nothing is garbage
    assert sorted(glob.glob(str(tmp_path / "t" / "_dv" / "b*"))) == before
    assert sorted(r["k"] for r in dv.read().collect()) == [2]


def test_vacuum_on_sidecar_still_reclaims_its_own_orphans(spark, tmp_path):
    """The fix must not stop the SIDECAR's own vacuum from working when
    invoked on the sidecar table itself."""
    t = _base(spark, tmp_path / "t")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(_keys(spark, 1), 1)
    # fabricate an uncommitted partial publish inside the sidecar
    src = glob.glob(str(tmp_path / "t" / "_dv" / "b1-*.parquet"))[0]
    orphan = src.replace("b1-", "b9-")
    open(orphan, "wb").write(open(src, "rb").read())
    assert dv.sidecar.vacuum() == 1
    assert not glob.glob(str(tmp_path / "t" / "_dv" / "b9-*"))
    assert sorted(r["k"] for r in dv.read().collect()) == [2, 3]


def test_compact_preserves_dv_constraints_and_watermark(spark, tmp_path):
    t = _base(spark, tmp_path / "t")
    t.add_check_constraint("k_positive", "k > 0")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(_keys(spark, 1), 1)
    dv.purge()  # writes the _dv_applied watermark
    dv.mark_deleted(_keys(spark, 2), 2)  # live tombstone over the files

    t.compact()

    # deleted rows stay deleted: 1 was purged into the files, 2 is
    # still masked by the live sidecar batch the swap must preserve
    assert sorted(r["k"] for r in dv.read().collect()) == [3]
    assert dv.applied_through() == 1  # watermark survived
    assert t.check_constraints() == {"k_positive": "k > 0"}
    with pytest.raises(Exception):
        t.append_batch(
            spark.createDataFrame([(-5, "x", "2024-01-01")], SCHEMA), 7
        )


def test_recover_salvages_all_hidden_entries_from_shadow(spark, tmp_path, monkeypatch):
    """Unpartitioned compact crashing after the whole-root swap, before
    the hidden-entry salvage: recover() must move every hidden entry out
    of the ``.preoverwrite`` shadow, not just _commits."""
    t = _base(spark, tmp_path / "t", partitioned=False)
    t.add_check_constraint("k_positive", "k > 0")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(_keys(spark, 1), 1)

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(tableio, "_salvage_hidden_root_entries", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact()
    monkeypatch.undo()
    # the crash state: everything hidden still lives in the shadow
    root = tmp_path / "t"
    pre = tmp_path / "t.preoverwrite"
    for entry in ("_dv", "_constraints.json", "_commits"):
        assert (pre / entry).exists() and not (root / entry).exists()

    t.recover()
    assert not pre.exists()
    assert t.check_constraints() == {"k_positive": "k > 0"}
    assert t.committed_batches() == [0]
    assert sorted(r["k"] for r in dv.read().collect()) == [2, 3]


def test_unpartitioned_purge_keeps_own_sidecar_and_constraints(spark, tmp_path):
    """purge() on an UNPARTITIONED base routes through the whole-table
    overwrite swap, which must not destroy the _dv sidecar driving the
    purge, its watermark, or the table's constraints."""
    t = _base(spark, tmp_path / "t", partitioned=False)
    t.add_check_constraint("k_positive", "k > 0")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(_keys(spark, 1), 1)
    # the delete history is replayable while the prefixed files live …
    feed = change_feed(t, dv, from_batch=-1, to_batch=1)
    deletes = feed.where("_change_type = 'delete'").collect()
    assert [r["k"] for r in deletes] == [1]

    assert dv.purge() == 1
    # … purge collapses pre-purge history (documented, same as compact),
    # but the purge must NOT destroy its own sidecar state mid-protocol:
    assert sorted(r["k"] for r in dv.read().collect()) == [2, 3]
    assert dv.applied_through() == 1
    assert t.check_constraints() == {"k_positive": "k > 0"}
    # a mark_deleted AFTER the purge keeps applying on top
    dv.mark_deleted(_keys(spark, 2), 2)
    assert sorted(r["k"] for r in dv.read().collect()) == [3]


def test_restore_skips_colliding_sidecar_batch_ids(spark, tmp_path):
    """A _dv file whose sidecar batch id collides with a base victim id
    must be neither inventoried nor deleted by restore()."""
    t = _base(spark, tmp_path / "t")
    t.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], SCHEMA), 1)
    t.append_batch(spark.createDataFrame([(5, "e", "2024-01-03")], SCHEMA), 2)
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(_keys(spark, 1), 2)  # collides with base batch 2

    sidecar_files = sorted(glob.glob(str(tmp_path / "t" / "_dv" / "b2-*")))
    assert sidecar_files
    assert t.restore(1) == 1  # rolls back base batch 2 only
    assert sorted(glob.glob(str(tmp_path / "t" / "_dv" / "b2-*"))) == sidecar_files
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4]
    assert sorted(r["k"] for r in dv.read().collect()) == [2, 3, 4]


def test_read_as_of_skips_colliding_sidecar_files(spark, tmp_path):
    """A snapshot must never pull a colliding _dv file (different
    schema) into the base read."""
    t = _base(spark, tmp_path / "t")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(_keys(spark, 1), 0)  # collides with base batch 0
    snap = t.read_as_of(0)
    assert sorted(r["k"] for r in snap.collect()) == [1, 2, 3]
    assert sorted(snap.columns) == ["day", "k", "payload"]


def test_change_feed_refuses_reinsert_under_live_tombstone(spark, tmp_path):
    t = _base(spark, tmp_path / "t")
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(_keys(spark, 1), 1)
    # re-insert k=1 while its tombstone is live: dv.read() hides it
    t.append_batch(spark.createDataFrame([(1, "a2", "2024-01-05")], SCHEMA), 2)
    assert sorted(r["k"] for r in dv.read().collect()) == [2, 3]
    with pytest.raises(ValueError, match="republishes a key"):
        change_feed(t, dv, from_batch=-1, to_batch=2).collect()
    # after a purge the tombstone retires and the feed serves the window
    dv.purge()
    t.append_batch(spark.createDataFrame([(1, "a3", "2024-01-06")], SCHEMA), 3)
    feed = change_feed(t, dv, from_batch=2, to_batch=3)
    assert [r["k"] for r in feed.collect()] == [1]
