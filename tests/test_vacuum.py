"""PartitionedTable.vacuum(): Delta-VACUUM parity for the prefixed-batch
parquet layout — reclaim staged leftovers and uncommitted partial
publishes without touching any committed snapshot."""

from __future__ import annotations

import glob
import os

from incremental_dagster_delta_spark.tableio import PartitionedTable

SCHEMA = "k long, payload string, day string"


def _mk(spark, path):
    t = PartitionedTable(spark, str(path), ["day"])
    t.append_batch(spark.createDataFrame([(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], SCHEMA), 0)
    t.append_batch(spark.createDataFrame([(3, "c", "2024-01-01")], SCHEMA), 1)
    return t


def test_vacuum_noop_on_clean_table(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    assert t.vacuum() == 0
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    assert t.committed_batches() == [0, 1]


def test_vacuum_removes_uncommitted_partial_publish(spark, tmp_path):
    """Simulate the worst crash: batch 2 published some data files but
    died before its commit marker. The batch never replays (its stream
    was decommissioned). read() would count the half-published rows;
    vacuum removes them and leaves committed state byte-identical."""
    t = _mk(spark, tmp_path / "t")
    leaf = tmp_path / "t" / "day=2024-01-02"
    # a published-looking file carrying an uncommitted batch prefix
    src = glob.glob(str(tmp_path / "t" / "day=*" / "b0-*.parquet"))[0]
    orphan = leaf / ("b2-" + os.path.basename(src).split("-", 1)[1])
    orphan.write_bytes(open(src, "rb").read())

    before = sorted(r["k"] for r in t.read().collect())
    assert len(before) == 4  # orphan rows leak into reads — the hazard
    n = t.vacuum()
    assert n == 1 and not orphan.exists()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    # committed history still time-travels
    assert sorted(r["k"] for r in t.read_as_of(0).collect()) == [1, 2]


def test_vacuum_clears_staging_leftovers(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    staged = tmp_path / "t" / "_staging" / "batch=7" / "day=2024-01-03"
    staged.mkdir(parents=True)
    (staged / "part-000.parquet").write_bytes(b"junk")
    assert t.vacuum() >= 1
    assert not (tmp_path / "t" / "_staging" / "batch=7").exists()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]


def test_vacuum_keeps_all_committed_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    files_before = sorted(glob.glob(str(tmp_path / "t" / "day=*" / "b*-*.parquet")))
    t.vacuum()
    assert sorted(glob.glob(str(tmp_path / "t" / "day=*" / "b*-*.parquet"))) == files_before
