"""The append commit protocol of PartitionedTable.append_batch: one
atomic put-if-absent commit marker per batch, files published into the
table only after the commit, and an idempotent roll-forward that a
replay or ``recover()`` completes after a crash."""

from __future__ import annotations

import glob
import os
import threading

import pytest

from incremental_dagster_delta_spark.tableio import PartitionedTable, _put_if_absent

DAYS = ["2024-05-01", "2024-05-02", "2024-05-03"]


def _df(spark, n: int, base: int):
    return spark.createDataFrame(
        [(base + i, f"w{base + i}", DAYS[i % len(DAYS)]) for i in range(n)],
        "id long, word string, day string",
    )


def _hadoop(spark, path: str):
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def _write(fs, p, data: bytes) -> None:
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _race(fns, timeout: float = 120.0) -> None:
    errs: list[BaseException] = []
    barrier = threading.Barrier(len(fns))

    def run(fn):
        try:
            barrier.wait(timeout)
            fn()
        except BaseException as e:  # surfaced by the assert below
            errs.append(e)

    threads = [threading.Thread(target=run, args=(fn,)) for fn in fns]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout)
    assert not any(th.is_alive() for th in threads), "racer hung"
    assert not errs, errs


class _SchemeAs:
    """A Hadoop FileSystem handle that reports another scheme, so the
    non-local branch of ``_put_if_absent`` runs against the local FS."""

    def __init__(self, fs, scheme: str):
        self._fs, self._scheme = fs, scheme

    def getScheme(self):
        return self._scheme

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_put_if_absent_eight_threads_one_winner(spark, tmp_path):
    fs, Path = _hadoop(spark, str(tmp_path))
    dst = Path(str(tmp_path / "marker"))
    payloads = [(f"writer-{i}|" * 4096).encode() for i in range(8)]
    tmps = [Path(str(tmp_path / f"marker.tmp-{i}")) for i in range(8)]
    for p, data in zip(tmps, payloads):
        _write(fs, p, data)
    won: dict[int, bool] = {}

    def attempt(i: int):
        won[i] = _put_if_absent(fs, tmps[i], dst)

    _race([lambda i=i: attempt(i) for i in range(8)])
    winners = [i for i, ok in won.items() if ok]
    assert len(won) == 8 and len(winners) == 1, won
    assert (tmp_path / "marker").read_bytes() == payloads[winners[0]]
    assert glob.glob(str(tmp_path / "marker.tmp-*")) == []


def test_put_if_absent_hadoop_rename_branch(spark, tmp_path):
    """The non-local branch: FileContext rename with Options.Rename.NONE
    refuses an existing destination and keeps its content."""
    real, Path = _hadoop(spark, str(tmp_path))
    fs = _SchemeAs(real, "hdfs")
    dst = Path(str(tmp_path / "marker"))
    first, second = Path(str(tmp_path / "a.tmp")), Path(str(tmp_path / "b.tmp"))
    _write(real, first, b"first")
    _write(real, second, b"second")
    assert _put_if_absent(fs, first, dst) is True
    assert _put_if_absent(fs, second, dst) is False
    assert (tmp_path / "marker").read_bytes() == b"first"
    assert not (tmp_path / "a.tmp").exists() and not (tmp_path / "b.tmp").exists()


def test_four_handles_race_same_batch_exactly_once(spark, tmp_path):
    path = str(tmp_path / "t")
    tables = [PartitionedTable(spark, path, ["day"]) for _ in range(4)]
    results: dict[int, bool] = {}

    def run(i: int):
        results[i] = tables[i].append_batch(_df(spark, 3 + i, 100 * i), 21)

    _race([lambda i=i: run(i) for i in range(4)])
    winners = [i for i, ok in results.items() if ok is True]
    assert len(winners) == 1 and len(results) == 4, results
    assert all(ok is False for i, ok in results.items() if i != winners[0]), results
    w = winners[0]
    ids = sorted(r["id"] for r in tables[0].read().collect())
    assert ids == [100 * w + k for k in range(3 + w)]
    assert tables[0].batch_metrics()[21]["rows"] == len(ids)
    assert tables[0].committed_batches() == [21]


class _CrashAfterFirstRename:
    """Hadoop FileSystem proxy whose rename raises after one success."""

    def __init__(self, fs):
        self._fs, self.renames = fs, 0

    def rename(self, src, dst):
        if self.renames:
            raise RuntimeError("injected crash mid roll-forward")
        self.renames += 1
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


@pytest.mark.parametrize("completion", ["replay", "recover"])
def test_crash_after_commit_is_rolled_forward(spark, tmp_path, monkeypatch, completion):
    path = str(tmp_path / "t")
    table = PartitionedTable(spark, path, ["day"])
    table.append_batch(_df(spark, 4, 0), 0)
    real = PartitionedTable._roll_forward

    def crashing(self, fs, Path, batch_id, writer):
        real(self, _CrashAfterFirstRename(fs), Path, batch_id, writer)

    monkeypatch.setattr(PartitionedTable, "_roll_forward", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        table.append_batch(_df(spark, 9, 100), 1)
    monkeypatch.undo()
    # committed, one staged file published: the documented window
    assert table.committed_batches() == [0, 1]
    assert len(glob.glob(os.path.join(path, "day=*", "b1-*"))) == 1
    assert glob.glob(os.path.join(path, "_staging", "batch=1-*"))
    if completion == "replay":
        assert table.append_batch(_df(spark, 9, 500), 1) is False
    else:
        table.recover()
    ids = sorted(r["id"] for r in table.read().collect())
    assert ids == [0, 1, 2, 3] + [100 + k for k in range(9)]
    assert table.batch_metrics()[1]["rows"] == 9
    assert glob.glob(os.path.join(path, "_staging", "batch=1-*")) == []


def test_uncommitted_staging_leftover_does_not_block(spark, tmp_path):
    path = str(tmp_path / "t")
    leftover = tmp_path / "t" / "_staging" / "batch=5-deadbeef" / f"day={DAYS[0]}"
    leftover.mkdir(parents=True)
    (leftover / "part-00000.parquet").write_bytes(b"crashed writer junk")
    table = PartitionedTable(spark, path, ["day"])
    assert table.append_batch(_df(spark, 5, 0), 5) is True
    assert not (tmp_path / "t" / "_staging" / "batch=5-deadbeef").exists()
    assert sorted(r["id"] for r in table.read().collect()) == [0, 1, 2, 3, 4]


def test_vacuum_rolls_committed_staging_forward(spark, tmp_path, monkeypatch):
    """vacuum() deletes leftover staging, but never a committed batch's:
    its recover() pass publishes them first."""
    path = str(tmp_path / "t")
    table = PartitionedTable(spark, path, ["day"])

    def crash(self, fs, Path, batch_id, writer):
        raise RuntimeError("injected crash before roll-forward")

    monkeypatch.setattr(PartitionedTable, "_roll_forward", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        table.append_batch(_df(spark, 6, 0), 3)
    monkeypatch.undo()
    assert table.committed_batches() == [3]
    assert not glob.glob(os.path.join(path, "day=*"))
    table.vacuum()
    assert sorted(r["id"] for r in table.read().collect()) == list(range(6))
    assert glob.glob(os.path.join(path, "_staging", "*")) == []

