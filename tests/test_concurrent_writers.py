"""Concurrent-writer behavior of PartitionedTable.append_batch — the
documented guarantee matrix for the marker-based commit protocol
(tableio.py), pinning the remaining semantic distance to the reference's
delta-rs transactions (delta_io.py:112-116):

- distinct batch ids, disjoint OR overlapping partitions: concurrent
  appends commute (per-batch staging dirs, per-batch file prefixes,
  per-batch markers — no shared mutable state);
- same batch id, serialized writers: the second observes the commit
  marker and no-ops (returns False) — the foreachBatch replay contract;
- same batch id, truly concurrent writers: exactly one wins the
  put-if-absent commit marker and publishes; every other returns False
  and its rows never become visible.
"""

from __future__ import annotations

import threading

from incremental_dagster_delta_spark.tableio import PartitionedTable

import pytest

# Excluded from the default run so `pytest tests/` fits the driver's
# verify budget (pyproject addopts); scripts/partest.py runs it.
pytestmark = pytest.mark.slow


def _df(spark, day: str, n: int, base: int):
    return spark.createDataFrame(
        [(base + i, f"w{base + i}", day) for i in range(n)],
        "id long, word string, day string",
    )


def _run_threads(fns):
    errs = []

    def wrap(fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    threads = [threading.Thread(target=wrap, args=(fn,)) for fn in fns]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs


def test_concurrent_appends_disjoint_partitions(spark, tmp_path):
    table = PartitionedTable(spark, str(tmp_path / "t1"), ["day"])
    _run_threads(
        [
            lambda: table.append_batch(_df(spark, "2024-01-01", 7, 0), 1),
            lambda: table.append_batch(_df(spark, "2024-01-02", 9, 100), 2),
        ]
    )
    out = table.read()
    assert out.count() == 16
    assert out.where("day = '2024-01-01'").count() == 7
    assert out.where("day = '2024-01-02'").count() == 9
    metrics = table.batch_metrics()
    assert metrics[1]["rows"] == 7 and metrics[2]["rows"] == 9


def test_concurrent_appends_same_partition(spark, tmp_path):
    """Two writers landing in the SAME leaf partition directory must both
    commit: published file names carry the b{batch_id}- prefix, so the
    renames can never collide."""
    table = PartitionedTable(spark, str(tmp_path / "t2"), ["day"])
    _run_threads(
        [
            lambda: table.append_batch(_df(spark, "2024-01-03", 5, 0), 1),
            lambda: table.append_batch(_df(spark, "2024-01-03", 6, 100), 2),
        ]
    )
    out = table.read().where("day = '2024-01-03'")
    assert out.count() == 11
    # every row exactly once — no clobbered or doubled files
    assert out.select("id").distinct().count() == 11


def test_same_batch_id_second_writer_noops(spark, tmp_path):
    """A second writer handle (fresh PartitionedTable over the same path
    — e.g. a restarted pipeline replaying its last micro-batch) must
    observe the commit marker and skip, leaving the table unchanged."""
    path = str(tmp_path / "t3")
    first = PartitionedTable(spark, path, ["day"])
    assert first.append_batch(_df(spark, "2024-01-04", 4, 0), 7) is True
    second = PartitionedTable(spark, path, ["day"])
    assert second.append_batch(_df(spark, "2024-01-04", 4, 50), 7) is False
    out = first.read()
    assert out.count() == 4
    assert {r["id"] for r in out.collect()} == {0, 1, 2, 3}


def test_same_batch_id_truly_concurrent_one_commits(spark, tmp_path):
    """Two writers racing the SAME batch id: exactly one publishes, the
    other returns False before its data becomes visible. The surviving
    batch is internally consistent (marker rows == visible rows)."""
    path = str(tmp_path / "t4")
    a = PartitionedTable(spark, path, ["day"])
    b = PartitionedTable(spark, path, ["day"])
    results: dict[str, object] = {}

    def run(name, table, n, base):
        results[name] = table.append_batch(_df(spark, "2024-01-05", n, base), 9)

    _run_threads([lambda: run("a", a, 5, 0), lambda: run("b", b, 6, 100)])
    oks = [k for k, v in results.items() if v is True]
    assert len(oks) == 1, results
    assert [k for k, v in results.items() if v is False] == [
        k for k in ("a", "b") if k not in oks
    ], results
    out = a.read().where("day = '2024-01-05'")
    expected = 5 if oks == ["a"] else 6
    assert out.count() == expected
    assert out.select("id").distinct().count() == expected
    assert a.batch_metrics()[9]["rows"] == expected


def test_slow_live_holder_is_not_usurped(spark, tmp_path):
    """A same-batch writer arriving while the committed winner is still
    slow in its roll-forward no-ops (returns False) after completing
    the roll-forward itself; the winner then finds its files already
    published and still returns True. Rows land exactly once."""
    import time

    path = str(tmp_path / "hb2")
    slow = PartitionedTable(spark, path, ["day"])
    fast = PartitionedTable(spark, path, ["day"])
    committed = threading.Event()
    orig = slow._roll_forward

    def slow_roll_forward(fs, Path, batch_id, writer):  # runs after the commit
        committed.set()
        time.sleep(1.5)
        return orig(fs, Path, batch_id, writer)

    slow._roll_forward = slow_roll_forward
    results: dict[str, object] = {}

    def run_slow():
        results["slow"] = slow.append_batch(_df(spark, "2024-02-01", 4, 0), 11)

    def run_fast():
        assert committed.wait(120)
        results["fast"] = fast.append_batch(_df(spark, "2024-02-01", 9, 100), 11)

    _run_threads([run_slow, run_fast])
    assert results == {"slow": True, "fast": False}, results
    out = slow.read().where("day = '2024-02-01'")
    assert out.count() == 4
    assert {r["id"] for r in out.collect()} == {0, 1, 2, 3}
    assert slow.batch_metrics()[11]["rows"] == 4


def test_four_concurrent_writers_same_batch_exactly_once(spark, tmp_path):
    """Four truly-concurrent same-batch writers: exactly one publishes,
    the rest return False, and the surviving rows are internally
    consistent — the guarantee matrix's raced row at higher contention
    than the pairwise tests."""
    path = str(tmp_path / "t8")
    tables = [PartitionedTable(spark, path, ["day"]) for _ in range(4)]
    results: dict[int, object] = {}

    def run(i):
        results[i] = tables[i].append_batch(
            _df(spark, "2024-03-01", 3 + i, i * 100), 21
        )

    _run_threads([lambda i=i: run(i) for i in range(4)])
    oks = [i for i, v in results.items() if v is True]
    assert len(oks) == 1, results
    assert sorted(i for i, v in results.items() if v is False) == sorted(
        set(range(4)) - set(oks)
    ), results
    winner = oks[0]
    out = tables[0].read().where("day = '2024-03-01'")
    expected = 3 + winner
    assert out.count() == expected
    assert out.select("id").distinct().count() == expected
    assert {r["id"] for r in out.collect()} == {winner * 100 + k for k in range(expected)}
    assert tables[0].batch_metrics()[21]["rows"] == expected
