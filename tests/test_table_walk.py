"""Table-tree walks skip hidden sidecar state, and ``exists()`` runs no job.

``exists()`` is "the hidden-pruning walk yields a file", answered from
the filesystem alone; ``_live_file_statuses`` (the liveness filter behind
maintenance rewrites and the Delta-log export) must see exactly the files
a plain ``os.walk`` that prunes ``_``/``.`` entries sees. One planted
tree pins every consumer of the file inventory (snapshot, change feed,
leaf listing, log export, vacuum, restore) against an ``os.walk``
reference. The last test pins the pipeline's export of a table whose
last visible file went away.
"""

from __future__ import annotations

import os
import re
import urllib.parse
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from incremental_dagster_delta_spark.deltalog import DeltaLogExporter, _replay
from incremental_dagster_delta_spark.streaming.pipeline import IngestPipeline
from incremental_dagster_delta_spark.tableio import (
    HIVE_NULL_PARTITION,
    PartitionedTable,
    change_feed,
)


def _jobs_in(spark, fn):
    """(``fn()``, number of Spark jobs it fired), counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"table-walk-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _touch(path, data=b"{}"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def test_exists_fires_no_spark_job(spark, tmp_path):
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(spark.createDataFrame([("a", "d1"), ("b", "d2")], "w string, day string"), 0)
    found, jobs = _jobs_in(spark, t.exists)
    assert found is True
    assert jobs == 0


def test_exists_ignores_hidden_state(spark, tmp_path):
    root = tmp_path / "t"
    t = PartitionedTable(spark, str(root), ["day"])
    assert t.exists() is False  # missing root
    _touch(str(root / "_commits" / "0"))
    _touch(str(root / "_delta_log" / "00000000000000000000.json"))
    staged = root / "_staging" / "batch=0-tok" / "day=d1"
    os.makedirs(staged)
    pq.write_table(pa.table({"w": ["a"]}), staged / "part-00000.parquet")
    assert t.exists() is False  # only sidecars and staging
    os.makedirs(root / "day=d1")
    pq.write_table(pa.table({"w": ["a"]}), root / "day=d1" / "part-00000.parquet")
    assert t.exists() is True


def test_live_file_statuses_match_os_walk(spark, tmp_path):
    root = tmp_path / "t"
    t = PartitionedTable(spark, str(root), ["day"])
    df = spark.createDataFrame([("a", "d1"), ("b", "d2")], "w string, day string")
    t.append_batch(df, 0)
    t.append_batch(df, 1)
    # b{id}- files under hidden trees carry ids of their own sequence
    _touch(str(root / "_dv" / "day=d1" / "b0-tok-part-00000.parquet"), b"x")
    _touch(str(root / "_dv" / "b7-tok-part-00000.parquet"), b"x")
    _touch(str(root / "_staging" / "batch=1-tok" / "day=d2" / "b1-tok-part-0.parquet"), b"x")
    # an uncommitted partial in a visible leaf is not live
    _touch(str(root / "day=d1" / "b9-tok-part-00000.parquet"), b"x")

    committed = set(t.committed_batches())
    expected = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            if name.startswith(("_", ".")):
                continue
            bid = name[1 : name.index("-")] if name.startswith("b") and "-" in name else ""
            if bid.isdigit() and int(bid) not in committed:
                continue
            expected.add(os.path.relpath(os.path.join(dirpath, name), root))

    got = {rel for rel, _ in t._live_file_statuses()}
    assert got == expected
    assert {rel.split("/")[0] for rel in got} == {"day=d1", "day=d2"}
    assert len(got) >= 4  # both batches, both days


def _walk_reference(root):
    """{root-relative path: batch id or None} of every visible file, by
    ``os.walk`` pruning ``_``/``.`` entries."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            if not name.startswith(("_", ".")):
                m = re.match(r"b(\d+)-", name)
                rel = os.path.relpath(os.path.join(dirpath, name), root)
                out[rel] = int(m.group(1)) if m else None
    return out


def _day_of(rel):
    """The partition value a file's leaf holds: unescaped, null for hive's sentinel."""
    day = urllib.parse.unquote(os.path.dirname(rel).split("=", 1)[1])
    return None if day == HIVE_NULL_PARTITION else day


def _file_rows(root, rels):
    """Sorted (w, day) rows of ``rels``, read with pyarrow."""
    return sorted(
        (w, _day_of(rel))
        for rel in rels
        for w in pq.read_table(os.path.join(root, rel)).column("w").to_pylist()
    )


def test_planted_tree_every_inventory_consumer_agrees(spark, tmp_path):
    root = tmp_path / "t"
    t = PartitionedTable(spark, str(root), ["day"])
    schema = "w string, day string"
    t.append_batch(spark.createDataFrame([("a0", "a:b"), ("n0", None)], schema), 0)
    t.append_batch(spark.createDataFrame([("a1", "a:b"), ("n1", None)], schema), 1)
    leaves = sorted(os.listdir(root))
    assert "day=a%3Ab" in leaves and f"day={HIVE_NULL_PARTITION}" in leaves
    # an unprefixed file: part of every snapshot
    pq.write_table(pa.table({"w": ["u"]}), root / "day=a%3Ab" / "part-unversioned.parquet")
    # an uncommitted partial, alone in its leaf
    os.makedirs(root / "day=p")
    pq.write_table(pa.table({"w": ["p9"]}), root / "day=p" / "b9-tok-part-00000.parquet")
    # a sidecar file whose id collides with base batch 1
    os.makedirs(root / "_dv")
    pq.write_table(pa.table({"w": ["dv"]}), root / "_dv" / "b1-tok-part-00000.parquet")

    ref = _walk_reference(root)
    committed = set(t.committed_batches())
    assert committed == {0, 1}
    assert sorted(set(ref.values()), key=str) == [0, 1, 9, None]
    live = {rel for rel, bid in ref.items() if bid is None or bid in committed}

    for k in (0, 1):
        snap = [rel for rel, bid in ref.items() if bid is None or (bid in committed and bid <= k)]
        got = sorted((r["w"], r["day"]) for r in t.read_as_of(k).collect())
        assert got == _file_rows(root, snap)

    feed = change_feed(t, None, -1, 1)
    got = sorted((r["w"], r["day"], r["_commit_version"]) for r in feed.collect())
    want = sorted(
        (w, day, bid)
        for rel, bid in ref.items()
        if bid in committed
        for w, day in _file_rows(root, [rel])
    )
    assert got == want
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}

    want_leaves = sorted({urllib.parse.unquote(os.path.dirname(rel)[4:]) for rel in live})
    assert t.leaf_partitions() == [{"day": d} for d in want_leaves]
    assert "p" not in want_leaves

    DeltaLogExporter(t).export()
    state = _replay(os.path.join(root, "_delta_log"))[0]
    assert {rel: a["partitionValues"] for rel, a in state.items()} == {
        rel: {"day": _day_of(rel)} for rel in live
    }
    assert {"day": None} in [a["partitionValues"] for a in state.values()]

    orphans = [rel for rel, bid in ref.items() if bid is not None and bid not in committed]
    assert t.vacuum() == len(orphans) == 1
    assert _walk_reference(root) == {rel: bid for rel, bid in ref.items() if rel not in orphans}

    victims = [rel for rel, bid in ref.items() if bid == 1]
    assert t.restore(0) == 1
    assert _walk_reference(root) == {
        rel: bid for rel, bid in ref.items() if rel not in orphans and rel not in victims
    }
    assert (root / "_dv" / "b1-tok-part-00000.parquet").exists()
    assert sorted((r["w"], r["day"]) for r in t.read().collect()) == [
        ("a0", "a:b"),
        ("n0", None),
        ("u", "a:b"),
    ]


def test_emptied_table_exports_remove_only_version(spark, tmp_path):
    """A day whose one violating file is fixed empties quarantine on
    ``refresh(day)``; the exported quarantine log must follow it to an
    empty snapshot instead of replaying to the deleted file."""
    ingest, tables = tmp_path / "ingest", str(tmp_path / "tables")
    words = {"f0.txt": "alpha", "f1.txt": "beta", "f2.txt": "bad1"}
    for name, word in words.items():
        _touch(str(ingest / "day=2024-03-26" / name), word.encode())
    pipe = IngestPipeline(
        spark,
        str(ingest),
        tables,
        expectations={"alpha_word": "word RLIKE '^[a-z]+$'"},
        export_delta_log=True,
    )
    pipe.run_incremental()
    log_dir = os.path.join(pipe.quarantine.path, "_delta_log")
    assert pipe.quarantine.read().count() == 1
    assert len(_replay(log_dir)[0]) > 0

    _touch(str(ingest / "day=2024-03-26" / "f2.txt"), b"gamma")
    pipe.refresh("2024-03-26")
    assert pipe.quarantine.exists() is False
    assert _replay(log_dir)[0] == {}
    assert pipe.processed.read().count() == 3
