"""Write-path CHECK constraints (tableio): all-or-nothing rejection on
every write path, SQL three-valued semantics (NULL passes), existing-data
validation on ADD, persistence, and the hidden-sidecar invariant."""

from __future__ import annotations

import pytest

from incremental_dagster_delta_spark.tableio import (
    CheckConstraintViolation,
    PartitionedTable,
)


@pytest.fixture()
def table(spark, tmp_path):
    return PartitionedTable(spark, str(tmp_path / "t"), ["day"])


def _rows(spark, vals, day="d1"):
    return spark.createDataFrame([(k, day) for k in vals], "k long, day string")


def test_violating_append_batch_rejected_atomically(spark, table):
    table.add_check_constraint("k_positive", "k > 0")
    assert table.append_batch(_rows(spark, [1, 2, 3]), 0)
    with pytest.raises(CheckConstraintViolation, match="k_positive"):
        table.append_batch(_rows(spark, [4, -1, 5]), 1)
    # all-or-nothing: the clean rows of the bad batch did NOT land,
    # no marker committed, and the batch id is still open
    assert table.committed_batches() == [0]
    assert sorted(r["k"] for r in table.read().collect()) == [1, 2, 3]
    assert table.append_batch(_rows(spark, [4, 5]), 1)
    assert sorted(r["k"] for r in table.read().collect()) == [1, 2, 3, 4, 5]


def test_plain_append_and_overwrite_also_enforce(spark, table):
    table.add_check_constraint("k_small", "k < 100")
    assert table.append(_rows(spark, [1]))
    with pytest.raises(CheckConstraintViolation):
        table.append(_rows(spark, [100]))
    with pytest.raises(CheckConstraintViolation):
        table.overwrite_partitions(_rows(spark, [7, 200]))
    assert sorted(r["k"] for r in table.read().collect()) == [1]


def test_null_predicate_passes_like_sql_check(spark, table):
    """SQL CHECK semantics: a constraint is violated only when the
    predicate is FALSE; NULL (unknown) passes."""
    table.add_check_constraint("k_positive", "k > 0")
    df = spark.createDataFrame([(1, "d1"), (None, "d1")], "k long, day string")
    assert table.append_batch(df, 0)  # NULL k: predicate UNKNOWN → pass
    assert table.read().count() == 2


def test_add_constraint_validates_existing_data(spark, table):
    table.append_batch(_rows(spark, [1, -5]), 0)
    with pytest.raises(CheckConstraintViolation):
        table.add_check_constraint("k_positive", "k > 0")
    assert table.check_constraints() == {}  # refused → not registered
    table.add_check_constraint("k_over_minus10", "k > -10")
    assert "k_over_minus10" in table.check_constraints()


def test_constraints_persist_and_drop(spark, table, tmp_path):
    table.add_check_constraint("k_positive", "k > 0")
    fresh = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    assert fresh.check_constraints() == {"k_positive": "k > 0"}
    with pytest.raises(CheckConstraintViolation):
        fresh.append_batch(_rows(spark, [-1]), 0)
    fresh.drop_check_constraint("k_positive")
    assert fresh.append_batch(_rows(spark, [-1]), 0)
    # the sidecar is a _-prefixed file: invisible to the data scan
    assert fresh.read().count() == 1


def test_constraints_survive_crash_between_delete_and_rename(spark, table, tmp_path):
    """A replace that crashed after deleting ``_constraints.json`` and
    before renaming its tmp file into place leaves only the tmp file:
    the constraints it holds must still apply."""
    import json
    import os

    table.add_check_constraint("k_positive", "k > 0")
    main = tmp_path / "t" / "_constraints.json"
    newer = {"seq": 2, "constraints": {"k_positive": "k > 0", "k_small": "k < 100"}}
    (tmp_path / "t" / "_constraints.json.tmp-crash").write_text(json.dumps(newer))
    os.remove(main)
    assert table.check_constraints() == newer["constraints"]
    with pytest.raises(CheckConstraintViolation, match="k_small"):
        table.append_batch(_rows(spark, [1, 500]), 0)
    assert table.committed_batches() == []
