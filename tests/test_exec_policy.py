"""The small-input execution policy (``tables.sized_shuffle``).

A query declared with ``@query(..., size_from=...)`` (and the pair-finding
helpers that scope themselves) runs with ``spark.sql.shuffle.partitions``
sized from its input bytes, and with AQE off when that count sits at its
floor. These tests pin the job counts that policy buys on the headline
qids, and the scope's conf handling: restored on exit and on error, AQE
left on above the floor, and both confs untouched for an unknown size.
"""

from __future__ import annotations

import uuid

import pytest

from incremental_dagster_delta_spark import tables
from incremental_dagster_delta_spark.queries import QUERIES

AQE = "spark.sql.adaptive.enabled"
PARTITIONS = "spark.sql.shuffle.partitions"


def _jobs_in(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` fires, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"exec-policy-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _execute(spark, sf_dir, qid: str) -> None:
    """One execution as the benchmark runs it: build, then the noop sink."""
    try:
        QUERIES[qid].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        spark.catalog.clearCache()


@pytest.mark.parametrize("qid, max_jobs", [("q_doc_similarity", 8), ("q_unigram_lm", 5)])
def test_headline_job_count(spark, sf_dir, qid, max_jobs):
    """AQE submits each shuffle stage as its own job; with it off at the
    sizing floor a query's stages run inside the jobs its actions start
    (20 and 11 jobs per execution with AQE on)."""
    _execute(spark, sf_dir, qid)  # first execution infers the table schemas
    jobs = _jobs_in(spark, lambda: _execute(spark, sf_dir, qid))
    assert jobs <= max_jobs, f"{qid} fired {jobs} jobs"


def _confs(spark) -> tuple[str, str]:
    return spark.conf.get(AQE), spark.conf.get(PARTITIONS)


def test_scope_at_floor_disables_aqe_and_restores(spark, sf_dir):
    docs = tables.load_table(spark, sf_dir, "documents")
    before = _confs(spark)
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    with tables.sized_shuffle(docs):
        assert _confs(spark) == ("false", str(floor))
    assert _confs(spark) == before


def test_scope_restores_when_body_raises(spark, sf_dir):
    docs = tables.load_table(spark, sf_dir, "documents")
    before = _confs(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with tables.sized_shuffle(docs):
            assert spark.conf.get(AQE) == "false"
            raise RuntimeError("boom")
    assert _confs(spark) == before


def test_above_floor_keeps_aqe_on(spark, sf_dir, monkeypatch):
    docs = tables.load_table(spark, sf_dir, "documents")
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    # an estimated shuffle (4 x input bytes) of floor x 32 MB plus one byte
    monkeypatch.setattr(tables, "_input_bytes", lambda df: floor * (8 << 20) + 1)
    before = _confs(spark)
    with tables.sized_shuffle(docs):
        assert spark.conf.get(AQE) == before[0] == "true"
        assert int(spark.conf.get(PARTITIONS)) == floor + 1
    assert _confs(spark) == before


def test_unknown_size_leaves_confs_untouched(spark, sf_dir, monkeypatch):
    docs = tables.load_table(spark, sf_dir, "documents")
    monkeypatch.setattr(tables, "_input_bytes", lambda df: None)
    before = _confs(spark)
    with tables.sized_shuffle(docs):
        assert _confs(spark) == before
    assert _confs(spark) == before


def test_size_from_wraps_registered_fn(spark, sf_dir):
    """``size_from`` runs the registered function inside the scope; the
    module-level function stays bare for other queries to call."""
    from incremental_dagster_delta_spark.queries import unigram_lm

    spec = QUERIES["q_unigram_lm"]
    assert spec.size_from == "documents"
    assert spec.fn is not unigram_lm.q_unigram_lm
    assert spec.fn.__wrapped__ is unigram_lm.q_unigram_lm


@pytest.mark.parametrize("raises", [False, True])
def test_scope_acts_on_the_dataframes_session(spark, sf_dir, raises):
    """A ``foreachBatch`` body gets a DataFrame bound to the stream's
    cloned session; the scope must size that session, not the caller's."""
    other = spark.newSession()
    docs = tables.load_table(other, sf_dir, "documents")
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    before, other_before = _confs(spark), _confs(other)

    def body():
        with tables.sized_shuffle(docs):
            assert _confs(other) == ("false", str(floor))
            assert _confs(spark) == before
            if raises:
                raise RuntimeError("boom")

    if raises:
        with pytest.raises(RuntimeError, match="boom"):
            body()
    else:
        body()
    assert _confs(other) == other_before
    assert _confs(spark) == before
