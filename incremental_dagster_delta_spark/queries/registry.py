"""Query registry backing ``__spark_entry__.py``.

Each registered query is a pair: a Spark DataFrame program (the engine
under test) and, where SQL-expressible, an ANSI-SQL oracle string executed
by DuckDB over the same parquet tables. Column names/types and float
determinism are aligned on both sides (exact decimal arithmetic for money,
``round(x, 4)`` for genuinely floating results) so the driver's
order-insensitive value-hash matches bit-for-bit.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from incremental_dagster_delta_spark.tables import load_table, sized_shuffle


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None → non-SQL-expressible (rows-only check)
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    # table whose bytes size the query's execution policy (see @query)
    size_from: str | None = None


# THE whitespace tokenizer in DuckDB SQL — one definition for every
# query module whose oracle tokenizes documents.text (r15 review: the
# SQL string was copy-pasted per module, and the oracles only stay
# aligned while every copy is edited in lockstep).
TOKS_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    size_from: str | None = None,
):
    """Register ``fn`` as query ``name``.

    ``size_from`` names the testdata table whose on-disk bytes size the
    query's execution: the registered ``fn`` runs inside
    :func:`tables.sized_shuffle` over that table (shuffle partitions from
    input bytes; AQE off at the sizing floor). The scope only covers work
    that runs inside the call, so declare it on queries that materialize
    their result before returning (``materialize_release``) or that run
    driver-side jobs while building (EM / Lloyd's loops). The decorator
    returns the bare function, so a query that calls another's module
    function runs it under its own policy."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # fail at import time on a name collision: a silent overwrite
        # drops the earlier query from the driver sweep, the oracle
        # parametrization, and the bench set with every gate still
        # green (r15 review)
        assert name not in QUERIES, f"duplicate query name: {name}"
        run = fn
        if size_from is not None:

            @functools.wraps(fn)
            def run(spark, sf_dir):
                with sized_shuffle(load_table(spark, sf_dir, size_from)):
                    return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(
            fn=run, oracle=oracle, tags=tags, bench=bench, size_from=size_from
        )
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
