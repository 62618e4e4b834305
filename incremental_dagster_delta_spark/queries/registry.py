"""Query registry backing ``__spark_entry__.py``.

Each registered query is a pair: a Spark DataFrame program (the engine
under test) and, where SQL-expressible, an ANSI-SQL oracle string executed
by DuckDB over the same parquet tables. Column names/types and float
determinism are aligned on both sides (exact decimal arithmetic for money,
``round(x, 4)`` for genuinely floating results) so the driver's
order-insensitive value-hash matches bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from incremental_dagster_delta_spark.tables import load_table


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None → non-SQL-expressible (rows-only check)
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


# THE whitespace tokenizer in DuckDB SQL — one definition for every
# query module whose oracle tokenizes documents.text (r15 review: the
# SQL string was copy-pasted per module, and the oracles only stay
# aligned while every copy is edited in lockstep).
TOKS_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), bench: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # fail at import time on a name collision: a silent overwrite
        # drops the earlier query from the driver sweep, the oracle
        # parametrization, and the bench set with every gate still
        # green (r15 review)
        assert name not in QUERIES, f"duplicate query name: {name}"
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
