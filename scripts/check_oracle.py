"""Driver-like correctness check for all registered queries.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Each distinct oracle SQL runs once per invocation: several qids share
one oracle (q_ngram_jaccard, q_dedup_minhash and q_ngram_jaccard_prefix
share ``dedup._PAIRS_ORACLE``), and every qid's Spark result is still
compared in full against the shared frame.
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incremental_dagster_delta_spark.oracle import compare_query, duckdb_con
from incremental_dagster_delta_spark.queries import QUERIES
from incremental_dagster_delta_spark.session import get_spark


class _OnceCon:
    """A DuckDB connection whose ``sql(q).df()`` evaluates each distinct
    ``q`` once: the frame is kept only until the last of the ``uses[q]``
    qids sharing it has taken its own copy."""

    def __init__(self, con, uses: Counter) -> None:
        self.con = con
        self.uses = uses
        self.frames: dict = {}

    def sql(self, q: str):
        frame = self.frames.pop(q, None)
        if frame is None:
            frame = self.con.sql(q).df()
        self.uses[q] -= 1
        if self.uses[q] > 0:
            self.frames[q] = frame
            frame = frame.copy()
        return SimpleNamespace(df=lambda: frame)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    uses = Counter(
        spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle is not None and (not only or name in only)
    )
    con = _OnceCon(duckdb_con(sf_dir), uses)
    failures = checked = 0
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            r = compare_query(spark, con, name, spec, sf_dir)
        except Exception as e:
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: {r.spark_rows} rows (no oracle)")
        elif r.ok:
            print(f"PASS  {name}: {r.spark_rows} rows")
        else:
            failures += 1
            print(
                f"FAIL  {name}: rows {r.spark_rows} vs {r.oracle_rows}; "
                f"cols={r.cols_match} hash={r.hash_match} {r.detail}"
            )
    print(f"\n{'OK' if failures == 0 else 'FAILURES'}: {checked} queries, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
