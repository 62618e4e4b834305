"""Regenerate ``expected_query.json``: the result digest of each
``query_headline`` qid, computed by the DuckDB oracle over the tables
shipped in ``data/``. Run once, offline, from the repository root:

    python3 perfbench/make_expected.py

The benchmark itself never runs DuckDB; it compares Spark's results to
the stored digests.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from incremental_dagster_delta_spark.oracle import duckdb_con  # noqa: E402
from incremental_dagster_delta_spark.queries import QUERIES  # noqa: E402

from wl_query import HEADLINE_QIDS, SF_DIR  # noqa: E402
from qcheck import result_digest  # noqa: E402


def main() -> None:
    con = duckdb_con(SF_DIR)
    out = {}
    for qid in HEADLINE_QIDS:
        t0 = time.perf_counter()
        out[qid] = result_digest(con.sql(QUERIES[qid].oracle).df())
        print(f"{qid}: {out[qid]['rows']} rows, {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(os.path.join(HERE, "expected_query.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
