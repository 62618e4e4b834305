"""Print the next driver-verification front.

The driver checks only the first 50 registry entries each round and writes
its rows to ``CORRECTNESS_r<N>.json``. This script reads those reports,
computes each oracle-backed qid's age (rounds since its last row with
``hash_match: true``) and prints the next front: the ``--lead`` qids first,
then never-verified qids, then the stalest rows, ties broken
alphabetically.

Usage: python scripts/next_front.py [--lead QID ...]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from collections.abc import Sequence

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_reports(directory: str) -> dict[int, dict]:
    """Round number -> report, for every ``CORRECTNESS_r<N>.json`` in ``directory``."""
    out = {}
    for path in glob.glob(os.path.join(directory, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                out[int(m.group(1))] = json.load(f)
    return out


def next_front(
    reports: dict[int, dict], qids: Sequence[str], lead: Sequence[str] = (), size: int = 50
) -> list[str]:
    """The next ``size``-qid front: ``lead`` in the given order, then the
    other ``qids`` oldest-verified first (never verified before any)."""
    last: dict[str, int] = {}
    for rnd, rows in reports.items():
        for q, row in rows.items():
            if row.get("hash_match") is True:
                last[q] = max(last.get(q, rnd), rnd)
    latest = max(reports, default=0)
    rest = [q for q in qids if q not in lead]
    rest.sort(key=lambda q: (-(latest - last[q]) if q in last else float("-inf"), q))
    return (list(lead) + rest)[:size]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--lead", nargs="*", default=[], help="qids that open the front")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from incremental_dagster_delta_spark.queries import QUERIES

    qids = [q for q, spec in QUERIES.items() if spec.oracle is not None]
    unknown = [q for q in args.lead if q not in qids]
    if unknown:
        print(f"--lead names qids without an oracle: {unknown}", file=sys.stderr)
        return 2
    for q in next_front(load_reports(REPO), qids, args.lead):
        print(q)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
