"""``scripts/next_front.py`` orders the driver front by verification age."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "next_front", os.path.join(os.path.dirname(__file__), "..", "scripts", "next_front.py")
)
next_front = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(next_front)


def _row(ok: bool) -> dict:
    return {"rows_match": ok, "schema_match": ok, "hash_match": ok, "err": None}


def test_front_from_two_reports(tmp_path):
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_b": _row(True), "q_c": _row(True), "q_d": _row(True), "q_e": _row(True)})
    )
    (tmp_path / "CORRECTNESS_r07.json").write_text(
        json.dumps({"q_c": _row(True), "q_d": _row(False), "q_f": _row(True)})
    )
    (tmp_path / "notes.json").write_text("{}")
    reports = next_front.load_reports(str(tmp_path))
    assert sorted(reports) == [3, 7]

    qids = ["q_f", "q_e", "q_d", "q_c", "q_b", "q_a", "q_z"]
    # never verified (q_a, q_z) first, then age 4 (q_b, q_d, q_e: q_d's r07
    # row did not match), then age 0 (q_c, q_f); ties alphabetical
    assert next_front.next_front(reports, qids) == [
        "q_a", "q_z", "q_b", "q_d", "q_e", "q_c", "q_f",
    ]
    # lead qids open the front in the given order and are not repeated;
    # the list is cut at the requested size
    assert next_front.next_front(reports, qids, lead=["q_f", "q_c"], size=4) == [
        "q_f", "q_c", "q_a", "q_z",
    ]
