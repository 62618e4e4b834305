"""Order-insensitive digest of a query result, for checking the
``query_headline`` workload against expected values derived offline from
the DuckDB oracle (``make_expected.py``).

Cells are compared as values, not as each engine renders them: every
number becomes a float printed to 6 significant digits (the precision of
the engine's own oracle gate), so DuckDB's HUGEINT sums (``74.0``) equal
Spark's bigint (``74``), and ``-0.0`` equals ``0.0``. The engine's gate
(``oracle.pandas_hash``) keeps the sign of zero instead, where ``q_rp_embed`` shows one cell as
``-0.0`` on one side and ``0.0`` on the other at sf0.1.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def norm_cell(v) -> str:
    if v is None or v is pd.NaT or v is pd.NA:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        if f == 0.0:
            return "0"  # -0.0 == 0.0
        return f"{f:.6g}"
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        # a DATE may surface as a date on one side and a midnight
        # timestamp on the other
        ts = pd.Timestamp(v)
        return (ts.tz_convert("UTC").tz_localize(None) if ts.tzinfo else ts).isoformat()
    return str(v)


def result_digest(pdf: pd.DataFrame) -> dict:
    """{rows, cols, digest} of a result frame, independent of row and
    column order."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "\x01".join(norm_cell(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return {"rows": len(pdf), "cols": cols, "digest": digest}
