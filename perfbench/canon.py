"""Canonical form of a query result, shared by the oracle and the check.

Columns are sorted by name, every value is rendered as text (floats to six
decimals, timestamps in ISO form, arrays element by element) and the rows
are sorted, so a Spark result and a DuckDB result compare equal exactly when
they hold the same rows. Only the row count, column names and a SHA-256 of
the canonical rows are kept.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np
import pandas as pd


def _value(v) -> str:
    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        r = round(v, 6)
        return "0" if r == 0 else f"{r:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_value(x) for x in seq) + "]"
    return str(v)


def digest(df: pd.DataFrame) -> dict:
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for row in rows:
        h.update(row.encode("utf-8"))
        h.update(b"\x1e")
    return {"rows": len(rows), "columns": cols, "sha256": h.hexdigest()}
