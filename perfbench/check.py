"""Answer checks shared by the workloads.

``digest`` applies the rule the repository's correctness sweep uses to
compare a Spark result with its DuckDB oracle: the row count, the column
names, and an order-insensitive hash of the values (floats rounded to 9
places, columns in name order).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else round(f, 9)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return v


def digest(columns: list[str], rows: list[tuple]) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    return len(rows), tuple(columns[i] for i in order), h


def frame_digest(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    pdf = df.astype(object).where(df.notna(), None)
    return digest(list(df.columns), list(pdf.itertuples(index=False, name=None)))
