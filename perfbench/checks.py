"""Order-insensitive output fingerprints.

Two results agree when they have the same column names, the same row
count and the same multiset of rows. Cells are canonicalized first so
that engines that type the same value differently (int32 vs int64, an
integral double vs a bigint, a nullable int as float NaN) still agree.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pandas as pd

_NULL_INT = np.int64(-(2**63) + 7)
_NULL_STR = "\x00null"


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return _NULL_STR
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s:%s" % (k, _cell(v[k])) for k in sorted(v)) + "}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return repr(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f + 0.0)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _canon(col: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(col):
        return col.astype("Int64").fillna(_NULL_INT).astype(np.int64)
    if pd.api.types.is_integer_dtype(col):
        return col.astype("Int64").fillna(_NULL_INT).astype(np.int64)
    if pd.api.types.is_float_dtype(col):
        vals = col.to_numpy(dtype=np.float64, na_value=np.nan)
        ok = ~np.isnan(vals)
        if np.all(np.mod(vals[ok], 1.0) == 0) and np.all(np.abs(vals[ok]) < 2**53):
            out = np.full(len(vals), _NULL_INT, dtype=np.int64)
            out[ok] = vals[ok].astype(np.int64)
            return pd.Series(out)
        return pd.Series(vals + 0.0)  # -0.0 -> 0.0
    if pd.api.types.is_datetime64_any_dtype(col):
        return pd.Series([_cell(v.to_pydatetime()) if not pd.isna(v) else _NULL_STR for v in col])
    return pd.Series([_cell(v) for v in col], dtype=object)


def fingerprint(pdf: pd.DataFrame) -> tuple:
    """(sorted column names, row count, 64-bit order-insensitive hash)."""
    cols = sorted(pdf.columns)
    if not len(pdf):
        return tuple(cols), 0, 0
    canon = pd.DataFrame({c: _canon(pdf[c].reset_index(drop=True)) for c in cols})
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return tuple(cols), len(pdf), int(h.sum(dtype=np.uint64))


def compare(got: tuple, want: tuple) -> Optional[str]:
    """None when two fingerprints agree, else what differs."""
    if got == want:
        return None
    if got[0] != want[0]:
        return "columns %s, expected %s" % (list(got[0]), list(want[0]))
    if got[1] != want[1]:
        return "%d rows, expected %d" % (got[1], want[1])
    return "value hash %016x, expected %016x" % (got[2], want[2])
