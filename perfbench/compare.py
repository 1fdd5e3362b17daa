"""Result comparison against an independent reference.

Row count, column names, dtype kinds, exact integers and strings, floats
to an absolute 1e-9. Rows are compared after sorting both sides on every
column, so a tie broken differently by two engines is not a mismatch.
Unlike a string compare, an integer column on one side and a float column
on the other (e.g. a DuckDB HUGEINT sum against a Spark bigint) is
reported.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FLOAT_ATOL = 1e-9

# dtype.kind → comparison class
_KIND = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "time",
         "O": "object", "U": "object", "S": "object"}


def _kind(s: pd.Series) -> str:
    return _KIND.get(s.dtype.kind, s.dtype.kind)


def _sortable(s: pd.Series) -> pd.Series:
    return s.map(repr) if s.dtype.kind == "O" else s


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``, else the first difference."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for c in got.columns:
        if _kind(got[c]) != _kind(want[c]):
            return f"column {c}: dtype kind {got[c].dtype} != {want[c].dtype}"
    cols = list(got.columns)

    def ordered(df: pd.DataFrame) -> pd.DataFrame:
        df = df.reset_index(drop=True)
        key = pd.DataFrame({c: _sortable(df[c]) for c in cols})
        return df.iloc[key.sort_values(cols, kind="stable").index].reset_index(drop=True)

    a, b = ordered(got), ordered(want)
    for c in cols:
        if _kind(a[c]) == "float":
            x, y = a[c].to_numpy(np.float64), b[c].to_numpy(np.float64)
            bad = ~np.isclose(x, y, rtol=0.0, atol=FLOAT_ATOL, equal_nan=True)
        else:
            x, y = a[c].to_numpy(), b[c].to_numpy()
            bad = np.array([not _same(u, v) for u, v in zip(x, y)], dtype=bool)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"column {c} row {i}: {x[i]!r} != {y[i]!r}"
    return None


def _same(u, v) -> bool:
    if pd.isna(u) or pd.isna(v):
        return bool(pd.isna(u) and pd.isna(v))
    return bool(u == v)
