"""Result comparison for the correctness checks."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

#: relative tolerance on doubles: plain AVG over doubles is not
#: summation-order exact, so two runs of one query may differ in the
#: last few ulps
REL_TOL = 1e-9


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, rows sorted on every column (doubles rounded to
    nine digits for the sort, array cells as tuples)."""
    df = df[sorted(df.columns)].copy()
    keys = []
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            key = df[c].map(lambda v: None if math.isnan(v) else float(f"{v:.9g}"))
        else:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
            key = df[c]
        keys.append(key.astype(str).to_numpy())
    order = np.lexsort(keys[::-1]) if keys else []
    return df.iloc[order].reset_index(drop=True)


def _floats_match(a: pd.Series, b: pd.Series) -> bool:
    x = a.to_numpy(dtype=float, na_value=np.nan)
    y = b.to_numpy(dtype=float, na_value=np.nan)
    return bool(np.all(np.isclose(x, y, rtol=REL_TOL, atol=0.0, equal_nan=True)))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when the frames hold the same rows (any order), else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = _canonical(got), _canonical(want)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            if not _floats_match(a[c], b[c]):
                return f"column {c} differs"
        else:
            same = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
            if not bool(same.all()):
                return f"column {c} differs"
    return ""
