"""Order-insensitive comparison of an engine result with its reference.

Columns are matched by name (the reference names the columns to check),
rows are sorted on every column, floats compare with a relative and
absolute tolerance of 1e-6, and everything else compares exactly.
Timestamps are floored to the microsecond on both sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RTOL = 1e-6
ATOL = 1e-6


def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = pd.DataFrame(index=range(len(df)))
    for c in cols:
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s).dt.tz_localize(None) if getattr(s.dt, "tz", None) else s
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype(int)
        elif pd.api.types.is_numeric_dtype(s):
            s = s.astype(float)
        else:
            s = s.astype(str)
        out[c] = s
    keys = [c for c in cols if out[c].dtype != float] + [c for c in cols if out[c].dtype == float]
    rounded = out.copy()
    for c in cols:
        if out[c].dtype == float:
            rounded[c] = out[c].round(4)
    order = rounded.sort_values(keys, kind="stable", na_position="first").index
    return out.loc[order].reset_index(drop=True)


def match(got: pd.DataFrame, ref: pd.DataFrame) -> "str | None":
    """None when ``got`` equals ``ref`` on ``ref``'s columns, else a
    one-line reason."""
    cols = list(ref.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"missing columns {missing} (got {list(got.columns)})"
    if len(got) != len(ref):
        return f"{len(got)} rows, reference has {len(ref)}"
    a, b = _norm(got, cols), _norm(ref, cols)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype == float or b[c].dtype == float:
            x, y = x.astype(float), y.astype(float)
            bad = ~(np.isclose(x, y, rtol=RTOL, atol=ATOL) | (np.isnan(x) & np.isnan(y)))
        else:
            bad = x != y
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c} differs at row {i}: {x[i]!r} vs {y[i]!r} ({int(bad.sum())} rows)"
    return None
