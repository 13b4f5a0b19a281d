"""Output checks shared by the workloads.

Exact columns (times, tags, counts) are compared with the engine suite's
own comparator, ``tools/oracle_check.values_match``; float columns are
compared row-aligned within a relative tolerance, because a twin that
sums in another order may differ in the last bits.
"""

from __future__ import annotations

import math

import pandas as pd

from tools.oracle_check import values_match

REL_TOL = 1e-9


def _is_float(s: pd.Series) -> bool:
    return pd.api.types.is_float_dtype(s)


def flatten_influx(block: dict) -> pd.DataFrame:
    """One InfluxQL statement result as rows: tags + the series columns."""
    rows = []
    for s in block.get("series", []):
        tags = s.get("tags", {})
        for v in s["values"]:
            rows.append({**tags, **dict(zip(s["columns"], v))})
    return pd.DataFrame(rows)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Order-insensitive comparison of two result frames."""
    if len(got) != len(want):
        return False, f"row count {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if not len(got):
        return True, "ok"
    floats = [c for c in want.columns if _is_float(got[c]) or _is_float(want[c])]
    exact = [c for c in sorted(want.columns) if c not in floats]
    if exact:
        ok, msg = values_match(got[exact], want[exact])
        if not ok:
            return False, msg
    if not floats:
        return True, "ok"
    # align rows on the exact key columns, then on the rounded floats
    def aligned(df: pd.DataFrame) -> pd.DataFrame:
        df = df.copy()
        for c in exact:
            df[c] = df[c].astype(str)
        for c in floats:
            df[c] = pd.to_numeric(df[c], errors="coerce").astype(float)
            df["__r_" + c] = df[c].round(6)
        keys = exact + ["__r_" + c for c in floats]
        return df.sort_values(keys, ignore_index=True, na_position="first")
    a, b = aligned(got), aligned(want)
    for c in floats:
        for i, (x, y) in enumerate(zip(a[c], b[c])):
            if math.isnan(x) and math.isnan(y):
                continue
            if not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=REL_TOL):
                return False, f"col {c} row {i}: {x!r} != {y!r}"
    return True, "ok"
