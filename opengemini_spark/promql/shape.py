"""Prometheus HTTP API response shaping (reference:
``lib/util/lifted/influx/httpd/handler_prom_util.go``).

``/api/v1/query_range`` returns a matrix: one entry per label-set with
``values: [[unix_seconds, "value-as-string"], …]``; instant queries return
a vector of single samples.
"""

from __future__ import annotations

import decimal
import math

from pyspark.sql import DataFrame


def _fmt_value(v: float) -> str:
    # Prometheus serializes samples as strings; Go's strconv drops the
    # trailing ".0" on integral floats and spells specials NaN/+Inf/-Inf
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    if v == int(v) and abs(v) < 2**63:
        # Go strconv.FormatFloat(v, 'f', -1, 64): fixed notation, no cap
        # at 1e15 (prom_test.go stdvar "5555555388888890")
        return str(int(v))
    s = repr(v)
    if "e" in s or "E" in s:
        # fixed notation like Go's 'f' format, keeping ALL significant
        # digits: format(v, "f") defaults to 6 decimals, collapsing
        # |v| < ~5e-7 to "0" where strconv.FormatFloat(v,'f',-1,64)
        # (lib/util/lifted/prometheus/promql/value.go:57) renders
        # e.g. 1.5e-7 as "0.00000015" — go through Decimal instead
        s = format(decimal.Decimal(s), "f")
    return s


def _label_sig(label_cols: list[str]):
    """Prometheus series order: the rendered ``{name="value", …}``
    string (absent labels omitted) — `{a="abb"}` sorts before
    `{aa="bb"}`, and `{job="x", region="y"}` before `{job="x"}`
    (prom_test.go NameTag/DuplicateLabels order)."""
    from pyspark.sql import functions as F

    parts = [
        F.when(
            F.col(c).isNotNull(),
            F.concat(F.lit(f'{c.removeprefix("__lbl_")}="'),
                     F.col(c).cast("string"), F.lit('"')),
        )
        for c in label_cols
        if c != "__name__"   # series order ignores the metric name
    ]
    return F.concat(F.lit("{"), F.concat_ws(", ", *parts), F.lit("}"))


def _ordered_rows(
    df: DataFrame, label_cols: list[str], time_col: str | None
):
    """Collect rows ordered (label signature, then time). The response
    body holds every row, so one ``collect`` is the cheapest way to the
    driver."""
    from pyspark.sql import functions as F

    sort = [_label_sig(label_cols).asc()] if label_cols else []
    if "__name__" in label_cols:
        # sig excludes the metric name; same-sig series of different
        # metrics stay CONTIGUOUS (matrix grouping) and name-ordered
        sort.append(F.col("__name__").asc_nulls_first())
    if time_col is not None:
        sort.append(F.col(time_col).asc())
    return (df.orderBy(*sort) if sort else df).collect()


def to_prom_matrix(
    df: DataFrame,
    metric_name: str,
    label_cols: list[str],
    time_col: str = "t",
    value_col: str = "value",
) -> dict:
    """Shape a (labels…, t µs, value) result into the range-query matrix."""
    ordered: list[dict] = []
    key: tuple | None = None
    for r in _ordered_rows(df, label_cols, time_col):
        k = tuple(str(r[c]) for c in label_cols)
        if not ordered or k != key:
            key = k
            ordered.append(
                {
                    "metric": {
                        **({"__name__": metric_name} if metric_name else {}),
                        **{c.removeprefix("__lbl_"): str(r[c])
                           for c in label_cols if r[c] is not None},
                    },
                    "values": [],
                }
            )
        ordered[-1]["values"].append(
            [r[time_col] / 1_000_000, _fmt_value(r[value_col])]
        )
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": ordered},
    }


def rows_to_prom_matrix(
    rows: list[dict],
    metric_name: str,
    label_cols: list[str],
    time_col: str = "t",
    value_col: str = "value",
) -> dict:
    """Matrix shape from already-materialized rows (the results-cache
    path — rows were collected when the extents were first evaluated)."""
    rows = sorted(
        rows,
        key=lambda r: (
            tuple(str(r[c]) for c in label_cols), r[time_col]
        ),
    )
    ordered: list[dict] = []
    key: tuple | None = None
    for r in rows:
        k = tuple(str(r[c]) for c in label_cols)
        if not ordered or k != key:
            key = k
            ordered.append(
                {
                    "metric": {
                        **({"__name__": metric_name} if metric_name else {}),
                        **{c.removeprefix("__lbl_"): str(r[c])
                           for c in label_cols if r[c] is not None},
                    },
                    "values": [],
                }
            )
        ordered[-1]["values"].append(
            [r[time_col] / 1_000_000, _fmt_value(r[value_col])]
        )
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": ordered},
    }


def to_prom_vector(
    df: DataFrame,
    metric_name: str,
    label_cols: list[str],
    time_col: str = "t",
    value_col: str = "value",
    order: str | None = None,
) -> dict:
    """Instant-query vector: one sample per label-set.

    ``order`` overrides the default label ordering: "asc"/"desc" sort by
    value (sort()/sort_desc()), "label:<keys>"/"label_desc:<keys>" by the
    named labels (sort_by_label[_desc])."""
    from pyspark.sql import functions as F

    if order in ("asc", "desc"):
        col = F.col(value_col)
        rows = df.orderBy(
            col.asc() if order == "asc" else col.desc()
        ).collect()
    elif order and order.startswith(("label:", "label_desc:")):
        desc = order.startswith("label_desc:")
        keys = order.split(":", 1)[1].split(",")
        cols = [
            (F.col(k).desc() if desc else F.col(k).asc())
            for k in keys if k in df.columns
        ]
        rows = df.orderBy(*cols).collect() if cols \
            else _ordered_rows(df, label_cols, None)
    else:
        rows = _ordered_rows(df, label_cols, None)
    out = []
    for r in rows:
        out.append(
            {
                "metric": {
                    **({"__name__": metric_name} if metric_name else {}),
                    **{c.removeprefix("__lbl_"): str(r[c])
                       for c in label_cols if r[c] is not None},
                },
                "value": [r[time_col] / 1_000_000, _fmt_value(r[value_col])],
            }
        )
    return {"status": "success", "data": {"resultType": "vector", "result": out}}


def to_prom_scalar(value: float, time_s: float) -> dict:
    """Instant-query scalar result (`1 + 2`, `scalar(v)`)."""
    return {
        "status": "success",
        "data": {"resultType": "scalar", "result": [time_s, _fmt_value(value)]},
    }
