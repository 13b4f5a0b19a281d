"""Prometheus HTTP API response shaping (reference:
``lib/util/lifted/influx/httpd/handler_prom_util.go``).

``/api/v1/query_range`` returns a matrix: one entry per label-set with
``values: [[unix_seconds, "value-as-string"], …]``; instant queries return
a vector of single samples.

The shapers take result rows already collected to the driver (the
response body holds every row, so one ``collect`` is all the Spark work a
response needs) and order them here, in Python: the series order rule
(:func:`_series_key`) lives in this module alone, so the results-cache
path and the uncached path give the same body.
"""

from __future__ import annotations

import decimal
import math


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


def _series_key(label_cols: list[str]):
    """Prometheus series order as a sort key over result rows: the
    rendered ``{name="value", …}`` signature (absent labels omitted, the
    metric name excluded) — `{a="abb"}` sorts before `{aa="bb"}`, and
    `{job="x", region="y"}` before `{job="x"}` (prom_test.go
    NameTag/DuplicateLabels order) — then ``__name__`` nulls first, so
    same-signature series of different metrics stay contiguous."""
    sig_cols = [c for c in label_cols if c != "__name__"]

    def key(r: dict) -> tuple:
        sig = ", ".join(
            f'{c.removeprefix("__lbl_")}="{r[c]}"'
            for c in sig_cols if r[c] is not None
        )
        name = r.get("__name__")
        return "{" + sig + "}", name is not None, name or ""

    return key


def _nulls_first(v) -> tuple:
    """Sort key of one value in Spark's ascending order: nulls first,
    NaN after every number."""
    return v is not None, v != v, v


def _metric(r: dict, metric_name: str, label_cols: list[str]) -> dict:
    return {
        **({"__name__": metric_name} if metric_name else {}),
        **{c.removeprefix("__lbl_"): str(r[c])
           for c in label_cols if r[c] is not None},
    }


def rows_to_prom_matrix(
    rows: list[dict], metric_name: str, label_cols: list[str]
) -> dict:
    """Shape (labels…, t µs, value) result rows into the range-query
    matrix: one entry per series in series order, its samples in time
    order."""
    series_key = _series_key(label_cols)
    ordered: list[dict] = []
    key: tuple | None = None
    for r in sorted(rows, key=lambda r: (series_key(r), r["t"])):
        k = tuple(r[c] for c in label_cols)
        if not ordered or k != key:
            key = k
            ordered.append(
                {"metric": _metric(r, metric_name, label_cols), "values": []}
            )
        ordered[-1]["values"].append(
            [r["t"] / 1_000_000, _fmt_value(r["value"])]
        )
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": ordered},
    }


def to_prom_vector(
    rows: list[dict],
    metric_name: str,
    label_cols: list[str],
    order: str | None = None,
) -> dict:
    """Instant-query vector: one sample per series, in series order.

    ``order`` overrides it: "asc"/"desc" sort by value (sort()/
    sort_desc(): nulls, then numbers, then NaN, or the reverse),
    "label:<keys>"/"label_desc:<keys>" by the named labels
    (sort_by_label[_desc]; an absent label sorts first, or last). Ties
    keep series order."""
    out = sorted(rows, key=_series_key(label_cols))
    if order in ("asc", "desc"):
        out.sort(key=lambda r: _nulls_first(r["value"]),
                 reverse=order == "desc")
    elif order and order.startswith(("label:", "label_desc:")):
        kind, names = order.split(":", 1)
        keys = [k for k in names.split(",") if k in label_cols]
        if keys:
            out.sort(
                key=lambda r: tuple(_nulls_first(r[k]) for k in keys),
                reverse=kind == "label_desc",
            )
    return {
        "status": "success",
        "data": {
            "resultType": "vector",
            "result": [
                {
                    "metric": _metric(r, metric_name, label_cols),
                    "value": [r["t"] / 1_000_000, _fmt_value(r["value"])],
                }
                for r in out
            ],
        },
    }


def to_prom_scalar(value: float, time_s: float) -> dict:
    """Instant-query scalar result (`1 + 2`, `scalar(v)`)."""
    return {
        "status": "success",
        "data": {"resultType": "scalar", "result": [time_s, _fmt_value(value)]},
    }
