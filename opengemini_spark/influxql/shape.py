"""InfluxDB-compatible result shaping.

Reference: ``engine/executor/httpsender_transform.go`` formats chunks into
``{"results":[{"statement_id":0,"series":[{"name","tags","columns",
"values"}]}]}`` — one series block per tag-set, ``time`` first in columns,
rows ordered by time within a block (emit loop
``statement_executor.go:1144-1193``).

This is driver-side presentation of an already-aggregated (small) result —
the one place a collect() is correct.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

RFC3339 = "%Y-%m-%dT%H:%M:%SZ"


def _col(name: str):
    """Column ref that survives '.' in field names (not a struct path)."""
    from pyspark.sql import functions as F

    return F.col(f"`{name}`") if "." in name else F.col(name)


def _fmt_time(ns: int, epoch: str | None) -> Any:
    if epoch is None or epoch == "rfc3339":
        # InfluxDB default: RFC3339, sub-second digits only when non-zero
        from datetime import datetime, timezone

        dt = datetime.fromtimestamp(ns // 1_000_000_000, timezone.utc)
        base = dt.strftime("%Y-%m-%dT%H:%M:%S")
        frac = ns % 1_000_000_000
        if frac:
            base += (".%09d" % frac).rstrip("0")
        return base + "Z"
    if epoch in ("ns", "n"):
        return ns
    div = {
        "u": 1_000, "µ": 1_000, "ms": 1_000_000, "s": 1_000_000_000,
        "m": 60 * 1_000_000_000, "h": 3_600 * 1_000_000_000,
    }[epoch]
    return ns // div


def iter_influx_blocks(
    df: DataFrame,
    measurement: str,
    tag_cols: list[str] | None = None,
    time_col: str = "time",
    epoch: str | None = "ns",
    order_desc: bool = False,
    chunk_size: int | None = None,
    max_rows: int | None = None,
    value_tie_desc: bool = False,
    presorted: bool = False,
):
    """Cut the ordered result into series blocks.

    The emit loop of ``statement_executor.go:1144-1193``: rows arrive
    already ordered (tags → time → values, Spark-side sort), the driver
    cuts a block when the tag-set changes or ``chunk_size`` fills, and
    stops — marking the open block ``partial`` — once ``max_rows`` total
    rows have been emitted (the reference's MaxRowLimit truncation).
    The rows come from one ``collect``: the response body holds every
    row anyway, and ``max_rows`` is a ``limit`` in the plan, so a capped
    query never brings more than ``max_rows + 1`` rows to the driver.
    """
    from pyspark.sql import functions as F

    tag_cols = tag_cols or []
    has_skey = "__skey" in df.columns
    # __skey0: SERIES-MAJOR stream order — a derived table whose inner
    # query grouped by tags emits whole series blocks sequentially, so the
    # outer raw read is (series key, time), not time-major
    # (MultiMeasurements "select a from (… group by country)")
    has_skey0 = "__skey0" in df.columns
    value_cols = [
        c for c in df.columns
        if c not in tag_cols and c != time_col
        and c not in ("__skey", "__skey0", "__skey_t")
    ]
    has_time = time_col in df.columns
    columns = ([time_col] if has_time else []) + value_cols

    def _tag_name(t: str) -> str:
        return t.removeprefix("__tag_")

    # block order: tags compare as strings (matches InfluxDB's sorted tag
    # sets); row order: time per ORDER BY, value columns as tie-break
    row_dir = (
        (lambda c: c.desc_nulls_first()) if order_desc
        else (lambda c: c.asc_nulls_last())
    )
    # series blocks follow the row direction too: ORDER BY time DESC lists
    # tag-sets in descending order (server_test.go subquery-difference)
    # null tags sort as "" (the rendered form), placing the empty tag-set
    # block first in ascending order
    sort_exprs = [
        row_dir(F.coalesce(_col(t).cast("string"), F.lit("")))
        for t in tag_cols
    ]
    if presorted:
        # the plan's own emission order IS the result order (e.g. distinct
        # under GROUP BY time: values in first-occurrence order) — a
        # re-sort here would impose value order
        sort_exprs = []
    if has_skey0 and not presorted:
        sort_exprs.append(_col("__skey0").asc())
    if has_time and not presorted:
        sort_exprs.append(row_dir(_col(time_col)))
    if has_skey and not presorted:
        # equal-time rows follow the threaded emission-order key (derived
        # tables / joins: the inner order IS the outer order — CTE
        # "simple query with cte")
        sort_exprs.append(_col("__skey").asc())
    has_skey_tail = "__skey_t" in df.columns and not presorted
    # value tie-break at equal times: ascending with NULLS FIRST — the
    # reference's equal-time merge surfaces rows missing a column before
    # rows carrying it (server_test.go DropSeries "before drop": the
    # value-only series02 row precedes the field1=100 row); the top()
    # selector emits its ties largest-first (server_test.go TopBottomInt
    # "top - memory - host tag": 2002 before 1002 at the same instant)
    tie_dir = (
        (lambda c: c.desc_nulls_last()) if value_tie_desc
        else (lambda c: c.desc_nulls_first()) if order_desc
        else (lambda c: c.asc_nulls_first())
    )
    if not presorted:
        sort_exprs += [tie_dir(_col(c)) for c in value_cols]
    if has_skey_tail:
        # equal-time, equal-value rows follow series-key order (per-series
        # stream merge; OrderByTime "order desc with sparse data") — on a
        # DIRECT measurement scan the VALUE compare runs first
        # (DropSeries: the value-only series precedes field-carrying rows
        # at the same instant), the key is the final tie
        sort_exprs.append(_col("__skey_t").asc())
    src = df.orderBy(*sort_exprs) if sort_exprs else df

    if max_rows is not None:
        # one row past the cap tells a truncated result from one of
        # exactly max_rows rows, which is complete
        rows = src.limit(max_rows + 1).collect()
        truncated = len(rows) > max_rows
        rows = rows[:max_rows]
    else:
        rows, truncated = src.collect(), False

    blk: dict | None = None
    blk_key: tuple | None = None
    for r in rows:
        # a null tag renders as the empty string (InfluxDB series key
        # semantics — server_test.go Null_Aggregate: tags {"country": ""})
        key = tuple("" if r[t] is None else str(r[t]) for t in tag_cols)
        if blk is not None and (
            key != blk_key or (chunk_size and len(blk["values"]) >= chunk_size)
        ):
            if key == blk_key:
                blk["partial"] = True
            yield blk
            blk = None
        if blk is None:
            blk_key = key
            blk = {
                "name": measurement,
                **(
                    {"tags": {
                        _tag_name(t): "" if r[t] is None else r[t]
                        for t in tag_cols
                    }}
                    if tag_cols else {}
                ),
                "columns": columns,
                "values": [],
            }
        vals = [_fmt_time(r[time_col], epoch)] if has_time else []
        vals += [r[c] for c in value_cols]
        blk["values"].append(vals)
    if blk is not None:
        if truncated:
            blk["partial"] = True
        yield blk


def to_influx_json(
    df: DataFrame,
    measurement: str,
    tag_cols: list[str] | None = None,
    time_col: str = "time",
    epoch: str | None = "ns",
    order_desc: bool = False,
    chunk_size: int | None = None,
    max_rows: int | None = None,
    value_tie_desc: bool = False,
    presorted: bool = False,
) -> dict:
    """Assemble the InfluxDB response shape from the streamed blocks."""
    ordered = list(
        iter_influx_blocks(
            df, measurement, tag_cols, time_col, epoch, order_desc,
            chunk_size=chunk_size, max_rows=max_rows,
            value_tie_desc=value_tie_desc, presorted=presorted,
        )
    )
    if not ordered:
        # InfluxDB omits "series" entirely for empty results
        return {"results": [{"statement_id": 0}]}
    return {"results": [{"statement_id": 0, "series": ordered}]}
