"""FILL(...) — materialize empty time windows, per series.

openGemini reference: ``engine/executor/fill_transform.go`` (1133 LoC)
generates missing interval slots between the query time bounds and fills
them per FILL option (``influxql/ast.go:2092-2104``): null / none / number /
previous / linear.

Spark-first design (SURVEY.md §2.5 — "the biggest semantic gap vs plain
Spark groupBy"): one series exchange. The aggregated rows are grouped by
their series key-set into a bucket → values map, the bucket sequence
(start, end, interval) is exploded per series, and each bucket reads its
values back from the map; then:

- ``null``      → nothing (a missing bucket reads back nulls)
- ``<number>``  → ``coalesce(value, lit(n))``
- ``previous``  → ``last(value, ignorenulls=True)`` over a per-series window
- ``linear``    → interpolate between bracketing non-null points

Scale notes: the input is window_agg's output, and a series' map holds at
most that series' buckets in range — the rows the response carries. The
one exchange is a hash partitioning on the series key-set, which is the
partitioning the ``previous``/``linear`` windows, a per-series transform
or recurrence downstream, and the final sort all reuse: the filled frame
costs one stage more than the aggregate, with no broadcast and no join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _col(name: str):
    """Column ref that survives '.' in tag and field names."""
    return F.col(f"`{name}`")


def fill_time_spine(
    df: DataFrame,
    bucket_col: str,
    interval_ns: int,
    dims: Sequence[str],
    value_cols: Sequence[str],
    mode: str = "null",
    fill_value: float | int | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    zero_cols: Sequence[str] = (),
) -> DataFrame:
    """Expand `df` (output of window_agg) to one row per (series, window).

    ``start_ns``/``end_ns`` are the query time bounds (inclusive bucket
    range); when omitted they default to the global min/max bucket present,
    matching InfluxQL behavior when no time range is given.

    ``zero_cols`` are count() output columns: InfluxDB's count iterator
    emits 0 (not null) for empty windows under the default/explicit
    fill(null) (server_test.go "fill defaults to 0 for count"), while
    fill(none) still drops those windows and fill(previous) overwrites
    them — so the zero substitution applies only in null mode.
    """
    # an omitted bound is a scalar subquery over df, so it is computed when
    # the plan runs, not while it is built; on an empty df it is null, the
    # sequence is null and the spine has no rows
    lo = F.lit(start_ns) if start_ns is not None else (
        df.agg(F.min(bucket_col)).scalar()
    )
    hi = F.lit(end_ns) if end_ns is not None else (
        df.agg(F.max(bucket_col)).scalar()
    )
    buckets = F.explode(F.sequence(lo, hi, F.lit(interval_ns))).alias(bucket_col)
    keys = [bucket_col, *dims]
    rest = [c for c in df.columns if c not in keys]
    # each series' buckets as one map: a bucket of the spine that has no
    # data reads back null from it
    series = df.groupBy(*map(_col, dims)).agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(_col(bucket_col), F.struct(*map(_col, rest)))
            )
        ).alias("__m")
    )
    if not dims:
        # gate the spine on data presence: a WHERE that matches nothing
        # yields NO series in the reference ("fill with value, WHERE no
        # values match condition"), never a fully-filled grid
        series = series.filter(F.size("__m") > 0)
    row = F.col("__m")[_col(bucket_col)]
    filled = series.select(*map(_col, dims), buckets, "__m").select(
        *map(_col, keys), *[row.getField(c).alias(c) for c in rest]
    )

    if mode == "null" or mode == "none":
        out = filled
        if mode == "null" and zero_cols:
            for c in zero_cols:
                out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
        if mode == "none":
            cond = None
            for c in value_cols:
                nn = F.col(c).isNotNull()
                cond = nn if cond is None else (cond | nn)
            if cond is not None:
                out = out.filter(cond)
        return out

    if mode == "value":
        if fill_value is None:
            raise ValueError("fill(value) requires fill_value")
        return filled.select(
            bucket_col,
            *dims,
            *[F.coalesce(F.col(c), F.lit(fill_value)).alias(c) for c in value_cols],
        )

    w = Window.partitionBy(*[F.col(d) for d in dims]).orderBy(bucket_col)
    if mode == "previous":
        return filled.select(
            bucket_col,
            *dims,
            *[
                F.last(F.col(c), ignorenulls=True)
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias(c)
                for c in value_cols
            ],
        )

    if mode == "linear":
        out = filled
        for c in value_cols:
            prev_v = F.last(F.col(c), ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            )
            prev_t = F.last(
                F.when(F.col(c).isNotNull(), F.col(bucket_col)), ignorenulls=True
            ).over(w.rowsBetween(Window.unboundedPreceding, -1))
            next_v = F.first(F.col(c), ignorenulls=True).over(
                w.rowsBetween(1, Window.unboundedFollowing)
            )
            next_t = F.first(
                F.when(F.col(c).isNotNull(), F.col(bucket_col)), ignorenulls=True
            ).over(w.rowsBetween(1, Window.unboundedFollowing))
            interp = prev_v + (next_v - prev_v) * (
                (F.col(bucket_col) - prev_t) / (next_t - prev_t)
            )
            out = out.withColumn(c, F.coalesce(F.col(c), interp))
        return out

    raise ValueError(f"unknown fill mode: {mode}")
