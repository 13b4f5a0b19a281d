"""PromQL front-end tests: parser shapes, engine evaluation vs direct
operator calls, aggregations, binops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengemini_spark.catalog import load_table
from opengemini_spark.operators import prom
from opengemini_spark.promql import MetricRegistry, parse_promql, query_range
from opengemini_spark.promql import parser as P
from opengemini_spark.promql.engine import Metric

START = 1704067200          # 2024-01-01 00:00 UTC, 6h-aligned
END = START + 35 * 86400
STEP = 21600                # 6h


def _events_metric():
    def loader(spark, sf_dir):
        return load_table(spark, sf_dir, "events").withColumn(
            "tu", F.expr("time_ns div 1000")
        )

    return Metric(loader, labels=["event_type"])


@pytest.fixture(scope="module")
def registry():
    r = MetricRegistry()
    r.register("events_value", _events_metric())
    return r


def test_parse_shapes():
    n = parse_promql('rate(events_value{event_type="error"}[5m])')
    assert isinstance(n, P.FuncCall) and n.name == "rate"
    sel = n.args[0]
    assert sel.range_s == 300
    assert sel.matchers[0].label == "event_type"

    agg = parse_promql("sum by (event_type) (events_value)")
    assert isinstance(agg, P.Aggregate) and agg.by == ["event_type"]

    b = parse_promql("events_value / on (event_type) events_value")
    assert isinstance(b, P.BinOp) and b.on == ["event_type"]

    with pytest.raises(SyntaxError):
        parse_promql("rate(events_value[5m]")


def test_function_names_are_not_reserved():
    """Upstream PromQL resolves a function only at IDENT "(" — a bare
    function-name identifier (or one with matchers/range) is a vector
    selector for a metric of that name (r9 fuzz find: bare `ln` raised)."""
    n = parse_promql("ln")
    assert isinstance(n, P.VectorSelector) and n.metric == "ln"

    m = parse_promql('rate{event_type="error"}')
    assert isinstance(m, P.VectorSelector) and m.metric == "rate"
    assert m.matchers[0].label == "event_type"

    f = parse_promql("ln(events_value)")
    assert isinstance(f, P.FuncCall) and f.name == "ln"


def test_rate_matches_operator(spark, sf_dir, registry):
    got = query_range(
        spark, sf_dir, registry, "rate(events_value[12h])", START, END, STEP
    )
    ev = load_table(spark, sf_dir, "events").withColumn(
        "tu", F.expr("time_ns div 1000")
    )
    exp = prom.rate_prom(
        ev, ["event_type"], "tu", "value", 12 * 3600 * 10**6, STEP * 10**6
    ).filter(
        (F.col("t") >= START * 10**6) & (F.col("t") <= END * 10**6)
    )
    a = {(r["event_type"], r["t"]): r["value"] for r in got.collect()}
    b = {(r["event_type"], r["t"]): r["result"] for r in exp.collect()}
    assert a == b and len(a) > 0


def test_matcher_filters(spark, sf_dir, registry):
    got = query_range(
        spark, sf_dir, registry,
        'count_over_time(events_value{event_type="error"}[12h])',
        START, END, STEP,
    )
    types = {r["event_type"] for r in got.select("event_type").distinct().collect()}
    assert types == {"error"}


def test_aggregate_by(spark, sf_dir, registry):
    got = query_range(
        spark, sf_dir, registry,
        "sum by (event_type) (sum_over_time(events_value[12h]))",
        START, END, STEP,
    )
    assert set(got.columns) == {"event_type", "t", "value"}
    assert got.count() > 0


def test_scalar_binop_and_cmp(spark, sf_dir, registry):
    doubled = query_range(
        spark, sf_dir, registry,
        "sum_over_time(events_value[12h]) * 2", START, END, STEP,
    )
    base = query_range(
        spark, sf_dir, registry,
        "sum_over_time(events_value[12h])", START, END, STEP,
    )
    a = {(r["event_type"], r["t"]): r["value"] for r in doubled.collect()}
    b = {(r["event_type"], r["t"]): r["value"] for r in base.collect()}
    assert all(a[k] == 2 * b[k] for k in a)

    filtered = query_range(
        spark, sf_dir, registry,
        "sum_over_time(events_value[12h]) > 1000", START, END, STEP,
    )
    vals = [r["value"] for r in filtered.collect()]
    assert all(v > 1000 for v in vals) and len(vals) < len(b)


def test_vector_binop_ratio(spark, sf_dir, registry):
    got = query_range(
        spark, sf_dir, registry,
        "sum_over_time(events_value[12h]) / on (event_type) "
        "count_over_time(events_value[12h])",
        START, END, STEP,
    )
    # ratio == avg_over_time
    avg = query_range(
        spark, sf_dir, registry,
        "avg_over_time(events_value[12h])", START, END, STEP,
    )
    a = {(r["event_type"], r["t"]): r["value"] for r in got.collect()}
    b = {(r["event_type"], r["t"]): r["value"] for r in avg.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == pytest.approx(b[k])


def test_unaligned_start_accepted(spark, sf_dir, registry):
    """Prometheus imposes NO step alignment on start — the grid carries
    the start's phase (prom_test.go range queries at *.955 starts)."""
    df = query_range(
        spark, sf_dir, registry, "events_value", START + 7, END, STEP
    )
    ts = sorted({r["t"] for r in df.select("t").distinct().collect()})
    assert ts and all((t - (START + 7) * 10**6) % (STEP * 10**6) == 0
                      for t in ts)


def test_group_left_many_to_one(spark, sf_dir, registry):
    """events per (event_type, shard) vs per event_type total: group_left
    joins the per-type total onto every shard row (many-to-one)."""
    from opengemini_spark.promql.engine import Metric

    def loader2(spark2, sf_dir2):
        return (
            load_table(spark2, sf_dir2, "events")
            .withColumn("tu", F.expr("time_ns div 1000"))
            .withColumn("shard", (F.col("user_id") % 3).cast("string"))
        )

    registry.register(
        "events_sharded", Metric(loader2, labels=["event_type", "shard"])
    )
    got = query_range(
        spark, sf_dir, registry,
        "sum_over_time(events_sharded[12h]) "
        "/ on (event_type) group_left "
        "sum_over_time(events_value[12h])",
        START, END, STEP,
    )
    assert set(got.columns) == {"event_type", "shard", "t", "value"}
    # shares per (event_type, t) sum to 1
    s = got.groupBy("event_type", "t").agg(F.sum("value").alias("tot")).collect()
    assert s and all(abs(r["tot"] - 1.0) < 1e-9 for r in s)


def test_set_binops(spark, sf_dir, registry):
    base = "sum_over_time(events_value[12h])"
    big = f"{base} > 1000"
    # and: windows of base that are also in big == big itself (values from lhs)
    both = query_range(spark, sf_dir, registry, f"{base} and {big}",
                       START, END, STEP)
    bigv = query_range(spark, sf_dir, registry, big, START, END, STEP)
    a = {(r["event_type"], r["t"]): r["value"] for r in both.collect()}
    b = {(r["event_type"], r["t"]): r["value"] for r in bigv.collect()}
    assert a == b
    # unless: base minus big
    rest = query_range(spark, sf_dir, registry, f"{base} unless {big}",
                       START, END, STEP)
    allv = query_range(spark, sf_dir, registry, base, START, END, STEP)
    r = {(x["event_type"], x["t"]) for x in rest.collect()}
    assert r == {(x["event_type"], x["t"]) for x in allv.collect()} - set(b)
    # or: unless ∪ and == base
    union = query_range(spark, sf_dir, registry,
                        f"({base} unless {big}) or ({base} and {big})",
                        START, END, STEP)
    assert union.count() == allv.count()


def test_prom_matrix_shape(spark, sf_dir, registry):
    from opengemini_spark.promql.shape import (
        rows_to_prom_matrix,
        to_prom_vector,
    )

    df = query_range(
        spark, sf_dir, registry,
        'count_over_time(events_value{event_type="error"}[12h])',
        START, START + 2 * 86400, STEP,
    )
    rows = [r.asDict() for r in df.collect()]
    out = rows_to_prom_matrix(rows, "events_value", ["event_type"])
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "matrix"
    blk = out["data"]["result"][0]
    assert blk["metric"]["__name__"] == "events_value"
    assert blk["metric"]["event_type"] == "error"
    ts = [v[0] for v in blk["values"]]
    assert ts == sorted(ts)
    assert all(isinstance(v[1], str) for v in blk["values"])

    # instant vector at a single step
    inst = query_range(
        spark, sf_dir, registry,
        'count_over_time(events_value{event_type="error"}[12h])',
        START + STEP, START + STEP, STEP,
    )
    vec = to_prom_vector([r.asDict() for r in inst.collect()],
                         "events_value", ["event_type"])
    assert vec["data"]["resultType"] == "vector"
    assert len(vec["data"]["result"]) == 1


def test_prom_vector_orders():
    """``to_prom_vector``'s orders over rows with NaN, ±Inf and a series
    missing a label: the default series order, sort()/sort_desc() (NaN
    sorts after every number, so last ascending and first descending) and
    sort_by_label[_desc] (an absent label sorts first ascending, last
    descending; a label no series has keeps series order). The expected
    orders are those the earlier Spark ``orderBy`` shaper gave."""
    from opengemini_spark.promql.shape import to_prom_vector

    nan, inf = float("nan"), float("inf")
    rows = [
        {"job": j, "zone": z, "t": 5_000_000, "value": v}
        for j, z, v in [
            ("b", None, nan), ("a", "x", 3.0), (None, "y", 1.0),
            ("c", "x", inf), ("a", None, -2.5), ("b", "y", 0.5),
        ]
    ]

    def got(order):
        body = to_prom_vector(rows, "m", ["job", "zone"], order=order)
        out = []
        for s in body["data"]["result"]:
            assert s["metric"].pop("__name__") == "m"
            assert s["value"][0] == 5
            out.append((s["metric"].get("job"), s["metric"].get("zone"),
                        s["value"][1]))
        return out

    series = [("a", "x", "3"), ("a", None, "-2.5"), ("b", "y", "0.5"),
              ("b", None, "NaN"), ("c", "x", "+Inf"), (None, "y", "1")]
    assert got(None) == series
    assert got("label:nosuch") == series
    assert got("asc") == [
        ("a", None, "-2.5"), ("b", "y", "0.5"), (None, "y", "1"),
        ("a", "x", "3"), ("c", "x", "+Inf"), ("b", None, "NaN"),
    ]
    assert got("desc") == [
        ("b", None, "NaN"), ("c", "x", "+Inf"), ("a", "x", "3"),
        (None, "y", "1"), ("b", "y", "0.5"), ("a", None, "-2.5"),
    ]
    assert got("label:job,zone") == [
        (None, "y", "1"), ("a", None, "-2.5"), ("a", "x", "3"),
        ("b", None, "NaN"), ("b", "y", "0.5"), ("c", "x", "+Inf"),
    ]
    assert got("label_desc:zone,job") == [
        ("b", "y", "0.5"), (None, "y", "1"), ("c", "x", "+Inf"),
        ("a", "x", "3"), ("b", None, "NaN"), ("a", None, "-2.5"),
    ]
    # equal sort labels keep series order, in both directions
    assert got("label:job") == [
        (None, "y", "1"), ("a", "x", "3"), ("a", None, "-2.5"),
        ("b", "y", "0.5"), ("b", None, "NaN"), ("c", "x", "+Inf"),
    ]
    assert got("label_desc:job") == [
        ("c", "x", "+Inf"), ("b", "y", "0.5"), ("b", None, "NaN"),
        ("a", "x", "3"), ("a", None, "-2.5"), (None, "y", "1"),
    ]


def test_prom_query_range_runs_few_jobs(spark, sf_dir, registry, spark_jobs):
    """``/query_range`` collects its result once and orders it on the
    driver: no range sort, so no sampling job or range exchange. Counted
    on the second request, once the first has loaded the table."""
    from opengemini_spark.api import handle_prom_query_range

    def request():
        return handle_prom_query_range(
            spark, sf_dir, registry, "rate(events_value[12h])",
            START, END, STEP,
        )

    request()
    body, jobs = spark_jobs(request)
    assert body["status"] == "success", body
    assert body["data"]["result"]
    assert len(jobs) <= 3, f"/query_range ran {len(jobs)} Spark jobs"


def test_histogram_quantile(spark, sf_dir, registry):
    from opengemini_spark.promql.engine import Metric

    def bucket_loader(spark2, sf_dir2):
        rows = []
        for tu in (START * 10**6, (START + STEP) * 10**6):
            rows += [
                ("api", "0.1", tu, 10.0),
                ("api", "0.5", tu, 15.0),
                ("api", "+Inf", tu, 20.0),
            ]
        return spark2.createDataFrame(rows, ["job", "le", "tu", "value"])

    registry.register("req_bucket", Metric(bucket_loader, labels=["job", "le"]))
    got = query_range(
        spark, sf_dir, registry,
        "histogram_quantile(0.5, req_bucket)",
        START, START + STEP, STEP,
    )
    rows = got.collect()
    assert rows and set(got.columns) == {"job", "t", "value"}
    # rank = 0.5·20 = 10 → first bucket (le=0.1), prev=0 → interp = 0.1
    assert all(abs(r["value"] - 0.1) < 1e-12 for r in rows)


def test_handle_prom_query_range_endpoint(spark, sf_dir, registry):
    from opengemini_spark.api import handle_prom_query_range

    out = handle_prom_query_range(
        spark, sf_dir, registry, "rate(events_value[12h])", START, END, STEP
    )
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "matrix"
    assert len(out["data"]["result"]) == 5

    err = handle_prom_query_range(
        spark, sf_dir, registry, "rate(events_value[12h]", START, END, STEP
    )
    assert err["status"] == "error" and "PromQL" in err["error"]


def test_or_binds_looser_than_and():
    """Prometheus precedence: `a or b and c` == `a or (b and c)`."""
    n = parse_promql("a or b and c")
    assert isinstance(n, P.BinOp) and n.op == "or"
    assert isinstance(n.rhs, P.BinOp) and n.rhs.op == "and"
    n2 = parse_promql("a and b or c")
    assert isinstance(n2, P.BinOp) and n2.op == "or"
    assert isinstance(n2.lhs, P.BinOp) and n2.lhs.op == "and"
    n3 = parse_promql("a unless b or c")
    assert isinstance(n3, P.BinOp) and n3.op == "or"
    assert isinstance(n3.lhs, P.BinOp) and n3.lhs.op == "unless"


def test_scalar_scalar_constant_fold(spark, sf_dir, registry):
    """`vector * (1 + 2)` — scalar subexpression folds instead of crashing."""
    df = query_range(
        spark, sf_dir, registry,
        'sum(events_value{event_type="error"}) * (1 + 2)',
        START, END, STEP,
    )
    base = query_range(
        spark, sf_dir, registry,
        'sum(events_value{event_type="error"}) * 3',
        START, END, STEP,
    )
    got = {(r["t"], r["value"]) for r in df.collect()}
    want = {(r["t"], r["value"]) for r in base.collect()}
    assert got == want and got


def _one_series(spark, pts):
    US = 1_000_000
    rows = [(t * US, float(v), "a") for t, v in pts]
    return spark.createDataFrame(rows, ["tu", "value", "job"])


def test_deriv_least_squares(spark):
    """deriv: per-second least-squares slope; window is (t-range, t]."""
    from opengemini_spark.operators import prom
    US = 1_000_000
    df = _one_series(spark, [(0, 0), (60, 10), (120, 20), (180, 40)])
    out = prom.linreg_over_time(
        df, ["job"], "tu", "value", 300 * US, 300 * US, mode="deriv"
    ).collect()
    # CLOSED window [0, 300] keeps the t=0 sample (the reference lifts
    # pre-3.0 range-selector semantics): x=0,60,120,180  y=0,10,20,40
    # → slope = 3900/18000 = 13/60
    assert [(r["t"] // US, r["value"]) for r in out] == [
        (300, pytest.approx(13 / 60))
    ]


def test_predict_linear_anchored_at_eval_time(spark):
    from opengemini_spark.operators import prom
    US = 1_000_000
    df = _one_series(spark, [(0, 0), (60, 10), (120, 20), (180, 40)])
    out = prom.linreg_over_time(
        df, ["job"], "tu", "value", 300 * US, 300 * US,
        mode="predict", predict_s=600.0,
    ).collect()
    # closed window keeps t=0: x rel eval(300s) = -300,-240,-180,-120;
    # intercept 63.0; + slope·600 = 193.0
    assert out[0]["value"] == pytest.approx(193.0)


def test_holt_winters_prom_recurrence(spark):
    from opengemini_spark.operators import prom
    US = 1_000_000
    df = _one_series(spark, [(60, 10), (120, 20), (180, 40)])
    out = prom.holt_winters_prom(
        df, ["job"], "tu", "value", 300 * US, 300 * US, sf=0.5, tf=0.5
    ).collect()
    # Prometheus loop over [10,20,40] with sf=tf=0.5 → 35.0
    assert out[0]["value"] == 35.0


def test_deriv_constant_series_is_zero(spark):
    from opengemini_spark.operators import prom
    US = 1_000_000
    df = _one_series(spark, [(60, 7), (120, 7), (180, 7)])
    out = prom.linreg_over_time(
        df, ["job"], "tu", "value", 300 * US, 300 * US, mode="deriv"
    ).collect()
    assert [r["value"] for r in out] == [0.0]


def test_deriv_via_query_range(spark, sf_dir, registry):
    df = query_range(
        spark, sf_dir, registry,
        'deriv(events_value{event_type="error"}[12h])',
        START, START + 4 * 86400, STEP,
    )
    assert df.count() > 0 and set(df.columns) == {"event_type", "t", "value"}


def test_offset_modifier(spark, sf_dir, registry):
    """`m offset 6h` at t equals plain m at t−6h (both instant and range)."""
    base = query_range(
        spark, sf_dir, registry,
        "sum_over_time(events_value[12h])", START, END, STEP,
    )
    off = query_range(
        spark, sf_dir, registry,
        "sum_over_time(events_value[12h] offset 6h)",
        START, END, STEP,
    )
    b = {(r["event_type"], r["t"]): r["value"] for r in base.collect()}
    o = {(r["event_type"], r["t"]): r["value"] for r in off.collect()}
    shifted = {
        (et, t + STEP * 10**6): v
        for (et, t), v in b.items()
        if t + STEP * 10**6 <= END * 10**6
    }
    common = set(o) & set(shifted)
    # approx: the shifted plan sums the same samples in a different order,
    # so the float sums agree only to the ulp
    assert common and all(
        o[k] == pytest.approx(shifted[k]) for k in common
    )
    assert set(o) <= set(shifted) | {k for k in o if k[1] < START * 10**6}


def test_subquery_parses_all_forms():
    from opengemini_spark.promql.parser import Subquery, parse_promql

    sq = parse_promql("events_value[30m:5m]")
    assert isinstance(sq, Subquery)
    assert (sq.range_s, sq.step_s, sq.offset_s) == (1800, 300, 0)
    assert sq.inner.range_s is None  # inner is the INSTANT selector
    f = parse_promql("max_over_time(rate(m[5m])[30m:5m])")
    assert isinstance(f.args[0], Subquery) and f.args[0].step_s == 300
    d = parse_promql("avg_over_time((a + b)[10m:] offset 5m)")
    assert d.args[0].step_s is None and d.args[0].offset_s == 300
    # plain range selector still parses as before
    r = parse_promql("rate(m[5m])")
    assert r.args[0].range_s == 300


def test_subquery_equals_manual_inner_grid(spark, sf_dir, registry):
    """max_over_time(inner[12h:6h]) at each outer t equals the max of the
    inner instant evaluations at the aligned 6h grid points in
    [t-12h, t] (closed range) — i.e. t-12h, t-6h and t."""
    from opengemini_spark.promql import query_range

    out = query_range(
        spark, sf_dir, registry,
        "max_over_time(count_over_time(events_value[6h])[12h:6h])",
        START, END, STEP,
    )
    inner = query_range(
        spark, sf_dir, registry,
        "count_over_time(events_value[6h])",
        START - 2 * STEP, END, STEP,
    )
    iv = {(r["event_type"], r["t"]): r["value"] for r in inner.collect()}
    got = {(r["event_type"], r["t"]): r["value"] for r in out.collect()}
    assert got
    for (et, t), v in got.items():
        window = [
            iv[(et, tp)]
            for tp in (t - 2 * STEP * 10**6, t - STEP * 10**6, t)
            if (et, tp) in iv
        ]
        assert window and v == max(window), (et, t)


def test_subquery_default_step_is_1m(spark, sf_dir, registry):
    from opengemini_spark.promql.parser import parse_promql

    sq = parse_promql("events_value[30m:]")
    assert sq.step_s is None  # engine substitutes the 60s default
    from opengemini_spark.promql.engine import Engine

    assert Engine.DEFAULT_SUBQUERY_STEP_S == 60


def test_at_modifier_pins_evaluation(spark, sf_dir, registry):
    """m @ T / rate(m[12h] @ T): constant across the grid, equal to the
    un-pinned value at the grid point T."""
    from opengemini_spark.promql import query_range

    at = START + 10 * 86400
    base = query_range(
        spark, sf_dir, registry, "count_over_time(events_value[12h])",
        START, END, STEP,
    )
    b = {(r["event_type"], r["t"]): r["value"] for r in base.collect()}
    pinned = query_range(
        spark, sf_dir, registry,
        f"count_over_time(events_value[12h] @ {at})",
        START, END, STEP,
    )
    rows = pinned.collect()
    n_steps = (END - START) // STEP + 1
    by_et = {}
    for r in rows:
        by_et.setdefault(r["event_type"], set()).add(r["value"])
    for et, vals in by_et.items():
        assert vals == {b[(et, at * 10**6)]}, et  # one constant value
    assert len(rows) == n_steps * len(by_et)  # present at every step


def test_at_start_end_resolve(spark, sf_dir, registry):
    from opengemini_spark.promql import query_range

    pinned = query_range(
        spark, sf_dir, registry,
        "count_over_time(events_value[12h] @ end())",
        START, END, STEP,
    )
    base = query_range(
        spark, sf_dir, registry, "count_over_time(events_value[12h])",
        START, END, STEP,
    )
    b = {(r["event_type"], r["t"]): r["value"] for r in base.collect()}
    for r in pinned.collect():
        assert r["value"] == b[(r["event_type"], END * 10**6)]


# ---------------------------------------------------------------------------
# round-4 ADVICE fixes


def test_unary_minus_binds_looser_than_pow():
    """PromQL grammar: -2^2 == -(2^2) == -4; 2^-2 == 0.25 (ADVICE r4)."""
    from opengemini_spark.promql.engine import Engine

    n = parse_promql("-2^2")
    # shape: (-1) * (2^2)
    assert isinstance(n, P.BinOp) and n.op == "*"
    assert isinstance(n.lhs, P.NumberLit) and n.lhs.value == -1.0
    assert isinstance(n.rhs, P.BinOp) and n.rhs.op == "^"

    rhs_unary = parse_promql("2^-2")
    assert isinstance(rhs_unary, P.BinOp) and rhs_unary.op == "^"

    # right-assoc with unary: -2^-3 == -(2^(-3)) == -0.125
    n3 = parse_promql("-2^-3")
    assert isinstance(n3, P.BinOp) and n3.op == "*"


def test_fmt_value_keeps_subMicro_digits():
    """strconv.FormatFloat(v,'f',-1,64) parity: tiny values must not
    collapse to "0" (ADVICE r4 — value.go:57)."""
    from opengemini_spark.promql.shape import _fmt_value

    assert _fmt_value(1.5e-7) == "0.00000015"
    assert _fmt_value(-2.5e-9) == "-0.0000000025"
    assert _fmt_value(0.0) == "0"
    assert _fmt_value(1.0) == "1"
    assert _fmt_value(0.1) == "0.1"
    assert _fmt_value(float("nan")) == "NaN"
    assert _fmt_value(float("inf")) == "+Inf"


def test_go_expand_template_translation():
    """Go regexp.Expand → Java appendReplacement translation
    (ADVICE r4 — label_replace replacement semantics)."""
    from opengemini_spark.promql.engine import _go_expand_to_java

    pat = r"^(?:(?P<a>\w+)-(\w+))$"
    assert _go_expand_to_java("$1", pat) == "$1"
    assert _go_expand_to_java("${a}", pat) == "${a}"
    assert _go_expand_to_java("$a", pat) == "${a}"          # bare named
    assert _go_expand_to_java("cost$", pat) == "cost\\$"    # trailing $
    assert _go_expand_to_java("$x", pat) == ""              # unknown name
    assert _go_expand_to_java("$9", pat) == ""              # out of range
    assert _go_expand_to_java("$$1", pat) == "\\$1"         # $$ literal
    assert _go_expand_to_java("a$ b", pat) == "a\\$ b"      # $ + space
    assert _go_expand_to_java("${unclosed", pat) == "\\${unclosed"


def test_label_replace_literal_dollar_and_bad_dst(spark, sf_dir):
    from opengemini_spark.promql.engine import query_instant

    US = 10**6
    df = spark.createDataFrame(
        [(START * US, 1.0, "web")], ["tu", "value", "job"]
    )
    reg = MetricRegistry()
    reg.register("m", Metric(lambda s, d: df, labels=["job"]))

    # a replacement with a literal $ must not throw in Catalyst
    _, v = query_instant(
        spark, sf_dir, reg,
        'label_replace(m, "price", "$$-$1", "job", "(.*)")',
        START,
    )
    rows = v.df.collect()
    assert rows and all(r["price"] == "$-web" for r in rows)

    with pytest.raises(ValueError):
        query_instant(
            spark, sf_dir, reg,
            'label_replace(m, "0bad", "x", "job", ".*")',
            START,
        )


def test_matcher_null_label_reads_as_empty(spark, sf_dir):
    """A per-row NULL label must match {tag=""} and {tag!="x"} like
    Prometheus's absent-label-as-empty-string rule (ADVICE r4)."""
    US = 10**6
    rows = [(START * US, 1.0, None), (START * US, 2.0, "web")]
    df = spark.createDataFrame(rows, ["tu", "value", "job"])
    reg = MetricRegistry()
    reg.register("m", Metric(lambda s, d: df, labels=["job"]))
    from opengemini_spark.promql.engine import query_instant

    _, empty = query_instant(spark, sf_dir, reg, 'm{job=""}', START)
    assert [r["value"] for r in empty.df.collect()] == [1.0]
    _, ne = query_instant(spark, sf_dir, reg, 'm{job!="web"}', START)
    assert [r["value"] for r in ne.df.collect()] == [1.0]


def test_go_expand_java_only_pattern_groups():
    """A Java/RE2-valid pattern Python re rejects (\\p{Lower}) must still
    resolve its group references via the text census (review r4)."""
    from opengemini_spark.promql.engine import _go_expand_to_java

    pat = r"^(?:(\p{Lower}+)-(?P<tail>.*))$"
    assert _go_expand_to_java("$1", pat) == "$1"
    assert _go_expand_to_java("$tail", pat) == "${tail}"
    assert _go_expand_to_java("$9", pat) == ""
