"""InfluxQL front-end tests: lexer, parser, planner vs direct DataFrame
results, SHOW statements, JSON shaping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengemini_spark.catalog import load_table
from opengemini_spark.influxql import parse, query, to_influx_json
from opengemini_spark.influxql import ast
from opengemini_spark.influxql.lexer import lex


def test_lexer_durations_and_strings():
    toks = lex("SELECT mean(value) FROM events WHERE t >= '2025-01-01' GROUP BY time(1h30m)")
    durs = [t for t in toks if t.kind == "DURATION"]
    assert durs[0].value == (90 * 60) * 10**9
    strs = [t for t in toks if t.kind == "STRING"]
    assert strs[0].value == "2025-01-01"


def test_parser_full_select():
    stmt = parse(
        "SELECT mean(value) AS m, count(value) FROM events "
        "WHERE event_type = 'error' AND time >= '2025-01-01T00:00:00Z' "
        "GROUP BY time(30m), event_type FILL(previous) "
        "ORDER BY time DESC LIMIT 10 OFFSET 2 SLIMIT 3"
    )
    assert isinstance(stmt, ast.SelectStatement)
    assert stmt.fields[0].alias == "m"
    assert stmt.group_time.interval_ns == 30 * 60 * 10**9
    assert stmt.group_tags == ["event_type"]
    assert stmt.fill == "previous"
    assert stmt.order_desc and stmt.limit == 10 and stmt.offset == 2
    assert stmt.slimit == 3


def test_parser_regex_and_arithmetic():
    stmt = parse("SELECT value * 2 + 1 FROM events WHERE event_type =~ /err.*/")
    assert isinstance(stmt.where, ast.BinaryExpr)
    assert stmt.where.op == "=~"


def test_plan_simple_agg(spark, sf_dir):
    got = query(spark, sf_dir, "SELECT count(value), mean(value) FROM events").first()
    ev = load_table(spark, sf_dir, "events")
    exp = ev.agg(F.count("value"), F.avg("value")).first()
    assert got["time"] == 0
    assert got["count"] == exp[0]
    assert got["mean"] == pytest.approx(exp[1])


def test_plan_group_by_time_and_tag(spark, sf_dir):
    got = query(
        spark, sf_dir,
        "SELECT sum(value) AS s FROM events "
        "WHERE event_type = 'error' GROUP BY time(6h), event_type",
    )
    assert set(got.columns) == {"time", "event_type", "s"}
    n = got.count()
    assert n > 0
    # fill(null) adds the empty windows
    filled = query(
        spark, sf_dir,
        "SELECT sum(value) AS s FROM events "
        "WHERE event_type = 'error' GROUP BY time(6h), event_type FILL(null)",
    )
    assert filled.count() >= n


def test_plan_where_time_range(spark, sf_dir):
    df = query(
        spark, sf_dir,
        "SELECT value FROM events WHERE time >= '2025-01-02T00:00:00Z' "
        "AND time < '2025-01-03T00:00:00Z'",
    )
    lo = 1735776000 * 10**9
    ev = load_table(spark, sf_dir, "events")
    exp = ev.filter(
        (F.col("time_ns") >= lo) & (F.col("time_ns") < lo + 86400 * 10**9)
    ).count()
    assert df.count() == exp


def test_plan_selector_companion(spark, sf_dir):
    """SELECT max(value), user_id — companion column from the max row."""
    got = query(spark, sf_dir, "SELECT max(value), user_id FROM events").first()
    ev = load_table(spark, sf_dir, "events")
    top = ev.orderBy(F.col("value").desc()).first()
    assert got["max"] == top["value"]
    assert got["user_id"] == top["user_id"]


def test_plan_limit_offset_order(spark, sf_dir):
    df = query(
        spark, sf_dir,
        "SELECT value FROM events ORDER BY time DESC LIMIT 5",
    )
    rows = df.collect()
    assert len(rows) == 5
    times = [r["time"] for r in rows]
    assert times == sorted(times, reverse=True)


def test_show_statements(spark, sf_dir):
    ms = query(spark, sf_dir, "SHOW MEASUREMENTS")
    assert "events" in {r["name"] for r in ms.collect()}
    tk = query(spark, sf_dir, "SHOW TAG KEYS FROM events")
    assert "event_type" in {r["tagKey"] for r in tk.collect()}
    fk = query(spark, sf_dir, "SHOW FIELD KEYS FROM events")
    fields = {r["fieldKey"] for r in fk.collect()}
    assert "value" in fields and "event_type" not in fields
    tv = query(spark, sf_dir, "SHOW TAG VALUES FROM events WITH KEY = event_type")
    vals = [r["value"] for r in tv.collect()]
    assert vals == sorted(vals) and "error" in vals


def test_influx_json_shape(spark, sf_dir):
    df = query(
        spark, sf_dir,
        "SELECT count(value) AS n FROM events GROUP BY time(12h), event_type",
    )
    out = to_influx_json(df, "events", tag_cols=["event_type"], epoch="s")
    assert out["results"][0]["statement_id"] == 0
    blocks = out["results"][0]["series"]
    assert len(blocks) == 5  # one per event_type
    b0 = blocks[0]
    assert b0["name"] == "events"
    assert b0["columns"][0] == "time"
    assert set(b0["tags"]) == {"event_type"}
    col_time = [v[0] for v in b0["values"]]
    assert col_time == sorted(col_time)


def test_parse_errors():
    with pytest.raises(SyntaxError):
        parse("SELECT FROM events")
    with pytest.raises(SyntaxError):
        parse("DELETE FROM events")


def test_subquery_time_inheritance(spark, sf_dir):
    """Outer WHERE time bounds must reach the inner windowed agg."""
    q = (
        "SELECT mean(s) AS m FROM "
        "(SELECT sum(value) AS s FROM events GROUP BY time(6h), event_type) "
        "WHERE time >= '2024-01-05T00:00:00Z' AND time < '2024-01-10T00:00:00Z'"
    )
    got = query(spark, sf_dir, q).first()

    lo = 1704412800 * 10**9
    hi = 1704844800 * 10**9
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("time_ns") >= lo) & (F.col("time_ns") < hi)
    )
    from opengemini_spark.operators.window_agg import HOUR, window_agg

    inner = window_agg(
        ev, "time_ns", 6 * HOUR, [F.sum("value").alias("s")], dims=["event_type"]
    )
    exp = inner.agg(F.avg("s")).first()[0]
    assert got["m"] == pytest.approx(exp)


def test_top_bottom_call(spark, sf_dir):
    got = query(
        spark, sf_dir, "SELECT top(value, 3) FROM events GROUP BY event_type"
    )
    rows = got.collect()
    assert len(rows) == 15  # 3 per event_type
    ev = load_table(spark, sf_dir, "events")
    best = ev.groupBy("event_type").agg(F.max("value").alias("mx"))
    mx = {r["event_type"]: r["mx"] for r in best.collect()}
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["top"])
    for t, vals in by_type.items():
        assert max(vals) == mx[t] and len(vals) == 3

    bot = query(spark, sf_dir, "SELECT bottom(value, 2) FROM events GROUP BY event_type")
    assert bot.count() == 10


def test_distinct_call(spark, sf_dir):
    got = query(spark, sf_dir, "SELECT distinct(event_type) FROM events")
    vals = sorted(r["distinct"] for r in got.collect())
    assert vals == ["click", "error", "purchase", "signup", "view"]


def test_tz_shifts_day_boundaries(spark, sf_dir):
    """TZ('America/New_York') day buckets start at 05:00 UTC (EST)."""
    got = query(
        spark, sf_dir,
        "SELECT count(value) AS n FROM events GROUP BY time(1d) "
        "TZ('America/New_York')",
    )
    times = [r["time"] for r in got.collect()]
    assert times
    # January (EST = UTC-5): bucket boundaries at 05:00 UTC
    assert all((t // 10**9) % 86400 == 5 * 3600 for t in times)
    utc = query(spark, sf_dir, "SELECT count(value) AS n FROM events GROUP BY time(1d)")
    assert all((r["time"] // 10**9) % 86400 == 0 for r in utc.collect())
    # same total rows either way
    assert sum(r["n"] for r in got.collect()) == sum(r["n"] for r in utc.collect())


def test_nested_transform_derivative(spark, sf_dir):
    """derivative(mean(value), 6h) over GROUP BY time(6h): change per window."""
    got = query(
        spark, sf_dir,
        "SELECT derivative(mean(value), 6h) FROM events GROUP BY time(6h), event_type",
    )
    assert set(got.columns) == {"time", "event_type", "derivative"}
    base = query(
        spark, sf_dir,
        "SELECT mean(value) AS m FROM events GROUP BY time(6h), event_type",
    )
    b = {(r["event_type"], r["time"]): r["m"] for r in base.collect()}
    rows = got.collect()
    assert rows
    for r in rows[:50]:
        t, et = r["time"], r["event_type"]
        prev = [k for k in b if k[0] == et and k[1] < t]
        if not prev:
            continue
        pt = max(k[1] for k in prev)
        expected = (b[(et, t)] - b[(et, pt)]) / ((t - pt) / (6 * 3600 * 10**9))
        assert r["derivative"] == pytest.approx(expected)


def test_nested_transform_plans_without_spark_jobs(spark, sf_dir, spark_jobs):
    """The inner aggregate of derivative(mean(...)) is planned with the
    statement's WHERE time range, so its fill spine's bounds are literals
    (an open range takes them from the data, as a subquery of the plan):
    building the plan runs no Spark job (nor does the table load, once the
    file's schema is known)."""
    from opengemini_spark.influxql.planner import Planner

    q = (
        "SELECT derivative(mean(value), 1h) FROM events "
        "WHERE time >= '2024-01-05T00:00:00Z' AND time < '2024-01-12T00:00:00Z' "
        "GROUP BY time(1h), event_type"
    )
    load_table(spark, sf_dir, "events")
    df, jobs = spark_jobs(lambda: Planner(spark, sf_dir).plan(parse(q)))
    assert jobs == [], "planning launched Spark jobs"
    rows = df.collect()
    assert rows
    assert all(
        1704412800 * 10**9 <= r["time"] < 1705017600 * 10**9 for r in rows
    )


def test_nested_transform_cumsum_and_moving(spark, sf_dir):
    cs = query(
        spark, sf_dir,
        "SELECT cumulative_sum(count(value)) FROM events GROUP BY time(1d), event_type",
    )
    rows = [r for r in cs.collect() if r["event_type"] == "error"]
    rows.sort(key=lambda r: r["time"])
    vals = [r["cumulative_sum"] for r in rows]
    assert vals == sorted(vals)  # counts are positive → cumsum monotone

    ma = query(
        spark, sf_dir,
        "SELECT moving_average(count(value), 3) FROM events GROUP BY time(1d), event_type",
    )
    assert ma.count() > 0


def test_with_cte(spark, sf_dir):
    """WITH name AS (SELECT …) SELECT … FROM name (cte_transform analog)."""
    got = query(
        spark, sf_dir,
        "WITH daily AS (SELECT count(value) AS n FROM events "
        "GROUP BY time(1d), event_type) "
        "SELECT max(n) AS peak FROM daily",
    ).first()
    exp = (
        query(spark, sf_dir,
              "SELECT count(value) AS n FROM events GROUP BY time(1d), event_type")
        .agg(F.max("n")).first()[0]
    )
    assert got["peak"] == exp


def test_show_series(spark, sf_dir):
    got = query(spark, sf_dir, "SHOW SERIES FROM documents")
    keys = [r["key"] for r in got.collect()]
    assert keys == sorted(keys)
    assert all(k.startswith("documents,") for k in keys)
    assert any("lang=en" in k for k in keys)


def test_in_subquery(spark, sf_dir):
    """WHERE user_id IN (SELECT …) → semi join; NOT IN → anti join."""
    got = query(
        spark, sf_dir,
        "SELECT value FROM events WHERE user_id IN "
        "(SELECT distinct(user_id) FROM events WHERE value > 245) "
        "AND event_type = 'click'",
    )
    ev = load_table(spark, sf_dir, "events")
    hot = ev.filter(F.col("value") > 245).select("user_id").distinct()
    exp = (
        ev.join(hot, "user_id", "left_semi")
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert got.count() == exp > 0

    anti = query(
        spark, sf_dir,
        "SELECT value FROM events WHERE user_id NOT IN "
        "(SELECT distinct(user_id) FROM events WHERE value > 245)",
    )
    exp_anti = ev.join(hot, "user_id", "left_anti").count()
    assert anti.count() == exp_anti


def test_select_star_and_group_by_star(spark, sf_dir):
    raw = query(spark, sf_dir, "SELECT * FROM events LIMIT 3")
    # time first, then all tags+fields
    assert raw.columns[0] == "time"
    assert {"event_type", "value", "user_id", "props", "event_id"} <= set(raw.columns)
    assert raw.count() == 3

    g = query(spark, sf_dir, "SELECT count(n_chars) AS n FROM documents GROUP BY *")
    # documents tags = text/lang/source (strings); grouping by all of them
    assert {"text", "lang", "source", "n", "time"} == set(g.columns)


def test_raw_transform_derivative(spark, sf_dir):
    """derivative(value, 1s) over raw points per tag series."""
    got = query(
        spark, sf_dir,
        "SELECT derivative(value, 1s) FROM events GROUP BY event_type",
    )
    assert set(got.columns) == {"time", "event_type", "derivative"}
    n = got.count()
    ev = load_table(spark, sf_dir, "events")
    # one derivative per point after the first in each series
    assert n == ev.count() - ev.select("event_type").distinct().count()

    diff = query(spark, sf_dir, "SELECT difference(value) FROM events GROUP BY event_type")
    assert diff.count() == n
    cs = query(spark, sf_dir, "SELECT cumulative_sum(value) FROM events GROUP BY event_type")
    assert cs.count() == ev.count()


def test_percentile_nearest_rank(spark, sf_dir):
    """percentile() through the parser = openGemini nearest-rank."""
    got = query(
        spark, sf_dir,
        "SELECT percentile(value, 95) AS p FROM events GROUP BY event_type",
    )
    from opengemini_spark.operators import selectors as sel

    ev = load_table(spark, sf_dir, "events")
    exp = sel.percentile_exact(ev, "value", 95.0, ["event_type"])
    a = {r["event_type"]: r["p"] for r in got.collect()}
    b = {r["event_type"]: r["percentile"] for r in exp.collect()}
    assert a == b


def test_raw_limit_global_stream(spark, sf_dir):
    """LIMIT in raw GROUP BY tag queries is GLOBAL over the tag-major
    stream — QuerySchema.LimitType() (schema.go:1265) always picks
    SingleRowIgnoreTagLimit for non-top/bottom queries (server_test.go
    LimitAndOffset "limit - group by tennant")."""
    got = query(
        spark, sf_dir,
        "SELECT value FROM events GROUP BY event_type LIMIT 2",
    )
    rows = got.collect()
    assert len(rows) == 2
    tags = {r["__tag_event_type"] for r in rows}
    # both rows come from the first series in tag order
    first_tag = min(
        r["event_type"]
        for r in load_table(spark, sf_dir, "events")
        .select("event_type").distinct().collect()
    )
    assert tags == {first_tag}
    times = [r["time"] for r in rows]
    assert times == sorted(times)


def test_mode_ties_pick_earliest_first_occurrence(spark):
    """NewModeReduce (agg_func.go:175-204): frequency ties resolve to the
    value whose first occurrence is EARLIEST — 3.0 (first seen at t=0)
    beats 1.0 (first seen at t=2) despite 1.0 sorting lower."""
    rows = [(i, float(v)) for i, v in enumerate([3.0, 3.0, 1.0, 1.0, 2.0])]
    df = spark.createDataFrame(rows, ["time_ns", "value"])
    got = query(spark, None, "SELECT mode(value) FROM m",
                loader=lambda m: df).first()
    assert got["mode"] == 3.0


def test_mode_unique_max_frequency(spark):
    rows = [(i, float(v)) for i, v in enumerate([5.0, 2.0, 2.0, 2.0, 9.0])]
    df = spark.createDataFrame(rows, ["time_ns", "value"])
    got = query(spark, None, "SELECT mode(value) FROM m",
                loader=lambda m: df).first()
    assert got["mode"] == 2.0


def test_rate_and_irate_two_points(spark):
    rows = [(0, 10.0), (2_000_000_000, 30.0), (3_000_000_000, 33.0)]
    df = spark.createDataFrame(rows, ["time_ns", "value"])
    out = query(spark, None, "SELECT rate(value), irate(value) FROM m",
                loader=lambda m: df).first()
    # rate: (33-10)/3s ; irate: (33-30)/1s
    assert out["rate"] == pytest.approx(23.0 / 3.0)
    assert out["irate"] == pytest.approx(3.0)


def test_integral_trapezoid_and_single_point(spark):
    rows = [(0, 0.0), (1_000_000_000, 2.0), (2_000_000_000, 2.0)]
    df = spark.createDataFrame(rows, ["time_ns", "value"])
    out = query(spark, None, "SELECT integral(value, 1s) FROM m",
                loader=lambda m: df).first()
    assert out["integral"] == pytest.approx(1.0 + 2.0)
    one = spark.createDataFrame([(0, 5.0)], ["time_ns", "value"])
    out1 = query(spark, None, "SELECT integral(value, 1s) FROM m",
                 loader=lambda m: one)
    vals = [r["integral"] for r in out1.collect()]
    assert vals in ([], [None])


def test_elapsed_default_unit_is_ns(spark):
    rows = [(0, 1.0), (1_500, 2.0)]
    df = spark.createDataFrame(rows, ["time_ns", "value"])
    out = query(spark, None, "SELECT elapsed(value) FROM m",
                loader=lambda m: df).collect()
    assert [r["elapsed"] for r in out] == [1500]


def test_sample_deterministic_and_bounded(spark, sf_dir):
    a = query(spark, sf_dir,
              "SELECT sample(value, 2) FROM events GROUP BY event_type")
    b = query(spark, sf_dir,
              "SELECT sample(value, 2) FROM events GROUP BY event_type")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    counts = a.groupBy("event_type").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_ema_text_path_alpha(spark):
    """EMA N=3 → α=0.5: hand-computed fixture."""
    rows = [(i * 1_000_000_000, float(v)) for i, v in enumerate([4.0, 8.0, 4.0])]
    df = spark.createDataFrame(rows, ["time_ns", "value"])
    out = query(
        spark, None,
        "SELECT exponential_moving_average(mean(value), 3) FROM m GROUP BY time(1s)",
        loader=lambda m: df,
    ).collect()
    assert [r[1] for r in out] == [4.0, 6.0, 5.0]


def test_ema_long_tail_text_path(spark):
    """TEMA/TRIX/RSI reachable from the query string (compile.go:810-815)."""
    rows = [(i * 1_000_000_000, float(v)) for i, v in
            enumerate([1, 2, 3, 4, 5, 6, 4, 2, 1, 3, 5, 7, 9, 8, 6, 4])]
    df = spark.createDataFrame(rows, ["time_ns", "value"])
    tema = query(
        spark, None,
        "SELECT triple_exponential_moving_average(mean(value), 3) FROM m GROUP BY time(1s)",
        loader=lambda m: df,
    ).collect()
    # first point: all three EMA levels seed at x1 → TEMA = 3x−3x+x = x
    assert tema[0][1] == 1.0 and len(tema) == 16

    trix = query(
        spark, None,
        "SELECT triple_exponential_derivative(mean(value), 3) FROM m GROUP BY time(1s)",
        loader=lambda m: df,
    ).collect()
    assert len(trix) == 15  # first point dropped

    rsi = query(
        spark, None,
        "SELECT relative_strength_index(mean(value), 3) FROM m GROUP BY time(1s)",
        loader=lambda m: df,
    ).collect()
    assert len(rsi) == 13   # emitted from the (n+1)-th point
    assert all(0.0 <= r[1] <= 100.0 for r in rsi)


def test_rsi_all_gains_is_100(spark):
    from opengemini_spark.operators import recursive as rec
    rows = [(i, float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, ["t", "value"])
    out = rec.relative_strength_index(df, [], ["t"], "value", 3)
    vals = [r["rsi"] for r in out.collect() if r["rsi"] is not None]
    assert vals and all(v == 100.0 for v in vals)


def test_division_does_not_lex_as_regex():
    toks = lex("SELECT value / 2 + value / 4 FROM events")
    assert not any(t.kind == "REGEX" for t in toks)
    assert sum(1 for t in toks if t.kind == "OP" and t.text == "/") == 2
    toks2 = lex("SELECT value FROM /cpu[13]/ WHERE host =~ /ser.*/")
    assert sum(1 for t in toks2 if t.kind == "REGEX") == 2


def test_regex_measurement_source(spark, sf_dir, tmp_path):
    """FROM /cpu[13]/ → ONE merged stream over the matching measurements
    (server_test.go MultiMeasurements 'select * from regexe
    measurements'; the per-block cases at :2158 are Go-skipped)."""
    import json

    from opengemini_spark.api import handle_query, handle_write

    root = str(tmp_path / "rx")
    handle_write(
        spark,
        [
            "cpu1,host=server01 value=10 1425085416703820946",
            "cpu2,host=server01 value=20 1425085416703820947",
            "cpu3,host=server01 value=30 1425085416703820948",
        ],
        root,
    )
    got = handle_query(
        spark, sf_dir, "SELECT value FROM /cpu[13]/", epoch=None,
        data_root=root,
    )
    exp = json.loads(
        '{"results":[{"statement_id":0,"series":['
        '{"name":"cpu1,cpu3","columns":["time","value"],"values":['
        '["2015-02-28T01:03:36.703820946Z",10.0],'
        '["2015-02-28T01:03:36.703820948Z",30.0]]}]}]}'
    )
    assert got == exp

    agg = handle_query(
        spark, sf_dir, "SELECT count(value) FROM /cpu./ ", epoch=None,
        data_root=root,
    )
    blocks = agg["results"][0]["series"]
    assert [b["name"] for b in blocks] == ["cpu1,cpu2,cpu3"]
    assert blocks[0]["values"][0][1] == 3


def test_show_measurements_with_regex(spark, sf_dir):
    out = query(spark, sf_dir, "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^na/")
    assert [r["name"] for r in out.collect()] == ["nation"]
    empty = query(spark, sf_dir, "SHOW MEASUREMENTS WITH MEASUREMENT =~ /zzz/")
    assert empty.count() == 0


def test_show_cardinality_statements(spark, sf_dir):
    m = query(spark, sf_dir, "SHOW MEASUREMENT CARDINALITY").first()
    assert m["count"] == 10
    mr = query(spark, sf_dir, "SHOW MEASUREMENT CARDINALITY FROM /^na/").first()
    assert mr["count"] == 1
    m1 = query(spark, sf_dir, "SHOW MEASUREMENT CARDINALITY FROM nation").first()
    assert m1["count"] == 1
    # SHOW SERIES CARDINALITY: per shard-group (1w Monday-aligned
    # windows) distinct-series counts, reference ShowSeries shape
    rows = query(spark, sf_dir, "SHOW SERIES CARDINALITY FROM events").collect()
    assert rows and set(rows[0].asDict()) == {"startTime", "endTime", "count"}
    ev = load_table(spark, sf_dir, "events")
    tags = sorted(c for c, t in ev.dtypes if t == "string")
    WEEK = 7 * 24 * 3600 * 10**9
    OFF = 4 * 24 * 3600 * 10**9
    exp = (
        ev.selectExpr(
            f"time_ns - ((time_ns - {OFF}) % {WEEK}) AS __w", *tags
        ).distinct().groupBy("__w").count().count()
    )
    assert len(rows) == exp
    total_distinct = ev.select(*tags).distinct().count()
    assert all(0 < r["count"] <= total_distinct for r in rows)


def test_multi_measurement_from(spark, sf_dir, tmp_path):
    """SELECT … FROM m1, m2 — ONE merged series over the matching
    measurements, named 'm1,m2' (server_test.go MultiMeasurements —
    the older per-source-block cases are Go-skipped)."""
    import json

    from opengemini_spark.api import handle_query, handle_write

    root = str(tmp_path / "multi")
    handle_write(spark, [
        "cpua,host=s1 value=1.0 946684800000000000",
        "gpua,host=s2 value=2.0 946684800000000001",
        "other,host=s3 value=9.0 946684800000000000",
    ], root)
    got = handle_query(
        spark, sf_dir, "SELECT value FROM cpua, gpua",
        epoch=None, data_root=root,
    )
    assert [s["name"] for s in got["results"][0]["series"]] == ["cpua,gpua"]
    assert got["results"][0]["series"][0]["values"] == [
        ["2000-01-01T00:00:00Z", 1.0],
        ["2000-01-01T00:00:00.000000001Z", 2.0],
    ]


def test_now_relative_time_folds_and_plans(spark, sf_dir, tmp_path):
    """WHERE time > now() - 1h folds now() at parse time (RewriteTimeFields
    semantics) and plans as an ordinary time bound."""
    import json

    from opengemini_spark.influxql import parse
    from opengemini_spark.influxql import ast as iast
    from opengemini_spark.api import handle_query, handle_write

    now = 946684800_000000000 + 3_600_000_000_000  # 2000-01-01T01:00Z
    s = parse("SELECT count(value) FROM m WHERE time > now() - 1h", now_ns=now)
    assert isinstance(s.where.rhs, iast.Literal)
    assert s.where.rhs.value == 946684800_000000000

    root = str(tmp_path / "nowdata")
    handle_write(spark, [
        "m,host=a value=1.0 946684800000000001",   # just inside the window
        "m,host=a value=2.0 946681200000000000",   # 1h earlier — outside
    ], root)
    import opengemini_spark.influxql.parser as P
    import time as _time
    real = _time.time
    try:
        _time.time = lambda: now / 1e9
        got = handle_query(
            spark, sf_dir, "SELECT count(value) FROM m WHERE time > now() - 1h",
            epoch=None, data_root=root,
        )
    finally:
        _time.time = real
    assert got["results"][0]["series"][0]["values"][0][1] == 1, json.dumps(got)
