"""Scale-technique tests: salted aggregation equivalence, bucketed
shuffle-free joins, AQE configs present."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opengemini_spark.catalog import load_table
from opengemini_spark.operators.scale import (
    bucketed_join_plan_has_no_shuffle,
    salted_agg,
    write_bucketed,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = salted_agg(
        ev,
        ["event_type"],
        {
            "n": (F.count(F.lit(1)), F.sum),
            "sum_v": (F.sum("value"), F.sum),
            "max_v": (F.max("value"), F.max),
        },
        salt_buckets=8,
    )
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
        F.max("value").alias("max_v"),
    )
    a = {r["event_type"]: (r["n"], round(r["sum_v"], 6), r["max_v"])
         for r in salted.collect()}
    b = {r["event_type"]: (r["n"], round(r["sum_v"], 6), r["max_v"])
         for r in plain.collect()}
    assert a == b


def test_bucketed_join_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", "o_orderkey", 8)
    write_bucketed(li, "lineitem_b", "l_orderkey", 8)
    joined, shuffle_free = bucketed_join_plan_has_no_shuffle(
        spark, "orders_b", "lineitem_b", "o_orderkey", "l_orderkey"
    )
    assert shuffle_free, "bucketed equi-join must plan without Exchange"
    # and it is still correct
    expect = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert joined.count() == expect
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_session_scale_configs(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_plan_audit_previously_flagged_queries_stay_clean(spark):
    """fill spine + histogram bucketing must stay free of nested-loop
    nodes (tools/plan_audit.py found and we removed them in r2)."""
    import sys
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from plan_audit import audit
    from opengemini_spark import suite

    qs = suite.queries()
    for name in (
        "window_fill_null", "window_fill_linear",
        "influxql_window_agg_fill", "prom_histogram_quantile",
    ):
        df = qs[name](spark, "/root/testdata/sf0.001")
        assert audit(name, df) == [], name


def test_plan_audit_allowlist_covers_broadcast_cross(spark):
    import sys
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from plan_audit import CROSS_ALLOWED, audit
    from opengemini_spark import suite

    qs = suite.queries()
    # a deliberate broadcast-cross query is allowlisted, so audit is clean
    name = "similarity_cosine_topk"
    assert name in CROSS_ALLOWED
    assert audit(name, qs[name](spark, "/root/testdata/sf0.001")) == []
