"""The dashboard panels of perfbench's ``serve`` workload, over sf0.001:
how many Spark jobs each statement runs, the exact order of its response,
and the job group a query leaves its thread in.

A Spark job costs a fixed 65-100 ms at these sizes, so a panel's job count
is its cost. Jobs are counted as the span of job ids between two marker
jobs run in the test's own job group (the ``spark_jobs`` fixture): a
query runs its jobs under a group of its own (``querytrack``), so only the
id span sees all of them.
"""

from __future__ import annotations

import json
import os

from opengemini_spark.api import handle_query, handle_write
from opengemini_spark.catalog import load_table

W = "time >= '2024-01-05T00:00:00Z' AND time < '2024-01-08T00:00:00Z'"

# the eight statements of the seven serve panels (perfbench/dashboard.py;
# "multi" is top and first/last in one request)
PANELS = {
    "window_fill": (
        "SELECT count(value), sum(value), max(value) FROM events "
        f"WHERE value > 100 AND {W} GROUP BY time(2h), event_type fill(0)"
    ),
    "raw_filter": (
        "SELECT value, user_id FROM events "
        f"WHERE event_type = 'error' AND value > 50 AND {W}"
    ),
    "top": f"SELECT top(value, 3) FROM events WHERE {W} GROUP BY event_type",
    "first_last": (
        f"SELECT first(value), last(value) FROM events WHERE {W} "
        "GROUP BY time(6h), event_type"
    ),
    "derivative": (
        f"SELECT derivative(mean(value), 1h) FROM events WHERE {W} "
        "GROUP BY time(1h), event_type"
    ),
    "moving_average": (
        f"SELECT moving_average(max(value), 3) FROM events WHERE {W} "
        "GROUP BY time(2h), event_type"
    ),
    "exponential_moving_average": (
        "SELECT exponential_moving_average(count(value), 4) AS ema "
        f"FROM events WHERE {W} GROUP BY time(6h), event_type"
    ),
    "subquery": (
        "SELECT count(s) AS n, min(s) AS mn, max(s) AS mx FROM "
        "(SELECT count(value) AS s FROM events GROUP BY time(3h), event_type) "
        f"WHERE {W}"
    ),
}

# one panel shape of each kind over two days, small enough to pin whole
W2 = "time >= '2024-01-05T00:00:00Z' AND time < '2024-01-07T00:00:00Z'"
ORDER_CASES = {
    "fill": (
        f"SELECT count(value), max(value) FROM events WHERE {W2} "
        "GROUP BY time(12h), event_type fill(0)"
    ),
    "transform": (
        f"SELECT derivative(max(value), 1h) FROM events WHERE {W2} "
        "GROUP BY time(12h), event_type"
    ),
    "ema": (
        "SELECT exponential_moving_average(count(value), 2) AS ema "
        f"FROM events WHERE {W2} GROUP BY time(12h), event_type"
    ),
    "top": f"SELECT top(value, 2) FROM events WHERE {W2} GROUP BY event_type",
    "raw": (
        "SELECT value, user_id FROM events "
        f"WHERE event_type = 'error' AND {W2}"
    ),
}

H = 3600 * 10**9
T0 = 1704067200 * 10**9  # 2024-01-01T00:00:00Z


def _clear_job_group(sc) -> None:
    for k in (
        "spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel",
    ):
        sc.setLocalProperty(k, None)


def _marker(spark) -> int:
    """Run one Spark job in the thread's current group; its id."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    spark.range(1).collect()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_query_restores_the_callers_job_group(spark, sf_dir):
    """A query runs its jobs under its own group, then gives the thread
    back the group it had: none, or the caller's own."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    q = "SELECT count(value) FROM events GROUP BY time(1d), event_type"
    load_table(spark, sf_dir, "events")

    _clear_job_group(sc)
    before = _marker(spark)
    handle_query(spark, sf_dir, q)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    # the query's jobs lie between two jobs that have no group
    after = _marker(spark)
    assert after in tracker.getJobIdsForGroup(None)
    assert after - before > 1

    sc.setJobGroup("caller-group", "caller's jobs", interruptOnCancel=True)
    try:
        handle_query(spark, sf_dir, q)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller's jobs"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
    finally:
        _clear_job_group(sc)


def test_panel_statements_run_in_few_jobs(spark, sf_dir, spark_jobs):
    """Every statement shuffles its (bucket, tag-set) aggregate at most
    once more, by series, for fill, transform and recurrence, and sorts its
    response in one partition with no sampling job: at most 4 jobs, and 5
    for the recurrence's Python stage."""
    load_table(spark, sf_dir, "events")
    counts = {}
    for name, q in PANELS.items():
        body, ids = spark_jobs(lambda q=q: handle_query(spark, sf_dir, q))
        res = body["results"][0]
        assert "error" not in res, (name, res)
        assert res.get("series"), name
        counts[name] = len(ids)
    over = {
        k: n for k, n in counts.items()
        if n > (5 if k == "exponential_moving_average" else 4)
    }
    assert not over, counts


def test_panel_bodies_are_exact(spark, sf_dir):
    """Series blocks in tag order, rows in time order within each, values
    as before the series exchange and the single-partition sort: the
    oracle compares values without order, so the order is pinned here."""
    path = os.path.join(os.path.dirname(__file__), "serve_panel_bodies.json")
    with open(path) as f:
        expected = json.load(f)
    for name, q in ORDER_CASES.items():
        assert handle_query(spark, sf_dir, q) == expected[name], name


def test_raw_read_over_day_files_keeps_its_scan_tasks(
    spark, sf_dir, tmp_path, spark_jobs,
):
    """A raw read has no shuffle for the final sort to ride on: its rows
    meet in one partition through an exchange, so the scan of the three
    day files still runs as several tasks."""
    root = str(tmp_path / "data")
    day = 24 * H
    lines = [
        f"m,host=h{i % 2} v={i}.5 {T0 + (i % 3) * day + i * 10**9}"
        for i in range(30)
    ]
    handle_write(spark, lines, root)
    files = [
        f for _, _, fs in os.walk(os.path.join(root, "m"))
        for f in fs if f.endswith(".parquet")
    ]
    assert len(files) == 3

    body, ids = spark_jobs(
        lambda: handle_query(spark, sf_dir, "SELECT v FROM m", data_root=root)
    )
    rows = body["results"][0]["series"][0]["values"]
    assert [r[0] for r in rows] == sorted(
        T0 + (i % 3) * day + i * 10**9 for i in range(30)
    )
    tracker = spark.sparkContext.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in ids for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert max(tasks) > 1, tasks


def test_transform_over_empty_edge_buckets_gains_no_rows(spark, sf_dir, tmp_path):
    """The spine of a nested transform spans the query's time range only
    where its empty edge buckets cannot emit: cumulative_sum and elapsed
    emit at an empty bucket, so theirs still spans the buckets with data.
    Data in buckets 1, 2 and 4 of 0-5: bucket 3 is an empty interior
    bucket, buckets 0 and 5 are empty edges."""
    root = str(tmp_path / "data")
    handle_write(spark, [
        f"m v={v} {T0 + b * H + 60 * 10**9}"
        for b, v in ((1, 1.0), (2, 2.0), (4, 4.0))
    ], root)
    where = f"time >= {T0} AND time < {T0 + 6 * H}"

    def values(call: str) -> list:
        body = handle_query(
            spark, sf_dir,
            f"SELECT {call} FROM m WHERE {where} GROUP BY time(1h)",
            data_root=root,
        )
        return body["results"][0]["series"][0]["values"]

    t = [T0 + b * H for b in range(6)]
    assert values("cumulative_sum(mean(v))") == [
        [t[1], 1.0], [t[2], 3.0], [t[3], 3.0], [t[4], 7.0],
    ]
    assert values("elapsed(mean(v), 1h)") == [[t[2], 1], [t[3], 1], [t[4], 1]]
    assert values("derivative(mean(v), 1h)") == [[t[2], 1.0]]
    assert values("moving_average(mean(v), 2)") == [[t[2], 1.5]]
    assert values("exponential_moving_average(mean(v), 2)") == [
        [t[1], 1.0], [t[2], 1.6666666666666665], [t[4], 3.2222222222222223],
    ]


def test_group_by_tag_keeps_the_series_without_the_tag(spark, sf_dir, tmp_path):
    """Points that lack the GROUP BY tag form the series with tag "" and
    keep their values through fill and a nested transform."""
    root = str(tmp_path / "data")
    handle_write(spark, [
        f"m,host=a v=1 {T0}", f"m,host=a v=2 {T0 + 2 * H}",
        f"m v=10 {T0 + H}", f"m v=20 {T0 + 2 * H}",
    ], root)
    where = f"time >= {T0} AND time < {T0 + 3 * H}"

    def blocks(call: str) -> dict:
        body = handle_query(
            spark, sf_dir,
            f"SELECT {call} FROM m WHERE {where} GROUP BY time(1h), host",
            data_root=root,
        )
        return {
            s["tags"]["host"]: s["values"]
            for s in body["results"][0].get("series", [])
        }

    t = [T0 + b * H for b in range(3)]
    assert blocks("mean(v)") == {
        "": [[t[0], None], [t[1], 10.0], [t[2], 20.0]],
        "a": [[t[0], 1.0], [t[1], None], [t[2], 2.0]],
    }
    assert blocks("derivative(mean(v), 1h)") == {"": [[t[2], 10.0]]}
