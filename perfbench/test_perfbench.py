"""Tests for the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import inputs, ledger
from perfbench.checks import frames_match
from perfbench.dashboard import Dashboard, p_window_fill
from perfbench.ingest import Ingest
from perfbench.serve import Serve


def test_parse_duration_ms():
    assert ledger.parse_duration_ms("12 ms") == 12.0
    assert ledger.parse_duration_ms(
        "total (min, med, max (stageId: taskId))\n6.6 s (1.5 s, 1.7 s, "
        "1.7 s (stage 2.0: task 7))") == 6600.0


def test_frames_match_tolerates_float_order_not_wrong_values():
    a = pd.DataFrame({"k": ["x", "y"], "v": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"k": ["y", "x"], "v": [1.0, 0.3]})
    assert frames_match(a, b)[0]
    b.loc[0, "v"] = 1.001
    assert not frames_match(a, b)[0]


def test_dashboard_check_counts_a_wrong_response(tmp_path):
    import numpy as np

    from tools.oracle_check import duck_con

    inputs.write_events(str(tmp_path / "events.parquet"), 5000, 3)
    inputs.write_placeholders(str(tmp_path))
    con = duck_con(str(tmp_path))
    q, twins = p_window_fill(np.random.default_rng(3))
    want = con.execute(twins[0]).fetchdf()
    assert len(want)
    series = []
    for et, g in want.groupby("event_type"):
        series.append({
            "name": "events", "tags": {"event_type": et},
            "columns": ["time", "count", "sum", "max"],
            "values": g[["time", "count", "sum", "max"]].values.tolist(),
        })
    op = {"kind": "influxql", "twins": twins,
          "resp": {"results": [{"statement_id": 0, "series": series}]}}
    assert Dashboard._check_one(con, op) == (True, "ok")
    series[0]["values"][0][2] += 1.0  # one wrong sum
    ok, why = Dashboard._check_one(con, op)
    assert not ok and "sum" in why


def test_ingest_check_counts_a_wrong_write_response():
    op = {"kind": "write", "resp": {"written": {"cpu": 3, "mem": 1}},
          "want": {"cpu": 3, "mem": 1}}
    assert Ingest._check_one(op)[0]
    op["resp"]["written"]["mem"] = 0
    assert not Ingest._check_one(op)[0]


def test_serve_latency_averages_each_kind_median(tmp_path):
    s = Serve(None, str(tmp_path), 1)
    s.ingest.stream = inputs.LineProtocolStream(1, points=10)
    s.ingest.stream.next_batch()
    ops = ([{"kind": "influxql", "panel": "p_top", "s": x} for x in (1, 3, 2)]
           + [{"kind": "promql", "panel": "rate", "s": 10.0}]
           + [{"kind": "write", "points": 10, "s": x} for x in (4, 6)])
    out = s.summary(ops)
    assert out["p50_s"] == pytest.approx((2 + 10 + 5) / 3)
    assert out["n_ops"] == 6
    assert out["detail"]["query_s"] == [1, 3, 2, 10.0]
    assert out["detail"]["write_points_per_s"] == 2.0


def test_line_protocol_truth_keeps_newest_write():
    s = inputs.LineProtocolStream(5, points=300)
    for _ in range(4):
        lines, lo, hi = s.next_batch()
        assert len(lines) == 300
        for ln in lines:
            head, fields, t = ln.rsplit(" ", 2)
            parts = dict(p.split("=") for p in head.split(",")[1:])
            mst = head.split(",")[0]
            key = ((mst, parts["host"], parts["region"], int(t))
                   if mst == "cpu" else (mst, parts["host"], int(t)))
            assert lo <= int(t) < hi
            assert key in s.truth


@pytest.fixture(scope="module")
def spark():
    from opengemini_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]")
    yield s
    s.stop()


def test_ledger_matches_status_tracker(spark):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    led = ledger.Ledger(spark)
    group = "perfbench-ledger-test"
    sc.setJobGroup(group, "ledger pin")
    try:
        spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count() \
            .collect()
        spark.range(1000).repartition(3).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec = led.read()
    tracker = sc.statusTracker()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    assert sorted(j["jobId"] for j in rec["jobs"]) == job_ids
    assert all(j["jobGroup"] == group for j in rec["jobs"])
    ran = [s for s in rec["stages"] if s["status"] == "COMPLETE"]
    tracked = {
        sid for jid in job_ids for sid in tracker.getJobInfo(jid).stageIds
    }
    assert {s["stageId"] for s in ran} <= tracked
    tasks = sum(tracker.getStageInfo(s["stageId"]).numCompletedTasks
                for s in ran)
    assert ledger.totals(rec)["tasks"] == tasks > 0
    assert ledger.totals(rec)["jobs"] == len(job_ids)
    # nothing is counted twice
    assert led.read() == {"jobs": [], "stages": [], "executions": []}
