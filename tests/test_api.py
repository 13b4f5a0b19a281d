"""API layer tests: multi-statement dispatch, EXPLAIN, errors, chunking,
write path round-trip."""

from __future__ import annotations

from opengemini_spark import storage
from opengemini_spark.api import handle_query, handle_write


def test_multi_statement_and_error(spark, sf_dir):
    out = handle_query(
        spark, sf_dir,
        "SELECT count(value) AS n FROM events; SELECT bogus( FROM x; SHOW MEASUREMENTS",
        epoch="s",
    )
    r = out["results"]
    assert [b["statement_id"] for b in r] == [0, 1, 2]
    assert r[0]["series"][0]["columns"] == ["time", "n"]
    assert "error" in r[1]
    assert any("events" in v for blk in r[2]["series"] for v in sum(blk["values"], []))


def test_explain_returns_plan(spark, sf_dir):
    out = handle_query(
        spark, sf_dir,
        "EXPLAIN SELECT count(value) FROM events WHERE event_type = 'error'",
    )
    lines = [v[0] for v in out["results"][0]["series"][0]["values"]]
    text = "\n".join(lines)
    assert "Physical Plan" in text or "Scan" in text


def test_chunked_series(spark, sf_dir):
    out = handle_query(
        spark, sf_dir,
        "SELECT count(value) AS n FROM events GROUP BY time(1d)",
        chunk_size=5,
    )
    blocks = out["results"][0]["series"]
    assert len(blocks) > 1
    assert blocks[0]["partial"] is True
    assert "partial" not in blocks[-1] or blocks[-1]["partial"] is False
    total = sum(len(b["values"]) for b in blocks)
    unchunked = handle_query(
        spark, sf_dir, "SELECT count(value) AS n FROM events GROUP BY time(1d)"
    )
    assert total == len(unchunked["results"][0]["series"][0]["values"])


def test_write_roundtrip(spark, tmp_path):
    root = str(tmp_path / "data")
    lines = [
        "cpu,host=h1 usage=0.5 1700000000000000000",
        "cpu,host=h1 usage=0.7 1700000060000000000",
        "cpu,host=h2 usage=0.9 1700090000000000000",
    ]
    res = handle_write(spark, lines, root)
    assert res["written"] == {"cpu": 3}
    back = storage.read_measurement(spark, f"{root}/cpu")
    assert back.count() == 3
    assert {r["host"] for r in back.collect()} == {"h1", "h2"}
    # second write appends
    handle_write(spark, ["cpu,host=h3 usage=1.0 1700000120000000000"], root)
    assert storage.read_measurement(spark, f"{root}/cpu").count() == 4


def test_ddl_routed_through_query(spark, sf_dir, tmp_path):
    from opengemini_spark.ddl import DDLExecutor, MetaStore

    ddl = DDLExecutor(spark, MetaStore(str(tmp_path / "meta")))
    out = handle_query(
        spark, sf_dir,
        "CREATE DATABASE tsdb; SHOW DATABASES; SELECT count(value) AS n FROM events",
        ddl=ddl,
    )
    r = out["results"]
    # wire shape: a successful DDL is a bare {"statement_id": n}
    assert r[0] == {"statement_id": 0}
    assert r[1]["series"][0]["values"] == [["tsdb"]]
    assert r[2]["series"][0]["columns"] == ["time", "n"]


def test_select_into_statement(spark, sf_dir, tmp_path):
    """SELECT … INTO dst via the query path writes the destination
    measurement (reference SELECT INTO response shape)."""
    root = str(tmp_path / "into_data")
    handle_write(spark, [
        "src,host=a v=1.0 1000000000",
        "src,host=a v=2.0 2000000000",
        "src,host=b v=3.0 3000000000",
    ], root)
    out = handle_query(
        spark, sf_dir,
        "SELECT count(v) AS n INTO dst FROM src GROUP BY time(1s), host",
        data_root=root,
    )
    blk = out["results"][0]["series"][0]
    assert blk["columns"] == ["time", "written"]
    # default fill(null) spine spans buckets 1s-3s per series; count()
    # zero-fills empty windows, so all 2 series x 3 buckets persist
    assert blk["values"][0][1] == 6
    back = storage.read_measurement(spark, f"{root}/dst")
    assert back.count() == 6
    assert {r["host"] for r in back.collect()} == {"a", "b"}
    assert back.filter("n = 0").count() == 3
    # null-fill windows carry no fields and are NOT written (a point
    # cannot exist without fields): mean() spine nulls drop
    out2 = handle_query(
        spark, sf_dir,
        "SELECT mean(v) AS m INTO dst2 FROM src GROUP BY time(1s), host",
        data_root=root,
    )
    assert out2["results"][0]["series"][0]["values"][0][1] == 3
    assert storage.read_measurement(spark, f"{root}/dst2").count() == 3


def test_order_by_time_desc_emits_descending_rows(spark, sf_dir):
    """ADVICE r1: ORDER BY time DESC must reach the JSON emission order."""
    out = handle_query(
        spark, sf_dir,
        "SELECT value FROM events WHERE event_type = 'error' "
        "ORDER BY time DESC LIMIT 20",
        epoch="ns",
    )
    vals = out["results"][0]["series"][0]["values"]
    times = [v[0] for v in vals]
    assert times == sorted(times, reverse=True) and len(times) == 20


def test_chunked_emission_and_max_row_limit(spark, sf_dir):
    """Chunked results split a series into partial blocks; max_row_limit
    truncates with partial=true (statement_executor.go MaxRowLimit)."""
    q = "SELECT value FROM events WHERE event_type = 'error' LIMIT 50"
    full = handle_query(spark, sf_dir, q, epoch="ns")
    total = sum(len(s["values"]) for s in full["results"][0]["series"])
    assert total == 50

    chunked = handle_query(spark, sf_dir, q, epoch="ns", chunk_size=20)
    blocks = chunked["results"][0]["series"]
    assert [len(b["values"]) for b in blocks] == [20, 20, 10]
    assert [b.get("partial", False) for b in blocks] == [True, True, False]
    merged = [v for b in blocks for v in b["values"]]
    assert merged == [v for s in full["results"][0]["series"] for v in s["values"]]

    capped = handle_query(spark, sf_dir, q, epoch="ns", max_row_limit=7)
    cb = capped["results"][0]["series"]
    assert sum(len(b["values"]) for b in cb) == 7
    assert cb[-1]["partial"] is True

    # a cap equal to the result size truncates nothing: no partial
    exact = handle_query(spark, sf_dir, q, epoch="ns", max_row_limit=50)
    assert exact == full


def test_prom_remote_write_read_roundtrip(spark, tmp_path):
    """prom write → partitioned storage → prom read (handler_prom.go
    servePromWrite/servePromRead decoded-form semantics)."""
    from opengemini_spark.api import handle_prom_read, handle_prom_write

    root = str(tmp_path / "promdata")
    ts = [
        {"labels": {"__name__": "http_req", "job": "api", "inst": "a"},
         "samples": [[1000, 1.0], [2000, 2.0]]},
        {"labels": {"__name__": "http_req", "job": "api", "inst": "b"},
         "samples": [[1500, 5.0]]},
        {"labels": {"__name__": "mem_used", "job": "api"},
         "samples": [[1000, 9.0]]},
    ]
    out = handle_prom_write(spark, ts, root)
    assert out["written"] == {"http_req": 3, "mem_used": 1}

    got = handle_prom_read(spark, root, "http_req",
                           matchers={"job": "api"})
    series = got["results"][0]["timeseries"]
    assert len(series) == 2
    a = next(s for s in series
             if {"name": "inst", "value": "a"} in s["labels"])
    assert [x["value"] for x in a["samples"]] == [1.0, 2.0]
    assert [x["timestamp"] for x in a["samples"]] == [1000, 2000]

    # time-range + matcher filtering
    got2 = handle_prom_read(spark, root, "http_req",
                            matchers={"inst": "b"}, start_ms=0, end_ms=1600)
    s2 = got2["results"][0]["timeseries"]
    assert len(s2) == 1 and s2[0]["samples"] == [
        {"value": 5.0, "timestamp": 1500}
    ]


def test_prompb_varint_roundtrip():
    from opengemini_spark.sources.prompb import decode_varint, encode_varint

    for n in (0, 1, 127, 128, 300, 2**32, 2**63 - 1, -1, -1609459200):
        enc = encode_varint(n)
        dec, pos = decode_varint(enc, 0)
        if n < 0:
            dec -= 1 << 64
        assert dec == n and pos == len(enc)


def test_snappy_block_roundtrip_and_copies():
    from opengemini_spark.sources.prompb import (
        snappy_compress,
        snappy_decompress,
    )

    for payload in (b"", b"x", b"hello world" * 1000, bytes(range(256)) * 300):
        assert snappy_decompress(snappy_compress(payload)) == payload

    # copy elements from a real encoder: literal "abcd" then a copy-1
    # (offset 4, length 8 — overlapping run) must expand to "abcdabcdabcd"
    blk = bytes([12, 3 << 2]) + b"abcd" + bytes([(4 << 2) | 1, 4])
    assert snappy_decompress(blk) == b"abcdabcdabcd"


def test_prom_remote_write_wire_end_to_end(spark, tmp_path):
    """Feed ACTUAL encoded bytes (snappy-block prompb.WriteRequest) through
    the wire handler and read the samples back from storage."""
    from opengemini_spark.api import handle_prom_read, handle_prom_write_wire
    from opengemini_spark.sources import prompb

    ts = [
        {
            "labels": {"__name__": "http_requests", "job": "api", "code": "200"},
            "samples": [[1700000000000, 10.5], [1700000060000, 12.0]],
        },
        {
            "labels": {"__name__": "http_requests", "job": "api", "code": "500"},
            "samples": [[1700000000000, 1.0]],
        },
    ]
    body = prompb.snappy_compress(prompb.encode_write_request(ts))
    root = str(tmp_path / "prom")
    res = handle_prom_write_wire(spark, body, root)
    assert res["written"] == {"http_requests": 3}

    back = handle_prom_read(
        spark, root, "http_requests", matchers={"code": "200"}
    )
    series = back["results"][0]["timeseries"]
    assert len(series) == 1
    assert [s["timestamp"] for s in series[0]["samples"]] == [
        1700000000000, 1700000060000,
    ]
    assert [s["value"] for s in series[0]["samples"]] == [10.5, 12.0]


def test_prom_remote_read_wire_end_to_end(spark, tmp_path):
    """ReadRequest bytes in, snappy-compressed ReadResponse bytes out."""
    from opengemini_spark.api import handle_prom_read_wire, handle_prom_write_wire
    from opengemini_spark.sources import prompb

    ts = [
        {
            "labels": {"__name__": "cpu_usage", "host": "h1"},
            "samples": [[1700000000000, 0.5], [1700000060000, 0.7]],
        },
        {
            "labels": {"__name__": "cpu_usage", "host": "h2"},
            "samples": [[1700000030000, 0.9]],
        },
    ]
    root = str(tmp_path / "prom")
    handle_prom_write_wire(
        spark, prompb.snappy_compress(prompb.encode_write_request(ts)), root
    )

    req = prompb.encode_read_request(
        [
            {
                "start_ms": 1700000000000,
                "end_ms": 1700000060000,
                "matchers": [
                    {"name": "__name__", "op": "=", "value": "cpu_usage"},
                    {"name": "host", "op": "=", "value": "h1"},
                ],
            }
        ]
    )
    raw = handle_prom_read_wire(spark, prompb.snappy_compress(req), root)
    decoded = prompb.snappy_decompress(raw)
    # walk the ReadResponse: results=1 → timeseries=1 with both samples
    from opengemini_spark.sources.prompb import iter_fields

    results = [v for f, _w, v in iter_fields(decoded) if f == 1]
    assert len(results) == 1
    series = [v for f, _w, v in iter_fields(results[0]) if f == 1]
    assert len(series) == 1
    tsd = prompb.decode_write_request(
        b"".join(
            prompb.encode_varint(1 << 3 | 2)
            + prompb.encode_varint(len(s)) + s
            for s in series
        )
    )
    assert tsd[0]["labels"] == {"__name__": "cpu_usage", "host": "h1"}
    assert tsd[0]["samples"] == [[1700000000000, 0.5], [1700000060000, 0.7]]


def test_otlp_metrics_write_gauge_and_histogram(spark, tmp_path):
    """Decoded OTLP → measurements per the otel2influx schema; histogram
    buckets become cumulative le-tagged rows (handler_otlp.go:109)."""
    from opengemini_spark.api import handle_otlp_metrics_write

    root = str(tmp_path / "otlp")
    rms = [{
        "resource": {"service": "checkout"},
        "metrics": [
            {"name": "cpu_load", "type": "gauge", "points": [
                {"time_ns": 10**18, "attrs": {"core": "0"}, "value": 0.7},
                {"time_ns": 10**18 + 1, "attrs": {"core": "1"}, "value": 0.4},
            ]},
            {"name": "req_latency", "type": "histogram", "points": [
                {"time_ns": 10**18, "attrs": {},
                 "count": 6, "sum": 1.23,
                 "bounds": [0.1, 0.5], "bucket_counts": [1, 3, 2]},
            ]},
        ],
    }]
    out = handle_otlp_metrics_write(spark, rms, root)
    assert out["written"] == {
        "cpu_load": 2, "req_latency": 1, "req_latency_bucket": 3
    }
    from opengemini_spark import storage
    g = storage.read_measurement(spark, f"{root}/cpu_load")
    rows = {r["core"]: r["value"] for r in g.collect()}
    assert rows == {"0": 0.7, "1": 0.4}
    assert g.collect()[0]["service"] == "checkout"
    b = storage.read_measurement(spark, f"{root}/req_latency_bucket")
    by_le = {r["le"]: r["value"] for r in b.collect()}
    assert by_le == {"0.1": 1.0, "0.5": 4.0, "inf": 6.0}


def test_otlp_metrics_wire_roundtrip(spark, tmp_path):
    """REAL wire bytes end-to-end: encode an ExportMetricsServiceRequest
    with the pure-Python codec, POST-shape it through the wire handler,
    and verify the same measurements as the decoded-form path."""
    from opengemini_spark.api import handle_otlp_metrics_wire
    from opengemini_spark.sources import otlp_pb

    root = str(tmp_path / "otlp_wire")
    rms = [{
        "resource": {"service": "checkout"},
        "metrics": [
            {"name": "cpu_load", "type": "gauge", "points": [
                {"time_ns": 10**18, "attrs": {"core": "0"}, "value": 0.7},
            ]},
            {"name": "reqs_total", "type": "sum", "points": [
                {"time_ns": 10**18, "attrs": {}, "value": 41.0},
            ]},
            {"name": "req_latency", "type": "histogram", "points": [
                {"time_ns": 10**18, "attrs": {},
                 "count": 6, "sum": 1.23,
                 "bounds": [0.1, 0.5], "bucket_counts": [1, 3, 2]},
            ]},
        ],
    }]
    body = otlp_pb.encode_export_metrics_request(rms)
    assert isinstance(body, bytes) and len(body) > 40
    # decode is a true inverse of encode for this subset
    assert otlp_pb.decode_export_metrics_request(body) == rms

    out = handle_otlp_metrics_wire(spark, body, root)
    assert out["written"] == {
        "cpu_load": 1, "reqs_total": 1,
        "req_latency": 1, "req_latency_bucket": 3,
    }
    from opengemini_spark import storage
    b = storage.read_measurement(spark, f"{root}/req_latency_bucket")
    by_le = {r["le"]: r["value"] for r in b.collect()}
    assert by_le == {"0.1": 1.0, "0.5": 4.0, "inf": 6.0}
    g = storage.read_measurement(spark, f"{root}/cpu_load").collect()[0]
    assert g["service"] == "checkout" and g["core"] == "0"


def test_otlp_logs_wire_roundtrip(spark, tmp_path):
    """OTLP logs over REAL wire bytes: ExportLogsServiceRequest encode →
    decode inverse → the otel2influx log schema (handler_otlp.go:113,
    otel_context.go:70-78): 'logs' measurement, dimension/trace/span
    tags, typed severity/body/attribute fields."""
    from opengemini_spark.api import handle_otlp_logs_wire
    from opengemini_spark.sources import otlp_pb

    root = str(tmp_path / "otlp_logs")
    rls = [{
        "resource": {"service.name": "checkout", "host": "h1"},
        "logs": [
            {"time_ns": 10**18, "observed_time_ns": 0,
             "severity_number": 9, "severity_text": "INFO",
             "body": "payment accepted", "attrs": {"amount": 12.5},
             "dropped_attributes_count": 0,
             "trace_id": "0102030405060708090a0b0c0d0e0f10",
             "span_id": "0102030405060708"},
            {"time_ns": 0, "observed_time_ns": 10**18 + 5,
             "severity_number": 17, "severity_text": "ERROR",
             "body": "card declined", "attrs": {"retries": 3},
             "dropped_attributes_count": 2,
             "trace_id": "", "span_id": ""},
        ],
    }]
    body = otlp_pb.encode_export_logs_request(rls)
    assert isinstance(body, bytes) and len(body) > 60
    assert otlp_pb.decode_export_logs_request(body) == rls

    out = handle_otlp_logs_wire(spark, body, root)
    assert out["written"] == {"logs": 2}
    from opengemini_spark import storage
    rows = sorted(
        storage.read_measurement(spark, f"{root}/logs").collect(),
        key=lambda r: r["time_ns"],
    )
    r0, r1 = rows
    # dimension tag from resource attrs; non-dimension resource attr is a field
    assert r0["service.name"] == "checkout" and r0["host"] == "h1"
    assert r0["trace_id"] == "0102030405060708090a0b0c0d0e0f10"
    assert r0["span_id"] == "0102030405060708"
    assert r0["severity_number"] == 9.0 and r0["severity_text"] == "INFO"
    assert r0["body"] == "payment accepted" and r0["amount"] == 12.5
    # second record: observed-time fallback, dropped count surfaces
    assert r1["time_ns"] == 10**18 + 5
    assert r1["trace_id"] is None and r1["dropped_attributes_count"] == 2.0
    assert r1["retries"] == 3.0

    # a record with neither timestamp is a 400
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no time"):
        handle_otlp_logs_wire(spark, otlp_pb.encode_export_logs_request(
            [{"resource": {}, "logs": [{"time_ns": 0, "observed_time_ns": 0,
                                        "severity_number": 1,
                                        "severity_text": "", "body": "x",
                                        "attrs": {},
                                        "dropped_attributes_count": 0,
                                        "trace_id": "", "span_id": ""}]}]
        ), root)


def test_otlp_traces_wire_roundtrip(spark, tmp_path):
    """OTLP traces over REAL wire bytes → 'spans' measurement
    (handler_otlp.go:103, otel_context.go:58-66 SpanDimensions): span
    name + service.name dimension tags, duration/kind/status fields."""
    from opengemini_spark.api import handle_otlp_traces_wire
    from opengemini_spark.sources import otlp_pb

    root = str(tmp_path / "otlp_traces")
    rss = [{
        "resource": {"service.name": "checkout"},
        "spans": [
            {"trace_id": "0102030405060708090a0b0c0d0e0f10",
             "span_id": "0102030405060708",
             "parent_span_id": "",
             "name": "charge_card", "kind": 2,
             "start_time_ns": 10**18, "end_time_ns": 10**18 + 2_000_000,
             "attrs": {"http.status_code": 200},
             "dropped_attributes_count": 0,
             "status_code": 1, "status_message": ""},
            {"trace_id": "0102030405060708090a0b0c0d0e0f10",
             "span_id": "1112131415161718",
             "parent_span_id": "0102030405060708",
             "name": "db_write", "kind": 3,
             "start_time_ns": 10**18 + 100, "end_time_ns": 10**18 + 500_100,
             "attrs": {}, "dropped_attributes_count": 0,
             "status_code": 2, "status_message": "deadline exceeded"},
        ],
    }]
    body = otlp_pb.encode_export_trace_request(rss)
    assert otlp_pb.decode_export_trace_request(body) == rss

    out = handle_otlp_traces_wire(spark, body, root)
    assert out["written"] == {"spans": 2}
    from opengemini_spark import storage
    rows = {r["span.name"]: r for r in
            storage.read_measurement(spark, f"{root}/spans").collect()}
    c = rows["charge_card"]
    assert c["service.name"] == "checkout"
    assert c["duration_ns"] == 2_000_000.0 and c["kind"] == 2.0
    assert c["http.status_code"] == 200.0 and c["otel.status_code"] == 1.0
    d = rows["db_write"]
    assert d["parent_span_id"] == "0102030405060708"
    assert d["otel.status_description"] == "deadline exceeded"
    assert d["duration_ns"] == 500_000.0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="no start time"):
        handle_otlp_traces_wire(spark, otlp_pb.encode_export_trace_request(
            [{"resource": {}, "spans": [{
                "trace_id": "00" * 16, "span_id": "00" * 8,
                "parent_span_id": "", "name": "x", "kind": 1,
                "start_time_ns": 0, "end_time_ns": 0, "attrs": {},
                "dropped_attributes_count": 0,
                "status_code": 0, "status_message": ""}]}]
        ), root)


def _events_registry():
    from opengemini_spark.catalog import load_table
    from opengemini_spark.promql import MetricRegistry
    from opengemini_spark.promql.engine import Metric
    from pyspark.sql import functions as F

    def loader(s, d):
        return load_table(s, d, "events").withColumn(
            "tu", F.expr("time_ns div 1000")
        )

    reg = MetricRegistry()
    reg.register("events_value", Metric(loader, labels=["event_type"]))
    return reg


def test_prom_instant_query_vector(spark, sf_dir):
    """GET /api/v1/query: aggregated instant vector at one timestamp."""
    from opengemini_spark.api import handle_prom_query

    at = 1704067200 + 10 * 86400
    out = handle_prom_query(
        spark, sf_dir, _events_registry(),
        "sum(count_over_time(events_value[12h]))", at,
    )
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "vector"
    res = out["data"]["result"]
    assert len(res) == 1
    ts, val = res[0]["value"]
    assert ts == at
    assert float(val) > 0


def test_prom_instant_query_scalar(spark, sf_dir):
    from opengemini_spark.api import handle_prom_query

    out = handle_prom_query(spark, sf_dir, _events_registry(), "1 + 2", 100)
    assert out == {
        "status": "success",
        "data": {"resultType": "scalar", "result": [100, "3"]},
    }
    # domain errors fold to NaN, not a query error (ADVICE r2)
    nan_out = handle_prom_query(spark, sf_dir, _events_registry(), "1 % 0", 7)
    assert nan_out["status"] == "success"
    assert nan_out["data"]["result"][1] == "NaN"


def test_prom_instant_query_matrix_raw_selector(spark, sf_dir):
    """A bare range selector returns the raw samples in (t-range, t]."""
    from opengemini_spark.api import handle_prom_query

    at = 1704067200 + 10 * 86400
    out = handle_prom_query(
        spark, sf_dir, _events_registry(), "events_value[6h]", at,
    )
    assert out["data"]["resultType"] == "matrix"
    lo, hi = (at - 21600), at
    for series in out["data"]["result"]:
        for ts, _v in series["values"]:
            assert lo < ts <= hi


def test_prom_instant_query_error_envelope(spark, sf_dir):
    from opengemini_spark.api import handle_prom_query

    out = handle_prom_query(
        spark, sf_dir, _events_registry(), "rate(events_value)", 100,
    )
    assert out["status"] == "error" and out["errorType"] == "bad_data"


def test_prom_instant_query_matches_range_at_point(spark, sf_dir):
    """The instant endpoint agrees with query_range evaluated at start==end
    — the corpus-validated path."""
    from opengemini_spark.api import handle_prom_query, handle_prom_query_range

    at = 1704067200 + 10 * 86400
    q = "max_over_time(events_value[12h])"
    inst = handle_prom_query(spark, sf_dir, _events_registry(), q, at)
    rng = handle_prom_query_range(
        spark, sf_dir, _events_registry(), q, at, at, at
    )
    # /query_range is ALWAYS a matrix (even one-point — prom_test.go
    # `sum(up @ start())`); the samples must agree with the instant vector
    assert inst["data"]["resultType"] == "vector"
    assert rng["data"]["resultType"] == "matrix"
    as_matrix = [
        {"metric": e["metric"], "values": [e["value"]]}
        for e in inst["data"]["result"]
    ]
    assert as_matrix == rng["data"]["result"]


def test_prom_metadata_endpoints(spark, sf_dir):
    from opengemini_spark.api import (
        handle_prom_labels,
        handle_prom_label_values,
        handle_prom_series,
    )
    from opengemini_spark.catalog import load_table
    from opengemini_spark.promql import MetricRegistry
    from opengemini_spark.promql.engine import Metric
    from pyspark.sql import functions as F

    def loader(s, d):
        return load_table(s, d, "events").withColumn(
            "tu", F.expr("time_ns div 1000")
        )

    reg = MetricRegistry()
    reg.register("events_value", Metric(loader, labels=["event_type"]))

    labels = handle_prom_labels(spark, sf_dir, reg)
    assert labels == {"status": "success", "data": ["__name__", "event_type"]}

    vals = handle_prom_label_values(spark, sf_dir, reg, "event_type")
    assert vals["status"] == "success" and "error" in vals["data"]
    assert vals["data"] == sorted(vals["data"])
    assert handle_prom_label_values(spark, sf_dir, reg, "__name__")["data"] == [
        "events_value"
    ]
    assert handle_prom_label_values(spark, sf_dir, reg, "nope")["data"] == []

    series = handle_prom_series(
        spark, sf_dir, reg, "events_value", matchers={"event_type": "error"}
    )
    assert series["data"] == [
        {"__name__": "events_value", "event_type": "error"}
    ]


def test_explain_analyze_runs_and_reports(spark, sf_dir):
    """EXPLAIN ANALYZE executes the statement and leads with runtime
    figures (ExplainStatement{Analyze=true}, ast.go:4777)."""
    out = handle_query(
        spark, sf_dir,
        "EXPLAIN ANALYZE SELECT count(value) FROM events",
    )
    blk = out["results"][0]["series"][0]
    assert blk["name"] == "explain analyze"
    assert blk["values"][0][0].startswith("rows: ")
    assert blk["values"][1][0].startswith("execution time: ")
    assert any("Scan" in v[0] or "Aggregate" in v[0] for v in blk["values"][2:])
