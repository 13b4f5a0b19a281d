"""Reference-suite parity, batch 9: implicit end time, INTO targets,
regex measurement sources, int64-extreme aggregates, retention-policy
auto-create, and the version response headers.

Cases transcribed from /root/reference/tests/server_test.go
(TestServer_Query_ImplicitEndTime :10875, TestServer_Query_IntoTarget
:10661, TestServer_Query_Regex :2135, TestServer_Query_Aggregates_IntMax
:2259, TestServer_DatabaseRetentionPolicyAutoCreate :368 with suite
retention_policy_auto_create server_suite.go:649, and
TestServer_HTTPResponseVersion :195 / handler.go:682).

Transcription notes:
- ImplicitEndTime is Go-skipped ("flaky": its expectations embed
  wall-clock now()). The SEMANTIC under test is compile.go:230-236 — an
  interval query without an explicit upper bound clamps to now() — so
  the cases here pin now_ns and assert the future-dated point is
  excluded from aggregation but present in the raw query. The aggregate
  bucket time is the epoch-aligned interval start (our engine), not the
  Go test's now.Truncate(minute) literal, which cannot be produced by
  epoch-aligned 1h buckets and is part of why the Go test is skipped.
- Query_Regex's six cases are Go-skipped: openGemini's LIVE behavior
  merges regex-matched measurements into ONE name-joined series
  (server_test.go MultiMeasurements `select * from /mst.*/` →
  "mst,mst1", a non-skipped case transcribed in parity6). The six
  command FORMS (db.rp./re/, rp./re/, db../re/, GROUP BY *) are pinned
  here with the merged-shape expectations.
- Aggregates_IntMax is Go-skipped; int64-extreme mean/stddev accumulate
  in float64 (influxdb 1.x float-reducer emit), so mean(maxInt64×2) is
  float64(maxInt64) and stddev is exactly 0. The Go exp literal parses
  to the same float64, so the comparison uses the verbatim exp.
"""

from __future__ import annotations

import json

import pytest

from opengemini_spark.api import (
    handle_query,
    handle_write,
    response_headers,
)

NOW = 1893457800000000000          # 2030-01-01T00:30:00Z


@pytest.fixture(scope="module")
def iet_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_iet"))
    handle_write(spark, [
        f"cpu value=1 {NOW - 10_000_000_000}",        # now − 10s
        f"cpu value=2 {NOW + 600_000_000_000}",       # now + 10m
    ], root)
    return root


IET_CASES = [
    (
        "raw query",
        "SELECT * FROM cpu",
        '{"results":[{"statement_id":0,"series":[{"name":"cpu",'
        '"columns":["time","value"],"values":['
        '["2030-01-01T00:29:50Z",1],["2030-01-01T00:40:00Z",2]]}]}]}',
    ),
    (
        "aggregate query",
        "SELECT mean(value) FROM cpu WHERE time > '2030-01-01T00:30:00Z'"
        " - 1m group by time(1h) FILL(none)",
        '{"results":[{"statement_id":0,"series":[{"name":"cpu",'
        '"columns":["time","mean"],"values":['
        '["2030-01-01T00:00:00Z",1]]}]}]}',
    ),
    (
        # same semantic through now() directly
        "aggregate query via now()",
        "SELECT mean(value) FROM cpu WHERE time > now() - 1m "
        "group by time(1h) FILL(none)",
        '{"results":[{"statement_id":0,"series":[{"name":"cpu",'
        '"columns":["time","mean"],"values":['
        '["2030-01-01T00:00:00Z",1]]}]}]}',
    ),
]


@pytest.mark.parametrize("name,q,exp", IET_CASES,
                         ids=[c[0] for c in IET_CASES])
def test_parity9_implicit_end_time(spark, sf_dir, iet_root, name, q, exp):
    got = handle_query(spark, sf_dir, q, epoch=None, data_root=iet_root,
                       now_ns=NOW)
    assert got == json.loads(exp), f"case {name!r}: {json.dumps(got)}"


# --- TestServer_Query_IntoTarget (:10661) ---

T0 = 946684800000000000            # 2000-01-01T00:00:00Z


@pytest.fixture(scope="module")
def into_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_into"))
    handle_write(spark, [
        f"foo value=1 {T0}",
        f"foo value=2 {T0 + 10_000_000_000}",
        f"foo value=3 {T0 + 20_000_000_000}",
        f"foo value=4 {T0 + 30_000_000_000}",
        f"foo value=4,foobar=3 {T0 + 40_000_000_000}",
    ], root)
    return root


INTO_CASES = [
    (
        "into",
        "SELECT * INTO baz FROM foo",
        '{"results":[{"statement_id":0,"series":[{"name":"result",'
        '"columns":["time","written"],"values":['
        '["1970-01-01T00:00:00Z",5]]}]}]}',
    ),
    (
        "confirm results",
        "SELECT * FROM baz",
        '{"results":[{"statement_id":0,"series":[{"name":"baz",'
        '"columns":["time","foobar","value"],"values":['
        '["2000-01-01T00:00:00Z",null,1],["2000-01-01T00:00:10Z",null,2],'
        '["2000-01-01T00:00:20Z",null,3],["2000-01-01T00:00:30Z",null,4],'
        '["2000-01-01T00:00:40Z",3,4]]}]}]}',
    ),
]


@pytest.mark.parametrize("name,q,exp", INTO_CASES,
                         ids=[c[0] for c in INTO_CASES])
def test_parity9_into_target(spark, sf_dir, into_root, name, q, exp):
    got = handle_query(spark, sf_dir, q, epoch=None, data_root=into_root)
    assert got == json.loads(exp), f"case {name!r}: {json.dumps(got)}"


# --- TestServer_Query_Regex (:2135) — merged openGemini shape ---

T1 = 1425085416703820946


@pytest.fixture(scope="module")
def rx_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_rx"))
    handle_write(spark, [
        f"cpu1,host=server01 value=10 {T1}",
        f"cpu2,host=server01 value=20 {T1}",
        f"cpu3,host=server01 value=30 {T1}",
    ], root)
    return root


_RX_RAW = (
    '{"results":[{"statement_id":0,"series":[{"name":"cpu1,cpu3",'
    '"columns":["time","host","value"],"values":['
    '["2015-02-28T01:03:36.703820946Z","server01",10],'
    '["2015-02-28T01:03:36.703820946Z","server01",30]]}]}]}'
)
_RX_GB = (
    '{"results":[{"statement_id":0,"series":[{"name":"cpu1,cpu3",'
    '"tags":{"host":"server01"},"columns":["time","value"],"values":['
    '["2015-02-28T01:03:36.703820946Z",10],'
    '["2015-02-28T01:03:36.703820946Z",30]]}]}]}'
)

RX_CASES = [
    ("default db and rp", "SELECT * FROM /cpu[13]/", _RX_RAW),
    ("default db and rp with GROUP BY *",
     "SELECT * FROM /cpu[13]/ GROUP BY *", _RX_GB),
    ("specifying db and rp",
     "SELECT * FROM db0.rp0./cpu[13]/ GROUP BY *", _RX_GB),
    ("default db and specified rp",
     "SELECT * FROM rp0./cpu[13]/ GROUP BY *", _RX_GB),
    ("specified db and default rp",
     "SELECT * FROM db0../cpu[13]/ GROUP BY *", _RX_GB),
    (
        "map field type with a regex source",
        "SELECT value FROM /cpu[13]/",
        '{"results":[{"statement_id":0,"series":[{"name":"cpu1,cpu3",'
        '"columns":["time","value"],"values":['
        '["2015-02-28T01:03:36.703820946Z",10],'
        '["2015-02-28T01:03:36.703820946Z",30]]}]}]}',
    ),
]


@pytest.mark.parametrize("name,q,exp", RX_CASES,
                         ids=[c[0] for c in RX_CASES])
def test_parity9_regex_sources(spark, sf_dir, rx_root, name, q, exp):
    got = handle_query(spark, sf_dir, q, epoch=None, data_root=rx_root)
    assert got == json.loads(exp), f"case {name!r}: {json.dumps(got)}"


# --- TestServer_Query_Aggregates_IntMax (:2259) ---

def test_parity9_aggregates_intmax(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_intmax"))
    handle_write(spark, [
        f"intmax value=9223372036854775807i {T0}",
        f"intmax value=9223372036854775807i {T0 + 3_600_000_000_000}",
    ], root)
    got = handle_query(
        spark, sf_dir, "SELECT MEAN(value), STDDEV(value) FROM intmax",
        epoch=None, data_root=root,
    )
    exp = (
        '{"results":[{"statement_id":0,"series":[{"name":"intmax",'
        '"columns":["time","mean","stddev"],"values":['
        '["1970-01-01T00:00:00Z",9223372036854775808.0,0]]}]}]}'
    )
    # the mean is float64(maxInt64) = 2^63 exactly — the Go test's
    # maxInt64 string literal is unreachable through ANY float64 emit
    # (Go's json.Marshal of the float prints …808 too), which is part of
    # why the case is Go-skipped; stddev of two equal extremes is 0
    assert got == json.loads(exp)


# --- TestServer_DatabaseRetentionPolicyAutoCreate (:368;
#     server_suite.go:649 retention_policy_auto_create) ---

RPAC_CASES = [
    (
        "create database should succeed",
        "CREATE DATABASE db0",
        '{"results":[{"statement_id":0}]}',
    ),
    (
        "show retention policies should return auto-created policy",
        "SHOW RETENTION POLICIES ON db0",
        '{"results":[{"statement_id":0,"series":[{"columns":'
        '["name","duration","shardGroupDuration","hot duration",'
        '"warm duration","index duration","replicaN","default"],'
        '"values":[["autogen","0s","168h0m0s","0s","0s","168h0m0s",'
        '1,true]]}]}]}',
    ),
]


def test_parity9_rp_auto_create(spark, sf_dir, tmp_path_factory):
    from opengemini_spark.ddl import DDLExecutor, MetaStore

    ddl = DDLExecutor(
        spark, MetaStore(str(tmp_path_factory.mktemp("p9_meta")))
    )
    for name, q, exp in RPAC_CASES:
        got = handle_query(spark, sf_dir, q, epoch=None, ddl=ddl)
        assert got == json.loads(exp), f"case {name!r}: {json.dumps(got)}"


# --- TestServer_HTTPResponseVersion (:195; handler.go:682) ---

def test_parity9_response_version_headers():
    h = response_headers(version="v1234")
    assert h["X-Geminidb-Version"] == "v1234"
    assert "X-Geminidb-Build" in h
    # default: the engine's own version string
    from opengemini_spark import __version__

    assert response_headers()["X-Geminidb-Version"] == __version__


# --- batch 9b: remaining spot-checked server_test.go functions ---
# TestServer_Query_DivByZero (:1281), TestServer_Query_EvilIdentifiers
# (:10439), TestServer_Query_FieldWithMultiplePeriods[+PrefixMatch]
# (:10559), TestServer_top_bottom_nul_column (:4119),
# TestServer_Query_NilColumn (:6770), config_command suite
# (server_suite.go:1134 — the SHOW CONFIGS cases are Go-skipped; the
# SET CONFIG statement's bare-key form is the live case).


def test_parity9b_div_by_zero_error_envelope(spark, sf_dir,
                                             tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_div0"))
    handle_write(spark, [
        f"inf value=42 {T0}", f"negativeinf value=-42 {T0}",
        f"nan value=0 {T0}",
    ], root)
    # raw NaN/±Inf results fail Go's json.Marshal with this exact error
    # envelope (server_test.go DivByZero)
    exp = {
        "error": 'struct { Results []*query.Result "json:\\"results,'
                 'omitempty\\""; Err string "json:\\"error,omitempty\\"" }'
                 '.Results: []*query.Result: json: unsupported value: '
                 'NaN or ±Infinite'
    }
    for mst in ("inf", "negativeinf", "nan"):
        got = handle_query(spark, sf_dir, f"SELECT value / 0 from {mst}",
                           epoch=None, data_root=root)
        assert got == exp, mst


def test_parity9b_evil_identifiers(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_evil"))
    handle_write(spark, [f"cpu select=1,in-bytes=2 {T0}"], root)
    got = handle_query(
        spark, sf_dir, 'SELECT "select", "in-bytes" FROM cpu',
        epoch=None, data_root=root,
    )
    assert got == json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"cpu",'
        '"columns":["time","select","in-bytes"],"values":['
        '["2000-01-01T00:00:00Z",1,2]]}]}]}'
    )


@pytest.mark.parametrize("mst", ["cpu", "foo"])
def test_parity9b_field_with_multiple_periods(spark, sf_dir,
                                              tmp_path_factory, mst):
    # the `foo` variant is the MeasurementPrefixMatch case: the field
    # name foo.bar.baz shares the measurement's name as a prefix
    root = str(tmp_path_factory.mktemp(f"p9_dots_{mst}"))
    handle_write(spark, [f"{mst} foo.bar.baz=1 {T0}"], root)
    exp = json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"%s",'
        '"columns":["time","foo.bar.baz"],"values":['
        '["2000-01-01T00:00:00Z",1]]}]}]}' % mst
    )
    for q in (f"select * from {mst}", f'select "foo.bar.baz" from {mst}'):
        got = handle_query(spark, sf_dir, q, epoch=None, data_root=root)
        assert got == exp, q


def test_parity9b_top_bottom_null_column(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_tbnull"))
    handle_write(spark, [
        'mst,country=china,name=azhu height=11i 1629129600000000000',
        'mst,country=american,name=alan age=2,height=12i 1629129601000000000',
        'mst,country=germany,name=alang height=13i 1629129602000000000',
        'mst,country=china,name=azhu age=4,height=24i 1629129603000000000',
        'mst,country=american,name=alan age=5,height=25i 1629129604000000000',
        'mst,country=germany,name=alang height=26i 1629129605000000000',
    ], root)
    sub = ("(select sum(age) as sum_age, sum(height) as sum_height "
           "from mst where time >= 1629129600000000000 and "
           "time <= 1629129605000000000 group by time(1s)) "
           "where time >= 1629129600000000000 and "
           "time <= 1629129605000000000")
    for fn in ("top", "bottom"):
        got = handle_query(
            spark, sf_dir, f"select {fn}(sum_age, 3) from {sub}",
            epoch=None, data_root=root,
        )
        assert got == json.loads(
            '{"results":[{"statement_id":0,"series":[{"name":"mst",'
            '"columns":["time","%s"],"values":['
            '["2021-08-16T16:00:01Z",2],["2021-08-16T16:00:03Z",4],'
            '["2021-08-16T16:00:04Z",5]]}]}]}' % fn
        ), fn


def test_parity9b_nil_column_count_star(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("p9_nil"))
    handle_write(spark, [
        'mst,country=china,name=ada age=15,address="chengdu" '
        '1625558240121000000',
    ], root)
    handle_write(spark, [
        'mst,country=china,name=ada age=15 1625558240121000000',
        'mst,country=china,name=bcb height=10,age=15,address="chongqing" '
        '1625558240122000000',
    ], root)
    got = handle_query(spark, sf_dir, "SELECT count(*) FROM mst",
                       epoch=None, data_root=root)
    assert got == json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"mst",'
        '"columns":["time","count_address","count_age","count_height"],'
        '"values":[["1970-01-01T00:00:00Z",1,2,1]]}]}]}'
    )


def test_parity9b_set_config_bare_key(spark, tmp_path_factory):
    from opengemini_spark.ddl import DDLExecutor, MetaStore

    ddl = DDLExecutor(
        spark, MetaStore(str(tmp_path_factory.mktemp("p9_cfg")))
    )
    # the config_command suite's live case uses the bare-key, bare-value
    # form: SET CONFIG sql logging.level = debug
    assert ddl.execute("SET CONFIG sql logging.level = debug") == {
        "ok": True
    }
    vals = {
        v[2]: v[3]
        for v in ddl.execute("SHOW CONFIGS")["series"][0]["values"]
    }
    assert vals["logging.level"] == "debug"


# --- TestServer_ContinuousQueryCommand (server_continuous_query_test.go;
# suite continuous_query_commands) — normalized SHOW text, global CQ-name
# uniqueness, identical-re-create no-op, empty-db blocks ---

CQ_CASES = [
    (
        "create continuous query cq0_1 should succeed",
        'CREATE CONTINUOUS QUERY "cq0_1" ON "db0" RESAMPLE EVERY 1h FOR 90m'
        ' BEGIN SELECT mean("passengers") INTO "average_passengers" FROM'
        ' "bus_data" GROUP BY time(30m) END',
        '{"results":[{"statement_id":0}]}',
    ),
    (
        "create continuous query the same name and query should ignore",
        'create continuous query "cq0_1" on "db0" resample every 1h for 90m'
        ' begin select mean("passengers") into "average_passengers" from'
        ' "bus_data" group by time(30m) end',
        '{"results":[{"statement_id":0}]}',
    ),
    (
        "create continuous query cq1_1 should succeed",
        'CREATE CONTINUOUS QUERY "cq1_1" ON "db1" RESAMPLE EVERY 1h FOR 90m'
        ' BEGIN SELECT min("passengers") INTO "min_passengers" FROM'
        ' "bus_data" GROUP BY time(15m) END',
        '{"results":[{"statement_id":0}]}',
    ),
    (
        "create continuous query cq2_1 should succeed",
        'CREATE CONTINUOUS QUERY "cq2_1" ON "db2" RESAMPLE EVERY 1h FOR 90m'
        ' BEGIN SELECT min("passengers") INTO "min_passengers" FROM'
        ' "bus_data" GROUP BY time(15m) END',
        '{"results":[{"statement_id":0}]}',
    ),
    (
        "create continuous query cq2_1 should return conflict name error",
        'CREATE CONTINUOUS QUERY "cq2_1" ON "db0" RESAMPLE EVERY 1h FOR 90m'
        ' BEGIN SELECT min("passengers") INTO "min_passengers" FROM'
        ' "bus_data" GROUP BY time(15m) END',
        '{"results":[{"statement_id":0,"error":"continuous query name '
        'already exists"}]}',
    ),
    (
        "drop continuous query cq2_1 should succeed",
        'DROP CONTINUOUS QUERY "cq2_1" ON "db2"',
        '{"results":[{"statement_id":0}]}',
    ),
    (
        "show continuous query should succeed",
        "SHOW CONTINUOUS QUERIES",
        '{"results":[{"statement_id":0,"series":['
        '{"name":"db0","columns":["name","query"],"values":[["cq0_1",'
        '"CREATE CONTINUOUS QUERY cq0_1 ON db0 RESAMPLE EVERY 1h FOR 90m'
        ' BEGIN SELECT mean(passengers) INTO db0.autogen.average_passengers'
        ' FROM db0.autogen.bus_data GROUP BY time(30m) END"]]},'
        '{"name":"db1","columns":["name","query"],"values":[["cq1_1",'
        '"CREATE CONTINUOUS QUERY cq1_1 ON db1 RESAMPLE EVERY 1h FOR 90m'
        ' BEGIN SELECT min(passengers) INTO db1.autogen.min_passengers'
        ' FROM db1.autogen.bus_data GROUP BY time(15m) END"]]},'
        '{"name":"db2","columns":["name","query"]}]}]}',
    ),
]


def test_parity9b_continuous_query_commands(spark, sf_dir,
                                            tmp_path_factory):
    from opengemini_spark.ddl import DDLExecutor, MetaStore

    ddl = DDLExecutor(
        spark, MetaStore(str(tmp_path_factory.mktemp("p9_cq")))
    )
    for db in ("db0", "db1", "db2"):
        ddl.execute(f"CREATE DATABASE {db}")
    for name, q, exp in CQ_CASES:
        got = handle_query(spark, sf_dir, q, epoch=None, ddl=ddl)
        assert got == json.loads(exp), f"case {name!r}: {json.dumps(got)}"


def test_parity9b_write_invalid_measurement(spark, tmp_path_factory):
    """TestServer_Write_InvalidMeasurement (server_write_test.go:27):
    names containing , ; / \\ or non-printables reject the WHOLE write
    (ValidMeasurementName, meta/validator.go:30)."""
    root = str(tmp_path_factory.mktemp("p9_wim"))
    bad = [
        "c;pu,host=server01 value=1.0",
        "cp/u,host=server01 value=1.0",
        "cp\\,u,host=server01 value=1.0",     # escaped comma → literal ,
        "cpu_xxx\x00,host=server01 value=1.0",
        ". value=1",
        # no fields: the name is checked before the point could drop
        "c;pu",
        "c;pu,host=a",
    ]
    for line in bad:
        with pytest.raises(ValueError, match="invalid measurement name"):
            handle_write(spark, [line], root)
    # a NaN value on a point that drops first (duplicate tag) is a
    # partial write, not a batch-fatal "invalid field value"
    assert handle_write(
        spark, [f"cpu,host=a,host=b value=NaN {T0}", f"cpu value=1 {T0}"],
        root,
    ) == {"written": {"cpu": 1}}
    # a dot INSIDE the name stays valid (only "." / ".." are reserved)
    assert handle_write(spark, [f"c.pu value=1 {T0}"], root) == {
        "written": {"c.pu": 1}
    }


def test_parity9b_write_backslash_measurement_rejected(spark,
                                                       tmp_path_factory):
    """A literal backslash in the measurement (only \\, \\space \\= are
    line-protocol escapes, so \\d stays a backslash) is invalid and
    batch-fatal — review r4: the edge scan previously over-unescaped it
    to 'md' and let the point silently drop."""
    root = str(tmp_path_factory.mktemp("p9_bsm"))
    with pytest.raises(ValueError, match="invalid measurement name"):
        handle_write(spark, [f"ok f=1 {T0}", "m\\d f=2"], root)
