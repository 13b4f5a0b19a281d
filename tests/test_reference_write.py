"""Write-path parity: the TestServer_Write_* suites whose checks are
procedural (per-write POSTs with precision params, expected write errors,
final SELECT state) rather than case lists.

Transcribed from /root/reference/tests/server_test.go
(TestServer_Write_Precision:~1190, _Write_FieldTypeConflict:12878,
_Write_MultiField_FieldTypeConflict, _Write_TagKeyConflict,
_Write_Compatible:12632, _Write_LineProtocol_String:11180).
Semantics under test: precision scaling of write timestamps
(handler.go getPrecisionMultiplier); schema-on-write type registration —
a later point whose field value class conflicts drops that FIELD value
(the point survives if other fields are clean, vanishes if none are);
duplicate tag keys drop the point; a tag named `time` is silently
dropped; influx string-field unescape (\\\\ → \\, \\" → ", lone \\ kept).
"""

from __future__ import annotations

import json

import pytest

from opengemini_spark.api import handle_query, handle_write

NS = 946730096789012345  # 2000-01-01T12:34:56.789012345Z


def _q(spark, sf_dir, root, q):
    return handle_query(spark, sf_dir, q, epoch=None, data_root=root)


def test_write_precision(spark, sf_dir, tmp_path):
    root = str(tmp_path / "prec")
    handle_write(spark, [f"cpu_n0_precision value=1 {NS}"], root)
    handle_write(spark, [f"cpu_n1_precision value=1.1 {NS}"], root,
                 precision="n")
    handle_write(spark, [f"cpu_u_precision value=100 {NS // 10**3}"], root,
                 precision="u")
    handle_write(spark, [f"cpu_ms_precision value=200 {NS // 10**6}"], root,
                 precision="ms")
    handle_write(spark, [f"cpu_s_precision value=300 {NS // 10**9}"], root,
                 precision="s")
    handle_write(spark, [f"cpu_m_precision value=400 {NS // (60 * 10**9)}"],
                 root, precision="m")
    handle_write(spark, [f"cpu_h_precision value=500 {NS // (3600 * 10**9)}"],
                 root, precision="h")
    cases = [
        ("cpu_n0_precision", "2000-01-01T12:34:56.789012345Z", 1),
        ("cpu_n1_precision", "2000-01-01T12:34:56.789012345Z", 1.1),
        ("cpu_u_precision", "2000-01-01T12:34:56.789012Z", 100),
        ("cpu_ms_precision", "2000-01-01T12:34:56.789Z", 200),
        ("cpu_s_precision", "2000-01-01T12:34:56Z", 300),
        ("cpu_m_precision", "2000-01-01T12:34:00Z", 400),
        ("cpu_h_precision", "2000-01-01T12:00:00Z", 500),
    ]
    for mst, t, v in cases:
        got = _q(spark, sf_dir, root, f"SELECT * FROM {mst}")
        exp = json.loads(
            '{"results":[{"statement_id":0,"series":[{"name":"%s",'
            '"columns":["time","value"],"values":[["%s",%s]]}]}]}'
            % (mst, t, v)
        )
        assert got == exp, f"{mst}: {json.dumps(got)}"


def test_write_field_type_conflict(spark, sf_dir, tmp_path):
    """Registered int64 rejects a later float point; the rest of the
    batch lands (server_test.go:12878)."""
    root = str(tmp_path / "ftc")
    handle_write(spark, ["cpu value=1i 1420070401000000000"], root)
    handle_write(spark, [
        "cpu value=2i 1420070402000000000",
        "cpu value=3 1420070403000000000",
        "cpu value=4i 1420070404000000000",
    ], root)
    got = _q(spark, sf_dir, root, "SELECT * FROM cpu")
    assert got == json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"cpu","columns":'
        '["time","value"],"values":[["2015-01-01T00:00:01Z",1],'
        '["2015-01-01T00:00:02Z",2],["2015-01-01T00:00:04Z",4]]}]}]}'
    )


def test_write_multifield_type_conflict(spark, sf_dir, tmp_path):
    """Conflicting FIELD values drop; clean fields of the same point
    land (Write_MultiField_FieldTypeConflict)."""
    root = str(tmp_path / "mftc")
    handle_write(spark, [
        'monitor cmd="test",collectTime="now",cpu=60i,mem=70i,process=1i,'
        'startTime="now",stat="running",state="ok",user="root" '
        '1629129600000000000'
    ], root)
    handle_write(spark, [
        'monitor cmd=0i,collectTime="now",cpu=60i,mem=70i,process=1i,'
        'startTime=0i,stat=0i,state="ok",user=0i 1629129700000000000'
    ], root)
    got = _q(spark, sf_dir, root, "SELECT * FROM monitor")
    assert got == json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"monitor",'
        '"columns":["time","cmd","collectTime","cpu","mem","process",'
        '"startTime","stat","state","user"],"values":'
        '[["2021-08-16T16:00:00Z","test","now",60,70,1,"now","running",'
        '"ok","root"],["2021-08-16T16:01:40Z",null,"now",60,70,1,null,'
        'null,"ok",null]]}]}]}'
    )


def test_write_time_tag_dropped(spark, sf_dir, tmp_path):
    """A tag named `time` is silently dropped; the point lands
    (Write_TagKeyConflict)."""
    root = str(tmp_path / "tkc")
    handle_write(spark, ["mst,tag=1,time=12 f1=2 1420070401000000000"], root)
    got = _q(spark, sf_dir, root, "SELECT * FROM mst")
    assert got == json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"mst","columns":'
        '["time","f1","tag"],"values":[["2015-01-01T00:00:01Z",2,"1"]]}]}]}'
    )


def test_write_compatible(spark, sf_dir, tmp_path):
    """Duplicate fields last-wins; `time` fields dropped; intra-line type
    conflict and duplicate tags drop the point (Write_Compatible — its
    Go-skipped `time` TAG case excluded)."""
    root = str(tmp_path / "compat")
    handle_write(spark, [
        "mst,tk1=tv1 f1=0,f1=2 1654898400000000000",
        "mst,tk1=tv1 f1=3,time=1,f2=2,time=2 1654898460000000000",
        'mst,tk1=tv1 f1=4,f1="foo" 1654898520000000000',
        'mst,tk1=tv1 f1="bar",f1=5 1654898580000000000',
        "mst,tk1=tv1,tk1=tv2 f1=6 1654898700000000000",
        "mst,tk3=tv4 f3=99 1654902000000000000",
    ], root)
    got = _q(spark, sf_dir, root, "select count(*) from mst")
    assert got == json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"mst","columns":'
        '["time","count_f1","count_f2","count_f3"],"values":'
        '[["1970-01-01T00:00:00Z",2,1,1]]}]}]}'
    )
    got = _q(spark, sf_dir, root, "select * from mst")
    assert got == json.loads(
        '{"results":[{"statement_id":0,"series":[{"name":"mst","columns":'
        '["time","f1","f2","f3","tk1","tk3"],"values":'
        '[["2022-06-10T22:00:00Z",2,null,null,"tv1",null],'
        '["2022-06-10T22:01:00Z",3,2,null,"tv1",null],'
        '["2022-06-10T23:00:00Z",null,null,99,null,"tv4"]]}]}]}'
    )


def test_write_string_escapes(spark, sf_dir, tmp_path):
    """Influx string-field unescape (Write_LineProtocol_String)."""
    root = str(tmp_path / "strs")
    t0 = 1610467200000000000
    raws = [
        'value="disk mem"',
        'value="disk\\ mem"',
        'value="disk\\\\ mem"',
        'value="disk\\\\\\ mem"',
        'value="disk\\\\\\\\ mem"',
        'value="disk\\" mem\\\\\\""',
    ]
    lines = [
        f"cpu,host=server01 {r} {t0 + i * 100_000_000_000}"
        for i, r in enumerate(raws)
    ]
    handle_write(spark, lines, root)
    got = _q(spark, sf_dir, root, "SELECT * FROM cpu")
    vals = [v[2] for v in got["results"][0]["series"][0]["values"]]
    assert vals == [
        "disk mem",       # plain
        "disk\\ mem",     # lone backslash kept
        "disk\\ mem",     # \\ collapses
        "disk\\\\ mem",   # \\ + lone \
        "disk\\\\ mem",   # \\ \\ -> two
        'disk" mem\\"',   # \" -> " ; \\ -> \ ; \" -> "
    ]


def test_write_order_across_batches(spark, sf_dir, tmp_path):
    """Merged-stream duplicate timestamps resolve to the FIRST-written
    point across write batches too (difference_derivative_time_duplicate
    semantics): every point of an earlier batch orders before every point
    of a later one, whatever line it sits on. Batch A's `s=a` points sit on
    its last lines; batch B's `s=b` point at the same instant is B's first
    line, so a line ordinal larger than the gap between the two batches'
    sequence stamps would let B's point win."""
    root = str(tmp_path / "order")
    filler = [f"filler v={i} {i}" for i in range(6)]
    handle_write(spark, filler + ["m,s=a v=10 2000", "m,s=a v=1 1000"], root)
    handle_write(spark, ["m,s=b v=2 1000"] + filler[:3], root)
    got = handle_query(
        spark, sf_dir, "SELECT difference(v) FROM m WHERE time <= 2000",
        epoch="ns", data_root=root,
    )
    assert got["results"][0]["series"][0]["values"] == [[2000, 9.0]]
