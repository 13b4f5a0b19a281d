"""Ingest source tests: line protocol parse (per line + driver batch),
measurement pivot, Arrow ingestion, and the Spark-job cost of a write."""

from __future__ import annotations

import pyarrow as pa
import pytest

from opengemini_spark.sources import parse_line_protocol
from opengemini_spark.sources.line_protocol import (
    InvalidFieldValueError, parse_line, to_measurement_table,
)

LINES = [
    "cpu,host=h1,region=eu usage=0.5,idle=99i 1700000000000000001",
    "cpu,host=h2,region=us usage=0.75 1700000000000000002",
    'disk,host=h1 free=12i,label="root vol",ok=t 1700000000000000003',
    "weather,city=sf\\ bay temp\\ c=18.5 1700000000000000004",
]


def test_parse_line_types_and_escapes():
    rows = parse_line(LINES[2])
    by_field = {r["field"]: r for r in rows}
    assert by_field["free"]["f_int"] == 12
    assert by_field["label"]["f_str"] == "root vol"
    assert by_field["ok"]["f_bool"] is True
    assert rows[0]["time_ns"] == 1700000000000000003

    esc = parse_line(LINES[3])
    assert esc[0]["tags"] == {"city": "sf bay"}
    assert esc[0]["field"] == "temp c"
    assert esc[0]["f_float"] == 18.5


def test_parse_line_errors():
    assert parse_line("") == []
    assert parse_line("# comment") == []
    with pytest.raises(ValueError):
        parse_line("cpu_no_fields")
    # an invalid name is batch-fatal even on a line with no fields
    with pytest.raises(InvalidFieldValueError, match="measurement name"):
        parse_line("c;pu")
    # a tag-array bracket that swallows the name's comma drops the point
    with pytest.raises(ValueError, match="measurement name") as e:
        parse_line("a[b,c] f=1")
    assert not isinstance(e.value, InvalidFieldValueError)


def test_parse_df_and_pivot():
    parsed = parse_line_protocol(LINES)
    assert parsed.num_rows == 7  # 2 + 1 + 3 + 1 field rows
    cpu, tags = to_measurement_table(parsed, "cpu")
    assert tags == ["host", "region"]
    rows = {r["host"]: r for r in cpu.to_pylist()}
    assert rows["h1"]["usage"] == 0.5
    assert rows["h1"]["idle"] == 99.0
    assert rows["h2"]["usage"] == 0.75
    assert rows["h2"]["idle"] is None  # schema-on-write union of fields
    # __ln: hidden first-written-line ordinal (merged-stream duplicate-
    # timestamp resolution, difference_derivative_time_duplicate)
    assert set(cpu.column_names) == {
        "time_ns", "host", "region", "usage", "idle", "__ln", "__akey"
    }


def test_pivot_merges_points_and_drops_conflicting_fields():
    """One row per (time, tag set, tag-array key): the last line wins per
    field, ``__ln`` is the point's first line, and a field occurrence of
    another value class than the field's first point (or its registered
    type) is dropped, the rest of its point kept."""
    lines = [
        "m,h=a,r=x v=1,w=1i 10",
        "m,r=x,h=a v=2 10",          # same point, tags in another order
        "m,h=a v=3i,s=\"s\" 20",    # int beside a float field: v dropped
        "m,h=a v=4i 30",             # the point's only field conflicts
        "m,h=a,k=[p,q] v=5 10",      # tag array: own points at time 10
    ]
    wide, tags = to_measurement_table(parse_line_protocol(lines), "m")
    assert tags == ["h", "k", "r"]
    assert wide.column_names == [
        "time_ns", "h", "k", "r", "s", "v", "w", "__ln", "__akey"
    ]
    got = sorted(wide.to_pylist(), key=lambda r: (r["time_ns"], str(r["k"])))
    assert got == [
        {"time_ns": 10, "h": "a", "k": None, "r": "x", "s": None, "v": 2.0,
         "w": 1, "__ln": 0, "__akey": None},
        {"time_ns": 10, "h": "a", "k": "p", "r": None, "s": None, "v": 5.0,
         "w": None, "__ln": 4, "__akey": "m,h=a,k=[p,q]"},
        {"time_ns": 10, "h": "a", "k": "q", "r": None, "s": None, "v": 5.0,
         "w": None, "__ln": 4, "__akey": "m,h=a,k=[p,q]"},
        {"time_ns": 20, "h": "a", "k": None, "r": None, "s": "s", "v": None,
         "w": None, "__ln": 2, "__akey": None},
    ]
    # a registered type decides over the batch's first point
    wide, _ = to_measurement_table(
        parse_line_protocol(lines), "m", field_types={"v": "bigint"}
    )
    assert wide.schema.field("v").type == pa.int64()
    assert sorted(
        (r["time_ns"], r["v"]) for r in wide.to_pylist() if r["v"] is not None
    ) == [(20, 3), (30, 4)]


def test_parse_is_a_local_relation_without_spark_jobs(spark, spark_jobs):
    """The batch is parsed and pivoted on the driver: neither submits a
    Spark job (no Python-worker parse, no schema collect), and a
    measurement reaches Spark as a LocalRelation."""
    parsed, jobs = spark_jobs(lambda: parse_line_protocol(LINES))
    assert jobs == []
    (cpu, _), jobs = spark_jobs(lambda: to_measurement_table(parsed, "cpu"))
    assert jobs == []
    df, jobs = spark_jobs(lambda: spark.createDataFrame(cpu))
    assert jobs == []
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    # line_no is the line's index in the batch
    assert sorted(set(parsed["line_no"].to_pylist())) == [0, 1, 2, 3]


def test_parse_keeps_int64_precision():
    """An int field beside a point without it keeps all 64 bits (a float
    detour would round 2**63 - 1)."""
    parsed = parse_line_protocol(["m v=9223372036854775807i 1", "m w=1 2"])
    assert parsed.sort_by("time_ns")["f_int"].to_pylist() == [
        9223372036854775807, None,
    ]
    wide, _ = to_measurement_table(parsed, "m")
    assert wide.sort_by("time_ns")["v"].to_pylist() == [
        9223372036854775807, None,
    ]


def test_write_of_two_measurements_takes_at_most_four_jobs(
    spark, spark_jobs, tmp_path,
):
    """A request-sized write runs only the per-measurement writes, two
    jobs each (the day rebalance and the file write): no worker parse, no
    pivot aggregate, no discovery, schema or count job."""
    from opengemini_spark.api import handle_write

    lines = [
        f"{m},host=h{i % 3} v={i},n={i}i {1700000000000000000 + i}"
        for i in range(40) for m in ("cpu", "mem")
    ]
    got, jobs = spark_jobs(lambda: handle_write(spark, lines, str(tmp_path)))
    assert got == {"written": {"cpu": 40, "mem": 40}}
    assert len(jobs) <= 4, f"write submitted {len(jobs)} Spark jobs"


def test_arrow_ingest(spark):
    """Arrow Flight ingest analog: pyarrow table → DataFrame zero-copy-ish."""
    tbl = pa.table(
        {
            "time_ns": pa.array([1, 2, 3], pa.int64()),
            "host": ["a", "b", "a"],
            "v": pa.array([1.0, 2.0, 3.0], pa.float64()),
        }
    )
    df = spark.createDataFrame(tbl.to_pandas())
    assert df.count() == 3
    assert [f.name for f in df.schema.fields] == ["time_ns", "host", "v"]


def test_pivot_preserves_string_bool_int_field_types(spark):
    """String/boolean/int field values survive the pivot with their own
    typed columns (ADVICE r1: they were silently nulled before)."""
    disk, _ = to_measurement_table(parse_line_protocol(LINES), "disk")
    row = disk.to_pylist()[0]
    assert row["free"] == 12
    assert row["label"] == "root vol"
    assert row["ok"] is True
    dt = dict(spark.createDataFrame(disk).dtypes)
    assert dt["free"] == "bigint"
    assert dt["label"] == "string"
    assert dt["ok"] == "boolean"
