"""Ingest source tests: line protocol parse (per line + driver batch),
measurement pivot, Arrow ingestion, and the Spark-job cost of a write."""

from __future__ import annotations

import uuid

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


def test_parse_df_and_pivot(spark):
    parsed = parse_line_protocol(spark, LINES)
    assert parsed.count() == 7  # 2 + 1 + 3 + 1 field rows
    cpu = to_measurement_table(parsed, "cpu")
    rows = {r["host"]: r for r in cpu.collect()}
    assert rows["h1"]["usage"] == 0.5
    assert rows["h1"]["idle"] == 99.0
    assert rows["h2"]["usage"] == 0.75
    assert rows["h2"]["idle"] is None  # schema-on-write union of fields
    # __ln: hidden first-written-line ordinal (merged-stream duplicate-
    # timestamp resolution, difference_derivative_time_duplicate)
    assert set(cpu.columns) == {
        "time_ns", "host", "region", "usage", "idle", "__ln", "__akey"
    }


def _spark_jobs(spark, fn):
    """``fn()``'s result and the Spark jobs it submitted, counted under a
    job group of its own (a query leaves its thread in group "")."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_parse_is_a_local_relation_without_spark_jobs(spark):
    """The batch is parsed on the driver: building the DataFrame, and the
    pivot's schema collect over it, submit no Spark job (no Python-worker
    parse), and the optimized plan is a LocalRelation."""
    parsed, jobs = _spark_jobs(spark, lambda: parse_line_protocol(spark, LINES))
    assert jobs == []
    plan = parsed._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    _, jobs = _spark_jobs(spark, lambda: to_measurement_table(parsed, "cpu"))
    assert jobs == []
    # line_no is the line's index in the batch
    assert sorted({r["line_no"] for r in parsed.collect()}) == [0, 1, 2, 3]


def test_parse_keeps_int64_precision(spark):
    """An int field beside a point without it keeps all 64 bits (a float
    detour would round 2**63 - 1)."""
    parsed = parse_line_protocol(
        spark, ["m v=9223372036854775807i 1", "m w=1 2"]
    )
    assert [r["f_int"] for r in parsed.orderBy("time_ns").collect()] == [
        9223372036854775807, None,
    ]


def test_write_of_two_measurements_takes_at_most_six_jobs(spark, tmp_path):
    """A request-sized write runs only the per-measurement writes: no
    worker parse, no cached batch, no discovery or schema job."""
    from opengemini_spark.api import handle_write

    lines = [
        f"{m},host=h{i % 3} v={i},n={i}i {1700000000000000000 + i}"
        for i in range(40) for m in ("cpu", "mem")
    ]
    got, jobs = _spark_jobs(
        spark, lambda: handle_write(spark, lines, str(tmp_path))
    )
    assert got == {"written": {"cpu": 40, "mem": 40}}
    assert len(jobs) <= 6, f"write submitted {len(jobs)} Spark jobs"


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
    parsed = parse_line_protocol(spark, LINES)
    disk = to_measurement_table(parsed, "disk")
    row = disk.collect()[0]
    assert row["free"] == 12
    assert row["label"] == "root vol"
    assert row["ok"] is True
    dt = dict(disk.dtypes)
    assert dt["free"] == "bigint"
    assert dt["label"] == "string"
    assert dt["ok"] == "boolean"
