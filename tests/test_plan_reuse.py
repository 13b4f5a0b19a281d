"""Per-shape setup work is paid once: compiled whole-stage classes stay in
Spark's codegen cache across passes, and a table load on an unchanged
file runs no schema-inference job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _last_job(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []
    return max(ids, default=-1)


def test_codegen_cache_holds_a_working_set_larger_than_spark_default(spark):
    """~150 distinct plans, each with its own generated class, collected
    twice: the second pass compiles nothing. Spark's default cache of 100
    entries evicts every class before its second use."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    plans = [
        spark.range(8).selectExpr(f"id * {k} + {k} AS x") for k in range(150)
    ]
    for df in plans:
        df.collect()
    before = cm.METRIC_COMPILATION_TIME().getCount()
    for k, df in enumerate(plans):
        assert [r.x for r in df.collect()] == [i * k + k for i in range(8)]
    assert cm.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_load_table_reuses_the_schema_of_an_unchanged_file(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from opengemini_spark.catalog import load_table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]

    before = _last_job(spark)
    df = load_table(spark, str(tmp_path), "t")
    assert _last_job(spark) == before, "load_table ran a Spark job"
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]

    # a rewritten file is a new (mtime, size): its schema is read afresh
    pq.write_table(pa.table({"a": [4, 5], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(4, "x"), (5, "y")]

    # a missing table still fails the way the planner expects
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "missing")
