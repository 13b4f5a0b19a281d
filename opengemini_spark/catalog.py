"""Measurement catalog: maps table names to DataFrames over Parquet.

openGemini's database → retention policy → measurement hierarchy
(lib/util/lifted/influx/meta/measurement.go:238) becomes a catalog of
Parquet-backed tables; shard groups (meta/shardinfo.go:33) become time-bucket
partition directories that Spark prunes on the time predicate — at 100 TB
the scan never touches out-of-range partitions.

The driver's test tables live unpartitioned at ``/root/testdata/sf*``;
``load_tables`` normalizes time columns so every operator sees the
openGemini time model: ``time_ns`` int64 nanoseconds as source of truth,
plus a derived µs ``ts`` TimestampType for Spark window ops (SURVEY.md §1.2).
"""

from __future__ import annotations

import functools
import os
import re
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_nanos_as_long(spark: SparkSession) -> None:
    # The events table stores TIMESTAMP(NANOS); Spark rejects it unless this
    # legacy flag maps it to int64 — which is exactly the openGemini model.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The openGemini time model is UTC nanoseconds. Pin the session tz so
    # NTZ↔TIMESTAMP casts are identities even on a driver-created plain
    # session (the engine's own session builder also pins UTC).
    spark.conf.set("spark.sql.session.timeZone", "UTC")


@functools.lru_cache(maxsize=256)
def _file_schema(spark: SparkSession, path: str, mtime_ns: int, size: int):
    # keyed on the file's identity: a rewritten file (new mtime or size)
    # misses and is inferred afresh. The session is part of the key because
    # inference reads its conf (nanosAsLong).
    return spark.read.parquet(path).schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that infers a regular file's schema once per
    (mtime, size): a plain read runs a footer-reading Spark job on every
    call. A directory or a missing path takes the plain read, so callers
    see the same PATH_NOT_FOUND error as before."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    schema = _file_schema(spark, path, st.st_mtime_ns, st.st_size)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table, normalizing the time columns."""
    _ensure_nanos_as_long(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize to the openGemini time model regardless of how the driver
        # generated the file: TIMESTAMP(NANOS) reads as int64 ns under the
        # legacy flag; TIMESTAMP(MICROS) reads as a timestamp. Either way the
        # result exposes time_ns (int64 ns, source of truth) + ts (µs
        # TimestampType for Spark window ops). Integer arithmetic only — a
        # double division of ~1.7e18 ns exceeds 2^53 and loses up to ~256 ns.
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type.startswith("timestamp"):
            # TIMESTAMP_NTZ → TIMESTAMP is an identity on the stored micros
            # because the session timezone is pinned to UTC (session.py:42).
            df = df.withColumn(
                "time_ns",
                F.expr("unix_micros(cast(ts as timestamp)) * CAST(1000 AS BIGINT)"),
            )
        else:
            df = (
                df.withColumnRenamed("ts", "time_ns")
                .withColumn("ts", F.timestamp_micros(F.expr("time_ns div 1000")))
            )
    return df


def parallelize_scan(
    df: DataFrame, min_parts: int | None = None, by: str | None = None
) -> DataFrame:
    """Spread a narrow scan across all cores before CPU-heavy map work.

    ``by=<col>`` hash-partitions on that column instead of round-robin.
    When every downstream shuffle of the operator is keyed by (a superset
    of) ``by`` — e.g. a per-document aggregate or window after a tokenize/
    explode stage — ``HashPartitioning(by)`` already satisfies those
    operators' ClusteredDistribution requirements, so Catalyst inserts NO
    further exchange: the one repartition of the compact pre-explode rows
    replaces what would otherwise be this exchange PLUS one per aggregate
    (r9: hash_embedding went 2 exchanges → 1 and 3.9 s → 1.4 s at sf0.1).
    Only use a high-cardinality key (doc ids), never a skewed one.

    The driver's test parquet is a single file with one row group, so the
    scan yields ONE input split — any explode/tokenize stage on top runs on
    one core out of 32. Repartitioning the compact pre-explode rows is
    cheap and buys full parallelism. At production scale the source has
    thousands of splits, the guard is false, and this is a no-op — no extra
    shuffle on wide inputs.

    The probe is METADATA-ONLY (`inputFiles` + file sizes): a
    `df.rdd.getNumPartitions()` probe looks lazy but under AQE forces the
    upstream query stages to materialize through the Python-RDD
    conversion — at 100× scale that blew `spark.driver.maxResultSize`
    before the query even ran. Spark packs small files up to
    `maxPartitionBytes` per input split, so the split-count estimate is
    `ceil(total_bytes / maxPartitionBytes)` — a raw file COUNT would be
    blind to packing (64 tiny files still scan as one split). Beyond
    1000 files the source is production-shaped and the probe skips the
    stat calls entirely (no-op).
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plans (in-memory test frames)
        files = []
    if len(files) > 1000:
        return df
    raw = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    )
    m = re.match(r"(\d+)\s*([kmg]?)b?$", raw.strip().lower())
    max_pb = int(m.group(1)) * {
        "": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30
    }[m.group(2)] if m else 134217728
    total = 0
    for f in files:
        try:
            total += os.path.getsize(f.removeprefix("file:"))
        except OSError:
            # non-local filesystem: fall back to one split per file
            total += max_pb
    est_splits = max(1, -(-total // max_pb))
    if est_splits < target:
        if by is not None:
            return df.repartition(target, F.col(by))
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql access."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
