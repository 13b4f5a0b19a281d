"""Storage lifecycle: time-partitioned layout, retention, compaction.

This module is the only one that knows the on-disk format: one parquet
directory per UTC day, the ``_og_schema.json`` sidecar, and the single
write policy every append, rollup and DELETE rewrite goes through.

The sidecar holds the tag keys, the registered field types and the
table's column schema (``columns``: every column any write put in the
files, plus ``p_day``). ``write_measurement`` keeps it on every append
and ``rewrite_measurement`` carries it over, so a read takes its schema
from the sidecar instead of merging every file footer in a Spark job of
its own. Only a directory those writers did not create (plain parquet,
or a sidecar without ``columns``) is read with ``mergeSchema``.

Reference mapping (SURVEY.md §1.1, §3.2):

- shard group (time-ranged, ``meta/shardinfo.go:33``) → parquet partition
  directory keyed by a time bucket column — Spark prunes partitions from
  the WHERE time range exactly like the shard mapper prunes shard groups.
- retention policy duration (``retentionpolicy.go:33``) → drop whole
  partition directories past the TTL (no row-level deletes).
- compaction (``immutable/compact.go``) → per-partition file coalescing;
  the LSM level machinery disappears because partitions are immutable
  day buckets.

At 100 TB: one partition per (day) keeps directory listings sane
(~365/yr). Every write clusters rows by day with a rebalance hint, so AQE
sizes the files: a day gets one file per write batch, and splits into
several only when its map output exceeds
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — a large backfill or
a day of coarse timestamps still spreads over many write tasks. Writes
append; compaction rewrites one partition at a time (bounded memory), and
retention is a metadata-only directory drop.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import (
    Column, DataFrame, DataFrameReader, SparkSession, functions as F,
)
from pyspark.sql.types import DateType, StructType

DAY_NS = 86_400_000_000_000
PARTITION_COL = "p_day"
SEQ_COL = "__seq"


def with_partition(df: DataFrame, time_col: str = "time_ns") -> DataFrame:
    """Attach the shard-group partition column (UTC day bucket).

    Integer ``div`` only: a double division of ~1.7e18 ns exceeds 2^53 and
    can misplace rows within ~256 ns of a UTC midnight into the wrong day.
    """
    return df.withColumn(
        PARTITION_COL,
        F.to_date(F.timestamp_micros(F.expr(f"{time_col} div 1000"))),
    )


SCHEMA_META = "_og_schema.json"


def read_schema(root: str) -> dict:
    """The measurement's ``_og_schema.json`` sidecar (``tags``,
    ``field_types``, ``columns``), or ``{}`` when the table has none
    yet."""
    meta_path = Path(root) / SCHEMA_META
    return json.loads(meta_path.read_text()) if meta_path.exists() else {}


def _columns_after(prior: dict, root: str, batch: StructType) -> dict | None:
    """The table's column schema once ``batch`` (carrying ``p_day``) is
    appended, as the sidecar stores it: the known columns in order, the
    batch's new ones after them, ``p_day`` last — what a ``mergeSchema``
    read finds, up to column order.

    ``None`` when it cannot be known without reading the files: the table
    has files but its sidecar no column schema, or a column changes type,
    which the files then hold in two types."""
    if "columns" in prior:
        known = StructType.fromJson(prior["columns"])
    elif Path(root).exists():
        return None
    else:
        known = StructType()
    types = {f.name: f.dataType for f in known.fields}
    cols = StructType([f for f in known.fields if f.name != PARTITION_COL])
    for f in batch.fields:
        if f.name not in types:
            cols.add(f.name, f.dataType)
        elif types[f.name] != f.dataType:
            return None
    return cols.add(PARTITION_COL, DateType()).jsonValue()


def _reader(spark: SparkSession, meta: dict) -> DataFrameReader:
    """A parquet reader for a table with sidecar ``meta``: its stored
    column schema, else a ``mergeSchema`` read that unions the columns of
    every file footer in a Spark job."""
    if "columns" in meta:
        return spark.read.schema(StructType.fromJson(meta["columns"]))
    return spark.read.option("mergeSchema", "true")


def _write_days(df: DataFrame, root: str, mode: str = "append") -> None:
    """Write ``df`` (carrying ``p_day``) into the day-partitioned layout.

    The rebalance hint clusters rows by day before the partitioned
    write, so each day directory gets one file instead of one per source
    partition (small files cost a footer read at every read-back). AQE
    coalesces the small day partitions of a request-sized batch and
    splits a day whose map output exceeds
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so file sizes
    follow the real shuffle statistics of the batch."""
    (
        df.hint("rebalance", PARTITION_COL)
        .write.mode(mode)
        .option("compression", "zstd")   # per-type codecs analog (README.md:52)
        .partitionBy(PARTITION_COL)
        .parquet(root)
    )


def write_measurement(df: DataFrame, root: str) -> None:
    """Append rows into the time-partitioned measurement table.

    Rows land in one directory per UTC day of ``time_ns``. A day holds
    one file per write batch unless its map output exceeds AQE's
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``; only then is it
    split across several write tasks and files.

    If the DataFrame carries tag metadata (``_og_tag_cols``, attached by
    the line-protocol write), it is persisted as a sidecar — the
    CleanSchema analog (meta/measurement.go:244) that lets readers tell
    tags from string fields. The sidecar also records the table's column
    schema after this batch, which ``read_measurement`` reads with; a
    table that had files before its sidecar had one keeps none.

    Each write batch is stamped with a monotonically increasing ``__seq``:
    a later write of the same (series, timestamp) REPLACES the whole row
    at read time — openGemini's out-of-order overwrite (the newest flushed
    row wins; server_test.go NilColumn drops the first write's address
    field entirely). The analog of the LSM sequence number."""
    tags = getattr(df, "_og_tag_cols", None)  # before withColumn drops it
    # schema-on-write field-type enforcement: once a field's type is
    # registered, a later point whose value has a CONFLICTING type is
    # dropped — partial write, the rest of the batch lands
    # (TestServer_Write_FieldTypeConflict: int64 `value` rejects a float
    # point; the point as a whole is discarded)
    prior = read_schema(root)
    known: dict[str, str] = dict(prior.get("field_types", {}))
    tagset = set(tags or []) | set(prior.get("tags", []))
    hidden = {"time_ns", SEQ_COL, "__ln", "__akey", PARTITION_COL}
    batch_types = {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name not in hidden and f.name not in tagset
    }
    for name, t in batch_types.items():
        if name in known and known[name] != t:
            # drop conflicting points, cast the dead column to the
            # registered type so the parquet schemas stay mergeable
            df = df.filter(F.col(f"`{name}`").isNull()).withColumn(
                name, F.col(f"`{name}`").cast(known[name])
            )
        else:
            known[name] = t
    if SEQ_COL not in df.columns:
        base = time.time_ns()
        df = df.withColumn(SEQ_COL, F.lit(base))
        if "__ln" in df.columns:
            # rebase the batch-local line ordinal onto the sequence stamp:
            # (__seq, line) collapses to one global write-order long.
            # Ordinals are line indexes within the batch, and a batch takes
            # longer to write than its line count in ns, so every point of
            # a later batch orders after every point of this one
            df = df.withColumn("__ln", F.lit(base) + F.col("__ln"))
    df = with_partition(df)
    columns = _columns_after(prior, root, df.schema)
    _write_days(df, root)
    if tags is not None or known or prior or columns:
        meta: dict = dict(prior)
        if tags is not None or "tags" in prior:
            # only materialize the tag sidecar when the writer knows its
            # tags — an absent key keeps the reader's string-column
            # heuristic for direct-DataFrame sinks
            meta["tags"] = sorted(
                set(prior.get("tags", [])) | set(tags or [])
            )
        meta["field_types"] = known
        meta.pop("columns", None)
        if columns is not None:
            meta["columns"] = columns
        (Path(root) / SCHEMA_META).write_text(json.dumps(meta))


def read_measurement(spark: SparkSession, root: str) -> DataFrame:
    """Read a measurement, resolving duplicate (series, timestamp) rows to
    the NEWEST write batch (``__seq`` dedup — the merge an LSM iterator
    does across memtable/TSSP levels).

    The schema is the sidecar's column schema, the union of the field
    columns of writes with evolving field sets, so building the frame
    runs no Spark job. A table whose sidecar has none (not written by
    ``write_measurement``) is read with ``mergeSchema``, which unions them
    in a job of its own."""
    meta = read_schema(root)
    df = _reader(spark, meta).parquet(root)
    tags: list[str] | None = meta.get("tags")
    if SEQ_COL in df.columns:
        from pyspark.sql import Window

        # series key: the sidecar tags, else the string-column heuristic
        # (same rule the query layer uses when no CleanSchema exists)
        key_tags = (
            [t for t in tags if t in df.columns]
            if tags is not None
            else [
                f.name for f in df.schema.fields
                if f.dataType.simpleString() == "string"
                and f.name != PARTITION_COL
            ]
        )
        # tag-array points carry their original array key (__akey): it is
        # part of the series identity, so expanded rows never collapse
        # into plain-tag points of the same (tags, time)
        akey = ["__akey"] if "__akey" in df.columns else []
        # backtick-quote: OTLP tag keys contain dots (service.name) which
        # bare strings would parse as nested field references
        w = Window.partitionBy(
            F.col("time_ns"), *[F.col(f"`{c}`") for c in (*key_tags, *akey)]
        ).orderBy(F.col(SEQ_COL).desc_nulls_last())
        if "__ln" in df.columns:
            # older batches may predate the write-order column: fall back
            # to the batch stamp so cross-batch order still holds
            df = df.withColumn(
                "__ln", F.coalesce(F.col("__ln"), F.col(SEQ_COL))
            )
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", SEQ_COL, "__akey")
        )
    if "__akey" in df.columns:
        df = df.drop("__akey")
    df._og_tag_cols = tags
    return df


def retention_drop(root: str, cutoff_day: str) -> list[str]:
    """Drop partitions strictly older than ``cutoff_day`` ('YYYY-MM-DD').

    Metadata-only: removes whole partition directories, like the
    reference's shard-group expiry (services/retention). Returns dropped
    partition names.
    """
    dropped = []
    for p in sorted(Path(root).glob(f"{PARTITION_COL}=*")):
        day = p.name.split("=", 1)[1]
        if day < cutoff_day:
            shutil.rmtree(p)
            dropped.append(p.name)
    return dropped


def compact_partition(spark: SparkSession, root: str, day: str, target_files: int = 1) -> int:
    """Rewrite one partition into ``target_files`` files (full compaction
    analog, immutable/compact.go:418 FullCompact — but per immutable day
    bucket, so memory is bounded by one partition).

    Returns the file count before compaction.
    """
    part_dir = Path(root) / f"{PARTITION_COL}={day}"
    files_before = len(list(part_dir.glob("*.parquet")))
    df = spark.read.parquet(str(part_dir))
    tmp = str(part_dir) + ".compact"
    df.coalesce(target_files).write.mode("overwrite").option("compression", "zstd").parquet(tmp)
    shutil.rmtree(part_dir)
    Path(tmp).rename(part_dir)
    return files_before


def rewrite_measurement(spark: SparkSession, root: str, keep: Column) -> None:
    """Rewrite the measurement at ``root`` keeping only rows matching
    ``keep`` — row-level DELETE / DROP SERIES as a filtered table rewrite.

    The kept rows go through the same day layout as appends (rebalance,
    zstd) into a sibling directory that then replaces the table; the
    sidecar carries over, its column schema too: the rewritten files hold
    every column of the read. When no row survives the measurement
    directory is removed, as an empty parquet directory is unreadable."""
    saved = read_schema(root)
    tmp = root + ".rewrite"
    kept = _reader(spark, saved).parquet(root).filter(keep)
    _write_days(kept, tmp, mode="overwrite")
    shutil.rmtree(root)
    if not any(Path(tmp).rglob("*.parquet")):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    Path(tmp).rename(root)
    if saved:
        (Path(root) / SCHEMA_META).write_text(json.dumps(saved))
