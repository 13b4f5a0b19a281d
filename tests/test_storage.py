"""Storage lifecycle tests: partitioned write, partition pruning, retention,
compaction."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from opengemini_spark import storage
from opengemini_spark.catalog import load_table


def test_partitioned_write_and_prune(spark, sf_dir, tmp_path):
    root = str(tmp_path / "events_tbl")
    ev = load_table(spark, sf_dir, "events").select("time_ns", "event_type", "value")
    storage.write_measurement(ev, root)

    parts = sorted(Path(root).glob("p_day=*"))
    assert len(parts) > 1  # multi-day data → multiple shard groups

    back = storage.read_measurement(spark, root)
    assert back.count() == ev.count()

    # time predicate must prune partitions (shard-group pruning analog)
    day = parts[3].name.split("=")[1]
    pruned = back.filter(F.col("p_day") == day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() > 0


def test_write_layout_rebalances_within_day(spark, tmp_path):
    """Writes cluster rows by day with AQE's rebalance: a small batch keeps
    1 file per day bucket, and a day whose map output exceeds
    ``advisoryPartitionSizeInBytes`` splits across several write tasks —
    also when every row shares one timestamp, so no time-derived key could
    spread it. Rows read back identical either way."""
    two_days = spark.range(600).select(
        (
            F.lit(1_700_000_000_000_000_000)
            + (F.col("id") % 2) * storage.DAY_NS
            + F.col("id")
        ).alias("time_ns"),
        F.col("id").alias("v"),
    )
    one_stamp = spark.range(0, 600, 1, 4).select(
        F.lit(1_700_000_000_000_000_000).alias("time_ns"),
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.col("id").alias("v"),
    )

    def write(df, name):
        root = str(tmp_path / name)
        storage.write_measurement(df, root)
        back = storage.read_measurement(spark, root).select(*df.columns)
        assert sorted(back.collect()) == sorted(df.collect())
        return [
            len(list(d.glob("*.parquet")))
            for d in sorted(Path(root).glob("p_day=*"))
        ]

    assert write(two_days, "small_tbl") == [1, 1]
    advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(advisory_key)
    spark.conf.set(advisory_key, "1k")
    try:
        split = write(two_days, "split_tbl")
        coarse = write(one_stamp, "coarse_tbl")
    finally:
        spark.conf.set(advisory_key, prev)
    assert len(split) == 2 and all(n > 1 for n in split)
    assert len(coarse) == 1 and coarse[0] > 1


def test_retention_drop(spark, sf_dir, tmp_path):
    root = str(tmp_path / "ret_tbl")
    ev = load_table(spark, sf_dir, "events").select("time_ns", "value")
    storage.write_measurement(ev, root)
    parts = sorted(p.name for p in Path(root).glob("p_day=*"))
    cutoff = parts[2].split("=")[1]
    dropped = storage.retention_drop(root, cutoff)
    assert dropped == parts[:2]
    remaining = sorted(p.name for p in Path(root).glob("p_day=*"))
    assert remaining == parts[2:]
    # table still reads cleanly after the drop
    assert storage.read_measurement(spark, root).count() > 0


def test_compaction(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cmp_tbl")
    ev = load_table(spark, sf_dir, "events").select("time_ns", "value").repartition(8)
    storage.write_measurement(ev, root)
    parts = sorted(Path(root).glob("p_day=*"))
    day = parts[0].name.split("=")[1]
    before_rows = spark.read.parquet(str(parts[0])).count()
    n_files = storage.compact_partition(spark, root, day)
    assert n_files >= 1
    after = list(parts[0].glob("*.parquet"))
    assert len(after) == 1
    assert spark.read.parquet(str(parts[0])).count() == before_rows
