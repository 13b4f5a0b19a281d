"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; on a real cluster the same configs apply
(AQE, shuffle partitions sized by cluster, Arrow for the pandas-UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's JVM-wide cache of compiled whole-stage classes
# (spark.sql.codegen.cache.maxEntries, a static conf: it only takes effect
# when the session is built). Spark's default of 100 is smaller than one
# pass of this engine's working set, so the LRU evicts every class before
# it is reused and each pass Janino-compiles all of them again. Counted
# with CodegenMetrics on the perfbench workloads (seed 1, 4 vCPUs):
# - curate: the warm-up compiles 329 distinct classes; at 100 entries
#   every pass recompiles ~355, with room for all of them 17 on the first
#   pass (classes that inline the pass's id-range literals), then 0-8;
# - serve: the warm-up compiles ~280; at 100 entries every step (a write
#   cycle and a nine-panel refresh) recompiles 240-290, with room ~50
#   classes the cache has not seen before.
# 2000 holds both hot sets several times over.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "opengemini-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale notes: ``spark.sql.adaptive.enabled`` gives runtime shuffle-partition
    coalescing and skew-join splitting — essential at 100 TB where static
    partition counts are always wrong. ``nanosAsLong`` preserves the
    openGemini int64-nanosecond time model losslessly (Spark timestamps are
    µs); the catalog derives a µs ``ts`` column for window ops and keeps the
    ns long as the source of truth (SURVEY.md §1.2).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # read parquet TIMESTAMP(NANOS) as int64 ns (openGemini time model)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
