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


H_NS = 3_600_000_000_000
T0 = 1_700_000_000_000_000_000 - 1_700_000_000_000_000_000 % storage.DAY_NS


def test_compaction_keeps_columns_of_every_file(spark, tmp_path):
    """Three batches into one day, each with its own field set, leave
    files that each hold only some columns; the compacted day keeps
    every row and every column."""
    from opengemini_spark.api import handle_write

    root = str(tmp_path / "db")
    handle_write(spark, [f"m,h=a v=1 {T0}"], root)
    handle_write(spark, [f"m,h=a w=2 {T0 + 1}"], root)
    handle_write(spark, [f"m,h=b v=3,x=4 {T0 + 2}"], root)
    mst = f"{root}/m"

    def rows():
        df = storage.read_measurement(spark, mst)
        cols = sorted(c for c in df.columns if c != storage.SEQ_COL)
        return cols, sorted(map(tuple, df.select(*cols).collect()))

    before = rows()
    assert {"v", "w", "x"} <= set(before[0])
    (day_dir,) = Path(mst).glob(f"{storage.PARTITION_COL}=*")
    day = day_dir.name.split("=", 1)[1]
    assert storage.compact_partition(spark, mst, day) == 3
    assert len(list(day_dir.glob("*.parquet"))) == 1
    assert rows() == before


def _batch(n: int = 2000) -> list[str]:
    """``n`` line-protocol points over two measurements, 4 hosts and 3
    hours: the shape of a request-sized write."""
    lines = []
    for i in range(n):
        t = T0 + (i * 7919 % n) * (3 * H_NS // n)
        host = f"h{i % 4}"
        if i % 10 < 7:
            lines.append(
                f"cpu,host={host},region=r{i % 2} "
                f"usage={i % 97 + 0.5},load={i % 64}i {t}"
            )
        else:
            lines.append(f"mem,host={host} used={i % 61 + 0.25} {t}")
    return lines


def test_write_side_requests_run_few_jobs(spark, spark_jobs, tmp_path,
                                          monkeypatch):
    """On a measurement written by ``handle_write``: a storage read builds
    its frame with no Spark job (the schema is the sidecar's), a tags-only
    read-back runs at most 3 jobs and an hourly INTO rollup at most 5, with
    no range-partitioned global sort under the rollup's write."""
    from opengemini_spark.api import handle_query, handle_write

    root = str(tmp_path / "db")
    handle_write(spark, _batch(), root)
    _, jobs = spark_jobs(lambda: storage.read_measurement(spark, f"{root}/cpu"))
    assert jobs == []

    lo, hi = T0, T0 + 3 * H_NS
    q = (f"SELECT count(usage), sum(usage), max(load) FROM cpu "
         f"WHERE time >= {lo} AND time < {hi} GROUP BY host")
    got, jobs = spark_jobs(lambda: handle_query(spark, root, q, data_root=root))
    series = got["results"][0]["series"]
    assert [s["tags"]["host"] for s in series] == ["h0", "h1", "h2", "h3"]
    assert sum(s["values"][0][1] for s in series) == 1400
    assert len(jobs) <= 3, f"read-back ran {len(jobs)} Spark jobs"

    written = []
    real_write = storage.write_measurement

    def capture(df, dst):
        written.append(df)
        real_write(df, dst)

    monkeypatch.setattr(storage, "write_measurement", capture)
    q = (f"SELECT max(usage) AS usage_max INTO cpu_1h FROM cpu "
         f"WHERE time >= {lo} AND time < {hi} GROUP BY time(1h), host")
    got, jobs = spark_jobs(lambda: handle_query(spark, root, q, data_root=root))
    assert got["results"][0]["series"][0]["values"][0][1] == 12
    assert len(jobs) <= 5, f"INTO rollup ran {len(jobs)} Spark jobs"
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan


def test_show_tag_values_runs_few_jobs(spark, spark_jobs, tmp_path):
    """SHOW TAG VALUES over a ``handle_write`` measurement sorts its
    collected values on the driver: the planner's distinct and the API's
    per-measurement blocks run no range sort."""
    from opengemini_spark.api import handle_query, handle_write

    root = str(tmp_path / "db")
    handle_write(spark, _batch(), root)
    q = "SHOW TAG VALUES FROM cpu WITH KEY = host"
    got, jobs = spark_jobs(lambda: handle_query(spark, root, q, data_root=root))
    assert got["results"][0]["series"] == [{
        "name": "cpu", "columns": ["key", "value"],
        "values": [["host", f"h{i}"] for i in range(4)],
    }]
    assert len(jobs) <= 4, f"SHOW TAG VALUES ran {len(jobs)} Spark jobs"


def test_read_schema_matches_a_merge_schema_read(spark, tmp_path):
    """A read with the sidecar's column schema equals a ``mergeSchema``
    read after each kind of write: a later batch adding a field, a
    tag-array batch (``__akey``), a type-conflict batch, and a DELETE
    rewrite. The ``mergeSchema`` side reads a copy of the table whose
    sidecar has no column schema. Columns are compared by name: a
    ``mergeSchema`` read orders them by the order it lists the files in."""
    import json
    import shutil

    from opengemini_spark.api import handle_write

    root = str(tmp_path / "db")
    mst = f"{root}/m"

    def check(step: int):
        merged_root = str(tmp_path / f"merged{step}")
        shutil.copytree(mst, merged_root)
        meta = storage.read_schema(mst)
        meta.pop("columns")
        (Path(merged_root) / storage.SCHEMA_META).write_text(json.dumps(meta))
        ours = storage.read_measurement(spark, mst)
        merged = storage.read_measurement(spark, merged_root)
        assert {f.name: f.dataType for f in ours.schema.fields} == {
            f.name: f.dataType for f in merged.schema.fields
        }
        cols = sorted(ours.columns)
        assert sorted(ours.select(*cols).collect()) == sorted(
            merged.select(*cols).collect()
        )
        return ours

    day = storage.DAY_NS
    handle_write(spark, [f"m,h=a v=1 {T0}", f"m,h=b v=2 {T0 + day}"], root)
    check(0)
    handle_write(spark, [f"m,h=a v=3,w=4i {T0 + 2 * day}"], root)
    assert "w" in check(1).columns
    handle_write(spark, [f"m,h=c,k=[x,y] s=\"t\" {T0 + 3}"], root)
    assert "__akey" in storage._reader(
        spark, storage.read_schema(mst)
    ).parquet(mst).columns
    check(2)
    # v is a float: the int value drops, the rest of the batch lands
    handle_write(spark, [f"m,h=a v=5i,w=6i {T0 + 4}",
                         f"m,h=d w=7i,q=true {T0 + 5}"], root)
    assert check(3).filter(F.col("time_ns") == T0 + 4).first()["v"] is None
    # DELETE FROM m WHERE h = 'a'
    storage.rewrite_measurement(
        spark, mst, ~F.coalesce(F.col("h") == "a", F.lit(False))
    )
    assert check(4).count() == 4
