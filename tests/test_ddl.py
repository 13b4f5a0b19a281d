"""DDL + metastore tests: database/RP lifecycle, persistence, DELETE
partition rewrite."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from opengemini_spark import storage
from opengemini_spark.catalog import load_table
from opengemini_spark.ddl import DDLExecutor, MetaStore


@pytest.fixture()
def ddl(spark, tmp_path):
    return DDLExecutor(spark, MetaStore(str(tmp_path / "meta")))


def test_database_lifecycle(ddl, spark, tmp_path):
    ddl.execute("CREATE DATABASE mydb")
    out = ddl.execute("SHOW DATABASES")
    assert [["mydb"]] == out["series"][0]["values"]
    # autogen RP exists and is default
    rps = ddl.execute("SHOW RETENTION POLICIES ON mydb")["series"][0]["values"]
    assert rps[0][0] == "autogen" and rps[0][7] is True

    ddl.execute("CREATE RETENTION POLICY hot ON mydb DURATION 30d DEFAULT")
    rps = {r[0]: r for r in
           ddl.execute("SHOW RETENTION POLICIES ON mydb")["series"][0]["values"]}
    assert rps["hot"][1] == "720h0m0s"
    assert rps["hot"][7] is True and rps["autogen"][7] is False

    # metastore persists across re-open
    reopened = DDLExecutor(ddl.spark, MetaStore(str(ddl.meta.root)))
    assert "mydb" in reopened.meta.databases
    assert reopened.meta.databases["mydb"].retention_policies["hot"].default

    ddl.execute("DROP DATABASE mydb")
    # empty result carries no values key (database_commands wire shape)
    assert "values" not in ddl.execute("SHOW DATABASES")["series"][0]


def test_unsupported_raises(ddl):
    with pytest.raises(ValueError):
        ddl.execute("GRANT ALL TO bob")


def test_delete_from_partition_rewrite(ddl, spark, sf_dir):
    ddl.execute("CREATE DATABASE db1")
    ev = load_table(spark, sf_dir, "events").select("time_ns", "event_type", "value")
    root = str(ddl.meta.db_dir("db1") / "events")
    # two batches, so every day starts with two files
    odd_us = F.expr("time_ns div 1000 % 2 = 1")
    storage.write_measurement(ev.filter(~odd_us), root)
    storage.write_measurement(ev.filter(odd_us), root)
    ddl.register_measurement("db1", "events")
    days = sorted(Path(root).glob("p_day=*"))
    assert days and all(len(list(d.glob("*.parquet"))) == 2 for d in days)
    sidecar = Path(root) / storage.SCHEMA_META
    schema = sidecar.read_text()

    total = ev.count()
    # cutoff mid-day on day 3 of the data
    lo = ev.agg(F.min("time_ns")).first()[0]
    cutoff = (lo // storage.DAY_NS + 3) * storage.DAY_NS + storage.DAY_NS // 2
    expect = ev.filter(~(F.col("time_ns") < cutoff)).count()
    assert expect < total

    ddl.execute(f"DELETE FROM events WHERE time < {cutoff}")
    back = storage.read_measurement(spark, root)
    assert back.count() == expect
    assert back.agg(F.min("time_ns")).first()[0] >= cutoff
    # the rewrite goes through the day layout: one file per surviving day,
    # sidecar carried over
    days = sorted(Path(root).glob("p_day=*"))
    assert days and all(len(list(d.glob("*.parquet"))) == 1 for d in days)
    assert sidecar.read_text() == schema


def test_show_shards(ddl, spark, sf_dir):
    ddl.execute("CREATE DATABASE shdb")
    ev = load_table(spark, sf_dir, "events").select("time_ns", "value").limit(2000)
    storage.write_measurement(ev, str(ddl.meta.db_dir("shdb") / "events"))
    ddl.register_measurement("shdb", "events")
    out = ddl.execute("SHOW SHARDS")
    rows = out["series"][0]["values"]
    assert rows and all(r[0] == "shdb" and r[1] == "events" for r in rows)
    days = [r[2] for r in rows]
    assert days == sorted(days) and len(days) > 1


def test_admin_surface(ddl, spark):
    """CREATE/ALTER RP, CREATE MEASUREMENT, users/GRANT/REVOKE, KILL QUERY
    (statement_executor.go:241-450 dispatch rows)."""
    ddl.execute("CREATE DATABASE adm")
    ddl.execute("CREATE RETENTION POLICY rp1 ON adm DURATION 1d")
    ddl.execute("ALTER RETENTION POLICY rp1 ON adm DURATION 12h DEFAULT")
    rps = ddl.execute("SHOW RETENTION POLICIES ON adm")["series"][0]["values"]
    row = next(r for r in rps if r[0] == "rp1")
    assert row[1] == "12h0m0s" and row[7] is True

    ddl.execute("CREATE MEASUREMENT cpu_pre")
    assert "cpu_pre" in ddl.meta.databases["adm"].measurements

    ddl.execute("CREATE USER alice WITH PASSWORD 'Str0ng@pw' WITH ALL PRIVILEGES")
    ddl.execute("CREATE USER bob WITH PASSWORD 'Str0ng@pw'")
    ddl.execute("GRANT READ ON adm TO bob")
    users = ddl.execute("SHOW USERS")["series"][0]["values"]
    assert ["alice", True, False] in users and ["bob", False, False] in users
    assert ddl.meta.users["bob"]["grants"] == {"adm": "read"}
    ddl.execute("REVOKE READ ON adm FROM bob")
    assert ddl.meta.users["bob"]["grants"] == {}
    ddl.execute("DROP USER bob")
    assert "bob" not in ddl.meta.users

    # users survive a MetaStore reload
    from opengemini_spark.ddl import DDLExecutor, MetaStore
    re2 = DDLExecutor(ddl.spark, MetaStore(str(ddl.meta.root)))
    assert "alice" in re2.meta.users

    import pytest as _pt
    with _pt.raises(ValueError, match="no such query id"):
        ddl.execute("KILL QUERY 99999")


def test_show_and_kill_query_registry(ddl, spark):
    from opengemini_spark import querytrack
    qid = querytrack.attach(spark, "SELECT fake")
    rows = ddl.execute("SHOW QUERIES")["series"][0]["values"]
    assert any(r[0] == qid and r[1] == "SELECT fake" for r in rows)
    assert ddl.execute(f"KILL QUERY {qid}") == {"ok": True}
    rows2 = ddl.execute("SHOW QUERIES")["series"][0]["values"]
    assert not any(r[0] == qid for r in rows2)


def test_show_grants(ddl, spark):
    ddl.execute("CREATE DATABASE gdb")
    ddl.execute("CREATE USER carol WITH PASSWORD 'Str0ng@pw'")
    ddl.execute("GRANT WRITE ON gdb TO carol")
    out = ddl.execute("SHOW GRANTS FOR carol")["series"][0]
    assert out["values"] == [["gdb", "write"]]


def _mk_src(spark, n=200):
    """Batch source with a ts column, 2 hosts, 10-minute span."""
    rows = [
        (f"h{i % 2}", 1_700_000_000_000_000 + i * 3_000_000, float(i))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "host string, tu long, value double")
    return df.withColumn("ts", (F.col("tu") / 1_000_000).cast("timestamp"))


def test_create_stream_statement_lifecycle(ddl, spark, tmp_path):
    """CREATE STREAM … INTO … ON SELECT … DELAY (sql.y:3896) parses, lists,
    runs one windowed-agg cycle, and drops."""
    ddl.execute(
        "CREATE STREAM s1 INTO cpu_10m ON "
        "SELECT sum(value) AS s, count(value) AS n FROM cpu "
        "GROUP BY time(5m), host DELAY 30s"
    )
    rows = ddl.execute("SHOW STREAMS")["series"][0]["values"]
    assert len(rows) == 1
    name, dest, source, ivl, delay, _q = rows[0]
    assert (name, dest, source) == ("s1", "cpu_10m", "cpu")
    assert ivl == 300 * 10**9 and delay == 30 * 10**9

    dest_path = str(tmp_path / "cpu_10m")
    ddl.run_stream_once("s1", _mk_src(spark), dest_path)
    out = spark.read.parquet(dest_path)
    assert {"window_start", "window_end", "host", "s", "n"} <= set(out.columns)
    got = {(r["host"], r["window_start"].minute): r["n"] for r in out.collect()}
    # unaligned 10-minute span crosses 3 five-minute windows × 2 hosts
    assert len(got) == 6
    assert sum(v for v in got.values()) == 200

    ddl.execute("DROP STREAM s1")
    assert ddl.execute("SHOW STREAMS")["series"][0]["values"] == []
    with pytest.raises(ValueError, match="no such stream"):
        ddl.execute("DROP STREAM s1")


def test_stream_statement_rejects_disallowed_call(ddl):
    with pytest.raises(ValueError, match="not supported"):
        ddl.execute(
            "CREATE STREAM bad INTO x ON "
            "SELECT mean(value) FROM cpu GROUP BY time(1m)"
        )


def test_stream_statement_persists_in_metastore(ddl, spark):
    ddl.execute(
        "CREATE STREAM s2 INTO m2 ON "
        "SELECT max(value) AS mx FROM cpu GROUP BY time(1m) DELAY 5s"
    )
    reopened = DDLExecutor(spark, MetaStore(str(ddl.meta.root)))
    rows = reopened.execute("SHOW STREAMS")["series"][0]["values"]
    assert rows and rows[0][0] == "s2"


def test_create_continuous_query_statement(ddl, spark, tmp_path):
    """CREATE CONTINUOUS QUERY … BEGIN SELECT … INTO … END: one resample
    tick through the statement path (continuousquery/service.go:178)."""
    ddl.execute("CREATE DATABASE cqdb")
    ddl.execute(
        "CREATE CONTINUOUS QUERY cq1 ON cqdb RESAMPLE EVERY 1m FOR 10m "
        "BEGIN SELECT sum(value) AS s INTO cpu_rollup FROM cpu "
        "GROUP BY time(5m), host END"
    )
    out = ddl.execute("SHOW CONTINUOUS QUERIES")["series"]
    assert out[0]["name"] == "cqdb"
    assert out[0]["values"][0][0] == "cq1"

    dest = ddl.run_cq_once("cq1", _mk_src(spark))
    back = spark.read.parquet(dest)
    assert back.count() == 6
    # idempotent: a second tick over the same range overwrites, not appends
    ddl.run_cq_once("cq1", _mk_src(spark))
    assert spark.read.parquet(dest).count() == 6

    ddl.execute("DROP CONTINUOUS QUERY cq1 ON cqdb")
    # databases keep an EMPTY block after the drop (reference
    # continuous_query_commands SHOW shape)
    assert ddl.execute("SHOW CONTINUOUS QUERIES")["series"] == [
        {"name": "cqdb", "columns": ["name", "query"]}
    ]


def test_cq_requires_into_and_window(ddl):
    with pytest.raises(ValueError, match="INTO"):
        ddl.execute(
            "CREATE CONTINUOUS QUERY c2 ON d BEGIN "
            "SELECT sum(value) FROM cpu GROUP BY time(1m) END"
        )
    with pytest.raises(ValueError, match="GROUP BY time"):
        ddl.execute(
            "CREATE STREAM s9 INTO x ON SELECT sum(value) FROM cpu"
        )


def test_stream_ddl_routed_through_query_api(ddl, spark, sf_dir):
    from opengemini_spark.api import handle_query

    out = handle_query(
        spark, sf_dir,
        "CREATE STREAM sq INTO dst ON SELECT count(value) AS n FROM cpu "
        "GROUP BY time(1m); SHOW STREAMS; SHOW CONTINUOUS QUERIES",
        ddl=ddl,
    )
    r = out["results"]
    assert r[0] == {"statement_id": 0}
    assert r[1]["series"][0]["values"][0][0] == "sq"
    assert r[2]["series"] == []


def test_subscription_statements(spark, tmp_path):
    """CREATE/SHOW/DROP SUBSCRIPTION through the statement surface
    (statement_executor.go:862 CreateSubscription semantics)."""
    from opengemini_spark.ddl import DDLExecutor, MetaStore

    ddl = DDLExecutor(spark, MetaStore(str(tmp_path / "meta")))
    ddl.execute("CREATE DATABASE db0")
    out = ddl.execute(
        'CREATE SUBSCRIPTION "sub0" ON "db0"."autogen" DESTINATIONS ALL '
        "'http://h1:9092', 'http://h2:9092'"
    )
    assert out == {"ok": True}
    shown = ddl.execute("SHOW SUBSCRIPTIONS")
    assert shown["series"][0]["name"] == "db0"
    assert shown["series"][0]["values"] == [
        ["autogen", "sub0", "ALL", ["http://h1:9092", "http://h2:9092"]]
    ]
    ddl.execute('DROP SUBSCRIPTION "sub0" ON "db0"."autogen"')
    # the wire omits "series" entirely when no subscriptions exist
    # (SubscriptionCommands "SHOW SUBSCRIPTIONS AFTER DROP")
    assert "series" not in ddl.execute("SHOW SUBSCRIPTIONS")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not found"):
        ddl.execute('DROP SUBSCRIPTION "sub0" ON "db0"."autogen"')


def test_create_database_with_clause(spark, tmp_path):
    """CREATE DATABASE … WITH DURATION/SHARD DURATION/NAME configures the
    initial retention policy (executeCreateDatabaseStatement)."""
    from opengemini_spark.ddl import DDLExecutor, MetaStore

    ddl = DDLExecutor(spark, MetaStore(str(tmp_path / "meta")))
    ddl.execute(
        "CREATE DATABASE db1 WITH DURATION 3d REPLICATION 1 "
        "SHARD DURATION 1h NAME rp3d"
    )
    db = ddl.meta.databases["db1"]
    rp = db.retention_policies["rp3d"]
    assert rp.default is True
    assert rp.duration_ns == 3 * 86_400_000_000_000
    assert rp.shard_group_duration_ns == 3_600_000_000_000
    assert "autogen" not in db.retention_policies
    # plain form still defaults to autogen
    ddl.execute("CREATE DATABASE db2")
    assert "autogen" in ddl.meta.databases["db2"].retention_policies


# --- DOWNSAMPLE statement surface (sql.y:3788; statement_executor.go:418;
# meta/downsample_policy.go NewDownSamplePolicyInfo + Check) ---


def test_downsample_statement_lifecycle(ddl, spark, tmp_path):
    ddl.execute("CREATE DATABASE db0")
    ddl.execute(
        "CREATE RETENTION POLICY rp0 ON db0 DURATION 30d SHARD DURATION 1h"
    )
    ddl.execute(
        "CREATE DOWNSAMPLE ON db0.rp0 (FLOAT(MEAN,MAX), INTEGER(SUM)) "
        "WITH DURATION 7d SAMPLEINTERVAL(1h,6h) TIMEINTERVAL(1m,10m)"
    )
    out = ddl.execute("SHOW DOWNSAMPLES ON db0")
    blk = out["series"][0]
    assert blk["columns"] == [
        "rpName", "field_operator", "duration", "sampleInterval",
        "timeInterval",
    ]
    assert blk["values"] == [[
        "rp0", "float{mean,max},integer{sum}", "168h0m0s",
        "1h0m0s,6h0m0s", "1m0s,10m0s",
    ]]

    # identical re-create is a silent no-op; a DIFFERENT one errors
    ddl.execute(
        "CREATE DOWNSAMPLE ON db0.rp0 (FLOAT(MEAN,MAX), INTEGER(SUM)) "
        "WITH DURATION 7d SAMPLEINTERVAL(1h,6h) TIMEINTERVAL(1m,10m)"
    )
    with pytest.raises(ValueError, match="already exists"):
        ddl.execute(
            "CREATE DOWNSAMPLE ON db0.rp0 (FLOAT(MEAN)) "
            "WITH DURATION 7d SAMPLEINTERVAL(1h) TIMEINTERVAL(1m)"
        )

    # one rollup cycle through the statement path
    dest = str(tmp_path / "ds_out")
    names = ddl.run_downsample_once(
        spark, "db0", "rp0", _mk_src(spark), dest
    )
    assert set(names) == {"mean_value", "max_value", "sum_tu"}
    rolled = spark.read.parquet(dest)
    # 10-minute unaligned span → 11 one-minute buckets at level 0
    assert rolled.count() == 11
    assert rolled.agg(F.sum("max_value")).first()[0] > 0

    # persists across metastore re-open
    reopened = DDLExecutor(ddl.spark, MetaStore(str(ddl.meta.root)))
    assert "db0.rp0" in reopened.meta.downsamples

    ddl.execute("DROP DOWNSAMPLE ON db0.rp0")
    assert ddl.execute("SHOW DOWNSAMPLES ON db0")["series"][0]["values"] == []
    with pytest.raises(ValueError, match="not found"):
        ddl.execute("DROP DOWNSAMPLE ON db0.rp0")


def test_downsample_statement_validation(ddl):
    ddl.execute("CREATE DATABASE db1")
    ddl.execute(
        "CREATE RETENTION POLICY rp1 ON db1 DURATION 30d SHARD DURATION 1h"
    )
    base = "CREATE DOWNSAMPLE ON db1.rp1 ({}) WITH DURATION {} " \
           "SAMPLEINTERVAL({}) TIMEINTERVAL({})"
    # interval list lengths must match (DownSampleIntervalLenCheck)
    with pytest.raises(ValueError, match="length"):
        ddl.execute(base.format("float(mean)", "7d", "1h,6h", "1m"))
    # levels must strictly coarsen and divide (DownSampleIntervalCheck)
    with pytest.raises(ValueError, match="intervals"):
        ddl.execute(base.format("float(mean)", "7d", "6h,1h", "1m,10m"))
    with pytest.raises(ValueError, match="intervals"):
        ddl.execute(base.format("float(mean)", "7d", "1h,6h", "3m,10m"))
    # first sample interval must cover a shard group
    with pytest.raises(ValueError, match="shard duration"):
        ddl.execute(base.format("float(mean)", "7d", "30m", "1m"))
    # last sample interval must fit inside the policy duration
    with pytest.raises(ValueError, match="retention policy duration"):
        ddl.execute(base.format("float(mean)", "2h", "6h", "1m"))
    # type/op validation (DownSampleUnExpectedDataType / UnsupportedAggOp)
    with pytest.raises(ValueError, match="data type"):
        ddl.execute(base.format("decimal(mean)", "7d", "1h", "1m"))
    with pytest.raises(ValueError, match="agg op"):
        ddl.execute(base.format("float(median)", "7d", "1h", "1m"))
    # rp / db-context requirements
    with pytest.raises(ValueError, match="retention policy not found"):
        ddl.execute(base.format("float(mean)", "7d", "1h", "1m")
                    .replace("db1.rp1", "db1.nope"))
    with pytest.raises(ValueError, match="invalid name"):
        ddl.execute(base.format("float(mean)", "7d", "1h", "1m")
                    .replace("db1.rp1", "rponly"))
    # DROP DOWNSAMPLES (DropAll) skips the exists check
    ddl.execute("DROP DOWNSAMPLES ON db1")
    with pytest.raises(ValueError, match="database name required"):
        ddl.execute("SHOW DOWNSAMPLES")


# --- admin long tail (statement_executor.go:246-444 dispatch rows) ---


def test_alter_shard_key_statement(ddl, spark, sf_dir):
    ddl.execute("CREATE DATABASE adb")
    ddl.register_measurement("adb", "cpu")
    ddl.execute("ALTER MEASUREMENT cpu WITH SHARDKEY region,host")
    info = ddl.meta.databases["adb"].measurement_info["cpu"]
    assert info["shardkey"] == ["host", "region"]  # sorted (sql.y:3692)
    # equal keys: silent no-op
    ddl.execute("ALTER MEASUREMENT cpu WITH SHARDKEY host,region")
    # duplicate / unknown-measurement / type-mismatch errors
    with pytest.raises(ValueError, match="duplicate shard key"):
        ddl.execute("ALTER MEASUREMENT cpu WITH SHARDKEY host,host")
    with pytest.raises(ValueError, match="measurement not found"):
        ddl.execute("ALTER MEASUREMENT nope WITH SHARDKEY host")
    with pytest.raises(ValueError, match="sharding type is not equal"):
        ddl.execute("ALTER MEASUREMENT cpu WITH SHARDKEY host TYPE range")


def test_drop_shard_and_diagnostics_unsupported(ddl):
    # both dispatch straight to meta.ErrUnsupportCommand
    # (statement_executor.go:308,350)
    with pytest.raises(ValueError, match="unsupported command"):
        ddl.execute("DROP SHARD 42")
    with pytest.raises(ValueError, match="unsupported command"):
        ddl.execute("SHOW DIAGNOSTICS")


def test_show_shard_groups(ddl, spark, sf_dir):
    ddl.execute("CREATE DATABASE sgdb")
    ev = load_table(spark, sf_dir, "events").select(
        "time_ns", "event_type", "value"
    ).limit(200)
    storage.write_measurement(ev, str(ddl.meta.db_dir("sgdb") / "events"))
    ddl.register_measurement("sgdb", "events")
    out = ddl.execute("SHOW SHARD GROUPS")
    blk = out["series"][0]
    assert blk["name"] == "shard groups"
    assert blk["columns"] == [
        "id", "database", "retention_policy", "start_time", "end_time",
        "expiry_time",
    ]
    assert blk["values"], "day partitions should yield shard groups"
    first = blk["values"][0]
    assert first[1] == "sgdb" and first[2] == "autogen"
    assert first[3].endswith("T00:00:00Z")


def test_set_password_statement(ddl):
    ddl.execute("CREATE USER alice WITH PASSWORD 'Str0ng!pass'")
    ddl.execute("SET PASSWORD FOR alice = 'N3w!passw0rd'")
    assert ddl.meta.users["alice"]["password_set"]
    with pytest.raises(ValueError, match="between 8 and 256"):
        ddl.execute("SET PASSWORD FOR alice = 'short'")
    with pytest.raises(ValueError, match="user not found"):
        ddl.execute("SET PASSWORD FOR ghost = 'N3w!passw0rd'")


def test_show_and_set_configs(ddl):
    out = ddl.execute("SHOW CONFIGS")
    blk = out["series"][0]
    assert blk["columns"] == ["component", "instance", "name", "value"]
    vals = {v[2]: v[3] for v in blk["values"]}
    assert vals["logging.level"] == "info"
    ddl.execute('SET CONFIG sql "logging.level" = \'debug\'')
    out2 = ddl.execute("SHOW CONFIGS")
    vals2 = {v[2]: v[3] for v in out2["series"][0]["values"]}
    assert vals2["logging.level"] == "debug"
    # only (sql, logging.level) is settable (statement_executor.go:2587)
    with pytest.raises(ValueError, match="unsupported config command"):
        ddl.execute('SET CONFIG store "whatever" = \'x\'')


def test_alter_shard_key_honors_db_qualifier(ddl):
    """A db-qualified ALTER MEASUREMENT must touch THAT database only
    (review r4: the unqualified search previously won even when a
    qualifier was given)."""
    ddl.execute("CREATE DATABASE qa1")
    ddl.execute("CREATE DATABASE qa2")
    ddl.register_measurement("qa1", "cpu")
    ddl.register_measurement("qa2", "cpu")
    ddl.execute("ALTER MEASUREMENT qa2.autogen.cpu WITH SHARDKEY host")
    assert "cpu" not in ddl.meta.databases["qa1"].measurement_info
    assert ddl.meta.databases["qa2"].measurement_info["cpu"][
        "shardkey"
    ] == ["host"]
    with pytest.raises(ValueError, match="measurement not found"):
        ddl.execute("ALTER MEASUREMENT qa1.autogen.nope WITH SHARDKEY host")


def test_set_config_empty_value(ddl):
    ddl.execute("SET CONFIG sql \"logging.level\" = ''")
    vals = {
        v[2]: v[3]
        for v in ddl.execute("SHOW CONFIGS")["series"][0]["values"]
    }
    assert vals["logging.level"] == ""   # empty string, not null


def test_show_cluster(ddl):
    """SHOW CLUSTER (sql.y:4053; buildClusterRows wire shape): node block
    + empty event block; WHERE nodeID/nodeType filters; invalid node
    type/id error like errno.InValidNodeType/InValidNodeID."""
    out = ddl.execute("SHOW CLUSTER")["series"]
    assert out[0]["columns"] == [
        "time", "status", "hostname", "nodeID", "nodeType", "availability",
    ]
    assert [v[4] for v in out[0]["values"]] == ["meta", "data"]
    assert all(v[1] == "alive" and v[5] == "available"
               for v in out[0]["values"])
    assert out[1]["columns"][0] == "opId" and "values" not in out[1]

    only_data = ddl.execute("SHOW CLUSTER WHERE nodeType = data")["series"]
    assert [v[4] for v in only_data[0]["values"]] == ["data"]
    by_id = ddl.execute("SHOW CLUSTER WHERE nodeID = 1")["series"]
    assert [v[3] for v in by_id[0]["values"]] == [1]
    both = ddl.execute(
        "SHOW CLUSTER WHERE nodeID = 2 AND nodeType = data"
    )["series"]
    assert [v[3] for v in both[0]["values"]] == [2]
    with pytest.raises(ValueError, match="invalid node type"):
        ddl.execute("SHOW CLUSTER WHERE nodeType = sql")
    with pytest.raises(ValueError, match="invalid node id"):
        ddl.execute("SHOW CLUSTER WHERE nodeID = 99")


def test_show_measurement_keys(ddl):
    """SHOW PRIMARYKEY/SORTKEY/SHARDKEY/ENGINETYPE/INDEXES/COMPACT/
    PROPERTY/SCHEMA FROM mst (executeShowMeasurementKeysStatement
    statement_executor.go:1309-1363; row shapes :1366-1445): metastore-
    backed key metadata, COLUMNSTORE-only keys rejected on tsstore."""
    ddl.execute("CREATE DATABASE mydb")
    ddl.execute(
        "CREATE MEASUREMENT mydb.autogen.ts1 (t1 tag, f1 float) "
        "WITH SHARDKEY t1"
    )
    ddl.execute(
        "CREATE MEASUREMENT mydb.autogen.cs1 (t1 tag, f1 float) "
        "WITH ENGINETYPE = columnstore SHARDKEY t1 PRIMARYKEY t1,f1"
    )

    # getShardKey: SHARD_KEY/TYPE/SHARD_GROUP, one row per key set
    sk = ddl.execute("SHOW SHARDKEY FROM ts1")["series"][0]
    assert sk["columns"] == ["SHARD_KEY", "TYPE", "SHARD_GROUP"]
    assert sk["values"] == [[["t1"], "hash", 0]]

    et = ddl.execute("SHOW ENGINETYPE FROM ts1")["series"][0]
    assert et == {"columns": ["ENGINETYPE"], "values": [["tsstore"]]}

    # no index DDL recorded -> empty INDEXES block
    ix = ddl.execute("SHOW INDEXES FROM ts1")["series"][0]
    assert ix["columns"] == ["INDEXES"] and ix["values"] == []

    # COLUMNSTORE-only keys error on a tsstore measurement
    for key in ("PRIMARYKEY", "SORTKEY", "PROPERTY", "COMPACT"):
        with pytest.raises(ValueError, match="COLUMNSTORE"):
            ddl.execute(f"SHOW {key} FROM ts1")

    pk = ddl.execute("SHOW PRIMARYKEY FROM cs1")["series"][0]
    assert pk == {"columns": ["PRIMARY_KEY"], "values": [[["t1", "f1"]]]}
    # sort key defaults to the primary key (detail-block parity)
    srt = ddl.execute("SHOW SORTKEY FROM cs1")["series"][0]
    assert srt == {"columns": ["SORT_KEY"], "values": [[["t1", "f1"]]]}
    cp = ddl.execute("SHOW COMPACT FROM cs1")["series"][0]
    assert cp == {"columns": ["COMPACTION_TYPE"], "values": [["row"]]}
    pr = ddl.execute("SHOW PROPERTY FROM cs1")["series"][0]
    assert pr["columns"] == ["PROPERTY_KEY", "PROPERTY_VALUE"]

    # SCHEMA: shardkey+engine+indexes, plus pk/sort/compaction on colstore
    assert len(ddl.execute("SHOW SCHEMA FROM ts1")["series"]) == 3
    schema = ddl.execute("SHOW SCHEMA FROM cs1")["series"]
    assert len(schema) == 6
    assert schema[1]["values"] == [["columnstore"]]

    # db.rp.mst qualified resolution + unknown-measurement error
    q = ddl.execute("SHOW SHARDKEY FROM mydb.autogen.ts1")["series"][0]
    assert q["values"] == [[["t1"], "hash", 0]]
    with pytest.raises(ValueError, match="measurement not found"):
        ddl.execute("SHOW SHARDKEY FROM nosuch")
    # MetaClient.Database(stmt.Database) errors before the mst lookup
    with pytest.raises(ValueError, match="database not found"):
        ddl.execute("SHOW SHARDKEY FROM otherdb.autogen.ts1")
    # rp.MstVersions resolution (statement_executor.go:1315-1324): a
    # wrong RP segment errors instead of falling back to a bare search
    with pytest.raises(ValueError, match="rp not found"):
        ddl.execute("SHOW SHARDKEY FROM mydb.wrongrp.ts1")
    ddl.execute(
        "CREATE RETENTION POLICY rp2 ON mydb DURATION 1d REPLICATION 1"
    )
    with pytest.raises(ValueError, match="measurement not found"):
        ddl.execute("SHOW SHARDKEY FROM mydb.rp2.ts1")
    # 2-part target resolves as rp.mst, not a bare all-db search
    q2 = ddl.execute("SHOW SHARDKEY FROM autogen.ts1")["series"][0]
    assert q2["values"] == [[["t1"], "hash", 0]]
    with pytest.raises(ValueError, match="measurement not found"):
        ddl.execute("SHOW SHARDKEY FROM rp2.ts1")


def test_show_measurement_keys_field_index(ddl):
    """Field-index DDL surfaces in SHOW INDEXES as UPPER(name)(cols)
    (getIndex statement_executor.go:1366-1385)."""
    ddl.execute("CREATE DATABASE mydb")
    ddl.execute(
        'CREATE MEASUREMENT m1 WITH INDEXTYPE "field" INDEXLIST f1,f2'
    )
    ix = ddl.execute("SHOW INDEXES FROM m1")["series"][0]
    assert ix["values"] == [["FIELD(f1,f2)"]]
    # and SCHEMA carries the same block in slot 2
    sc = ddl.execute("SHOW SCHEMA FROM m1")["series"]
    assert sc[2]["values"] == [["FIELD(f1,f2)"]]
