"""Live-path fixed costs: engine-owned reads take their schema from
metadata the engine already keeps (the txn log, the catalog, the fixed
seen-uuid layout) instead of a footer-merging Spark job, and a stream
epoch writes one file per (collection, month)."""

import json
import os
import uuid

from pyspark.sql import functions as F

from rakam_api_spark.api import EventCollector
from rakam_api_spark.catalog import Metastore
from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper
from rakam_api_spark.streaming import StreamingIngest
from rakam_api_spark.streaming.job import to_kafka_envelopes
from rakam_api_spark.streaming.localbus import LocalBusProducer
from rakam_api_spark.txnlog import TxnTable
from rakam_api_spark.users import UserStorage


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn submitted from this thread)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _collector(spark, warehouse):
    return EventCollector(
        spark, Metastore(warehouse), pipeline=EnrichmentPipeline([TimestampMapper()])
    )


def _txn_from_birth(store, project, *collections):
    store.metastore.create_project(project)
    for c in collections:
        store.metastore.set_config(project, f"TXN_{c}", True)


def _envelopes(spark, events):
    return spark.createDataFrame([(json.dumps(e),) for e in events], "value string")


def test_reads_submit_no_job_before_an_action(spark, warehouse, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a", "2024-01")], "x long, `$server_time` string, _month string"),
        partition_col="_month",
    )
    t.append(
        spark.createDataFrame([(2, "b", "2024-02")], "x long, `$server_time` string, _month string"),
        partition_col="_month",
    )
    df, jobs = _jobs_during(spark, t.read)
    assert jobs == []
    assert df.columns == ["x", "$server_time", "_month"]
    # the probe does see jobs: an action inside it is counted
    n, jobs = _jobs_during(spark, df.count)
    assert n == 2 and jobs

    collector = _collector(spark, warehouse)
    store = collector.store
    _txn_from_birth(store, "proj", "clicks")
    collector.collect("proj", "clicks", {"x": 1, "_time": "2024-03-01 10:00:00"})
    collector.collect("proj", "clicks", {"x": 2, "_time": "2024-04-01 10:00:00"})
    clicks, jobs = _jobs_during(spark, lambda: store.read("proj", "clicks"))
    assert jobs == []
    assert sorted(r["x"] for r in clicks.collect()) == [1, 2]

    users = UserStorage(spark, collector.metastore)
    users.create("proj", "u1", {"plan": "free"})
    users.create("proj", "u2", {"score": 3})
    table, jobs = _jobs_during(spark, lambda: users.table("proj"))
    assert jobs == []
    got = {r["id"]: (r["plan"], r["score"]) for r in table.collect()}
    assert got == {"u1": ("free", None), "u2": (None, 3)}

    ing = StreamingIngest(collector, "proj")
    ing.process_batch(
        _envelopes(spark, [{"collection": "c", "properties": {"x": 1}, "api": {"uuid": "a"}}]), 0
    )
    seen, jobs = _jobs_during(spark, lambda: ing._read_seen(spark, 1))
    assert jobs == []
    assert [(r["uuid"], r["epoch"]) for r in seen.collect()] == [("a", 0)]


def test_one_local_bus_epoch_writes_one_file_per_collection_month(spark, warehouse, tmp_path):
    collections = ("pageview", "purchase", "signup")
    events = [
        {
            "collection": collections[i % 3],
            "properties": {"x": i, "_time": f"2024-0{3 + i % 2}-0{1 + i % 7} 10:00:00"},
            "api": {"uuid": f"e{i}"},
        }
        for i in range(120)
    ]
    bus_dir = str(tmp_path / "bus")
    producer = LocalBusProducer(bus_dir)
    parts = {producer.send("events", k, v) for k, v in to_kafka_envelopes(events, "proj")}
    producer.flush()
    assert len(parts) > 1  # the epoch reads several source partitions

    collector = _collector(spark, warehouse)
    store = collector.store
    _txn_from_birth(store, "proj", *collections)
    ing = StreamingIngest(collector, "proj")
    q = ing.start_local_bus_stream(bus_dir, "events", str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [120]
    for c in collections:
        txn = store.txn_table("proj", c)
        months = [e["partition"]["_month"] for e in txn.state().values()]
        assert sorted(months) == ["2024-03", "2024-04"], (c, months)
        assert store.read("proj", c).count() == 40


def test_log_without_schema_reads_through_merge_schema(spark, tmp_path):
    """Logs written before schema tracking carry no schema: the read
    falls back to footer inference and still merges a later column."""
    path = str(tmp_path / "t")
    t = TxnTable(spark, path)
    t.append(spark.createDataFrame([(1, "2024-01")], "x long, _month string"), partition_col="_month")
    t.append(
        spark.createDataFrame([(2, "2024-01", "web")], "x long, _month string, channel string"),
        partition_col="_month",
    )
    txn_dir = os.path.join(path, "_txn")
    for name in os.listdir(txn_dir):
        p = os.path.join(txn_dir, name)
        with open(p) as f:
            rec = json.load(f)
        rec.pop("schema", None)
        with open(p, "w") as f:
            json.dump(rec, f)
    assert t.table_schema() is None
    got = {r["x"]: r["channel"] for r in t.read().collect()}
    assert got == {1: None, 2: "web"}


def test_untracked_files_keep_their_columns_after_a_tracked_append(spark, tmp_path):
    """Files committed without a schema (an older writer, or the
    sparkless ``append_files``) may hold columns the recorded schema
    never saw: scans that touch them still infer from footers."""
    path = str(tmp_path / "t")
    t = TxnTable(spark, path, checkpoint_every=2)
    legacy = os.path.join(path, "legacy")
    spark.createDataFrame([(1, "web")], "x long, c string").coalesce(1).write.parquet(legacy)
    t.append_files([f"legacy/{n}" for n in os.listdir(legacy) if n.endswith(".parquet")])
    t.append(spark.createDataFrame([(2,)], "x long"))
    assert t.table_schema() == [["x", "bigint"]]
    want = {1: "web", 2: None}
    assert {r["x"]: r["c"] for r in t.read().collect()} == want
    assert {r["x"]: r["c"] for r in t.changes(0).collect()} == want
    inc, _ = t.read_incremental(0)
    assert {r["x"]: r["c"] for r in inc.collect()} == want
    # the checkpoint at v2 carries the untracked set
    fresh = TxnTable(spark, path)
    assert {r["x"]: r["c"] for r in fresh.read().collect()} == want
    assert fresh.last_state_file_opens == 1
    # a checkpoint without the set (an older writer's) replays the log
    ckpt = os.path.join(path, "_txn", "c00000002.json")
    with open(ckpt) as f:
        snap = json.load(f)
    del snap["untracked"]
    with open(ckpt, "w") as f:
        json.dump(snap, f)
    assert {r["x"]: r["c"] for r in fresh.read().collect()} == want
    assert fresh.last_state_file_opens == 2
    # a compaction records the footer-inferred columns it rewrote
    t.compact()
    assert t.table_schema() == [["x", "bigint"], ["c", "string"]]
    assert {r["x"]: r["c"] for r in t.read().collect()} == want


def test_older_files_read_later_column_as_null(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "2024-01")], "x long, _month string"), partition_col="_month")
    t.append(
        spark.createDataFrame([(2, "2024-02", 7.5)], "x long, _month string, amount double"),
        partition_col="_month",
    )
    df = t.read()
    assert dict(df.dtypes) == {"x": "bigint", "amount": "double", "_month": "string"}
    assert {r["x"]: r["amount"] for r in df.collect()} == {1: None, 2: 7.5}
    # time travel keeps the schema of its snapshot
    assert t.read(version=1).columns == ["x", "_month"]
    # the change feed and the incremental feed share the schema
    assert {r["x"]: r["amount"] for r in t.changes(0).collect()} == {1: None, 2: 7.5}
    inc, _ = t.read_incremental(0)
    assert {r["x"]: r["amount"] for r in inc.collect()} == {1: None, 2: 7.5}


def test_pre_shard_seen_directory_still_deduplicates(spark, warehouse):
    collector = _collector(spark, warehouse)
    ing = StreamingIngest(collector, "proj", seen_compact_every=0, seen_shards=4)
    # a seen set in the layout written before sharding: flat files
    os.makedirs(ing._seen_base, exist_ok=True)
    spark.createDataFrame([("old", 0)], "uuid string, epoch bigint").write.parquet(
        os.path.join(ing._seen_base, "v0")
    )
    ing._set_current_seen("v0")
    ev = lambda uid, x: {"collection": "c", "properties": {"x": x}, "api": {"uuid": uid}}
    ing.process_batch(_envelopes(spark, [ev("old", 1), ev("new", 2)]), 1)
    assert [r["x"] for r in collector.store.read("proj", "c").collect()] == [2]
    # the epoch's append migrated the state to the sharded layout
    d = ing._current_seen_dir()
    assert any(n.startswith("shard=") for n in os.listdir(d))
    ing.process_batch(_envelopes(spark, [ev("old", 3), ev("new", 4), ev("third", 5)]), 2)
    xs = sorted(r["x"] for r in collector.store.read("proj", "c").collect())
    assert xs == [2, 5]
    seen = ing._read_seen(spark, 3)
    assert sorted(r["uuid"] for r in seen.collect()) == ["new", "old", "third"]
    assert seen.where(F.col("shard").isNull()).count() == 0
