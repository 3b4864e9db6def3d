"""EventStore over the transaction log: every store lifecycle op
(append, read, stats, maintenance compaction, TTL expiry, erase)
routes through atomic TxnTable commits, and a plain parquet directory
left by an older release migrates in one idempotent commit."""

import os

import pytest
from pyspark.sql import functions as F

from rakam_api_spark.api import EventCollector
from rakam_api_spark.catalog import Metastore
from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper
from rakam_api_spark.store import EventStore


def _collector(spark, warehouse):
    return EventCollector(
        spark, Metastore(warehouse), pipeline=EnrichmentPipeline([TimestampMapper()])
    )


def test_enable_txn_migrates_and_routes_lifecycle(spark, warehouse):
    collector = _collector(spark, warehouse)
    for i in range(4):
        collector.collect(
            "proj", "clicks", {"x": i, "_time": f"2024-01-0{i + 1} 09:00:00"}
        )
    store = collector.store
    before = sorted(r["x"] for r in store.read("proj", "clicks").collect())
    v = store.txn_table("proj", "clicks").version()
    assert v == 4  # one commit per collect

    # nothing to migrate: enable_txn commits nothing
    store.enable_txn("proj", "clicks")
    assert store.txn_table("proj", "clicks").version() == v
    assert sorted(r["x"] for r in store.read("proj", "clicks").collect()) == before
    assert not os.path.exists(store._base_path("proj", "clicks"))
    assert store.collections_with_data("proj") == ["clicks"]

    # appends now land as commits (one per micro-batch)
    v0 = store.txn_table("proj", "clicks").version()
    for i in range(4, 10):
        collector.collect(
            "proj", "clicks", {"x": i, "_time": f"2024-02-0{i - 3} 09:00:00"}
        )
    txn = store.txn_table("proj", "clicks")
    assert txn.version() == v0 + 6
    assert sorted(r["x"] for r in store.read("proj", "clicks").collect()) == list(range(10))

    # stats come from the manifest, per month
    stats = {r["month"]: r for r in store.table_stats("proj", "clicks").collect()}
    assert set(stats) == {"2024-01", "2024-02"}
    assert stats["2024-02"]["n_rows"] == 6 and stats["2024-02"]["n_files"] == 6

    # the maintenance cycle compacts through the txn commit path
    plan = store.maintenance_plan("proj", max_files_per_month=4)
    assert [(p["collection"], p["action"]) for p in plan] == [("clicks", "compact")]
    store.run_maintenance("proj", plan)
    stats = {r["month"]: r for r in store.table_stats("proj", "clicks").collect()}
    assert stats["2024-02"]["n_files"] == 1
    assert sorted(r["x"] for r in store.read("proj", "clicks").collect()) == list(range(10))
    assert store.txn_table("proj", "clicks").history()[-1]["op"] == "compact"

    # TTL expiry is a metadata-only commit + vacuum
    dropped = store.expire_months("proj", "clicks", "2024-02")
    assert dropped == ["2024-01"]
    assert sorted(r["x"] for r in store.read("proj", "clicks").collect()) == list(range(4, 10))


def test_erase_user_on_txn_collection(spark, warehouse):
    collector = _collector(spark, warehouse)
    for i in range(6):
        collector.collect(
            "proj",
            "ev",
            {"_user": f"u{i % 2}", "x": i, "_time": f"2024-01-0{i + 1} 09:00:00"},
        )
    store = collector.store
    removed = store.erase_user("proj", "_user", "u1")
    assert removed == {"ev": 3}
    rows = store.read("proj", "ev").collect()
    assert sorted(r["x"] for r in rows) == [0, 2, 4]
    assert all(r["_user"] == "u0" for r in rows)
    assert store.txn_table("proj", "ev").history()[-1]["op"] == "erase"
    # no retired files linger (vacuumed after the erase commit)
    txn = store.txn_table("proj", "ev")
    on_disk = {
        os.path.relpath(os.path.join(dp, f), txn.path).replace(os.sep, "/")
        for dp, _, fs in os.walk(txn.path)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == set(txn.live_files())


def test_streaming_ingest_into_txn_collection(spark, warehouse, tmp_path):
    """The streaming hot path over the transaction log: every
    micro-batch lands as one atomic commit, the epoch-clock
    maintenance cycle compacts through the commit path, and the final
    log tells the full story (appends then compacts) with no rows
    lost."""
    import time

    from rakam_api_spark.streaming import StreamingIngest
    from rakam_api_spark.streaming.job import to_kafka_envelopes
    from rakam_api_spark.streaming.localbus import LocalBusProducer

    bus_dir = str(tmp_path / "bus")
    events = [
        {
            "collection": "clicks",
            "properties": {"x": i, "_time": "2024-06-01 10:00:00"},
            "api": {"uuid": f"t{i}"},
        }
        for i in range(30)
    ]
    producer = LocalBusProducer(bus_dir)
    for key, value in to_kafka_envelopes(events, "proj"):
        producer.send("events", key, value)
    producer.flush()

    collector = _collector(spark, warehouse)
    store = collector.store
    store.metastore.create_project("proj")
    ing = StreamingIngest(
        collector,
        "proj",
        maintenance_every=4,
        maintenance_kwargs={"max_files_per_month": 3},
    )
    q = ing.start_local_bus_stream(
        bus_dir, "events", str(tmp_path / "ckpt"), max_offsets_per_trigger=3
    )
    try:
        deadline = time.monotonic() + 240
        while time.monotonic() < deadline:
            try:
                if store.read("proj", "clicks").count() == 30:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()
    assert sorted(r["x"] for r in store.read("proj", "clicks").collect()) == list(range(30))
    txn = store.txn_table("proj", "clicks")
    ops = [h["op"] for h in txn.history()]
    assert ops.count("append") >= 10  # one commit per micro-batch
    assert "compact" in ops  # the epoch maintenance cycle ran
    stats = {r["month"]: r for r in store.table_stats("proj", "clicks").collect()}
    assert stats["2024-06"]["n_files"] <= 3 + 4


def test_store_export_manifest_external_read(spark, warehouse):
    """External-engine interop (VERDICT r7 Next #8 at the store API):
    a txn collection exports a snapshot manifest DuckDB reads
    consistently even after later appends land."""
    import json

    import duckdb

    collector = _collector(spark, warehouse)
    for i in range(3):
        collector.collect(
            "proj", "taps", {"x": i, "_time": f"2024-03-0{i + 1} 09:00:00"}
        )
    store = collector.store
    out = os.path.join(warehouse, "taps_snapshot.json")
    m = store.export_manifest("proj", "taps", out_path=out)
    assert m["version"] is not None and m["files"]
    # mutate AFTER the export
    collector.collect("proj", "taps", {"x": 99, "_time": "2024-03-09 09:00:00"})
    with open(out) as f:
        manifest = json.load(f)
    con = duckdb.connect()
    xs = sorted(
        r[0]
        for r in con.execute(
            "SELECT x FROM read_parquet(?, union_by_name=true)", [manifest["files"]]
        ).fetchall()
    )
    con.close()
    assert xs == [0, 1, 2]  # the exported snapshot, not the live table

    # versioned export (time travel): the manifest at the pre-append
    # version still lists exactly the first snapshot
    m_old = store.export_manifest("proj", "taps", version=m["version"])
    assert m_old["files"] == m["files"]
    m_new = store.export_manifest("proj", "taps")
    assert m_new["version"] == m["version"] + 1
    assert len(m_new["files"]) == len(m["files"]) + 1

    # store.read(version=) resolves the same snapshot the manifest lists
    old_xs = sorted(r["x"] for r in store.read("proj", "taps", version=m["version"]).collect())
    assert old_xs == [0, 1, 2]
    assert sorted(r["x"] for r in store.read("proj", "taps").collect()) == [0, 1, 2, 99]


def test_txn_collection_epoch_replay_never_double_appends(spark, warehouse, tmp_path):
    """Exactly-once STORAGE for txn collections under the one replay
    window the epoch marker cannot close: a crash after a
    collection's append but before the epoch marker lands.  The
    replayed epoch re-runs in full, but the collection's append
    carries a (stream, collection, epoch) transaction identifier the
    commit log already holds — the re-append is a metadata no-op
    (Delta's txn appId/version pattern)."""
    import json as _json

    from rakam_api_spark.streaming import StreamingIngest

    collector = _collector(spark, warehouse)
    collector.collect("proj", "c", {"v": -1, "_time": "2024-01-01 09:00:00"})

    ing = StreamingIngest(collector, "proj", dedup_uuids=False)
    ing._commit_ns = "testns"

    def batch(lo, hi):
        lines = [
            _json.dumps(
                {
                    "collection": "c",
                    "properties": {"v": i, "_time": "2024-01-02 09:00:00"},
                    "api": {"uuid": f"u{i}"},
                }
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame([(ln,) for ln in lines], "value string")

    ing.process_batch(batch(0, 6), epoch_id=7)
    store = collector.store
    assert store.read("proj", "c").count() == 7
    txn = store.txn_table("proj", "c")
    assert txn.app_versions()["stream:testns:c"] == 7

    # crash simulation: epoch marker vanished, the whole epoch re-runs
    ing.state.delete(os.path.join(ing._commit_dir(), "epoch_7"))
    ing.process_batch(batch(0, 6), epoch_id=7)
    assert store.read("proj", "c").count() == 7  # no double append

    # a replay of an OLDER epoch after later ones is equally inert,
    # and a genuinely new epoch flows through
    ing.process_batch(batch(6, 9), epoch_id=8)
    assert store.read("proj", "c").count() == 10
    ing.state.delete(os.path.join(ing._commit_dir(), "epoch_7"))
    ing.process_batch(batch(0, 6), epoch_id=7)
    assert store.read("proj", "c").count() == 10
    assert txn.app_versions()["stream:testns:c"] == 8


def _plant_legacy(spark, store, project, collection, xs, version=None):
    """Write ``xs`` the way an older release did: a plain parquet
    directory partitioned by ``_month``, at ``{base}`` or, after a
    compaction, at ``{base}.v{N}`` named by the TABLE_VERSION pointer."""
    store.metastore.create_project(project)
    path = store._base_path(project, collection)
    if version is not None:
        store.metastore.set_config(project, f"TABLE_VERSION_{collection}", version)
        path = f"{path}.v{version}"
    (
        spark.createDataFrame([(x,) for x in xs], "x long")
        .withColumn("_time", F.lit("2024-01-05 09:00:00").cast("timestamp"))
        .withColumn("_month", F.lit("2024-01"))
        .write.mode("append")
        .partitionBy("_month")
        .parquet(path)
    )
    return path


def test_enable_txn_migrates_legacy_dir_once(spark, warehouse):
    store = EventStore(spark, Metastore(warehouse))
    legacy = _plant_legacy(spark, store, "proj", "clicks", [1, 2, 3], version=1)
    store.enable_txn("proj", "clicks")
    assert not os.path.exists(legacy)
    store.enable_txn("proj", "clicks")  # nothing left to migrate
    # a crash after the migration commit but before the legacy
    # directory was deleted: the re-run commits nothing, deletes it
    _plant_legacy(spark, store, "proj", "clicks", [1, 2, 3], version=1)
    store.enable_txn("proj", "clicks")
    assert not os.path.exists(legacy)

    assert sorted(r["x"] for r in store.read("proj", "clicks").collect()) == [1, 2, 3]
    txn = store.txn_table("proj", "clicks")
    assert [h["op"] for h in txn.history()] == ["append"]
    assert txn.app_versions() == {EventStore.MIGRATION_APP: 0}
    assert store.table_stats("proj", "clicks").collect()[0]["month"] == "2024-01"


def test_unmigrated_legacy_dir_raises(spark, warehouse):
    store = EventStore(spark, Metastore(warehouse))
    _plant_legacy(spark, store, "proj", "clicks", [1])
    with pytest.raises(RuntimeError, match="enable_txn"):
        store.read("proj", "clicks")
    with pytest.raises(RuntimeError, match="enable_txn"):
        store.write_batch("proj", "clicks", spark.createDataFrame([(2,)], "x long"))
    store.enable_txn("proj", "clicks")
    assert [r["x"] for r in store.read("proj", "clicks").collect()] == [1]


def test_enable_txn_on_fresh_project_takes_no_lock(spark, warehouse, tmp_path):
    """A fresh project has no directory yet: enable_txn with nothing
    to migrate must neither crash nor take the lock, and the lock
    itself creates its parent directory."""
    from rakam_api_spark.store import _MaintenanceLock

    ms = Metastore(warehouse)
    ms.create_project("bench")
    store = EventStore(spark, ms)
    store.enable_txn("bench", "pageviews", bloom_cols=["uid"])
    assert store.bloom_cols("bench", "pageviews") == ["uid"]
    assert not os.path.exists(os.path.join(warehouse, "bench"))
    with _MaintenanceLock(str(tmp_path / "a" / "b" / "c.lock")):
        assert os.path.exists(tmp_path / "a" / "b" / "c.lock")
