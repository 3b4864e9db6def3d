"""End-to-end bus verification via the loopback broker stand-in.

This executes the full K4/K6 contract — salted keyed produce →
partitioned consume with per-partition offsets → bounded admission
(maxOffsetsPerTrigger) → foreachBatch ingest with uuid dedup →
epoch commit — with no external broker, using the in-repo
``rakam_localbus`` Python streaming data source.  The Kafka path
proper (`start_kafka_stream`) shares the envelope projection and the
entire foreachBatch body with this path and stays broker-gated in
test_kafka_e2e.py.

Reference: KafkaEventStore.java:82-108 (keyed producer),
KafkaOffsetManager.java:35-91 (bounded offset consumption).
"""

import time

from rakam_api_spark.api import EventCollector
from rakam_api_spark.catalog import Metastore
from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper
from rakam_api_spark.streaming import StreamingIngest
from rakam_api_spark.streaming.localbus import LocalBusProducer
from rakam_api_spark.streaming.job import to_kafka_envelopes


def _await(predicate, timeout=120.0, interval=0.5):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(interval)
    return predicate()


def _stored_count(collector, project, collection):
    try:
        return collector.store.read(project, collection).count()
    except Exception:  # collection not created yet
        return -1


def test_localbus_produce_ingest_commit_roundtrip(spark, warehouse, tmp_path):
    bus_dir = str(tmp_path / "bus")
    events = [
        {"collection": "clicks", "properties": {"x": i}, "api": {"uuid": f"u{i}"}}
        for i in range(40)
    ]
    events.append(events[0])  # duplicate uuid: must dedup to 40
    producer = LocalBusProducer(bus_dir)
    parts = set()
    for key, value in to_kafka_envelopes(events, "proj"):
        parts.add(producer.send("events", key, value))
    producer.flush()
    assert len(parts) > 1  # salted keys actually spread partitions

    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    ing = StreamingIngest(collector, "proj")
    q = ing.start_local_bus_stream(
        bus_dir,
        "events",
        str(tmp_path / "ckpt"),
        max_offsets_per_trigger=10,  # 41 records → ≥5 micro-batches
    )
    try:
        assert _await(
            lambda: _stored_count(collector, "proj", "clicks") == 40
        ), "stream did not ingest all deduped events in time"
        # backpressure really bounded admission: ≥4 non-empty batches
        busy = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(busy) >= 4
        assert max(p["numInputRows"] for p in busy) <= 10
        # observability surface: stream_health reads the progress
        # feed only (no Spark jobs) and reports the live essentials
        from rakam_api_spark.streaming.job import stream_health

        health = stream_health(q)
        assert health["active"] is True
        assert health["batch_id"] is not None
        assert health["total_input_rows"] >= 40
        assert health["sources"] and health["sources"][0]["description"]
    finally:
        q.stop()
    # epoch commit markers recorded for the processed epochs
    d = ing._commit_dir()
    assert d is not None and any(
        n.startswith("epoch_") for n in ing.state.listdir(d)
    )


def test_localbus_replay_same_offsets(spark, warehouse, tmp_path):
    """Restarting from the same checkpoint must not duplicate rows:
    offsets come back from the checkpoint and committed epochs
    replay as no-ops."""
    bus_dir = str(tmp_path / "bus")
    producer = LocalBusProducer(bus_dir)
    for key, value in to_kafka_envelopes(
        [{"collection": "c", "properties": {"v": i}, "api": {"uuid": f"a{i}"}} for i in range(8)],
        "proj",
    ):
        producer.send("t", key, value)

    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    ing = StreamingIngest(collector, "proj")
    ckpt = str(tmp_path / "ckpt")
    q = ing.start_local_bus_stream(bus_dir, "t", ckpt)
    try:
        # wait for the data AND the epoch-0 commit marker: stopping
        # between the collection write and the marker is the
        # documented at-least-once window where a replay re-ingests
        assert _await(
            lambda: _stored_count(collector, "proj", "c") == 8 and ing._is_committed(0)
        )
    finally:
        q.stop()
    # second run over the same checkpoint: nothing new to consume
    q2 = ing.start_local_bus_stream(bus_dir, "t", ckpt)
    try:
        time.sleep(3)
        assert collector.store.read("proj", "c").count() == 8
    finally:
        q2.stop()


def test_localbus_stream_maintains_rollup_and_routes(spark, warehouse, tmp_path):
    """Full composition: bus produce → streaming ingest → per-epoch
    rollup maintenance → route_report answered from the cells."""
    bus_dir = str(tmp_path / "bus2")
    measures = {"n_events": "CAST(COUNT(*) AS BIGINT)"}
    events = [
        {
            "collection": "clicks",
            "properties": {"event_type": "view", "_time": "2024-03-05 10:00:00"},
            "api": {"uuid": f"r{i}"},
        }
        for i in range(10)
    ]
    producer = LocalBusProducer(bus_dir)
    for key, value in to_kafka_envelopes(events, "proj"):
        producer.send("events", key, value)
    producer.flush()

    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    ing = StreamingIngest(
        collector,
        "proj",
        rollup_specs={"clicks": {"dims": ("event_type",), "measures": measures}},
    )
    q = ing.start_local_bus_stream(bus_dir, "events", str(tmp_path / "ck2"))
    try:
        assert _await(lambda: _stored_count(collector, "proj", "clicks") == 10)
        assert _await(
            lambda: collector.store.rollup_meta("proj", "clicks") is not None
        )
    finally:
        q.stop()
    routed = collector.store.route_report(
        "proj", "clicks", dims=("event_type",), measures=measures, grain="month"
    )
    assert routed.route == "rollup"
    rows = routed.df.collect()
    assert [(r["_month"], r["event_type"], r["n_events"]) for r in rows] == [
        ("2024-03", "view", 10)
    ]


def test_localbus_stream_epoch_maintenance_bounds_small_files(spark, warehouse, tmp_path):
    """The auto-indexer cycle wired to the stream: with
    ``maintenance_every`` set, micro-batch small-file debris is
    compacted between epochs, so the per-month parquet file count
    stays bounded across 20+ micro-batches instead of growing one
    file per batch — and no rows are lost across the concurrent
    compaction commits."""
    bus_dir = str(tmp_path / "bus3")
    events = [
        {
            "collection": "clicks",
            "properties": {"x": i, "_time": "2024-05-02 10:00:00"},
            "api": {"uuid": f"m{i}"},
        }
        for i in range(44)
    ]
    producer = LocalBusProducer(bus_dir)
    for key, value in to_kafka_envelopes(events, "proj"):
        producer.send("events", key, value)
    producer.flush()

    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    ing = StreamingIngest(
        collector,
        "proj",
        maintenance_every=5,
        maintenance_kwargs={"max_files_per_month": 4},
    )
    q = ing.start_local_bus_stream(
        bus_dir,
        "events",
        str(tmp_path / "ck3"),
        max_offsets_per_trigger=2,  # 44 records → ≥22 micro-batches
    )
    try:
        assert _await(
            lambda: _stored_count(collector, "proj", "clicks") == 44, timeout=240.0
        ), "stream did not ingest all events in time"
        busy = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(busy) >= 10  # genuinely many micro-batches
    finally:
        q.stop()
    # at least one maintenance cycle actually ran and compacted
    assert ing.last_maintenance is not None
    # file count bounded: without the cycle this would be ~22 files
    # (one per micro-batch); with it, at most the compaction target
    # plus the epochs since the last cycle
    stats = {r["month"]: r for r in collector.store.table_stats("proj", "clicks").collect()}
    n_files = stats["2024-05"]["n_files"]
    assert n_files <= 4 + 5, f"small files unbounded: {n_files}"
    # nothing lost across compactions, which went through the log
    xs = sorted(r["x"] for r in collector.store.read("proj", "clicks").collect())
    assert xs == list(range(44))
    ops = [h["op"] for h in collector.store.txn_table("proj", "clicks").history()]
    assert "compact" in ops
