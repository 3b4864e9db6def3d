"""EventStore maintenance: small-file compaction preserves data and
layout while collapsing per-micro-batch files."""

import os

from rakam_api_spark.api import EventCollector
from rakam_api_spark.catalog import Metastore
from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper


def _n_parquet_files(path):
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_compact_collapses_files_preserves_rows(spark, warehouse):
    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    # 6 separate appends across 2 months -> >= 6 files
    for i in range(6):
        month = "2024-01" if i % 2 == 0 else "2024-02"
        collector.collect(
            "proj",
            "clicks",
            {"x": i, "_time": f"{month}-0{i % 5 + 1} 10:00:00"},
        )
    store = collector.store
    path = store._table_path("proj", "clicks")
    before_files = _n_parquet_files(path)
    before = sorted(r["x"] for r in store.read("proj", "clicks").collect())
    assert before_files >= 6

    n_files = store.compact("proj", "clicks")
    assert n_files == 2  # one file per month partition
    after = sorted(r["x"] for r in store.read("proj", "clicks").collect())
    assert after == before
    # pointer swap: a NEW versioned dir is live, the old dir is gone,
    # and the metastore pointer names the new version (crash-safe:
    # the table path is never missing at rest)
    new_path = store._table_path("proj", "clicks")
    assert new_path != path and new_path.endswith(".v0")
    assert not os.path.exists(path)
    assert ms.get_config("proj", "TABLE_VERSION_clicks") == 0
    # month partition layout intact (pruning still works)
    months = {d for d in os.listdir(new_path) if d.startswith("_month=")}
    assert months == {"_month=2024-01", "_month=2024-02"}
    # second compaction bumps the version and stays readable
    store.compact("proj", "clicks")
    assert store._table_path("proj", "clicks").endswith(".v1")
    assert sorted(r["x"] for r in store.read("proj", "clicks").collect()) == before
    assert store.collections_with_data("proj") == ["clicks"]


def test_salted_repartition_spreads_hot_key(spark):
    from pyspark.sql import functions as F

    from rakam_api_spark.store import salted_repartition

    # one dominant key: plain repartition(key) puts all rows in ONE partition
    df = spark.range(10_000).select(F.lit("hot").alias("k"), F.col("id"))
    plain = df.repartition(16, "k")
    salted = salted_repartition(df, "k", 16, salt_buckets=16)

    def partition_sizes(d):
        return (
            d.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )

    assert len(partition_sizes(plain)) == 1
    sizes = partition_sizes(salted)
    assert len(sizes) > 4  # spread across many partitions
    assert max(r["count"] for r in sizes) < 10_000
    # deterministic: same salt on re-run (retry-safe)
    again = {r["pid"]: r["count"] for r in partition_sizes(salted)}
    assert again == {r["pid"]: r["count"] for r in sizes}


def test_rollup_publish_and_incremental_refresh(spark, warehouse):
    """publish_rollup materializes a day-grain aggregate; a month-
    scoped refresh overwrites only that month's partition files."""
    import glob
    import os

    from pyspark.sql import functions as F

    from rakam_api_spark.api import EventCollector
    from rakam_api_spark.catalog import Metastore

    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=None)
    store = collector.store

    def batch(rows):
        return spark.createDataFrame(rows, "_user string, _time long, event_type string, value double")

    jan, feb = 1704067200000, 1706745600000  # 2024-01-01 / 2024-02-01 UTC
    collector.bulk("p", "ev", batch([("u1", jan, "click", 1.0), ("u2", jan, "view", 2.0)]))
    collector.bulk("p", "ev", batch([("u1", feb, "click", 3.0)]))

    n = store.publish_rollup("p", "ev")
    assert n == 3  # (jan,click),(jan,view),(feb,click)
    roll = {(r["_day"].isoformat(), r["event_type"]): r for r in store.read_rollup("p", "ev").collect()}
    assert roll[("2024-01-01", "click")]["n_events"] == 1
    assert roll[("2024-01-01", "click")]["total_value"] == 1.0

    rollup_dir = os.path.join(warehouse, "p", "ev.rollup")
    jan_files_before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{rollup_dir}/_month=2024-01/*.parquet")
    }
    assert jan_files_before

    # append more feb data, refresh ONLY feb
    collector.bulk("p", "ev", batch([("u3", feb + 1000, "click", 5.0)]))
    n = store.publish_rollup("p", "ev", months=["2024-02"])
    assert n == 1  # rows written by this refresh: (feb-01, click) only
    feb_rows = {
        (r["_day"].isoformat(), r["event_type"]): r
        for r in store.read_rollup("p", "ev").collect()
    }
    assert feb_rows[("2024-02-01", "click")]["n_events"] == 2
    assert feb_rows[("2024-02-01", "click")]["total_value"] == 8.0
    # january partition untouched byte-for-byte (same files, same mtimes)
    jan_files_after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{rollup_dir}/_month=2024-01/*.parquet")
    }
    assert jan_files_after == jan_files_before

    # full rebuild drops rollup partitions for months that vanished
    # from raw (retention delete): remove january raw, rebuild all
    import shutil

    shutil.rmtree(os.path.join(warehouse, "p", "ev", "_month=2024-01"))
    store.publish_rollup("p", "ev")
    months_left = {r["_month"] for r in store.read_rollup("p", "ev").select("_month").distinct().collect()}
    assert months_left == {"2024-02"}
    assert not glob.glob(f"{rollup_dir}/_month=2024-01/*")


def test_expire_months_drops_only_old_partitions(spark, warehouse):
    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    for month in ("2023-11", "2023-12", "2024-01", "2024-02"):
        collector.collect("proj", "ev", {"x": 1, "_time": f"{month}-05 09:00:00"})
    store = collector.store
    dropped = store.expire_months("proj", "ev", "2024-01")
    assert dropped == ["2023-11", "2023-12"]
    left = {r[0] for r in store.read("proj", "ev").selectExpr("date_format(_time,'yyyy-MM')").collect()}
    assert left == {"2024-01", "2024-02"}
    assert store.expire_months("proj", "ev", "2024-01") == []  # idempotent


def test_erase_user_rewrites_without_rows(spark, warehouse):
    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    for i in range(6):
        collector.collect(
            "proj",
            "clicks",
            {"uid": i % 3, "x": i, "_time": f"2024-0{i % 2 + 1}-03 09:00:00"},
        )
    collector.collect("proj", "pages", {"title": "no-user-col", "_time": "2024-01-01 00:00:00"})
    store = collector.store
    removed = store.erase_user("proj", "uid", 1)
    assert removed == {"clicks": 2}  # pages skipped (no uid column)
    rest = store.read("proj", "clicks")
    assert rest.where("uid = 1").count() == 0
    assert rest.count() == 4
    # versioned swap left a live table dir and the month layout intact
    path = store._table_path("proj", "clicks")
    assert ".v" in path
    months = {d for d in os.listdir(path) if d.startswith("_month=")}
    assert months == {"_month=2024-01", "_month=2024-02"}


def test_erase_user_refreshes_derived_tables(spark, warehouse):
    """Right-to-be-forgotten must reach DERIVED artifacts: the
    .bucketed analytics copy holds full row copies of the user's data
    and the .rollup cells embed their contributions — a base-only
    rewrite would leave the user recoverable from the warehouse."""
    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    for i in range(8):
        collector.collect(
            "proj",
            "clicks",
            {"uid": i % 4, "value": float(i), "_time": f"2024-01-{i + 1:02d} 09:00:00"},
        )
    store = collector.store
    tbl = store.publish_bucketed("proj", "clicks", key="uid", n_buckets=4)
    store.publish_rollup(
        "proj", "clicks", dims=("uid",), measures={"n_events": "CAST(COUNT(*) AS BIGINT)"}
    )
    assert spark.table(tbl).where("uid = 1").count() == 2
    assert store.read_rollup("proj", "clicks").where("uid = 1").count() > 0

    removed = store.erase_user("proj", "uid", 1)
    assert removed == {"clicks": 2}
    # base, bucketed copy, and rollup cells are all clean
    assert store.read("proj", "clicks").where("uid = 1").count() == 0
    assert spark.table(tbl).where("uid = 1").count() == 0
    assert store.read_rollup("proj", "clicks").where("uid = 1").count() == 0
    # untouched users' cells survive the refresh
    assert spark.table(tbl).count() == 6
    assert store.read_rollup("proj", "clicks").agg({"n_events": "sum"}).collect()[0][0] == 6


def test_maintenance_plan_and_run(spark, warehouse):
    """The auto-indexer decision step: stats → {expire, compact,
    rollup_refresh} actions, then run_maintenance executes them and
    the warehouse ends clean (small files gone, TTL enforced, rollup
    caught up, stale rollup cells of expired months cleared)."""
    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    # 2023-10 (to expire), then many tiny appends into 2024-01
    collector.collect("proj", "clicks", {"event_type": "a", "value": 1.0, "_time": "2023-10-05 09:00:00"})
    for i in range(10):
        collector.collect(
            "proj", "clicks", {"event_type": "a", "value": float(i), "_time": f"2024-01-{i + 1:02d} 09:00:00"}
        )
    store = collector.store
    store.publish_rollup("proj", "clicks", dims=("event_type",))
    # append AFTER the publish: 2024-02 is missing from the rollup
    collector.collect("proj", "clicks", {"event_type": "b", "value": 5.0, "_time": "2024-02-01 09:00:00"})

    plan = store.maintenance_plan("proj", max_files_per_month=4, retention_months=3)
    got = {(p["collection"], p["action"]): p["months"] for p in plan}
    assert got[("clicks", "expire")] == ["2023-10"]
    assert "2024-01" in got[("clicks", "compact")]
    # 2024-02 is missing from the rollup; 2024-01 rides along because
    # this plan's compaction will rewrite its file set (the refresh
    # runs after the compact and records the post-compact signature)
    assert got[("clicks", "rollup_refresh")] == ["2024-01", "2024-02"]

    done = store.run_maintenance("proj", plan)
    assert all("outcome" in p for p in done)
    stats = {r["month"]: r for r in store.table_stats("proj", "clicks").collect()}
    assert "2023-10" not in stats  # expired
    assert stats["2024-01"]["n_files"] <= 4  # compacted
    cells = {r["_month"] for r in store.read_rollup("proj", "clicks").collect()}
    assert cells == {"2024-01", "2024-02"}  # refreshed, stale month cleared
    # idempotent: a clean warehouse plans nothing
    assert store.maintenance_plan("proj", max_files_per_month=4, retention_months=3) == []


def test_maintenance_lock_single_writer(spark, warehouse):
    """Maintenance rewrites are single-writer per collection: a live
    holder blocks a second writer, a stale lock (dead pid) is broken,
    and the lock is re-entrant so erase_user can republish derived
    tables under its own lock."""
    import subprocess

    import pytest

    from rakam_api_spark.store import MaintenanceLockHeld

    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    collector.collect("proj", "ev", {"x": 1, "_time": "2024-01-05 09:00:00"})
    store = collector.store

    # a LIVE foreign holder blocks compaction
    holder = subprocess.Popen(["sleep", "30"])
    lock_path = store._base_path("proj", "ev") + ".lock"
    with open(lock_path, "w") as f:
        f.write(str(holder.pid))
    try:
        with pytest.raises(MaintenanceLockHeld, match="single-writer"):
            store.compact("proj", "ev")
    finally:
        holder.kill()
        holder.wait()
    # the holder is now DEAD: the stale lock breaks and compact runs
    assert store.compact("proj", "ev") == 1
    assert not os.path.exists(lock_path)  # released after the rewrite
    # re-entrancy: nested lock acquisition in one process is fine
    with store.maintenance_lock("proj", "ev"):
        with store.maintenance_lock("proj", "ev"):
            assert os.path.exists(lock_path)
        assert os.path.exists(lock_path)  # inner exit keeps it held
    assert not os.path.exists(lock_path)


def test_table_stats_per_month(spark, warehouse):
    ms = Metastore(warehouse)
    collector = EventCollector(spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()]))
    for i in range(4):
        month = "2024-01" if i < 3 else "2024-02"
        collector.collect("proj", "ev", {"x": i, "_time": f"{month}-0{i + 1} 09:00:00"})
    stats = {r["month"]: r for r in collector.store.table_stats("proj", "ev").collect()}
    assert set(stats) == {"2024-01", "2024-02"}
    assert stats["2024-01"]["n_rows"] == 3 and stats["2024-02"]["n_rows"] == 1
    assert stats["2024-01"]["n_files"] >= 3  # one file per single-event append
    assert stats["2024-01"]["bytes"] > 0
    assert stats["2024-01"]["min_time"].day == 1 and stats["2024-01"]["max_time"].day == 3
    # empty collection: empty frame, no error
    assert collector.store.table_stats("proj", "nothing").count() == 0
