"""Version-aware materialized-rollup staleness (reference M5's
auto-indexer watches base tables and refreshes derived aggregates;
rakam-postgresql/.../PostgresqlModule.java:192-242 wires a listener —
here the planner PROVES staleness instead of listening).

Before this feature ``maintenance_plan`` only flagged months MISSING
from the rollup — an append into an already-rolled month (the common
case: the current month under continuous ingest) never triggered a
refresh and the rollup served stale cells forever.  Now:

- publish records the per-month snapshot VERSION and the planner
  scans the commit log (`months_changed_since`, metadata only) —
  exact, a compaction is never mistaken for a change, and the scan
  stays bounded because ``run_maintenance`` advances
  verified-unchanged months to the scan horizon;
- un-attributable changes (merge/erase commits, a month gone from
  the base) plan a FULL rebuild (months=None).
"""

from rakam_api_spark.api import EventCollector
from rakam_api_spark.catalog import Metastore
from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper


def _collector(spark, warehouse):
    return EventCollector(
        spark, Metastore(warehouse), pipeline=EnrichmentPipeline([TimestampMapper()])
    )


def _collect(collector, month_day: str, value: float = 1.0, et: str = "a"):
    collector.collect(
        "proj",
        "clicks",
        {"event_type": et, "value": value, "_time": f"{month_day} 09:00:00"},
    )


def _rollup_counts(store):
    return {
        r["_month"]: r["n"]
        for r in store.read_rollup("proj", "clicks")
        .groupBy("_month")
        .agg({"n_events": "sum"})
        .withColumnRenamed("sum(n_events)", "n")
        .collect()
    }


def test_txn_append_into_rolled_month_flags_exactly_that_month(spark, warehouse):
    collector = _collector(spark, warehouse)
    _collect(collector, "2024-01-05")
    _collect(collector, "2024-01-06")
    _collect(collector, "2024-02-01")
    store = collector.store
    store.publish_rollup("proj", "clicks", dims=("event_type",))

    # fresh: nothing to do
    assert store.maintenance_plan("proj") == []

    # append into the ALREADY-ROLLED 2024-01
    _collect(collector, "2024-01-07")
    plan = store.maintenance_plan("proj")
    assert [(p["action"], p["months"]) for p in plan] == [
        ("rollup_refresh", ["2024-01"])
    ]
    assert "changed since" in plan[0]["reason"]
    assert plan[0]["verified_to"] == store.txn_table("proj", "clicks").version()

    store.run_maintenance("proj", plan)
    assert _rollup_counts(store) == {"2024-01": 3, "2024-02": 1}
    # healed: idempotent
    assert store.maintenance_plan("proj") == []

    # a compaction rewrites the month's files but not its content: the
    # plan compacts without a refresh, and stays empty afterwards
    plan = store.maintenance_plan("proj", max_files_per_month=2)
    assert [(p["action"], p["months"]) for p in plan] == [("compact", ["2024-01"])]
    store.run_maintenance("proj", plan)
    assert _rollup_counts(store) == {"2024-01": 3, "2024-02": 1}
    assert store.maintenance_plan("proj", max_files_per_month=2) == []


def test_txn_verified_months_advance_to_scan_horizon(spark, warehouse):
    """run_maintenance bumps UNCHANGED months' recorded versions to
    the planner's scan horizon, so the commit-log scan never re-reads
    commits an executed cycle already verified."""
    collector = _collector(spark, warehouse)
    _collect(collector, "2024-01-05")
    _collect(collector, "2024-02-01")
    store = collector.store
    store.publish_rollup("proj", "clicks", dims=("event_type",))

    for d in range(2, 8):  # six appends, all into 2024-02
        _collect(collector, f"2024-02-0{d}")
    plan = store.maintenance_plan("proj")
    [item] = [p for p in plan if p["action"] == "rollup_refresh"]
    assert item["months"] == ["2024-02"]
    store.run_maintenance("proj", plan)

    mv = store.rollup_meta("proj", "clicks")["month_versions"]
    # the untouched month advanced to the scan horizon too — the next
    # scan starts at the horizon, not at the original publish version
    assert min(mv.values()) >= item["verified_to"]
    assert store.maintenance_plan("proj") == []


def test_txn_merge_commit_forces_full_rebuild(spark, warehouse):
    collector = _collector(spark, warehouse)
    _collect(collector, "2024-01-05")
    _collect(collector, "2024-02-01")
    store = collector.store
    store.publish_rollup("proj", "clicks", dims=("event_type",))
    assert store.maintenance_plan("proj") == []

    # an in-place row change (merge/erase class) carries no per-month
    # attribution in the log — the planner must demand a full rebuild
    store.txn_table("proj", "clicks").commit(op="merge")
    plan = store.maintenance_plan("proj")
    [item] = [p for p in plan if p["action"] == "rollup_refresh"]
    assert item["months"] is None
    assert "merge" in item["reason"]

    store.run_maintenance("proj", plan)
    assert _rollup_counts(store) == {"2024-01": 1, "2024-02": 1}
    assert store.maintenance_plan("proj") == []


def test_txn_expire_outside_maintenance_forces_full_rebuild(spark, warehouse):
    """A month expired WITHOUT run_maintenance's rebuild follow-up
    leaves stale cells a partial (dynamic-overwrite) refresh cannot
    clear — the planner detects the gone month and plans a full."""
    collector = _collector(spark, warehouse)
    _collect(collector, "2023-10-05")
    _collect(collector, "2024-01-05")
    store = collector.store
    store.publish_rollup("proj", "clicks", dims=("event_type",))
    assert store.maintenance_plan("proj") == []

    store.expire_months("proj", "clicks", "2024-01")
    plan = store.maintenance_plan("proj")
    [item] = [p for p in plan if p["action"] == "rollup_refresh"]
    assert item["months"] is None
    store.run_maintenance("proj", plan)
    assert _rollup_counts(store) == {"2024-01": 1}
    assert store.maintenance_plan("proj") == []


def test_pre_feature_meta_upgrades_on_first_cycle(spark, warehouse):
    """A rollup published before the bookkeeping existed (meta lacks
    month_versions) is never flagged by the staleness
    check — the next publish records the bookkeeping and the cycle
    converges."""
    collector = _collector(spark, warehouse)
    _collect(collector, "2024-01-05")
    store = collector.store
    store.publish_rollup("proj", "clicks", dims=("event_type",))
    meta = store.rollup_meta("proj", "clicks")
    del meta["month_versions"]  # simulate a pre-feature publish
    store._write_rollup_meta("proj", "clicks", meta)

    assert store.maintenance_plan("proj") == []  # no false positive
    store.publish_rollup("proj", "clicks", dims=("event_type",))
    assert "month_versions" in store.rollup_meta("proj", "clicks")
