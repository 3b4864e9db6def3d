import sys
import uuid

import pytest

sys.path.insert(0, "/root/repo")

from rakam_api_spark.session import get_spark

# Long-running integration tests (>= 5s each measured solo on 8 cores,
# full r17 durations run: 451 passed in 29m28s).  They are collected
# but deselected by the default lane (pytest.ini addopts = -m "not
# slow") so a plain `pytest tests/ -x -q` finishes in ~8-10 min; run
# them with `pytest tests/ -m slow` or everything with `-m ""`.
# Centralized here (rather than per-test decorators) so the list is
# auditable against the measured durations in one place.  Entries are
# nodeids relative to tests/, parametrized ids without the [param]
# suffix.
_SLOW = {
    "test_avro.py::test_bulk_ingest_from_avro",
    "test_avro.py::test_roundtrip_distributed",
    "test_curation.py::test_connected_components_caps_lineage_on_chain_graph",
    "test_curation.py::test_connected_components_transitivity",
    "test_dedup_index.py::TestMinHashIndex::test_append_then_probe",
    "test_dedup_index.py::TestMinHashIndex::test_exact_verify_path",
    "test_index_maintenance.py::test_index_over_txn_base_ignores_retired_files",
    "test_index_maintenance.py::test_index_refresh_respects_writer_lock",
    "test_index_maintenance.py::test_stale_bm25_index_surfaces_and_heals",
    "test_index_maintenance.py::test_stale_ivf_index_surfaces_heals_and_compacts",
    "test_index_maintenance.py::test_stale_minhash_index_surfaces_and_heals",
    "test_matview.py::test_cells_compaction",
    "test_matview.py::test_cells_grain_direct_sql_read",
    "test_matview.py::test_compact_pinned_snapshot_keeps_concurrent_append",
    "test_matview.py::test_consumption_spec_classification",
    "test_matview.py::test_create_crash_idempotent",
    "test_matview.py::test_create_refresh_incremental_and_noop",
    "test_matview.py::test_create_validation",
    "test_matview.py::test_full_refresh_crash_cannot_double_apply",
    "test_matview.py::test_maintenance_planner_schedules_matview_compaction",
    "test_matview.py::test_maintenance_planner_schedules_matview_refresh",
    "test_matview.py::test_matview_queryable_from_sql",
    "test_matview.py::test_multibase_full_refresh_applies_when_non_max_base_advances",
    "test_matview.py::test_opaque_grain_is_full_refresh_only",
    "test_matview.py::test_refresh_crash_cannot_double_apply_after_advance",
    "test_matview.py::test_refresh_full_on_base_rewrite",
    "test_matview.py::test_replace_is_atomic_and_cdf_visible",
    "test_matview.py::test_self_join_view_not_incremental",
    "test_matview.py::test_unknown_commit_op_never_incremental",
    "test_oracle_type_hygiene.py::test_every_oracle_emits_spark_compatible_types",
    "test_plan_hygiene.py::test_every_query_plans_without_unpartitioned_window",
    "test_property_ingest.py::test_inferred_type_always_coerces",
    "test_query_service.py::test_aliased_subquery_never_prunes_on_real_column",
    "test_query_service.py::test_cached_hit_returns_private_copies_and_true_lru",
    "test_query_service.py::test_concurrent_queries_do_not_serialize",
    "test_query_service.py::test_cross_type_predicates_never_misprune",
    "test_query_service.py::test_date_and_timestamp_literals_prune",
    "test_query_service.py::test_execute_as_of_timestamp",
    "test_query_service.py::test_export_and_explain_at_version",
    "test_query_service.py::test_in_list_and_range_predicates_prune_files",
    "test_query_service.py::test_point_lookup_sql_prunes_files_from_blooms",
    "test_query_service.py::test_pruned_vs_unpruned_equivalence_property",
    "test_query_service.py::test_pruning_handles_cte_and_subquery_shapes",
    "test_query_service.py::test_result_cache_hit_ttl_and_txn_invalidation",
    "test_query_service.py::test_table_changes_tvf_reads_feed",
    "test_query_service.py::test_table_changes_tvf_timestamp_form",
    "test_query_service.py::test_table_changes_tvf_validation",
    "test_query_service.py::test_table_history_tvf",
    "test_query_service.py::test_table_history_zero_not_aliased_to_unbounded",
    "test_query_service.py::test_time_travel_reads_the_requested_snapshot",
    "test_query_service.py::test_timestamp_pruning_refused_under_non_utc_session",
    "test_search_index.py::TestSearchIndex::test_append_updates_results_and_stats",
    "test_search_index.py::TestTornAppendDetection::test_orphan_postings_detected_deep",
    "test_search_index.py::TestTornAppendDetection::test_repair_restores_scan_identical_scores",
    "test_store_txn.py::test_enable_txn_migrates_and_routes_lifecycle",
    "test_store_txn.py::test_erase_user_on_txn_collection",
    "test_store_txn.py::test_store_export_manifest_external_read",
    "test_txn_bloom.py::test_maintenance_plans_and_runs_rebloom",
    "test_txn_bloom.py::test_store_point_lookup_via_equals",
    "test_txn_checkpoint.py::test_rank_zorder_survives_skew_where_uniform_collapses",
    "test_users.py::test_identity_propagation_caps_lineage_on_chain_graph",
    "test_users.py::test_transitive_identity_stitching",
}


def pytest_collection_modifyitems(config, items):
    ids = {item.nodeid.split("[", 1)[0].removeprefix("tests/") for item in items}
    # a file named with ``::`` on the command line is collected only in
    # part, so its other entries cannot be checked
    partial = {a.split("::", 1)[0].rsplit("/", 1)[-1] for a in config.args if "::" in a}
    checked = {i.split("::", 1)[0] for i in ids} - partial
    stale = sorted(e for e in _SLOW if e not in ids and e.split("::", 1)[0] in checked)
    if stale:
        raise pytest.UsageError(
            "tests/conftest.py _SLOW names tests that were not collected "
            f"(renamed, removed or mistyped): {stale}"
        )
    for item in items:
        nodeid = item.nodeid.split("[", 1)[0]
        if nodeid.removeprefix("tests/") in _SLOW:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rakam-api-spark-tests", cpus=8)
    yield s


@pytest.fixture()
def jobs_during(spark):
    """probe(fn) -> (fn(), ids of the Spark jobs fn submitted from this
    thread)."""
    sc = spark.sparkContext

    def probe(fn):
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return probe


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")
