"""Materialized views (matview.py): create at a pinned snapshot,
metadata-only staleness, incremental refresh through the change feed
for insert-only advances (idempotent via commit-log app versions),
atomic full-replace fallback on base rewrites, SQL addressability as
materialized_<name>.  Reference surface: the 'materialized-view' API
tag (rakam/.../ServiceStarter.java:201); the incremental-append
refresh contract mirrors the reference's warehouse editions."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rakam_api_spark.api import EventCollector
from rakam_api_spark.catalog import Metastore
from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper
from rakam_api_spark.matview import MaterializedViewService
from rakam_api_spark.query_service import QueryService


@pytest.fixture()
def env(spark, warehouse):
    ms = Metastore(warehouse)
    collector = EventCollector(
        spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()])
    )
    store = collector.store
    collector.batch(  # v1: one commit of eight rows
        "proj",
        [
            {
                "collection": "ev",
                "properties": {"uid": f"u{i}", "x": i, "_time": "2024-01-05 09:00:00"},
            }
            for i in range(8)
        ],
    )
    return collector, store, MaterializedViewService(spark, store)


VIEW_SQL = "SELECT uid, x, x * 2 AS x2 FROM ev WHERE x % 2 = 0"


def _rows(df):
    return sorted((r["uid"], r["x"], r["x2"]) for r in df.collect())


def test_create_refresh_incremental_and_noop(spark, env):
    collector, store, mv = env
    info = mv.create("proj", "evens", VIEW_SQL)
    assert info["incremental_capable"] is True
    base = _rows(mv.table("proj", "evens"))
    assert base == sorted((f"u{i}", float(i), float(i * 2)) for i in range(0, 8, 2))

    # no base change -> metadata-only noop
    assert mv.refresh("proj", "evens")["mode"] == "noop"
    assert mv.staleness("proj", "evens") == {"ev": 0}

    # insert-only advance -> incremental refresh via the change feed
    for i in range(8, 12):
        collector.collect(
            "proj", "ev", {"uid": f"u{i}", "x": i, "_time": "2024-02-05 09:00:00"}
        )
    assert mv.staleness("proj", "evens") == {"ev": 4}
    res = mv.refresh("proj", "evens")
    assert res["mode"] == "incremental"
    assert _rows(mv.table("proj", "evens")) == sorted(
        (f"u{i}", float(i), float(i * 2)) for i in range(0, 12, 2)
    )

    # idempotent replay: a second refresh at the same versions no-ops,
    # and a forced replay of the same increment cannot double-apply
    # (commit-log app versions)
    assert mv.refresh("proj", "evens")["mode"] == "noop"
    view = mv._table("proj", "evens")
    ver = view.version()
    feed = store.changes("proj", "ev", 1)
    out = feed.drop("_change_type", "_commit_version").where("x % 2 = 0")
    assert (
        view.append(
            out.selectExpr("uid", "x", "x * 2 AS x2"),
            app="matview:evens",
            app_version=store.txn_table("proj", "ev").version(),
        )
        is None
    )
    assert view.version() == ver


def test_refresh_full_on_base_rewrite(spark, env):
    collector, store, mv = env
    mv.create("proj", "evens", VIEW_SQL)
    # rewrite rows in the base -> increment is not insert-only
    txn = store.txn_table("proj", "ev")
    snap = txn.read()
    upd = snap.where("uid = 'u2'").withColumn("x", snap["x"] * 0 + 100)
    txn.merge(upd, key="uid", partition_col="_month")
    res = mv.refresh("proj", "evens")
    assert res["mode"] == "full"
    rows = _rows(mv.table("proj", "evens"))
    assert ("u2", 100.0, 200.0) in rows and ("u2", 2.0, 4.0) not in rows
    # the full refresh was ONE atomic replace commit
    hist = [r["op"] for r in mv._table("proj", "evens").history()]
    assert hist[-1] == "merge"


def test_matview_queryable_from_sql(spark, env):
    collector, store, mv = env
    mv.create("proj", "evens", VIEW_SQL)
    svc = QueryService(spark, store)
    res = svc.execute(
        "proj",
        "SELECT COUNT(*) AS n, SUM(x2) AS s FROM materialized_evens",
    )
    assert res.error is None
    assert res.result == [[4, float(sum(i * 2 for i in range(0, 8, 2)))]]
    # cache invalidation: a refresh bumps the dependency signature
    sig1 = svc._dep_signature("proj")
    collector.collect(
        "proj", "ev", {"uid": "u99", "x": 20, "_time": "2024-03-05 09:00:00"}
    )
    mv.refresh("proj", "evens")
    assert svc._dep_signature("proj") != sig1


def test_create_validation(spark, env):
    collector, store, mv = env
    with pytest.raises(ValueError, match="read statements"):
        mv.create("proj", "bad", "DROP TABLE ev")
    with pytest.raises(ValueError, match="unknown collection"):
        mv.create("proj", "bad", "SELECT 1 FROM nope")
    with pytest.raises(ValueError, match="invalid view name"):
        mv.create("proj", "1bad", VIEW_SQL)
    with pytest.raises(ValueError, match="table_changes"):
        mv.create("proj", "bad", "SELECT * FROM table_changes('ev', 1)")
    mv.create("proj", "ok", "SELECT uid FROM ev")
    with pytest.raises(ValueError, match="exists"):
        mv.create("proj", "ok", "SELECT uid FROM ev")
    assert mv.list("proj") == ["ok"]
    mv.drop("proj", "ok")
    assert mv.list("proj") == []
    with pytest.raises(ValueError, match="no materialized view"):
        mv.table("proj", "ok")


def test_replace_is_atomic_and_cdf_visible(spark, env):
    collector, store, mv = env
    txn = store.txn_table("proj", "ev")
    v0 = txn.version()
    new = spark.createDataFrame(
        [("w1", 1, "2024-01-05 09:00:00")], "uid string, x long, _time string"
    )
    # layout guard: a partitioned table refuses an unpartitioned swap
    new_full = txn.read().limit(1)
    with pytest.raises(ValueError, match="partitioned"):
        txn.replace(new_full)
    txn.replace(new_full, partition_col="_month")
    assert txn.version() == v0 + 1
    assert txn.read().count() == 1
    types = {
        r["_change_type"] for r in txn.changes(v0, v0 + 1).collect()
    }
    assert types == {"merge_upsert", "merge_preimage"}


def test_maintenance_planner_schedules_matview_refresh(spark, env):
    collector, store, mv = env
    mv.create("proj", "evens", VIEW_SQL)
    # fresh view: nothing planned for it
    plan0 = [
        p for p in store.maintenance_plan("proj")
        if p["action"] == "matview_refresh"
    ]
    assert plan0 == []
    collector.collect(
        "proj", "ev", {"uid": "u50", "x": 50, "_time": "2024-03-05 09:00:00"}
    )
    plan = [
        p for p in store.maintenance_plan("proj")
        if p["action"] == "matview_refresh"
    ]
    assert len(plan) == 1 and plan[0]["view"] == "evens"
    assert "ev +1" in plan[0]["reason"]
    done = store.run_maintenance("proj", plan=plan)
    assert done[0]["outcome"] == "refreshed (incremental)"
    assert mv.staleness("proj", "evens") == {"ev": 0}
    assert ("u50", 50.0, 100.0) in _rows(mv.table("proj", "evens"))


AGG_SQL = "SELECT uid, COUNT(*) AS n, SUM(x) AS sx FROM ev GROUP BY uid"


def test_unknown_commit_op_never_incremental(spark, env):
    """An unrecognized commit op may have changed data: the refresh
    must fall back to a full recompute (fail-safe), never report
    mode='incremental' past it (VERDICT r14 wrong #1; mirrors
    streaming/txnsource.py's whitelist — a stream raises because it
    cannot fall back, a refresh can)."""
    collector, store, mv = env
    mv.create("proj", "evens", VIEW_SQL)
    collector.collect(
        "proj", "ev", {"uid": "u8", "x": 8, "_time": "2024-02-05 09:00:00"}
    )
    txn = store.txn_table("proj", "ev")
    txn.commit(op="frobnicate")  # synthetic future data-changing op
    res = mv.refresh("proj", "evens")
    assert res["mode"] == "full"
    assert ("u8", 8.0, 16.0) in _rows(mv.table("proj", "evens"))
    # known content-preserving ops stay incremental
    collector.collect(
        "proj", "ev", {"uid": "u10", "x": 10, "_time": "2024-02-05 09:00:00"}
    )
    txn.commit(op="rebloom")
    assert mv.refresh("proj", "evens")["mode"] == "incremental"


def test_create_crash_idempotent(spark, env):
    """A crash between the initial materialization and the meta write
    leaves an orphaned <name>.txn directory; re-running create must
    not append a second full copy beside it (ADVICE r14 low)."""
    collector, store, mv = env
    mv.create("proj", "evens", VIEW_SQL)
    n = mv.table("proj", "evens").count()
    # simulate the crash: meta gone, data directory left behind
    os.remove(mv._meta_path("proj", "evens"))
    mv.create("proj", "evens", VIEW_SQL)
    assert mv.table("proj", "evens").count() == n


def test_refresh_crash_cannot_double_apply_after_advance(spark, env):
    """ADVICE r14 medium: crash AFTER the incremental data append but
    BEFORE the meta write, then the base advances further.  The next
    refresh must clamp the feed start to the view's applied
    high-water mark — replaying the already-applied slice under the
    newer app_version would double-apply it."""
    collector, store, mv = env
    mv.create("proj", "evens", VIEW_SQL)
    txn = store.txn_table("proj", "ev")
    # increment A lands (versions advance)
    collector.collect(
        "proj", "ev", {"uid": "u12", "x": 12, "_time": "2024-02-05 09:00:00"}
    )
    cur = txn.version()
    # simulate refresh crashing between append and meta write: apply
    # the increment exactly as refresh would, leave meta stale
    feed = store.changes("proj", "ev", mv._meta("proj", "evens")["bases"]["ev"], cur)
    out = mv._run_over(
        VIEW_SQL, {"ev": feed.drop("_change_type", "_commit_version")}
    )
    mv._table("proj", "evens").append(
        out, app="matview:evens", app_version=cur
    )
    # the base advances AGAIN before the next refresh
    collector.collect(
        "proj", "ev", {"uid": "u14", "x": 14, "_time": "2024-02-05 09:00:00"}
    )
    res = mv.refresh("proj", "evens")
    assert res["mode"] == "incremental"
    rows = _rows(mv.table("proj", "evens"))
    assert rows.count(("u12", 12.0, 24.0)) == 1  # never doubled
    assert rows.count(("u14", 14.0, 28.0)) == 1
    # and a crash with NO further advance: refresh just repairs meta
    collector.collect(
        "proj", "ev", {"uid": "u16", "x": 16, "_time": "2024-02-05 09:00:00"}
    )
    cur2 = txn.version()
    feed2 = store.changes(
        "proj", "ev", mv._meta("proj", "evens")["bases"]["ev"], cur2
    )
    out2 = mv._run_over(
        VIEW_SQL, {"ev": feed2.drop("_change_type", "_commit_version")}
    )
    mv._table("proj", "evens").append(
        out2, app="matview:evens", app_version=cur2
    )
    res2 = mv.refresh("proj", "evens")
    assert res2["mode"] == "incremental"
    assert _rows(mv.table("proj", "evens")).count(("u16", 16.0, 32.0)) == 1


def test_cells_grain_direct_sql_read(spark, env):
    """VERDICT r14 missing #1 / Next #3: a sum/count GROUP BY view is
    'cells' grain — the SQL alias serves the RE-AGGREGATED merge, so
    a direct reader between refreshes never sees the incremental
    path's partial cells, and the result surfaces per-view staleness
    + grain in the QueryResult properties."""
    collector, store, mv = env
    info = mv.create("proj", "stats", AGG_SQL)
    assert info["consumption"]["grain"] == "cells"
    assert info["incremental_capable"] is True
    # two more insert-only refresh cycles -> partial cells per uid
    for i, uid in ((20, "u0"), (21, "u1")):
        collector.collect(
            "proj", "ev", {"uid": uid, "x": i, "_time": "2024-02-05 09:00:00"}
        )
        assert mv.refresh("proj", "stats")["mode"] == "incremental"
    raw = mv.raw_table("proj", "stats")
    assert raw.count() > 8  # partial cells really did accumulate
    svc = QueryService(spark, store)
    res = svc.execute(
        "proj",
        "SELECT uid, n, sx FROM materialized_stats WHERE uid IN ('u0','u1') "
        "ORDER BY uid",
    )
    assert res.error is None
    assert res.result == [["u0", 2, 20.0], ["u1", 2, 22.0]]
    props = res.properties["materializedViews"]
    assert props["stats"] == {"staleness": {"ev": 0}, "grain": "cells"}
    # statements that never touch the view carry no matview property
    res2 = svc.execute("proj", "SELECT COUNT(*) AS n FROM ev")
    assert "materializedViews" not in res2.properties


def test_opaque_grain_is_full_refresh_only(spark, env):
    """An aggregate with no sound cell-merge (AVG) must never append
    partial cells: the view is full-refresh-only, so direct reads
    always see a complete snapshot."""
    collector, store, mv = env
    info = mv.create(
        "proj", "avgs", "SELECT uid, AVG(x) AS ax FROM ev GROUP BY uid"
    )
    assert info["consumption"]["grain"] == "opaque"
    assert info["incremental_capable"] is False
    collector.collect(
        "proj", "ev", {"uid": "u0", "x": 100, "_time": "2024-02-05 09:00:00"}
    )
    assert mv.refresh("proj", "avgs")["mode"] == "full"
    rows = {r["uid"]: r["ax"] for r in mv.table("proj", "avgs").collect()}
    assert rows["u0"] == 50.0  # (0 + 100) / 2 — a complete recompute


def test_consumption_spec_classification(spark, env):
    """Grain classifier over analyzed plans: conservative — anything
    outside the trusted sum/count/min/max single-GROUP-BY shape
    degrades to 'opaque' (fail-safe), pure row transforms are
    'rows'."""
    from rakam_api_spark.matview import consumption_spec

    collector, store, mv = env
    store.read("proj", "ev").createOrReplaceTempView("ev_t")
    try:
        def spec(sql):
            return consumption_spec(spark.sql(sql))

        assert spec("SELECT uid, x * 2 AS x2 FROM ev_t")["grain"] == "rows"
        s = spec(
            "SELECT uid, COUNT(*) AS n, SUM(x) AS sx, MIN(x) AS mn, "
            "MAX(x) AS mx FROM ev_t GROUP BY uid"
        )
        assert s["grain"] == "cells"
        assert s["keys"] == ["uid"]
        assert s["aggs"] == {"n": "count", "sx": "sum", "mn": "min", "mx": "max"}
        # global aggregate: cells with no keys
        g = spec("SELECT COUNT(*) AS n FROM ev_t")
        assert g["grain"] == "cells" and g["keys"] == []
        # expression GROUP BY key aliased in the output still matches
        e = spec(
            "SELECT substr(uid, 1, 1) AS u1, COUNT(*) AS n FROM ev_t "
            "GROUP BY substr(uid, 1, 1)"
        )
        assert e["grain"] == "cells" and e["keys"] == ["u1"]
        # the opaque fence
        assert spec("SELECT uid, AVG(x) AS a FROM ev_t GROUP BY uid")["grain"] == "opaque"
        assert spec("SELECT uid, COUNT(DISTINCT x) AS u FROM ev_t GROUP BY uid")["grain"] == "opaque"
        assert spec("SELECT DISTINCT uid FROM ev_t")["grain"] == "opaque"
        assert spec("SELECT SUM(x) + COUNT(*) AS s FROM ev_t")["grain"] == "opaque"
        # grouping key absent from the output: cells indistinguishable
        assert spec("SELECT SUM(x) AS s FROM ev_t GROUP BY uid")["grain"] == "opaque"
        # nested aggregate below the root
        assert spec(
            "SELECT n, COUNT(*) AS c FROM "
            "(SELECT uid, COUNT(*) AS n FROM ev_t GROUP BY uid) GROUP BY n"
        )["grain"] == "opaque"
        # ORDER BY on top of a decomposable aggregate stays cells
        assert spec(
            "SELECT uid, SUM(x) AS sx FROM ev_t GROUP BY uid ORDER BY uid"
        )["grain"] == "cells"
    finally:
        spark.catalog.dropTempView("ev_t")


def test_cells_compaction(spark, env):
    """Cell compaction: after several incremental refreshes a cells-
    grain view holds one partial generation per refresh; compact()
    merges them to ONE cell per key in a single atomic replace, the
    consumption view is unchanged, and a later incremental refresh
    keeps working (the commit log preserves the applied high-water
    mark across the replace)."""
    collector, store, mv = env
    mv.create("proj", "stats", AGG_SQL)
    for i in range(30, 34):
        collector.collect(
            "proj", "ev", {"uid": f"u{i % 2}", "x": i, "_time": "2024-02-05 09:00:00"}
        )
        assert mv.refresh("proj", "stats")["mode"] == "incremental"
    assert mv.fragmentation("proj", "stats") == 4
    before = sorted(map(tuple, mv.table("proj", "stats").collect()))
    n_keys = len(before)
    assert mv.raw_table("proj", "stats").count() > n_keys  # partials
    res = mv.compact("proj", "stats")
    assert res["mode"] == "compacted"
    assert mv.fragmentation("proj", "stats") == 0
    assert mv.raw_table("proj", "stats").count() == n_keys  # one cell/key
    assert sorted(map(tuple, mv.table("proj", "stats").collect())) == before
    # refresh still incremental after the replace
    collector.collect(
        "proj", "ev", {"uid": "u0", "x": 40, "_time": "2024-02-05 09:00:00"}
    )
    assert mv.refresh("proj", "stats")["mode"] == "incremental"
    assert mv.fragmentation("proj", "stats") == 1
    rows = {r["uid"]: (r["n"], r["sx"]) for r in mv.table("proj", "stats").collect()}
    assert rows["u0"] == (4, 102.0)  # x = 0, 30, 32, 40
    # only cells views compact
    mv.create("proj", "rowsview", VIEW_SQL)
    with pytest.raises(ValueError, match="cells-grain"):
        mv.compact("proj", "rowsview")


def test_maintenance_planner_schedules_matview_compaction(spark, env):
    collector, store, mv = env
    mv.create("proj", "stats", AGG_SQL)
    for i in range(50, 50 + store.MATVIEW_COMPACT_FRAGMENTS):
        collector.collect(
            "proj", "ev", {"uid": "u0", "x": i, "_time": "2024-03-05 09:00:00"}
        )
        assert mv.refresh("proj", "stats")["mode"] == "incremental"
    plan = [
        p for p in store.maintenance_plan("proj")
        if p["action"] == "matview_compact"
    ]
    assert len(plan) == 1 and plan[0]["view"] == "stats"
    assert "partial-cell generations" in plan[0]["reason"]
    done = store.run_maintenance("proj", plan=plan)
    assert done[0]["outcome"] == "partial cells compacted (atomic replace)"
    assert mv.fragmentation("proj", "stats") == 0
    # below threshold: nothing planned
    plan2 = [
        p for p in store.maintenance_plan("proj")
        if p["action"] == "matview_compact"
    ]
    assert plan2 == []


def test_full_refresh_crash_cannot_double_apply(spark, env):
    """ADVICE r15 medium: the FULL-refresh replace must record the
    matview app transaction.  Crash between the replace commit and
    the meta write, then the base advances: the next incremental
    refresh clamps to the replace's high-water mark — without the
    tag it clamps to the stale pre-replace mark and re-appends rows
    the replaced snapshot already contains."""
    collector, store, mv = env
    mv.create("proj", "evens", VIEW_SQL)
    txn = store.txn_table("proj", "ev")
    collector.collect(
        "proj", "ev", {"uid": "u12", "x": 12, "_time": "2024-02-05 09:00:00"}
    )
    cur = txn.version()
    # simulate a full refresh crashing between replace and meta write
    out = mv._run_over(VIEW_SQL, {"ev": txn.read(version=cur)})
    mv._table("proj", "evens").replace(
        out, app="matview:evens", app_version=cur
    )
    # the base advances again before the next refresh
    collector.collect(
        "proj", "ev", {"uid": "u14", "x": 14, "_time": "2024-02-05 09:00:00"}
    )
    res = mv.refresh("proj", "evens")
    assert res["mode"] == "incremental"
    rows = _rows(mv.table("proj", "evens"))
    assert rows.count(("u12", 12.0, 24.0)) == 1  # never doubled
    assert rows.count(("u14", 14.0, 28.0)) == 1


def test_self_join_view_not_incremental(spark, env):
    """ADVICE r15 medium: a single-base view whose SQL scans the base
    MORE THAN ONCE (self-join) must not be incremental_capable —
    binding the increment to every occurrence yields only new×new
    pairs and silently drops new×old results."""
    collector, store, mv = env
    info = mv.create(
        "proj",
        "selfjoin",
        "SELECT a.uid, COUNT(*) AS n FROM ev a JOIN ev b ON a.uid = b.uid "
        "GROUP BY a.uid",
    )
    assert info["incremental_capable"] is False
    collector.collect(
        "proj", "ev", {"uid": "u0", "x": 99, "_time": "2024-02-05 09:00:00"}
    )
    res = mv.refresh("proj", "selfjoin")
    assert res["mode"] == "full"
    # full refresh stays correct: u0 now appears twice -> 2x2 pairs
    rows = {r["uid"]: r["n"] for r in mv.table("proj", "selfjoin").collect()}
    assert rows["u0"] == 4


def test_compact_pinned_snapshot_keeps_concurrent_append(spark, env):
    """ADVICE r15 low: compact stages the merged frame from a PINNED
    snapshot and removes exactly that snapshot's files — an
    incremental append landing in the window stays live beside the
    compacted cells instead of being silently retired."""
    collector, store, mv = env
    mv.create("proj", "stats", AGG_SQL)
    txn = store.txn_table("proj", "ev")
    for i in (60, 61):
        collector.collect(
            "proj", "ev", {"uid": "u0", "x": i, "_time": "2024-03-05 09:00:00"}
        )
        assert mv.refresh("proj", "stats")["mode"] == "incremental"
    meta = mv._meta("proj", "stats")
    t = mv._table("proj", "stats")
    # replay compact's body with an increment injected into the window
    v0 = t.version()
    files0 = t.live_files(version=v0)
    merged = mv._consume(meta, t.read(version=v0, files=files0))
    collector.collect(
        "proj", "ev", {"uid": "u1", "x": 70, "_time": "2024-03-05 09:00:00"}
    )
    assert mv.refresh("proj", "stats")["mode"] == "incremental"  # the window append
    expect = sorted(map(tuple, mv.table("proj", "stats").collect()))
    t.replace(merged, remove_files=files0)
    assert sorted(map(tuple, mv.table("proj", "stats").collect())) == expect
    rows = {r["uid"]: (r["n"], r["sx"]) for r in mv.table("proj", "stats").collect()}
    assert rows["u1"][0] >= 2  # the concurrent increment survived


def test_multibase_full_refresh_applies_when_non_max_base_advances(spark, env):
    """ADVICE r16 (high): a multi-base view's full refresh must not be
    app-tagged with max(base versions) — when only a base whose
    version is below the max advances, the tag is unchanged and
    commit()'s idempotence check would silently skip the replace while
    meta still records the new versions (stale data, then noops)."""
    collector, store, mv = env
    # second base with a much LOWER version than ev's
    collector.batch(
        "proj",
        [
            {"collection": "dim", "properties": {"uid": u, "grp": "a", "_time": "2024-01-05 09:00:00"}}
            for u in ("u0", "u1")
        ],
    )
    mv.create(
        "proj",
        "joined",
        "SELECT e.uid, d.grp FROM ev e JOIN dim d ON e.uid = d.uid",
    )
    # refresh #1: only the low-version base advances -> full replace
    collector.collect("proj", "dim", {"uid": "u2", "grp": "b", "_time": "2024-01-06 09:00:00"})
    assert mv.refresh("proj", "joined")["mode"] == "full"
    # refresh #2: the low-version base advances AGAIN; max(versions) is
    # still ev's untouched version — the replace must still land
    collector.collect("proj", "dim", {"uid": "u3", "grp": "c", "_time": "2024-01-07 09:00:00"})
    assert mv.refresh("proj", "joined")["mode"] == "full"
    rows = sorted((r["uid"], r["grp"]) for r in mv.table("proj", "joined").collect())
    assert ("u3", "c") in rows and ("u2", "b") in rows
    # and the metadata agrees with the content (no silent stale serve)
    assert mv.refresh("proj", "joined")["mode"] == "noop"
