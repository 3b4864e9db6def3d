"""CHECK constraints and TIMESTAMP AS OF on the txn log — the two
remaining Delta-parity surfaces: write-time row validation
(ConstraintViolation before any file lands; NULL passes, FALSE
rejects — SQL CHECK semantics) and wall-clock snapshot resolution
(version_at binary search over commit-recorded times, O(log commits)
metadata opens)."""

import time

import pytest

from rakam_api_spark.txnlog import ConstraintViolation, TxnTable


def _rows(spark, vals, month="2024-01"):
    return spark.createDataFrame(
        [(i, v, month) for i, v in enumerate(vals)],
        "x long, amount double, _month string",
    )


def test_check_constraints_gate_appends_and_merges(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_rows(spark, [1.0, 2.0]), partition_col="_month")
    t.add_constraint("positive_amount", "amount > 0")
    assert t.constraints() == {"positive_amount": "amount > 0"}
    # conforming append passes; NULL passes (SQL CHECK semantics)
    t.append(_rows(spark, [3.0, None]), partition_col="_month")
    # violating append rejected BEFORE any file lands
    before = t.version()
    files_before = set(t.live_files())
    with pytest.raises(ConstraintViolation, match="positive_amount"):
        t.append(_rows(spark, [4.0, -1.0]), partition_col="_month")
    assert t.version() == before and set(t.live_files()) == files_before
    # merge runs the same gate
    bad = spark.createDataFrame(
        [(0, -5.0, "2024-01")], "x long, amount double, _month string"
    )
    with pytest.raises(ConstraintViolation):
        t.merge(bad, key="x", partition_col="_month")
    # registration validates EXISTING data: can't add a constraint the
    # table already violates
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("small", "amount < 2")
    # drop ends enforcement
    t.drop_constraint("positive_amount")
    assert t.constraints() == {}
    t.append(_rows(spark, [-9.0]), partition_col="_month")


def test_constraints_are_versioned_and_survive_checkpoints(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"), checkpoint_every=2)
    t.append(_rows(spark, [1.0]), partition_col="_month")
    v_before = t.version()
    t.add_constraint("pos", "amount > 0")
    # time travel sees the constraint set active at each snapshot
    assert t.constraints(version=v_before) == {}
    assert t.constraints() == {"pos": "amount > 0"}
    # push past several checkpoints; the constraint rides them
    for i in range(6):
        t.append(_rows(spark, [float(i + 1)]), partition_col="_month")
    assert t._checkpoint_versions()
    assert t.constraints() == {"pos": "amount > 0"}
    with pytest.raises(ConstraintViolation):
        t.append(_rows(spark, [-1.0]), partition_col="_month")


def test_timestamp_as_of_resolves_versions(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    before_any = time.time()
    time.sleep(0.02)
    t.append(_rows(spark, [1.0]), partition_col="_month")
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    t.append(_rows(spark, [2.0]), partition_col="_month")
    time.sleep(0.02)
    after_all = time.time()

    assert t.version_at(before_any) == 0
    assert t.version_at(mid) == 1
    assert t.version_at(after_all) == 2
    assert t.read(version=t.version_at(mid)).count() == 1


def test_store_timestamp_travel(spark, warehouse):
    from rakam_api_spark.api import EventCollector
    from rakam_api_spark.catalog import Metastore
    from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper

    ms = Metastore(warehouse)
    collector = EventCollector(
        spark, ms, pipeline=EnrichmentPipeline([TimestampMapper()])
    )
    collector.collect("proj", "ev", {"x": 1, "_time": "2024-01-05 09:00:00"})
    store = collector.store
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    collector.collect("proj", "ev", {"x": 2, "_time": "2024-02-05 09:00:00"})
    assert store.read("proj", "ev", timestamp=mid).count() == 1
    assert store.read("proj", "ev", timestamp=time.time()).count() == 2
    with pytest.raises(ValueError, match="not both"):
        store.read("proj", "ev", version=1, timestamp=mid)


def test_concurrent_add_constraint_conflicts_with_inflight_append(
    spark, tmp_path
):
    """ADVICE r10: an append that validated BEFORE a concurrent
    add_constraint landed must NOT commit unvalidated — commit()
    re-reads the active constraint set at claim time and raises
    CommitConflict, so a committed snapshot can never violate an
    active constraint.  A retried append then revalidates (and here
    fails loudly, because the rows really do violate the new rule)."""
    from rakam_api_spark.txnlog import CommitConflict

    path = str(tmp_path / "t")
    t = TxnTable(spark, path)
    t.append(_rows(spark, [1.0, 2.0]), partition_col="_month")

    orig = t._check_constraints
    fired = {}

    def race(df):
        orig(df)  # validation against the OLD (empty) constraint set
        if not fired:
            fired["x"] = True
            TxnTable(spark, path).add_constraint("pos", "amount > 0")

    t._check_constraints = race
    bad = _rows(spark, [-5.0])
    with pytest.raises(CommitConflict, match="constraints changed"):
        t.append(bad, partition_col="_month")
    # the losing writer's staged files never became visible
    assert t.read().where("amount < 0").count() == 0
    # the honest retry revalidates against the new set and is refused
    t._check_constraints = orig
    with pytest.raises(ConstraintViolation):
        t.append(bad, partition_col="_month")


def test_lost_race_remerges_schema_keeping_both_columns(spark, tmp_path):
    """ADVICE r10: two concurrent column-evolving appends must BOTH
    keep their new column in the tracked schema — the merged schema
    is recomputed against the fresh snapshot inside the commit retry
    loop, not last-writer-wins from a stale pre-computation."""
    path = str(tmp_path / "t")
    t = TxnTable(spark, path)
    t.append(_rows(spark, [1.0]), partition_col="_month")

    sibling_df = spark.createDataFrame(
        [(100, 1.0, "2024-01", "from-b")],
        "x long, amount double, _month string, col_b string",
    )
    orig_publish = t._publish_commit
    lost = {}

    def lose_once(version, payload):
        if not lost:
            lost["x"] = True
            # a sibling writer lands a DIFFERENT evolved column first
            TxnTable(spark, path).append(sibling_df, partition_col="_month")
            return False  # and this writer loses the version race
        return orig_publish(version, payload)

    t._publish_commit = lose_once
    mine = spark.createDataFrame(
        [(200, 2.0, "2024-01", 7)],
        "x long, amount double, _month string, col_a bigint",
    )
    t.append(mine, partition_col="_month")
    names = [n for n, _t in t.table_schema()]
    assert "col_a" in names and "col_b" in names, names
    # and a later append can't redefine the surviving column's type
    from rakam_api_spark.txnlog import SchemaConflict

    redef = spark.createDataFrame(
        [(1, 1.0, "2024-01", "now-a-string")],
        "x long, amount double, _month string, col_a string",
    )
    with pytest.raises(SchemaConflict):
        TxnTable(spark, path).append(redef, partition_col="_month")
