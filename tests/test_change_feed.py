"""TxnTable.changes(): the Delta-CDF-style file-grain change feed —
inserts from appends, pre/post images from merges, deletes from
expiry; compaction invisible; vacuumed pre-images skipped."""

import sys

sys.path.insert(0, "/root/repo")

import pytest

from rakam_api_spark.txnlog import TxnTable


@pytest.fixture()
def table(spark, tmp_path):
    return TxnTable(spark, str(tmp_path / "cdf"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_changes_tracks_inserts_merges_deletes(spark, table):
    table.append(_df(spark, [(1, "a"), (2, "b")]))          # v1 insert
    v1 = table.version()
    table.append(_df(spark, [(3, "c")]))                     # v2 insert
    table.compact()                                          # v3 no-op feed
    table.merge(_df(spark, [(2, "B"), (4, "d")]), key="k")   # v4 upsert
    v4 = table.version()

    # full feed from genesis
    feed = table.changes(0).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append((r["k"], r["v"]))
    assert sorted(by_type["insert"]) == [(1, "a"), (2, "b"), (3, "c")]
    # merge post-image carries every row of the rewritten files (the
    # file-grain contract) including the new key 4 and updated 2
    assert (4, "d") in by_type["merge_upsert"]
    assert (2, "B") in by_type["merge_upsert"]
    # pre-image holds the OLD value of the rewritten key
    assert (2, "b") in by_type["merge_preimage"]
    # compaction contributed nothing: no change rows tagged v3
    assert {r["_commit_version"] for r in feed} <= {1, 2, v4}

    # bounded range: only v2's insert
    mid = table.changes(v1, 2).collect()
    assert [(r["k"], r["v"], r["_change_type"]) for r in mid] == [
        (3, "c", "insert")
    ]

    # the feed is consistent with the snapshot delta for inserts:
    # snapshot(v4) keys == feed inserts + merge inserts (dedup by key)
    snap = {(r["k"]) for r in table.read(version=v4).collect()}
    assert snap == {1, 2, 3, 4}


def test_changes_expire_emits_deletes_and_vacuum_degrades(spark, table):
    table.append(
        _df(spark, [(1, "a")]), partition_col=None
    )
    table.append(_df(spark, [(2, "b")]))
    # expire everything via a remove commit
    victims = table.live_files()
    table.commit(remove=victims, op="expire")
    feed = table.changes(0).collect()
    deletes = [(r["k"], r["v"]) for r in feed if r["_change_type"] == "delete"]
    assert sorted(deletes) == [(1, "a"), (2, "b")]

    # vacuum the removed files off disk: deletes degrade away, the
    # inserts (whose files are gone too) vanish as well — the feed
    # never errors on missing history
    table.vacuum(retain_versions=0, min_age_seconds=0)
    feed2 = table.changes(0)
    assert feed2.count() == 0
    assert set(feed2.columns) >= {"_change_type", "_commit_version"}


def test_changes_empty_range_and_validation(spark, table):
    table.append(_df(spark, [(1, "a")]))
    v = table.version()
    assert table.changes(v).count() == 0  # nothing after v
    with pytest.raises(ValueError):
        table.changes(v + 5)
    with pytest.raises(ValueError):
        table.changes(-1)


def test_store_level_change_feed(spark, warehouse):
    from rakam_api_spark.api import EventCollector
    from rakam_api_spark.catalog import Metastore
    from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper

    collector = EventCollector(
        spark, Metastore(warehouse), pipeline=EnrichmentPipeline([TimestampMapper()])
    )
    store = collector.store
    collector.collect("proj", "ev", {"x": 1, "_time": "2024-01-05 09:00:00"})
    v0 = store.txn_table("proj", "ev").version()
    collector.collect("proj", "ev", {"x": 2, "_time": "2024-01-06 09:00:00"})
    feed = store.changes("proj", "ev", v0).collect()
    assert [(r["x"], r["_change_type"]) for r in feed] == [(2, "insert")]


def test_incremental_derived_table_via_feed(spark, table):
    """The consumer pattern the feed exists for: a derived per-key
    count/sum table maintained purely from change rows equals a full
    recompute after appends, a merge, and an expiry."""
    import collections

    def apply_commit_ordered(state, rows):
        # within a commit: pre-images/deletes first, then upserts —
        # so a key rewritten by a merge ends at its post-image value
        by_v = collections.defaultdict(list)
        for r in rows:
            by_v[r["_commit_version"]].append(r)
        order = {"delete": 0, "merge_preimage": 0, "insert": 1, "merge_upsert": 1}
        for v in sorted(by_v):
            for r in sorted(by_v[v], key=lambda r: order[r["_change_type"]]):
                k, val, ct = r["k"], r["v"], r["_change_type"]
                if order[ct]:
                    state[k] = val
                else:
                    state.pop(k, None)
        return state

    state: dict = {}
    cursor = 0
    table.append(_df(spark, [(1, "a"), (2, "b")]))
    table.append(_df(spark, [(3, "c")]))
    v = table.version()
    state = apply_commit_ordered(state, table.changes(cursor, v).collect())
    cursor = v
    assert state == {1: "a", 2: "b", 3: "c"}

    table.merge(_df(spark, [(2, "B"), (4, "d")]), key="k")
    table.compact()
    v = table.version()
    state = apply_commit_ordered(state, table.changes(cursor, v).collect())
    cursor = v
    # derived state equals the snapshot after every increment
    snap = {r["k"]: r["v"] for r in table.read(version=v).collect()}
    assert state == snap == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_changes_survives_uri_encoded_paths(spark, tmp_path):
    """input_file_name() returns a percent-encoded URI; partition
    values with spaces / '%' / '+' must still match the driver-side
    tagged paths (the attribution join would silently drop the rows
    otherwise)."""
    table = TxnTable(spark, str(tmp_path / "cdf enc"))  # space in table dir
    df = spark.createDataFrame(
        [(1, "north west"), (2, "a%b"), (3, "c+d")], "k long, region string"
    )
    table.append(df, partition_col="region")
    feed = table.changes(0).collect()
    assert sorted((r["k"], r["region"], r["_change_type"]) for r in feed) == [
        (1, "north west", "insert"),
        (2, "a%b", "insert"),
        (3, "c+d", "insert"),
    ]
