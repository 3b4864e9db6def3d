"""Derived-index maintenance: the auto-indexer cycle (M5) extended to
the persisted BM25 / MinHash / IVF indexes.  An append to the BASE
table that is not reflected in the index must surface in
``maintenance_plan`` as ``index_refresh``; ``run_maintenance`` heals
it incrementally (append, never rebuild) under the index's writer
lock; per-append fragment debris surfaces as ``index_compact`` and
compaction preserves query results."""

import os

import pytest

from rakam_api_spark.catalog import Metastore
from rakam_api_spark.store import EventStore, MaintenanceLockHeld


def _n_parquet_files(path):
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _docs(spark, lo, hi):
    rows = [(i, f"alpha beta gamma tok{i} tok{i % 7} delta") for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def store(spark, warehouse):
    ms = Metastore(warehouse)
    ms.create_project("proj")
    return EventStore(spark, ms)


def test_stale_bm25_index_surfaces_and_heals(spark, warehouse, store, tmp_path):
    from rakam_api_spark.llm.search_index import SearchIndex

    base = str(tmp_path / "docs_base")
    idx = str(tmp_path / "bm25_idx")
    _docs(spark, 0, 40).write.parquet(base)
    SearchIndex(spark, idx).build(spark.read.parquet(base))
    store.register_index("proj", "docs_bm25", "bm25", idx, base, id_col="doc_id")

    # fresh: no index actions planned
    assert store.maintenance_plan("proj") == []

    # appends land on the BASE only -> the index is stale
    _docs(spark, 40, 55).write.mode("append").parquet(base)
    plan = store.maintenance_plan("proj")
    assert [(p["collection"], p["action"]) for p in plan] == [("docs_bm25", "index_refresh")]
    assert "15 base ids" in plan[0]["reason"]

    done = store.run_maintenance("proj", plan)
    assert done[0]["outcome"] == "15 ids appended to the bm25 index"
    si = SearchIndex(spark, idx)
    assert si.validate()["n_docs"] == 55
    # the healed (appended) index is score-identical to a fresh full
    # rebuild from the same base — append ≡ rebuild, bit-for-bit
    rebuilt = SearchIndex(spark, str(tmp_path / "bm25_rebuild"))
    rebuilt.build(spark.read.parquet(base))
    terms = ("alpha", "tok3")
    got = {(r["doc_id"], r["score"]) for r in si.query(terms=terms, k=10).collect()}
    want = {(r["doc_id"], r["score"]) for r in rebuilt.query(terms=terms, k=10).collect()}
    assert got == want
    # idempotent
    assert store.maintenance_plan("proj") == []


def test_stale_minhash_index_surfaces_and_heals(spark, warehouse, store, tmp_path):
    from pyspark.sql import functions as F

    from rakam_api_spark.llm.dedup_index import MinHashIndex

    base = str(tmp_path / "docs_base")
    idx = str(tmp_path / "mh_idx")
    _docs(spark, 0, 30).write.parquet(base)
    MinHashIndex(spark, idx).build(spark.read.parquet(base))
    store.register_index("proj", "docs_mh", "minhash", idx, base, id_col="doc_id")
    # loose fragment budget throughout: this test pins the STALENESS
    # contract (fragmentation is covered by the IVF test below; the
    # 16-way bk_prefix layout means even a fresh build has ~4.8
    # fragments per partition on an 8-thread writer)
    assert store.maintenance_plan("proj", max_index_fragments=10_000) == []

    # doc 100 duplicates doc 5's text exactly; only the base sees it
    dup = spark.createDataFrame(
        [(100, "alpha beta gamma tok5 tok5 delta")], "doc_id long, text string"
    )
    dup.write.mode("append").parquet(base)
    plan = store.maintenance_plan("proj", max_index_fragments=10_000)
    assert [(p["collection"], p["action"]) for p in plan] == [("docs_mh", "index_refresh")]
    store.run_maintenance("proj", plan)

    mh = MinHashIndex(spark, idx)
    assert mh.signatures().count() == 31
    # the healed index catches a NEW batch duplicating doc 100's text
    probe = spark.createDataFrame(
        [(200, "alpha beta gamma tok5 tok5 delta")], "doc_id long, text string"
    )
    hits = mh.dedup_batch(probe, threshold=0.9).where(F.col("doc_id") == 200).collect()
    assert hits and hits[0]["duplicate_of"] in (5, 100)


def test_stale_ivf_index_surfaces_heals_and_compacts(spark, warehouse, store, tmp_path):
    from rakam_api_spark.llm.similarity import build_ivf_index, ivf_index_topk

    base_dir = str(tmp_path / "embbase")
    os.makedirs(base_dir)
    base = os.path.join(base_dir, "embeddings.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.where("vec_id < 200").write.parquet(base)
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(spark, base_dir, idx)
    store.register_index("proj", "emb_ivf", "ivf", idx, base, id_col="vec_id")
    assert store.maintenance_plan("proj") == []

    # new vectors land on the base only
    emb.where("vec_id >= 200 and vec_id < 230").write.mode("append").parquet(base)
    plan = store.maintenance_plan("proj")
    assert [(p["collection"], p["action"]) for p in plan] == [("emb_ivf", "index_refresh")]
    done = store.run_maintenance("proj", plan)
    assert done[0]["outcome"] == "30 ids appended to the ivf index"
    corpus = spark.read.parquet(os.path.join(idx, "corpus"))
    assert corpus.count() == 230

    # an appended vector is findable: its embedding under a FRESH
    # query id (self-exclusion is by id) must return it as the
    # nearest neighbor (cosine 1.0)
    q = emb.where("vec_id = 215").selectExpr("cast(9999 as long) as q_id", "embedding")
    top = ivf_index_topk(spark, idx, q, nprobe=8, topk=1).collect()
    assert top and top[0]["neighbor_id"] == 215

    # fragment debris: a tight fragment budget plans index_compact,
    # and compaction preserves the query result
    before = _n_parquet_files(os.path.join(idx, "corpus"))
    plan = store.maintenance_plan("proj", max_index_fragments=before - 1)
    assert [(p["collection"], p["action"]) for p in plan] == [("emb_ivf", "index_compact")]
    store.run_maintenance("proj", plan)
    after = _n_parquet_files(os.path.join(idx, "corpus"))
    assert after < before
    top2 = ivf_index_topk(spark, idx, q, nprobe=8, topk=1).collect()
    assert top2 and top2[0]["neighbor_id"] == 215


def test_index_refresh_respects_writer_lock(spark, warehouse, store, tmp_path):
    import subprocess
    import sys

    from rakam_api_spark.llm.search_index import SearchIndex

    base = str(tmp_path / "docs_base")
    idx = str(tmp_path / "bm25_idx")
    _docs(spark, 0, 10).write.parquet(base)
    SearchIndex(spark, idx).build(spark.read.parquet(base))
    store.register_index("proj", "docs_bm25", "bm25", idx, base, id_col="doc_id")
    _docs(spark, 10, 12).write.mode("append").parquet(base)
    plan = store.maintenance_plan("proj")
    assert plan and plan[0]["action"] == "index_refresh"

    # a live foreign process holding the index lock file's flock
    lock_path = idx.rstrip("/") + ".lock"
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, sys, time\n"
            "f = open(sys.argv[1], 'a')\n"
            "fcntl.flock(f, fcntl.LOCK_EX)\n"
            "print('held', flush=True)\n"
            "time.sleep(300)\n",
            lock_path,
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        with pytest.raises(MaintenanceLockHeld, match="single-writer"):
            store.run_maintenance("proj", plan)
    finally:
        holder.kill()
        holder.wait()
    # dead holder -> the kernel freed its lock, refresh proceeds
    done = store.run_maintenance("proj", store.maintenance_plan("proj"))
    assert done[0]["outcome"].startswith("2 ids appended")


def test_index_over_txn_base_ignores_retired_files(spark, warehouse, store, tmp_path):
    """A derived index whose BASE is a txn table must measure
    staleness against the manifest's live rows — a compaction of the
    base (which re-packages every row into new files) must NOT make
    the index look stale, and real appends still surface."""
    from rakam_api_spark.llm.search_index import SearchIndex
    from rakam_api_spark.txnlog import TxnTable

    base = str(tmp_path / "docs_txn")
    t = TxnTable(spark, base)
    t.append(_docs(spark, 0, 20).coalesce(1))
    idx = str(tmp_path / "bm25_idx")
    SearchIndex(spark, idx).build(t.read())
    store.register_index("proj", "docs_bm25", "bm25", idx, base, id_col="doc_id")
    assert store.maintenance_plan("proj") == []

    # compaction rewrites the base's files; logically nothing changed
    t.compact()
    assert store.maintenance_plan("proj") == []

    # a real append IS staleness, and the heal indexes only the delta
    t.append(_docs(spark, 20, 25).coalesce(1))
    plan = store.maintenance_plan("proj")
    assert [(p["collection"], p["action"]) for p in plan] == [("docs_bm25", "index_refresh")]
    done = store.run_maintenance("proj", plan)
    assert done[0]["outcome"] == "5 ids appended to the bm25 index"
    assert SearchIndex(spark, idx).validate()["n_docs"] == 25
