"""Session reuse infrastructure: footer-metadata row counts
(tables.table_rowcount), the bounded LRU of the session artifact
store, and the stored shingle and embedding artifacts."""

import sys
import threading
import time

sys.path.insert(0, "/root/repo")

from rakam_api_spark import artifacts
from rakam_api_spark.llm import similarity as sim
from rakam_api_spark.tables import _ROWCOUNT_MEMO, table_rowcount

SF = "/root/testdata/sf0.001"


def test_table_rowcount_reads_footer_without_session(spark):
    _ROWCOUNT_MEMO.clear()
    # spark=None proves no Spark job is needed on the local-file path
    n = table_rowcount(None, SF, "customer")
    assert n > 0
    # memo hit: same value, still no session required
    assert table_rowcount(None, SF, "customer") == n
    # matches the real count
    assert n == spark.read.parquet(f"{SF}/customer.parquet").count()


class _Frame:
    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


class _Session:
    """Stands in for a SparkSession as the store's weak key."""


def test_store_lru_bounds_unpersists_and_refreshes():
    session = _Session()
    st = artifacts.store(session)
    frames = {}
    for i in range(artifacts.MAX_ENTRIES + 2):
        frames[i] = (_Frame(), _Frame())
        assert artifacts.get(session, ("k", i), lambda i=i: frames[i]) is frames[i]
    assert st.resident == artifacts.MAX_ENTRIES
    assert (st.builds, st.evictions) == (artifacts.MAX_ENTRIES + 2, 2)
    # the two oldest were evicted AND every frame of each unpersisted
    assert all(f.unpersisted for i in (0, 1) for f in frames[i])
    assert not any(f.unpersisted for f in frames[2])
    # a hit refreshes recency: key 2 survives the next insert, key 3
    # (now oldest) is evicted instead
    assert artifacts.get(session, ("k", 2), lambda: None) is frames[2]
    assert st.hits == 1
    single = _Frame()
    assert artifacts.get(session, ("k", 99), lambda: single) is single
    assert ("k", 2) in st.entries and ("k", 3) not in st.entries
    assert all(f.unpersisted for f in frames[3])
    assert st.resident == artifacts.MAX_ENTRIES and st.evictions == 3


def test_corpus_shingles_stored_once(spark):
    from rakam_api_spark.llm.dedup import _corpus_shingles

    a = _corpus_shingles(spark, SF)
    st = artifacts.store(spark)
    builds = st.builds
    assert _corpus_shingles(spark, SF) is a
    assert st.builds == builds


def test_embedding_artifacts_identity_and_values(spark):
    """The shared embedding-family artifacts are stored per
    (session, sf_dir) AND value-identical to the inline derivations
    they replaced."""
    from pyspark.sql import functions as F

    from rakam_api_spark.tables import load_table

    # store identity: second call returns the same frame object
    compl = sim._compl_for(spark, SF)
    assert sim._compl_for(spark, SF) is compl
    norms = sim._norms_for(spark, SF)
    assert sim._norms_for(spark, SF) is norms
    cents = sim._label_cents_for(spark, SF)
    assert sim._label_cents_for(spark, SF) is cents
    members = sim._ivf_members_for(spark, SF)
    assert sim._ivf_members_for(spark, SF) is members

    # value identity vs the raw per-call derivations
    emb = load_table(spark, SF, "embeddings")
    raw = sim._quantized_components_labeled(emb)
    assert compl.exceptAll(raw).count() == 0 and raw.exceptAll(compl).count() == 0
    raw_norms = sim._norms(raw.drop("label"), "vec_id")
    assert norms.exceptAll(raw_norms).count() == 0
    raw_cents = raw.groupBy("label", "pos").agg(
        F.floor(F.avg("q")).cast("long").alias("cq")
    )
    assert cents.exceptAll(raw_cents).count() == 0

    # members == comp joined to the stored fit's assignment
    comp, _c, assign = sim._ivf_fit_for(spark, SF)
    raw_members = comp.join(assign, "vec_id")
    assert members.exceptAll(raw_members).count() == 0
    assert members.count() == raw.count()  # one row per component


def test_store_builds_each_entry_once_across_threads():
    session = _Session()
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.01)
        return _Frame()

    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=lambda: got.append(artifacts.get(session, "k", build)))
            for _ in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1 and len(got) == 16
    assert all(v is got[0] for v in got)
    st = artifacts.store(session)
    assert (st.builds, st.hits) == (1, 15)
