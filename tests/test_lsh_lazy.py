"""The MinHash-LSH queries are single lazy plans: no Spark job before
the caller's action, no cached or checkpointed frame left behind, and
every call recomputes instead of returning an earlier call's output."""

import pytest

from rakam_api_spark.llm.dedup import (
    dedup_precision_audit,
    lsh_band_efficiency,
    minhash_lsh_pairs,
)
from rakam_api_spark.tables import load_table


@pytest.fixture()
def corpus(spark, tmp_path):
    """documents.parquet with planted near-dup groups (one word of a
    shared 30-word text changed per member) among unique docs.  A new
    directory per test, so no session state keyed on an earlier
    test's directory can serve a call."""
    d = tmp_path
    rows = []
    for g in range(6):
        base = [f"g{g}w{j}" for j in range(30)]
        for m in range(4):
            words = list(base)
            words[(7 * m) % 30] = f"edit{g}x{m}"
            rows.append((g * 10 + m, " ".join(words)))
    rows += [(100 + i, " ".join(f"u{i}w{j}" for j in range(20))) for i in range(40)]
    spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))
    out = str(d)
    # the parquet schema read is the one job a first load may run
    load_table(spark, out, "documents")
    return out


_BUILDERS = {
    "minhash_lsh_pairs": lambda spark, d: minhash_lsh_pairs(spark, d),
    "lsh_band_efficiency": lambda spark, d: lsh_band_efficiency(spark, d),
    "dedup_precision_audit": lambda spark, d: dedup_precision_audit(spark, d, max_docs=40),
}


@pytest.mark.parametrize("name", sorted(_BUILDERS))
def test_builder_submits_no_job_before_an_action(spark, corpus, jobs_during, name):
    df, jobs = jobs_during(lambda: _BUILDERS[name](spark, corpus))
    assert jobs == []
    # the probe does see jobs: the action inside it is counted
    rows, jobs = jobs_during(df.collect)
    assert rows and jobs


@pytest.mark.parametrize("name", sorted(_BUILDERS))
def test_second_call_recomputes_and_persists_nothing(spark, corpus, jobs_during, name):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persistent())
    first = _BUILDERS[name](spark, corpus)
    rows = first.collect()
    second = _BUILDERS[name](spark, corpus)
    assert second is not first
    plan = second._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" in plan  # the MinHash kernel runs again
    assert "LogicalRDD" not in plan and "InMemoryRelation" not in plan
    again, jobs = jobs_during(second.collect)
    assert jobs and again == rows
    assert len(persistent()) == before


def test_planted_groups_pair_and_docs_path_matches_corpus_path(spark, corpus):
    pairs = minhash_lsh_pairs(spark, corpus).collect()
    # every planted group is found; unique docs never pair
    groups = {(r["d1"] // 10, r["d2"] // 10) for r in pairs}
    assert groups == {(g, g) for g in range(6)}
    assert all(r["jaccard"] >= 0.5 for r in pairs)
    docs = load_table(spark, corpus, "documents")
    for max_bucket in (500, 2):
        full = minhash_lsh_pairs(spark, corpus, max_bucket=max_bucket).collect()
        sampled = minhash_lsh_pairs(spark, corpus, max_bucket=max_bucket, docs=docs).collect()
        assert sampled == full
