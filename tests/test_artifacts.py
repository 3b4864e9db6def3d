"""The session artifact store's rule: a declared query never returns
a stored entry.  Each re-mapped declared builder returns a fresh lazy
frame per call, with the same rows; stored entries stay resident
across scale factors; and no module grows a memo of its own."""

import pathlib

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
SF_LARGER = "/root/testdata/sf0.01"
PKG = pathlib.Path(__file__).resolve().parent.parent / "rakam_api_spark"


def _stored_values(spark) -> list:
    from rakam_api_spark import artifacts

    out = []
    for v in artifacts.store(spark).entries.values():
        out.extend(v if isinstance(v, tuple) else (v,))
    return out


@pytest.mark.parametrize(
    "name",
    [
        "ann_brute_force_topk",
        "embedding_cosine_dedup",
        "dedup_ngram_jaccard",
        "dup_span_extents",
        "span_dedup_savings",
    ],
)
def test_declared_builder_returns_fresh_frame(spark, name):
    build = entrymod.queries()[name]
    a = build(spark, SF)
    b = build(spark, SF)
    assert a is not b
    stored = _stored_values(spark)
    assert not any(a is v or b is v for v in stored)
    assert sorted(a.collect(), key=repr) == sorted(b.collect(), key=repr)


def _build_artifacts(spark, sf_dir: str) -> None:
    """Every embedding and dedup entry one sweep of the declared
    queries reads at ``sf_dir``."""
    from rakam_api_spark.llm import dedup, similarity as sim, text

    sim._compl_for(spark, sf_dir)
    sim._norms_for(spark, sf_dir)
    sim._label_cents_for(spark, sf_dir)
    sim._ivf_members_for(spark, sf_dir)
    sim._pq_fit_for(spark, sf_dir)
    sim._brute_topk_for(spark, sf_dir)
    sim._cosine_pairs_for(spark, sf_dir, sim.GATE_DEDUP_THRESHOLD)
    dedup._corpus_pairs(spark, sf_dir)
    dedup._sample_pair_graph(spark, sf_dir, dedup.CURVE_MAX_DOCS)
    text._lang_bigram_counts(spark, sf_dir)


def test_two_scale_factors_stay_resident(spark):
    """Alternating sf_dirs must not thrash the store: after building
    at one scale factor, then another, revisiting the first is all
    hits."""
    from rakam_api_spark import artifacts

    st = artifacts.store(spark)
    _build_artifacts(spark, SF)
    _build_artifacts(spark, SF_LARGER)
    builds, hits, evictions = st.builds, st.hits, st.evictions
    _build_artifacts(spark, SF)
    assert st.builds == builds
    assert st.evictions == evictions
    assert st.hits > hits


def test_no_memo_outside_the_store():
    """Session-keyed reuse lives in artifacts.py (and the plain table
    plan memo in tables.py); a per-module memo must not come back."""
    allowed = {"artifacts.py", "tables.py"}
    offenders = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if str(p.relative_to(PKG)) not in allowed and "WeakKeyDictionary" in p.read_text()
    )
    assert offenders == []
