"""Keyword search over the documents table: BM25 ranked retrieval
and cross-document repeated-span detection.

The reference has no in-engine text search (it delegates all
reporting to warehouse SQL — reference README.md:14-19); these are
beyond-reference operators for corpus curation: BM25 is the standard
lexical retriever used to mine training data, and repeated n-gram
spans across documents are the memorization/boilerplate signal a
dedup pass inspects.

Scale design: BM25 is ONE document-local projection (term
frequencies via ``filter`` over the split array — no explode, no
per-token shuffle) + a single-row corpus-stats aggregate broadcast
back + TakeOrderedAndProject for the top-k.  At 100 TB the only
full-data movement is the scan itself.  Span detection generates
n-grams doc-locally and shuffles (gram, doc) pairs once into a hash
aggregate with map-side combine.

Determinism: BM25 is float math, so the Spark and DuckDB expression
trees are written with identical literals, casts, and parenthesized
association — every IEEE-754 op then produces bit-identical doubles
on both engines.  Span counts are pure integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..tables import load_table
from .dedup import word_shingles

# Fixed demo query; a production wrapper would parameterize this.
QUERY_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _bm25_term_score(i: int):
    """Per-term BM25 score expression over the canonical column names
    (tf{i}, df{i}, dl, n_docs, avgdl) — SHARED by the scan path and
    the persisted-index path so both produce bit-identical doubles
    from identical integer inputs."""
    tf = F.col(f"tf{i}").cast("double")
    dfc = F.col(f"df{i}")
    idf = (F.col("n_docs") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
    denom = tf + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    return F.when(F.col(f"tf{i}") == 0, F.lit(0.0)).otherwise(
        idf * ((tf * F.lit(BM25_K1 + 1.0)) / denom)
    )


def _bm25_rank(per_doc: DataFrame, stats: DataFrame, n_terms: int, k: int) -> DataFrame:
    """score = Σ term scores in fixed left-to-right order, then
    TakeOrderedAndProject top-k."""
    score = _bm25_term_score(0)
    for i in range(1, n_terms):
        score = score + _bm25_term_score(i)
    return (
        per_doc.crossJoin(broadcast(stats))
        .withColumn("score", score)
        .where(F.col("score") > 0)
        .select("doc_id", "dl", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_search(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k documents by BM25 score for the fixed query terms.

    idf is the unsmoothed-log variant (N − df + ½)/(df + ½) — kept
    log-free so the score is a chain of IEEE +,·,/ that both engines
    evaluate bit-identically (libm log is not guaranteed correctly
    rounded across runtimes).  Per-term scores are summed in fixed
    left-to-right term order.
    """
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")

    def _tf(term):
        # one-arg lambda: F.filter treats a second parameter as the
        # array index, not a closure slot
        return F.size(F.filter(w, lambda t: t == term))

    per_doc = docs.select(
        "doc_id",
        F.size(w).alias("dl"),
        *[_tf(term).alias(f"tf{i}") for i, term in enumerate(QUERY_TERMS)],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).cast("double").alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    return _bm25_rank(per_doc, stats, len(QUERY_TERMS), k)


BM25_ORACLE = """
WITH per_doc AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS dl,
         len(list_filter(string_split(text, ' '), t -> t = 'spark'))  AS tf0,
         len(list_filter(string_split(text, ' '), t -> t = 'join'))   AS tf1,
         len(list_filter(string_split(text, ' '), t -> t = 'window')) AS tf2
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
  FROM per_doc
), scored AS (
  SELECT doc_id, CAST(dl AS INT) AS dl,
    (CASE WHEN tf0 = 0 THEN 0.0 ELSE
      ((n_docs - df0 + 0.5) / (df0 + 0.5)) *
      ((CAST(tf0 AS DOUBLE) * 2.2) /
       (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) END)
    + (CASE WHEN tf1 = 0 THEN 0.0 ELSE
      ((n_docs - df1 + 0.5) / (df1 + 0.5)) *
      ((CAST(tf1 AS DOUBLE) * 2.2) /
       (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) END)
    + (CASE WHEN tf2 = 0 THEN 0.0 ELSE
      ((n_docs - df2 + 0.5) / (df2 + 0.5)) *
      ((CAST(tf2 AS DOUBLE) * 2.2) /
       (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) END)
    AS score
  FROM per_doc, stats
)
SELECT doc_id, dl, score
FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
      FROM scored WHERE score > 0)
WHERE rn <= 20
"""


def dup_ngram_spans(spark: SparkSession, sf_dir: str, n: int = 8, k: int = 20) -> DataFrame:
    """Word 8-grams that appear in two or more distinct documents —
    the shared-span signal behind suffix-array-style exact-substring
    dedup, approximated at fixed n so it stays one explode + one
    hash aggregation (no suffix sort, no self-join).

    At 100 TB the (gram, doc) stream is the only shuffle; map-side
    combine collapses within-partition repeats, and the ≥2-docs
    filter runs inside the aggregate before the tiny top-k.
    """
    docs = _docs(spark, sf_dir)
    # materialize the split once and slice it — inlining the split
    # into per-position element_at calls makes Catalyst re-evaluate
    # split() n times per gram (measured 6× slower end to end)
    wdf = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array())
    return (
        wdf.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


DUP_NGRAM_SPANS_ORACLE = """
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, array_to_string(w[CAST(i AS INT):CAST(i AS INT)+7], ' ') AS gram
  FROM docs, unnest(range(1, len(w) - 6)) t(i)
  WHERE len(w) >= 8
)
SELECT gram, n_docs, n_occurrences
FROM (
  SELECT gram,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         row_number() OVER (
           ORDER BY COUNT(DISTINCT doc_id) DESC, COUNT(*) DESC, gram ASC) AS rn
  FROM grams
  GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) >= 2
) WHERE rn <= 20
"""


def dup_span_extents(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    occ_cap: int = 16,
    min_tokens: int = 12,
    k: int = 50,
) -> DataFrame:
    """MAXIMAL duplicated token spans between document pairs — the
    exact-substring training-data dedup signal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, finds substrings ≥ L shared across documents
    via a suffix array).  A suffix array doesn't distribute; the
    equivalent shared-nothing construction: positional n-gram match →
    per-pair DIAGONAL islands → interval merge.

    Two documents sharing an L-token substring share L−n+1 matching
    n-grams at CONSECUTIVE positions on one alignment diagonal
    (pos_a − pos_b constant), so gaps-and-islands over (doc_a, doc_b,
    diagonal) reconstructs each maximal span exactly: island key =
    pos_a − row_number(), span length = max(pos_a) − min(pos_a) + n.

    Scale: the only fan-out is the per-gram pair join, capped by
    ``occ_cap`` on TOTAL gram occurrences (≤ occ_cap² pairs per gram;
    hot boilerplate grams are excluded here and belong to the
    ``corpus_top_ngrams`` report instead); islands shuffle once on
    (doc_a, doc_b, diagonal) — partition-local windows, never a
    global sort.  All arithmetic is integer → the DuckDB oracle is
    bit-exact; ``min_tokens`` > n guarantees every reported span
    required a real multi-gram extension.

    Reference scope: beyond-reference (no analytics engine in the
    reference); companion to :func:`dup_ngram_spans`' fixed-n report.
    """
    spans = _span_frame_build(spark, sf_dir, n, occ_cap, min_tokens)
    return spans.orderBy(
        F.desc("span_tokens"),
        F.asc("doc_a"),
        F.asc("doc_b"),
        F.asc("start_a"),
        F.asc("start_b"),
    ).limit(k)


def _span_frame_build(
    spark: SparkSession, sf_dir: str, n: int, occ_cap: int, min_tokens: int
) -> DataFrame:
    """The unlimited maximal-span frame, as one lazy plan, that
    :func:`dup_span_extents` (ranked report) and
    :func:`span_dedup_savings` (per-doc accounting) each build on."""
    docs = _docs(spark, sf_dir)
    wdf = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    pos_grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"), F.concat_ws(" ", F.slice(w, i, n)).alias("gram")
            ),
        ),
    ).otherwise(F.array())
    g = wdf.select("doc_id", F.explode(pos_grams).alias("pg")).select(
        "doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram")
    )
    eligible = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"), F.count(F.lit(1)).alias("occ"))
        .where((F.col("nd") >= 2) & (F.col("occ") <= occ_cap))
        .select("gram")
    )
    ge = g.join(eligible, "gram", "left_semi")
    a, b = ge.alias("a"), ge.alias("b")
    m = (
        a.join(b, "gram")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("d"),
        )
    )
    from pyspark.sql import Window

    wnd = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    isl = m.withColumn("island", F.col("pos_a") - F.row_number().over(wnd))
    spans = (
        isl.groupBy("doc_a", "doc_b", "d", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + n).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .where(F.col("span_tokens") >= min_tokens)
    )
    return spans.select(
        "doc_a",
        "doc_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )


def span_dedup_savings(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    occ_cap: int = 16,
    min_tokens: int = 12,
    k: int = 100,
) -> DataFrame:
    """Per-document duplicated-token accounting — what span-level
    dedup would actually REMOVE (Lee et al. 2021 cut the duplicated
    substring from all but one occurrence; this reports that cut,
    doc by doc, under the keep-the-earliest policy).

    Composition of :func:`dup_span_extents`: every span charges its
    LATER document (doc_b) with the interval [start_b, start_b +
    span_tokens); overlapping charges from different partners merge
    via a second gaps-and-islands pass (running-max interval union),
    so no token is counted twice.  ``dup_share`` is ONE double
    division of exact integers — hash-exact vs the oracle.

    Scale: input is the (already hot-key-capped) span list — orders
    of magnitude smaller than the corpus; the union windows partition
    per doc."""
    from pyspark.sql import Window

    spans = _span_frame_build(spark, sf_dir, n, occ_cap, min_tokens)
    iv = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_tokens") - 1).alias("e"),
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)), 1).otherwise(0),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(wrun))
    merged = islands.groupBy("doc_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("me") - F.col("ms") + 1).alias("dup_tokens"),
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("total_tokens")
    )
    return (
        per_doc.join(docs, "doc_id")
        .select(
            "doc_id",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            (
                F.col("dup_tokens").cast("double") / F.col("total_tokens").cast("double")
            ).alias("dup_share"),
        )
        .orderBy(F.desc("dup_tokens"), F.asc("doc_id"))
        .limit(k)
    )


# the maximal-span derivation shared by both span oracles
_SPANS_CTE = """
docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(w[CAST(i AS INT):CAST(i AS INT)+7], ' ') AS gram
  FROM docs, unnest(range(1, len(w) - 6)) t(i)
  WHERE len(w) >= 8
),
eligible AS (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(*) <= 16
),
ge AS (SELECT g.* FROM g JOIN eligible USING (gram)),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b,
         a.pos - b.pos AS d
  FROM ge a JOIN ge b USING (gram)
  WHERE a.doc_id < b.doc_id
),
isl AS (
  SELECT *, pos_a - row_number() OVER (
    PARTITION BY doc_a, doc_b, d ORDER BY pos_a) AS island
  FROM m
),
spans AS (
  SELECT doc_a, doc_b,
         MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
         MAX(pos_a) - MIN(pos_a) + 8 AS span_tokens,
         COUNT(*) AS n_grams
  FROM isl GROUP BY doc_a, doc_b, d, island
)"""

DUP_SPAN_EXTENTS_ORACLE = (
    "WITH "
    + _SPANS_CTE
    + """
SELECT doc_a, doc_b, CAST(start_a AS BIGINT) AS start_a,
       CAST(start_b AS BIGINT) AS start_b,
       CAST(span_tokens AS BIGINT) AS span_tokens,
       CAST(n_grams AS BIGINT) AS n_grams
FROM (
  SELECT *, row_number() OVER (
    ORDER BY span_tokens DESC, doc_a ASC, doc_b ASC, start_a ASC, start_b ASC) AS rn
  FROM spans WHERE span_tokens >= 12
) WHERE rn <= 50
"""
)

SPAN_DEDUP_SAVINGS_ORACLE = (
    "WITH "
    + _SPANS_CTE
    + """,
iv AS (
  SELECT doc_b AS doc_id, start_b AS s, start_b + span_tokens - 1 AS e
  FROM spans WHERE span_tokens >= 12
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
           PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
merged AS (
  SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(me - ms + 1) AS BIGINT) AS dup_tokens
  FROM merged GROUP BY doc_id
),
lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS total_tokens
  FROM documents
)
SELECT doc_id, n_spans, dup_tokens, total_tokens,
       CAST(dup_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS dup_share
FROM (
  SELECT p.doc_id, p.n_spans, p.dup_tokens, l.total_tokens,
         row_number() OVER (ORDER BY p.dup_tokens DESC, p.doc_id ASC) AS rn
  FROM per_doc p JOIN lens l USING (doc_id)
) WHERE rn <= 100
"""
)


# Absolute posting-list cap for the sparse pair join: a shingle kept
# by the relative N/20 band can still have an N-proportional df, which
# would make worst-case pair expansion O((N/20)²).  256 bounds every
# posting list — and therefore every per-shingle pair expansion —
# by a constant, independent of corpus size.
MAX_DF_CAP = 256


def sparse_tfidf_pairs(spark: SparkSession, sf_dir: str, n: int = 3, k: int = 20) -> DataFrame:
    """Sparse lexical similarity join: top-k document pairs by
    idf²-weighted shared-shingle score — the inverted-index
    prefix-filtered pair join of Bayardo et al., "Scaling Up All
    Pairs Similarity Search" (WWW 2007), specialized to set features.

    Features are distinct word 3-gram shingles (the unigram
    vocabulary of the synthetic corpus is ~31 terms, all stopword-
    frequency).  The DF-BAND FILTER is the scale guarantee: shingles
    with df < 2 pair nothing, and a surviving shingle's df is capped
    by min(N div 20, 256) — the relative band drops corpus-wide
    boilerplate at small N, and the ABSOLUTE cap of 256 bounds every
    posting list at any corpus size, so per-shingle pair expansion is
    O(256²) ≈ 32k pairs CONSTANT, not a function of N (a df-256
    shingle at N=1M already carries idf weight ~3900× below a df-2
    shingle's — boilerplate above the cap has no similarity signal).
    There is NO all-pairs self-join anywhere (same skew-guard shape
    as the LSH bucket caps in dedup.py).

    Determinism: weights are INTEGER idf (N div df) squared, summed
    exactly — no float accumulation order to disagree on; ranking
    ties break on the doc-id pair."""
    docs = _docs(spark, sf_dir)
    if n == 3:
        # identical derivation to the dedup family's stored corpus
        # shingle frame — reuse it instead of re-exploding
        from .dedup import _corpus_shingles

        sh = _corpus_shingles(spark, sf_dir)
    else:
        sh = word_shingles(docs, n=n)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(broadcast(n_docs))
        .where(
            (F.col("df") >= 2)
            & (
                F.col("df")
                <= F.least(F.greatest(F.lit(2), F.expr("n_docs div 20")), F.lit(MAX_DF_CAP))
            )
        )
        .withColumn("w", F.expr("n_docs div df"))
        .select("shingle", "w")
    )
    posting = sh.join(df_tbl, "shingle")
    pairs = (
        posting.alias("a")
        .join(
            posting.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.sum(F.col("a.w") * F.col("a.w")).alias("sim"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    return pairs.orderBy(F.desc("sim"), F.asc("doc_a"), F.asc("doc_b")).limit(k)


SPARSE_TFIDF_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM toks, unnest(range(1, len(w) - 1)) AS r(i)
  WHERE len(w) >= 3
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
dfb AS (
  SELECT shingle, n_docs // df AS wt
  FROM (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1), nd
  WHERE df >= 2 AND df <= least(greatest(2, n_docs // 20), 256)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(dfb.wt * dfb.wt) AS BIGINT) AS sim,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN dfb ON dfb.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, sim, n_shared
FROM (SELECT *, row_number() OVER (ORDER BY sim DESC, doc_a ASC, doc_b ASC) AS rn FROM pairs)
WHERE rn <= 20
"""


def hybrid_search(spark: SparkSession, sf_dir: str, k: int = 10, n_cand: int = 100) -> DataFrame:
    """Hybrid retrieval (the RAG-stack shape): BM25 selects the
    lexical top-``n_cand`` candidates, then an embedding cosine
    rerank orders the final top-``k`` — semantic scoring touches only
    the candidate set, never the corpus.

    The query embedding is vec_id 0 (documents and embeddings share
    the id space), fetched like a request payload.  Cosine uses the
    same integer-quantization contract as ``similarity.py``: every
    dot/norm is an exact integer in float64, and the final divide and
    sqrt are single correctly-rounded IEEE ops — bit-identical to the
    oracle.  Plan: the BM25 stage is a scan + TakeOrderedAndProject;
    the rerank explodes components for ≤ n_cand docs and broadcast-
    joins the 64-row query vector."""
    from .similarity import _quantized_components

    cand = bm25_search(spark, sf_dir, k=n_cand).where(F.col("doc_id") != 0)
    emb = load_table(spark, sf_dir, "embeddings")
    comp = _quantized_components(
        emb.join(broadcast(cand.select(F.col("doc_id").alias("vec_id"))), "vec_id", "left_semi")
    )
    qcomp = _quantized_components(emb.where(F.col("vec_id") == 0)).select(
        "pos", F.col("q").alias("qq")
    )
    qnorm = qcomp.agg(F.sum(F.col("qq") * F.col("qq")).alias("qnorm2"))
    scored = (
        comp.join(broadcast(qcomp), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("q") * F.col("qq")).alias("dot"),
            F.sum(F.col("q") * F.col("q")).alias("norm2"),
        )
        .crossJoin(broadcast(qnorm))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("norm2").cast("double") * F.col("qnorm2").cast("double"))
            ).alias("cosine"),
        )
    )
    return (
        cand.select("doc_id", F.col("score").alias("bm25_score"))
        .join(scored, "doc_id")
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "bm25_score", "cosine")
    )


HYBRID_SEARCH_ORACLE = """
WITH per_doc AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS dl,
         len(list_filter(string_split(text, ' '), t -> t = 'spark'))  AS tf0,
         len(list_filter(string_split(text, ' '), t -> t = 'join'))   AS tf1,
         len(list_filter(string_split(text, ' '), t -> t = 'window')) AS tf2
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
  FROM per_doc
), scored AS (
  SELECT doc_id,
    (CASE WHEN tf0 = 0 THEN 0.0 ELSE
      ((n_docs - df0 + 0.5) / (df0 + 0.5)) *
      ((CAST(tf0 AS DOUBLE) * 2.2) /
       (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) END)
    + (CASE WHEN tf1 = 0 THEN 0.0 ELSE
      ((n_docs - df1 + 0.5) / (df1 + 0.5)) *
      ((CAST(tf1 AS DOUBLE) * 2.2) /
       (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) END)
    + (CASE WHEN tf2 = 0 THEN 0.0 ELSE
      ((n_docs - df2 + 0.5) / (df2 + 0.5)) *
      ((CAST(tf2 AS DOUBLE) * 2.2) /
       (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) END)
    AS score
  FROM per_doc, stats
),
cand AS (
  SELECT doc_id, score FROM (
    SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM scored WHERE score > 0
  ) WHERE rn <= 100 AND doc_id <> 0
),
comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
  WHERE vec_id = 0 OR vec_id IN (SELECT doc_id FROM cand)
),
qn AS (SELECT SUM(q*q) AS qnorm2 FROM comp WHERE vec_id = 0),
rer AS (
  SELECT c.vec_id AS doc_id,
         SUM(c.q * qc.q) AS dot, SUM(c.q * c.q) AS norm2
  FROM comp c JOIN (SELECT pos, q FROM comp WHERE vec_id = 0) qc USING (pos)
  WHERE c.vec_id <> 0
  GROUP BY 1
)
SELECT doc_id, bm25_score, cosine FROM (
  SELECT cand.doc_id, cand.score AS bm25_score,
         CAST(rer.dot AS DOUBLE) / sqrt(CAST(rer.norm2 AS DOUBLE) * CAST(qn.qnorm2 AS DOUBLE)) AS cosine,
         row_number() OVER (ORDER BY CAST(rer.dot AS DOUBLE) / sqrt(CAST(rer.norm2 AS DOUBLE) * CAST(qn.qnorm2 AS DOUBLE)) DESC, cand.doc_id ASC) AS rn
  FROM cand JOIN rer ON cand.doc_id = rer.doc_id, qn
) WHERE rn <= 10
"""


QUERIES = {
    "bm25_search": bm25_search,
    "dup_ngram_spans": dup_ngram_spans,
    "dup_span_extents": dup_span_extents,
    "span_dedup_savings": span_dedup_savings,
    "sparse_tfidf_pairs": sparse_tfidf_pairs,
    "hybrid_search": hybrid_search,
}

ORACLES = {
    "bm25_search": BM25_ORACLE,
    "dup_ngram_spans": DUP_NGRAM_SPANS_ORACLE,
    "dup_span_extents": DUP_SPAN_EXTENTS_ORACLE,
    "span_dedup_savings": SPAN_DEDUP_SAVINGS_ORACLE,
    "sparse_tfidf_pairs": SPARSE_TFIDF_ORACLE,
    "hybrid_search": HYBRID_SEARCH_ORACLE,
}
