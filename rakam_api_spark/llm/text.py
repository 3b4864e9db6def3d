"""Text-analysis operators over the documents table: quality
scoring, language-ID, token counting, fingerprinting.

All pure column expressions (split / regexp / md5 / aggregate) —
JVM-side, whole-stage-codegen friendly, no Python in the hot path.
Each is row-local, so they scale embarrassingly at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .. import artifacts
from ..tables import load_table

# Small fixed stopword list (subset of English function words that
# appear in the synthetic vocabulary).
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# BPE-ish pre-tokenizer: letter runs, digit runs, or single
# non-alphanumeric marks (the GPT-2 pre-tokenizer family, minus
# unicode categories).  Same RE2-compatible pattern on both engines.
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token counts, mean token length,
    stopword ratio, and a rule-based quality bucket."""
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    stop_expr = F.filter(w, lambda t: t.isin(*STOPWORDS))
    df = docs.select(
        "doc_id",
        "lang",
        F.size(w).alias("n_tokens"),
        F.length("text").alias("n_chars_m"),
        F.size(stop_expr).alias("n_stop"),
    ).withColumn(
        "avg_token_len",
        # (chars - separators) / tokens — exact ints, one double div
        (F.col("n_chars_m") - (F.col("n_tokens") - 1)).cast("double") / F.col("n_tokens").cast("double"),
    ).withColumn(
        "stopword_ratio", F.col("n_stop").cast("double") / F.col("n_tokens").cast("double")
    )
    return df.select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_token_len",
        "stopword_ratio",
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("stopword_ratio") > 0.5, "boilerplate")
        .otherwise("ok")
        .alias("quality"),
    ).orderBy("doc_id")


TEXT_QUALITY_ORACLE = """
WITH base AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         length(text) AS n_chars_m,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','and','of','to','in','is','it'))) AS n_stop
  FROM documents
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
       CASE WHEN n_tokens < 20 THEN 'too_short'
            WHEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.5 THEN 'boilerplate'
            ELSE 'ok' END AS quality
FROM base
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per doc, plus corpus
    rollup per source."""
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)).alias("bpe_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
        )
        .orderBy("source")
    )


TOKEN_COUNTS_ORACLE = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS total_bpe_tokens
FROM documents GROUP BY 1
"""


# Language marker table: per-language weighted marker tokens.  The
# heuristic is a broadcast-joined scoring table — the same plan a
# real char-n-gram profile model (e.g. textcat) uses, with the
# profile swapped in as data, not code.
_LANG_MARKERS = [
    ("en", "the", 3), ("en", "fast", 1), ("en", "table", 1),
    ("es", "data", 2), ("es", "part", 2), ("es", "la", 3),
    ("fr", "le", 3), ("fr", "merge", 2), ("fr", "row", 2),
    ("de", "der", 3), ("de", "window", 2), ("de", "hash", 2),
    ("zh", "spark", 2), ("zh", "vector", 2), ("zh", "scan", 2),
]


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID: explode doc tokens, broadcast-join
    the marker table, argmax score per doc (ties → lexicographic
    lang).  Confusion-matrix style output vs the labeled column."""
    docs = _docs(spark, sf_dir)
    markers = spark.createDataFrame(_LANG_MARKERS, "pred_lang string, tok string, weight int")
    toks = docs.select("doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    scores = (
        toks.join(broadcast(markers), "tok")
        .groupBy("doc_id", "lang", "pred_lang")
        .agg(F.sum("weight").alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("pred_lang"))
    best = scores.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        best.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


LANG_ID_ORACLE = """
WITH markers(pred_lang, tok, weight) AS (VALUES
  ('en','the',3),('en','fast',1),('en','table',1),
  ('es','data',2),('es','part',2),('es','la',3),
  ('fr','le',3),('fr','merge',2),('fr','row',2),
  ('de','der',3),('de','window',2),('de','hash',2),
  ('zh','spark',2),('zh','vector',2),('zh','scan',2)
),
toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
scores AS (
  SELECT doc_id, lang, pred_lang, SUM(weight) AS score
  FROM toks JOIN markers USING (tok)
  GROUP BY 1, 2, 3
),
best AS (
  SELECT doc_id, lang, pred_lang
  FROM (
    SELECT doc_id, lang, pred_lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, pred_lang ASC) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM best GROUP BY 1, 2
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full-text md5 plus a winnowing-style
    fingerprint = min md5 over word 5-gram windows (rolling-hash
    minimum — deterministic, order-insensitive)."""
    docs = _docs(spark, sf_dir)
    # split materialized once (see dedup.word_shingles note)
    wdf = docs.select("doc_id", "text", F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    grams = F.when(
        F.size(w) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 4),
            lambda i: F.md5(F.concat_ws(" ", *[F.element_at(w, (i + j).cast("int")) for j in range(5)])),
        ),
    ).otherwise(F.array(F.md5(F.col("text"))))
    return wdf.select(
        "doc_id",
        F.md5(F.col("text")).alias("content_md5"),
        F.array_min(grams).alias("winnow_fp"),
        F.length("text").alias("n_chars_m"),
    ).orderBy("doc_id")


DOC_FINGERPRINTS_ORACLE = """
WITH docs AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, md5(text) AS content_md5,
       CASE WHEN len(w) >= 5 THEN (
         SELECT MIN(md5(w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2]
                     || ' ' || w[CAST(i AS INT)+3] || ' ' || w[CAST(i AS INT)+4]))
         FROM unnest(range(1, len(w)-3)) t(i)
       ) ELSE md5(text) END AS winnow_fp,
       CAST(length(text) AS BIGINT) AS n_chars_m
FROM docs
"""


def corpus_top_ngrams(spark: SparkSession, sf_dir: str, n: int = 3, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word n-grams (default trigrams) — the
    vocabulary/boilerplate inspection query of a corpus audit.

    Plan shape: n-grams are generated doc-locally (``transform`` over
    the split array — no joins), one hash aggregation counts them
    (map-side combine collapses repeats before the shuffle), and the
    top-k is ``orderBy().limit()`` → TakeOrderedAndProject: each
    partition keeps k candidates, the driver merges k·partitions
    rows.  At 100 TB nothing but (ngram, count) pairs shuffle."""
    docs = _docs(spark, sf_dir)
    # split materialized once + slice (see word_shingles note)
    wdf = docs.select(F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array())
    return (
        wdf.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


CORPUS_TOP_NGRAMS_ORACLE = """
WITH docs AS (SELECT string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2] AS ngram
  FROM docs, unnest(range(1, len(w)-1)) t(i)
  WHERE len(w) >= 3
)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 20
"""


def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every pair of sources,
    how many near-duplicate document bodies appear in both — the
    lineage signal that tells a curation pipeline which domains are
    re-crawls of each other.  Duplication is keyed on the winnowing
    fingerprint (min md5 over word 5-grams, as in
    :func:`doc_fingerprints`), which survives small edits that break
    an exact content hash.

    Scale shape: the fingerprint is doc-local; ONE groupBy on it
    collects the (bounded, ≤ |sources|) source set per body, then
    pair expansion runs doc-locally on that tiny array — never a
    corpus self-join on the hash (the oracle spells the equivalent
    self-join as the spec).
    """
    docs = _docs(spark, sf_dir)
    # split materialized once + slice (see word_shingles note)
    wdf = docs.select("source", "text", F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    grams = F.when(
        F.size(w) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 4),
            lambda i: F.md5(F.concat_ws(" ", F.slice(w, i, 5))),
        ),
    ).otherwise(F.array(F.md5(F.col("text"))))
    per_fp = (
        wdf.select(F.array_min(grams).alias("fp"), "source")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") > 1)
    )
    pair_expr = F.expr(
        "flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS s1, y AS s2))))"
    )
    return (
        per_fp.select(F.explode(pair_expr).alias("p"))
        .select("p.s1", "p.s2")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared_docs"))
        .orderBy("s1", "s2")
    )


SOURCE_DUP_MATRIX_ORACLE = """
WITH docs AS (SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents),
fps AS (
  SELECT source,
         CASE WHEN len(w) >= 5 THEN (
           SELECT MIN(md5(w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2]
                       || ' ' || w[CAST(i AS INT)+3] || ' ' || w[CAST(i AS INT)+4]))
           FROM unnest(range(1, len(w)-3)) t(i)
         ) ELSE md5(text) END AS fp
  FROM docs
), ds AS (SELECT DISTINCT fp, source FROM fps)
SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS n_shared_docs
FROM ds a JOIN ds b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
"""


def vocab_coverage(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Top-k vocabulary table with cumulative corpus coverage — the
    tokenizer-design artifact ("how much of the corpus do the k most
    frequent tokens cover").

    The token count aggregates with map-side combine and the top-k
    is TakeOrderedAndProject; the ONLY unpartitioned window runs
    AFTER the limit, over exactly k rows — never over the full
    vocabulary (which at 100 TB is millions of terms).  The corpus
    total joins in as a broadcast scalar; cumulative share is a
    double division of exact integer counts.
    """
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total_tokens"))
    topk = counts.orderBy(F.desc("n"), F.asc("tok")).limit(k)
    from pyspark.sql import Window

    # bounded input: exactly k rows survive the limit above
    w = Window.orderBy(F.desc("n"), F.asc("tok")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        topk.crossJoin(broadcast(total))
        .withColumn("cum_n", F.sum("n").over(w))
        .select(
            "tok",
            "n",
            (F.col("cum_n").cast("double") / F.col("total_tokens").cast("double")).alias(
                "cum_coverage"
            ),
        )
        .orderBy(F.desc("n"), F.asc("tok"))
    )


VOCAB_COVERAGE_ORACLE = """
WITH counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
), total AS (SELECT SUM(n) AS total_tokens FROM counts),
topk AS (
  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rn
  FROM counts
)
SELECT tok, n,
       CAST(SUM(n) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / CAST(total_tokens AS DOUBLE) AS cum_coverage
FROM topk, total
WHERE rn <= 50
"""


def lexical_rarity(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Per-document LEXICAL RARITY: the mean corpus frequency of a
    document's tokens — the exact-arithmetic counterpart of the
    unigram-LM perplexity filter (CCNet-style quality scoring,
    Wenzek et al., "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data", LREC 2020): rare-token-heavy docs
    (low mean) are candidate noise/garble, stopword-heavy docs (high
    mean) candidate boilerplate.  Returns the k rarest documents.

    Determinism: corpus token counts are exact integers; per-doc
    ``Σ corpus_count(tokenᵢ)`` is an exact integer sum, and the mean
    is ONE double division of exact integers — bit-identical across
    engines (no log/exp chain to drift).

    Scale: one token-grain shuffle for corpus counts, one shuffle to
    join counts back onto occurrences (both map-side combined), one
    doc-grain aggregate; top-k is TakeOrderedAndProject."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("corpus_tf"))
    per_doc = (
        toks.join(counts, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("corpus_tf").alias("sum_corpus_tf"),
        )
        .withColumn(
            "mean_commonness",
            F.col("sum_corpus_tf").cast("double") / F.col("n_tokens").cast("double"),
        )
    )
    return per_doc.select(
        "doc_id", "n_tokens", "sum_corpus_tf", "mean_commonness"
    ).orderBy(F.asc("mean_commonness"), F.asc("doc_id")).limit(k)


LEXICAL_RARITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  WHERE t.token <> ''
), counts AS (
  SELECT token, COUNT(*) AS corpus_tf FROM toks GROUP BY 1
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(corpus_tf) AS BIGINT) AS sum_corpus_tf
  FROM toks JOIN counts USING (token)
  GROUP BY 1
)
SELECT doc_id, n_tokens, sum_corpus_tf,
       CAST(sum_corpus_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_commonness
FROM (
  SELECT *, row_number() OVER (
    ORDER BY CAST(sum_corpus_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) ASC, doc_id ASC) AS rn
  FROM per_doc
) WHERE rn <= 50
"""


def source_signature_terms(
    spark: SparkSession, sf_dir: str, k: int = 5, min_tf: int = 20
) -> DataFrame:
    """CHARACTERISTIC terms per source: for each source, the k tokens
    whose corpus occurrences concentrate most heavily in that source
    (share = source_tf / corpus_tf) among tokens the source uses at
    least ``min_tf`` times — the corpus-descriptor report a data-mix
    dashboard shows next to ``mix_weights`` (what makes each slice
    lexically distinct, without tf-idf's log chain: share is ONE
    exact-integer division, so the row hash-matches).

    Two token-grain aggregates sharing one shuffle shape plus a
    source-partitioned top-k window over the (tiny) qualifying term
    set."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    per_source = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    corpus = per_source.groupBy("token").agg(F.sum("tf").alias("corpus_tf"))
    from pyspark.sql import Window

    scored = (
        per_source.where(F.col("tf") >= min_tf)
        .join(corpus, "token")
        .withColumn(
            "share", F.col("tf").cast("double") / F.col("corpus_tf").cast("double")
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("share"), F.desc("tf"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("source", "rnk", "token", "tf", "corpus_tf", "share")
        .orderBy("source", "rnk")
    )


SOURCE_SIGNATURE_ORACLE = """
WITH toks AS (
  SELECT source, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  WHERE t.token <> ''
),
per_source AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
corpus AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS corpus_tf FROM per_source GROUP BY 1),
scored AS (
  SELECT source, token, tf, corpus_tf,
         CAST(tf AS DOUBLE) / CAST(corpus_tf AS DOUBLE) AS share,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(tf AS DOUBLE) / CAST(corpus_tf AS DOUBLE) DESC, tf DESC, token ASC
         ) AS INT) AS rnk
  FROM per_source JOIN corpus USING (token)
  WHERE tf >= 20
)
SELECT source, rnk, token, tf, corpus_tf, share
FROM scored WHERE rnk <= 5
ORDER BY source, rnk
"""


def source_vocab_overlap(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Pairwise VOCABULARY overlap between sources: Jaccard of each
    source's top-k token set — the mixture-design diagnostic beside
    ``mix_weights`` and ``source_signature_terms`` (two sources with
    near-identical working vocabularies are redundant in a data mix;
    near-disjoint ones each earn their sampling weight).

    Per-source top-k by (tf desc, token asc) — a source-partitioned
    window over the token-grain aggregate; the pair join then touches
    only |sources|·k rows (the top-k sets), never the corpus, and the
    Jaccard is ONE exact-integer division: |A∩B| / (2k' − |A∩B|)
    with k' the per-source set size (= k when the vocabulary is big
    enough).  Scale: token-grain aggregate is the only corpus-sized
    shuffle; everything after is dashboard-sized."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    per_source = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("token"))
    top = (
        per_source.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("source", "token")
        # top feeds FOUR plan branches (both self-join sides + both
        # size lookups) and Catalyst does not CSE across branches —
        # without a materialization the corpus tokenize + (source,
        # token) aggregate ran four times per query (guide §2.4/§5).
        # The frame is |sources|·k rows — dashboard-sized at any SF.
        .localCheckpoint(eager=False)
    )
    sizes = top.groupBy("source").agg(F.count(F.lit(1)).alias("set_size"))
    a, b = top.alias("a"), top.alias("b")
    inter = (
        a.join(b, "token")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            (
                F.col("n_shared").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_VOCAB_OVERLAP_ORACLE = """
WITH per_source AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
  GROUP BY 1, 2
),
top AS (
  SELECT source, token FROM (
    SELECT source, token,
           row_number() OVER (PARTITION BY source ORDER BY tf DESC, token ASC) AS rnk
    FROM per_source
  ) WHERE rnk <= 50
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS set_size FROM top GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM top a JOIN top b USING (token)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared,
       CAST(n_shared AS DOUBLE)
         / CAST(sa.set_size + sb.set_size - n_shared AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-bucketed document-length distribution per source — the
    first chart on every training-corpus dashboard (truncation-risk
    and short-doc screening both read off it).

    The bucket is floor(log₂(ws_tokens)) computed EXACTLY as
    ``length(bin(n)) − 1`` (binary-representation length), never via
    float ``log2`` — ``log2(2^k)`` can land at k−ε in one engine's
    libm and flip the bucket at every power of two.  One narrow
    (source, bucket) aggregate; counts and the integral bucket bounds
    compare exactly."""
    docs = _docs(spark, sf_dir)
    n_tok = F.size(F.split(F.col("text"), " "))
    bucket = (F.length(F.bin(n_tok.cast("long"))) - 1).cast("int")
    return (
        docs.select("source", n_tok.alias("n_tok"), bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tok").cast("long").alias("min_tokens"),
            F.max("n_tok").cast("long").alias("max_tokens"),
        )
        .withColumn("bucket_lo", F.expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
        .orderBy("source", "bucket")
    )


DOC_LENGTH_HISTOGRAM_ORACLE = """
WITH sized AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tok,
         CAST(length(bin(CAST(len(string_split(text, ' ')) AS BIGINT))) - 1 AS INT) AS bucket
  FROM documents
)
SELECT source, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
       CAST(1 AS BIGINT) << bucket AS bucket_lo
FROM sized GROUP BY 1, 2 ORDER BY 1, 2
"""


def lm_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: an add-one-smoothed bigram
    language model is trained IN-QUERY on the clean reference slice
    (the English documents — the stand-in for CCNet's Wikipedia LM)
    and every document is scored by its average bigram log-probability.
    Low scores flag gibberish / boilerplate / wrong-register text; the
    companion ``oov_bigram_frac`` (share of bigrams the reference
    never saw) separates "fluent but out-of-domain" from "not
    language".

    Plan shape at 100 TB: doc bigrams are row-local array ops
    (split → transform → explode) compressed by a per-(doc, bigram)
    partial aggregation BEFORE any join, then two hash equi-joins
    against the reference bigram/prefix count tables (corpus-sized,
    so shuffled joins on token keys — never broadcast, never a self
    join) and one final doc_id rollup.  The LM "training" is itself
    just two hash aggregations over the reference slice.

    Determinism: P = (c12+1)/(c1+V) is a single division of exact
    integers; log10 and the weighted average accumulate last-ulp
    noise, so the score is ``round(.., 6)`` on BOTH engines
    (the documented float-chain contract).  ``oov_bigram_frac`` is an
    exact single division.  Reference: CCNet (Wenzek et al. 2020,
    arXiv:1911.00359) §4.2 LM filtering.
    """
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    with_bi = (
        docs.select("doc_id", "lang", w.alias("w"))
        .where(F.size("w") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-2),"
                    " i -> struct(w[i] AS w1, w[i+1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "lang", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    doc_bg = with_bi.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n")
    )
    # the LM counts derive from the already-aggregated doc bigrams —
    # one corpus explode feeds both sides instead of two.  Spark does
    # not CSE across plan branches, and doc_bg feeds THREE (c12, c1's
    # chain, and the scoring join), so without a materialization the
    # corpus bigram explode + aggregate ran three times per query
    # (guide §2.4/§5): persist the AGGREGATED frame (already the
    # smallest corpus-grain representation) and truncate lineage —
    # r17, interleaved A/B in OPTIMIZATION_r17.md.
    doc_bg = doc_bg.localCheckpoint(eager=False)
    c12 = (
        doc_bg.where(F.col("lang") == "en")
        .groupBy("w1", "w2")
        .agg(F.sum("n").alias("c12"))
        # c12 itself feeds two branches (the scoring join and c1's
        # chain) — persist the reference-LM counts too
        .localCheckpoint(eager=False)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_size = (
        docs.where(F.col("lang") == "en")
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    logp = F.log10(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
    )
    scored = (
        doc_bg.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(broadcast(vocab_size))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(
                F.sum(F.col("n") * logp) / F.sum("n").cast("double"), 6
            ).alias("avg_logp"),
            (
                F.coalesce(F.sum(F.when(F.col("c12").isNull(), F.col("n"))), F.lit(0)).cast("double")
                / F.sum("n").cast("double")
            ).alias("oov_bigram_frac"),
        )
    )
    return scored.orderBy("doc_id")


LM_BIGRAM_QUALITY_ORACLE = """
WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
bi AS (
  SELECT doc_id, lang, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT)+1] AS w2
  FROM docs, LATERAL unnest(range(1, len(w))) t(i)
  WHERE len(w) >= 2
),
doc_bg AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS n FROM bi GROUP BY 1, 2, 3, 4),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi WHERE lang = 'en' GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
v AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE lang = 'en')
)
SELECT doc_id, lang,
       CAST(SUM(n) AS BIGINT) AS n_bigrams,
       round(SUM(n * log10(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                           / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)))
             / CAST(SUM(n) AS DOUBLE), 6) AS avg_logp,
       CAST(COALESCE(SUM(CASE WHEN c12.c12 IS NULL THEN n END), 0) AS DOUBLE)
         / CAST(SUM(n) AS DOUBLE) AS oov_bigram_frac
FROM doc_bg
LEFT JOIN c12 USING (w1, w2)
LEFT JOIN c1 USING (w1)
CROSS JOIN v
GROUP BY doc_id, lang
ORDER BY doc_id
"""


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve: for each document (in ingestion =
    doc_id order), the fraction of its distinct word-3-grams that NO
    earlier document contains — the "is new data still adding
    information?" diagnostic that decides when crawling a source has
    saturated.

    Shape: one shingle aggregation to (shingle → min doc_id), one
    join back, one doc-grain rollup — never a self-join, never a
    window over the corpus; both shuffles key on the shingle/doc_id
    the dedup family already uses — r16: literally the dedup
    family's stored cached shingle frame now (identical
    derivation), so the corpus explode+distinct runs once per
    session across both families.  ``novelty_frac`` is a single
    exact-integer division.
    """
    from .dedup import _corpus_shingles

    sh = _corpus_shingles(spark, sf_dir)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
            ).alias("novelty_frac"),
        )
        .orderBy("doc_id")
    )


DOC_NGRAM_NOVELTY_ORACLE = """
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2] AS shingle
  FROM docs, LATERAL unnest(range(1, len(w)-1)) t(i)
),
first_seen AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
FROM sh JOIN first_seen USING (shingle)
GROUP BY doc_id ORDER BY doc_id
"""


def bpe_merge_candidates(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """First BPE merge iteration (the tokenizer-training primitive,
    Sennrich et al. 2016): the most frequent adjacent character pairs
    across the corpus, each weighted by its words' occurrence counts.

    The load-bearing scale choice is the classic BPE-trainer one:
    operate on the VOCABULARY, not the corpus — one corpus pass
    builds (word → count), which is vocabulary-sized, and the
    character-pair explosion happens per DISTINCT word weighted by
    its count.  At 100 TB the corpus is touched once (word count with
    map-side combine); everything after is vocab-scale.  Counts are
    exact integers; top-k is a total order ending in the unique pair
    string.
    """
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = vocab.select(
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word)-1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(k)
    )


BPE_MERGE_ORACLE = """
WITH vocab AS (
  SELECT word, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2 GROUP BY 1
),
pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, n
  FROM vocab, LATERAL unnest(range(1, length(word))) t(i)
)
SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT 20
"""


def zipf_slope_by_source(
    spark: SparkSession, sf_dir: str, top_ranks: int = 500
) -> DataFrame:
    """Zipf-law fit per source: the least-squares slope of
    ln(frequency) against ln(rank) over each source's ``top_ranks``
    most frequent tokens.  Natural text tracks slope ≈ −1 (Zipf
    1949); a source whose slope flattens (many equally-common
    tokens: templated/generated text) or steepens sharply
    (degenerate repetition) is a curation flag — a corpus-level
    quality screen next to the per-doc ``text_quality`` rules.

    Plan: token counts collapse per (source, token) map-side; the
    rank window partitions per source over the source's vocabulary
    (the only sort, vocab-grain not corpus-grain); everything after
    the top-``top_ranks`` filter is a 5-row closed-form regression
    from six sums.  Rank ties break on the token string, so the
    boundary at rank ``top_ranks`` is deterministic.

    Determinism: ln() of exact integers may differ in the last ulp
    across engines, so the regression output is ``round(.., 6)``
    both sides (error ≤ Σ n·ulp ≈ 1e-13 ≪ 5e-7 — the established
    float-chain convention)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("token"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_ranks)
        .select(
            "source",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("tf").cast("double")).alias("y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, sxy = F.sum(F.col("x") * F.col("x")), F.sum(F.col("x") * F.col("y"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(slope, 6).alias("zipf_slope"),
            F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
        )
        .orderBy("source")
    )


ZIPF_SLOPE_ORACLE = """
WITH toks AS (
  SELECT source, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  WHERE t.token <> ''
),
counts AS (SELECT source, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT source, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y
  FROM (
    SELECT source, tf,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY tf DESC, token ASC) AS rank
    FROM counts
  ) WHERE rank <= 500
),
sums AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM ranked GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS zipf_intercept
FROM sums ORDER BY source
"""


def ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source via the pooled type-token ratio:
    Σ per-doc distinct tokens / Σ per-doc tokens — the vocabulary-
    richness screen beside ``vocab_coverage`` (coverage asks how far
    the top-k vocabulary reaches; TTR asks how repetitive the average
    document is).  ``low_ttr_docs`` counts documents where fewer than
    half the tokens are distinct — an EXACT integer predicate
    (2·distinct < tokens), so the quality-gate count needs no float
    compare at all.

    Per-doc counts are exact integers from one projection (no
    explode); the source rollup is partial-aggregatable; the only
    float is the final pooled division, identical in both engines.
    """
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    per_doc = docs.select(
        "source",
        F.size(w).alias("n_tok"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_distinct").alias("total_distinct"),
            F.sum(
                F.when(F.col("n_distinct") * 2 < F.col("n_tok"), 1).otherwise(0)
            ).alias("low_ttr_docs"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "total_distinct",
            "low_ttr_docs",
            (
                F.col("total_distinct").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("pooled_ttr"),
        )
        .orderBy("source")
    )


TTR_BY_SOURCE_ORACLE = """
WITH per_doc AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_distinct) AS BIGINT) AS total_distinct,
       CAST(SUM(CASE WHEN n_distinct * 2 < n_tok THEN 1 ELSE 0 END) AS BIGINT)
         AS low_ttr_docs,
       CAST(SUM(n_distinct) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS pooled_ttr
FROM per_doc GROUP BY 1 ORDER BY 1
"""


def hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena profile per source: how much of each source's
    vocabulary occurs exactly once, and how much token MASS those
    singletons carry — the long-tail diagnostic that complements
    ``zipf_slope_by_source`` (the slope fits the head; the hapax
    share measures the tail a tokenizer/LM must absorb).

    One explode → (source, token) counts (partial-aggregatable), one
    source rollup; shares are single double divisions of exact
    integers."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("cnt").alias("total_tokens"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("hapax_count"),
        )
        .select(
            "source",
            "vocab_size",
            "total_tokens",
            "hapax_count",
            (
                F.col("hapax_count").cast("double")
                / F.col("vocab_size").cast("double")
            ).alias("hapax_vocab_share"),
            (
                F.col("hapax_count").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("hapax_mass_share"),
        )
        .orderBy("source")
    )


HAPAX_RATIO_ORACLE = """
WITH tok AS (
  SELECT source, t.token
  FROM documents, LATERAL unnest(string_split(text, ' ')) t(token)
),
counts AS (SELECT source, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS hapax_vocab_share,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
         AS hapax_mass_share
FROM counts GROUP BY 1 ORDER BY 1
"""


def char_class_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source: the corpus-pooled
    fraction of letters, digits, spaces, and other marks — the
    cheapest possible encoding/noise screen (a source whose "other"
    share spikes is markup, mojibake, or binary spill; a digit-heavy
    source is tables/logs, not prose).

    Per-doc class counts are EXACT integers via length differences
    under class-targeted ``regexp_replace`` (the character classes
    ``[a-zA-Z]`` / ``[0-9]`` / the literal space behave identically
    in both regex engines); the source rollup sums exactly and each
    fraction is one double division."""
    docs = _docs(spark, sf_dir)
    n = F.length("text")
    alpha = n - F.length(F.regexp_replace("text", "[a-zA-Z]", ""))
    digit = n - F.length(F.regexp_replace("text", "[0-9]", ""))
    space = n - F.length(F.regexp_replace("text", " ", ""))
    per_doc = docs.select(
        "source",
        n.alias("n_chars"),
        alpha.alias("n_alpha"),
        digit.alias("n_digit"),
        space.alias("n_space"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_alpha").alias("_a"),
        F.sum("n_digit").alias("_d"),
        F.sum("n_space").alias("_s"),
    )
    tc = F.col("total_chars").cast("double")
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        (F.col("_a").cast("double") / tc).alias("alpha_frac"),
        (F.col("_d").cast("double") / tc).alias("digit_frac"),
        (F.col("_s").cast("double") / tc).alias("space_frac"),
        (
            (F.col("total_chars") - F.col("_a") - F.col("_d") - F.col("_s")).cast(
                "double"
            )
            / tc
        ).alias("other_frac"),
    ).orderBy("source")


CHAR_CLASS_ORACLE = """
WITH per_doc AS (
  SELECT source,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_alpha) AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE) AS alpha_frac,
       CAST(SUM(n_digit) AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE) AS digit_frac,
       CAST(SUM(n_space) AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE) AS space_frac,
       CAST(SUM(n_chars) - SUM(n_alpha) - SUM(n_digit) - SUM(n_space) AS DOUBLE)
         / CAST(SUM(n_chars) AS DOUBLE) AS other_frac
FROM per_doc GROUP BY 1 ORDER BY 1
"""





# --- round-11 additions -------------------------------------------------


def sentence_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-shape profile per source: sentences per doc and mean
    sentence length — the readability screen next to
    ``text_quality``'s token features (boilerplate-heavy sources show
    few, long "sentences"; chat-like sources many short ones).

    Sentences = non-blank segments after splitting on [.!?]+ runs —
    the SAME higher-order expression in both engines (split →
    filter(trim ≠ '') → length sum), all exact integers; the two
    means are single double divisions.

    Scale: one pass over docs, partial-aggregatable groupBy to
    |sources| rows; the sentence arrays live only inside the
    projection (never shuffled)."""
    docs = _docs(spark, sf_dir)
    sent = F.expr(
        "filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0)"
    )
    per_doc = docs.select(
        "source",
        F.size(sent).alias("n_sent"),
        F.expr(
            "aggregate(filter(split(text, '[.!?]+'), "
            "x -> length(trim(x)) > 0), 0L, (a, x) -> a + length(trim(x)))"
        ).alias("sent_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sent").alias("total_sentences"),
            F.round(
                F.sum("n_sent").cast("double") / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("sentences_per_doc"),
            F.round(
                F.sum("sent_chars").cast("double")
                / F.sum("n_sent").cast("double"),
                9,
            ).alias("mean_sentence_chars"),
        )
        .orderBy("source")
    )


SENTENCE_STATS_ORACLE = """
WITH per_doc AS (
  SELECT source,
         len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> length(trim(x)) > 0)) AS n_sent,
         coalesce(list_sum(list_transform(
           list_filter(string_split_regex(text, '[.!?]+'),
                       x -> length(trim(x)) > 0),
           x -> length(trim(x)))), 0) AS sent_chars
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sent) AS BIGINT) AS total_sentences,
       round(CAST(SUM(n_sent) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         AS sentences_per_doc,
       round(CAST(SUM(sent_chars) AS DOUBLE) / CAST(SUM(n_sent) AS DOUBLE), 9)
         AS mean_sentence_chars
FROM per_doc GROUP BY 1 ORDER BY 1
"""


def doc_length_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length inequality per source: the Gini coefficient of document
    character counts by the exact rank formula (the
    ``customer_gini_by_segment`` kernel pointed at the corpus) — a
    skew screen for mixture weighting (a source whose token budget is
    carried by a few huge docs behaves very differently in sampling
    than its doc count suggests).

    Exactness: rank·chars products accumulate in DECIMAL(38,6); the
    only float step is the final two-term formula, identical on both
    engines.  The rank window is PARTITIONED BY SOURCE (sources are
    an enum)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select("source", "n_chars", "doc_id").withColumn(
        "r", F.row_number().over(w)
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(38,6)")).alias("_sx"),
            F.sum(
                F.col("r").cast("decimal(38,6)")
                * F.col("n_chars").cast("decimal(38,6)")
            ).alias("_srx"),
        )
        .select(
            "source",
            "n_docs",
            F.round(F.col("_sx").cast("double"), 6).alias("total_chars"),
            F.round(
                F.lit(2.0) * F.col("_srx").cast("double")
                / (F.col("n_docs").cast("double") * F.col("_sx").cast("double"))
                - (F.col("n_docs") + 1).cast("double")
                / F.col("n_docs").cast("double"),
                9,
            ).alias("gini"),
        )
        .orderBy("source")
    )


DOC_LENGTH_GINI_ORACLE = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE), 6)
         AS total_chars,
       round(
         2.0 * CAST(SUM(CAST(r AS DECIMAL(38,6))
                        * CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE)
              * CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE))
         - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
         9
       ) AS gini
FROM ranked GROUP BY 1 ORDER BY 1
"""


def shouting_docs_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 shoutiest documents: highest uppercase share among
    alphabetic characters (min 40 letters) — the ALL-CAPS/boilerplate
    outlier list quality reviewers eyeball after
    ``char_class_composition``'s per-source aggregate.

    Counts via regexp strip-and-measure (identical semantics both
    engines); the ratio is one double division; ties break on
    doc_id.

    Scale: one linear pass over the text (CPU-bound regex inside
    whole-stage codegen, embarrassingly parallel, no shuffle — its
    scaling slope measures per-core regex throughput, not a plan
    problem), finishing in TakeOrderedAndProject(20) so no global
    sort ever materializes."""
    docs = _docs(spark, sf_dir)
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    upper = F.length(F.regexp_replace(F.col("text"), "[^A-Z]", ""))
    d = docs.select(
        "doc_id",
        "source",
        alpha.alias("alpha_chars"),
        upper.alias("upper_chars"),
    ).where(F.col("alpha_chars") >= 40)
    return (
        d.select(
            "doc_id",
            "source",
            "alpha_chars",
            "upper_chars",
            F.round(
                F.col("upper_chars").cast("double")
                / F.col("alpha_chars").cast("double"),
                9,
            ).alias("upper_ratio"),
        )
        .orderBy(F.desc("upper_ratio"), "doc_id")
        .limit(20)
    )


SHOUTING_DOCS_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_chars
  FROM documents
)
SELECT doc_id, source, CAST(alpha_chars AS BIGINT) AS alpha_chars,
       CAST(upper_chars AS BIGINT) AS upper_chars,
       round(CAST(upper_chars AS DOUBLE) / CAST(alpha_chars AS DOUBLE), 9)
         AS upper_ratio
FROM d WHERE alpha_chars >= 40
ORDER BY upper_ratio DESC, doc_id
LIMIT 20
"""


def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token-length histogram (whitespace tokens, length
    capped at 15+): the tokenizer-budget shape — how much of the
    corpus is short function words vs long identifiers — feeding BPE
    vocabulary sizing next to ``bpe_merge_candidates``.

    One tokenize pass, explode to (bucket) grain, partial-aggregated
    counts; the share divides exact longs against the broadcast
    one-row total."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("t")
    ).where(F.length("t") > 0)
    cell = tok.groupBy(
        F.least(F.length("t"), F.lit(15)).cast("int").alias("token_len")
    ).agg(F.count(F.lit(1)).alias("n_tokens"))
    total = cell.agg(F.sum("n_tokens").alias("_tot"))
    return (
        cell.crossJoin(F.broadcast(total))
        .select(
            "token_len",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("_tot").cast("double"),
                9,
            ).alias("share"),
        )
        .orderBy("token_len")
    )


TOKEN_LENGTH_HIST_ORACLE = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
cell AS (
  SELECT CAST(LEAST(length(t), 15) AS INT) AS token_len,
         COUNT(*) AS n_tokens
  FROM tok WHERE length(t) > 0 GROUP BY 1
),
tot AS (SELECT SUM(n_tokens) AS _tot FROM cell)
SELECT token_len, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(_tot AS DOUBLE), 9) AS share
FROM cell, tot ORDER BY token_len
"""



def word_freq_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 words (whitespace tokens, ≥3 chars,
    lowercased) with counts and corpus share — the frequency head
    every tokenizer/stopword decision starts from (the global
    companion to ``zipf_slope_by_source``'s fitted tail).

    One tokenize pass, partial-aggregated counts, top-50 via a total
    (count desc, token asc) order ending in the unique token —
    TakeOrderedAndProject, no global sort materialized."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    ).where(F.length("t") >= 3)
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("t").alias("token"),
            F.col("n").alias("n_occurrences"),
            F.round(
                F.col("n").cast("double") / F.col("_tot").cast("double"), 9
            ).alias("share"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(50)
    )


WORD_FREQ_TOP50_ORACLE = """
WITH tok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
),
counts AS (
  SELECT t, COUNT(*) AS n FROM tok WHERE length(t) >= 3 GROUP BY 1
),
tot AS (SELECT SUM(n) AS _tot FROM counts)
SELECT t AS token, CAST(n AS BIGINT) AS n_occurrences,
       round(CAST(n AS DOUBLE) / CAST(_tot AS DOUBLE), 9) AS share
FROM counts, tot
ORDER BY n_occurrences DESC, token
LIMIT 50
"""


def avg_word_len_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token length per language: the tokenizer-fertility proxy
    (longer mean words → more subword splits per word) next to
    ``lang_id``'s classification and ``token_counts``' volumes.

    One tokenize pass; Σ lengths and Σ tokens are exact integers per
    language; the mean is one double division."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).where(F.length("t") > 0)
    return (
        tok.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.length("t")).alias("_chars"),
        )
        .select(
            "lang",
            "n_tokens",
            F.round(
                F.col("_chars").cast("double") / F.col("n_tokens").cast("double"),
                9,
            ).alias("mean_token_chars"),
        )
        .orderBy("lang")
    )


AVG_WORD_LEN_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(length(t)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         AS mean_token_chars
FROM tok WHERE length(t) > 0
GROUP BY 1 ORDER BY 1
"""


def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: distinct vocabulary after ingesting the
    first 10/25/50/75/100% of the corpus (by doc_id order) — the
    vocab-saturation check behind tokenizer sizing ("does another
    25% of data still buy new words?").  Reference: Heaps (1978)
    V(n) ≈ K·n^β; the curve's flattening is the β estimate's raw
    material.

    Plan: ONE tokenize pass reduces to each token's FIRST doc
    (min doc_id) — vocab at any cutoff is then a count over that
    token-grain table, so the five checkpoints cost five counts of
    one aggregate, never five corpus scans.  Cutoffs are exact
    integer arithmetic over the doc_id domain (no rank window — the
    curve is a domain grid, not a row-rank grid)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t"),
    ).where(F.length("t") > 0)
    first = tok.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    grid = spark.createDataFrame([(10,), (25,), (50,), (75,), (100,)], "pct int")
    cuts = grid.crossJoin(F.broadcast(bounds)).select(
        "pct",
        F.expr("CAST(lo + ((hi - lo) * pct) DIV 100 AS BIGINT)").alias("cutoff"),
    )
    vocab = (
        first.crossJoin(F.broadcast(cuts))
        .where(F.col("first_doc") <= F.col("cutoff"))
        .groupBy("pct", "cutoff")
        .agg(F.count(F.lit(1)).alias("vocab_tokens"))
    )
    ndocs = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(cuts))
        .where(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("pct")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        vocab.join(ndocs, "pct")
        .select("pct", "cutoff", "n_docs", "vocab_tokens")
        .orderBy("pct")
    )


HEAPS_VOCAB_GROWTH_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
),
first AS (
  SELECT t, MIN(doc_id) AS first_doc FROM tok WHERE length(t) > 0 GROUP BY 1
),
b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
grid AS (SELECT unnest([10, 25, 50, 75, 100]) AS pct),
cuts AS (
  SELECT pct, CAST(lo + ((hi - lo) * pct) // 100 AS BIGINT) AS cutoff
  FROM grid, b
),
vocab AS (
  SELECT c.pct, c.cutoff, COUNT(*) AS vocab_tokens
  FROM first f JOIN cuts c ON f.first_doc <= c.cutoff
  GROUP BY 1, 2
),
ndocs AS (
  SELECT c.pct, COUNT(*) AS n_docs
  FROM documents d JOIN cuts c ON d.doc_id <= c.cutoff
  GROUP BY 1
)
SELECT CAST(v.pct AS INT) AS pct, v.cutoff,
       CAST(n.n_docs AS BIGINT) AS n_docs,
       CAST(v.vocab_tokens AS BIGINT) AS vocab_tokens
FROM vocab v JOIN ndocs n USING (pct)
ORDER BY pct
"""


def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per source: H = −Σ p·ln(p) over each
    source's token distribution, with vocab and volume — the
    diversity number that separates boilerplate-heavy sources (low
    H) from rich prose (high H); the 0-gram companion to
    ``lm_bigram_quality``'s conditional bigram score.

    Plan: one tokenize pass to (source, token) counts; entropy terms
    are per-row libm products rounded to 9 dp into DECIMAL(18,9) and
    SUMMED AS DECIMAL on both engines (the documented contract that
    kills both the 1-ulp ln divergence and accumulation-order
    drift)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).where(F.length("t") > 0)
    counts = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("source").agg(
        F.sum("n").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("n").cast("double") / F.col("n_tokens").cast("double")
    term = F.round(-(p * F.log(p)), 9).cast("decimal(18,9)")
    ent = (
        counts.join(F.broadcast(tot), "source")
        .groupBy("source", "n_tokens", "vocab")
        .agg(F.sum(term).alias("_h"))
    )
    return ent.select(
        "source",
        "n_tokens",
        "vocab",
        F.col("_h").cast("double").alias("token_entropy_nats"),
    ).orderBy("source")


TOKEN_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
counts AS (
  SELECT source, t, COUNT(*) AS n FROM tok WHERE length(t) > 0 GROUP BY 1, 2
),
tot AS (
  SELECT source, SUM(n) AS n_tokens, COUNT(*) AS vocab FROM counts GROUP BY 1
),
ent AS (
  SELECT c.source, t.n_tokens, t.vocab,
         SUM(CAST(round(-(CAST(c.n AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
                        * ln(CAST(c.n AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)),
                        9) AS DECIMAL(18,9))) AS _h
  FROM counts c JOIN tot t USING (source)
  GROUP BY 1, 2, 3
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       CAST(_h AS DOUBLE) AS token_entropy_nats
FROM ent ORDER BY source
"""


def doc_length_quartiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length box plot per source: min / q1 / median / q3 / max
    of ``n_chars`` — the truncation/chunking calibration table next
    to ``doc_length_histogram``'s global buckets and
    ``doc_length_gini_by_source``'s single index.  Quartiles are
    DISCRETE (value at rank ⌈q·n⌉, exact integer rank arithmetic —
    no interpolation to diverge between engines).

    Plan: docs reduce to (source, n_chars) HISTOGRAM cells; one
    cumulative window over those distinct lengths; all three cutoffs
    from one conditional-min aggregate."""
    docs = _docs(spark, sf_dir)
    hist = docs.groupBy("source", F.col("n_chars").alias("len")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = hist.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.min("len").alias("min_chars"),
        F.max("len").alias("max_chars"),
    )
    wv = Window.partitionBy("source").orderBy("len")
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    j = cum.join(F.broadcast(tot), "source")
    r25 = F.expr("CAST((n_docs + 3) DIV 4 AS BIGINT)")
    r50 = F.expr("CAST((n_docs + 1) DIV 2 AS BIGINT)")
    r75 = F.expr("CAST((3 * n_docs + 3) DIV 4 AS BIGINT)")
    return (
        j.groupBy("source", "n_docs", "min_chars", "max_chars")
        .agg(
            F.min(F.when(F.col("cum") >= r25, F.col("len"))).alias("q1_chars"),
            F.min(F.when(F.col("cum") >= r50, F.col("len"))).alias("median_chars"),
            F.min(F.when(F.col("cum") >= r75, F.col("len"))).alias("q3_chars"),
        )
        .select(
            "source", "n_docs", "min_chars", "q1_chars",
            "median_chars", "q3_chars", "max_chars",
        )
        .orderBy("source")
    )


DOC_LENGTH_QUARTILES_ORACLE = """
WITH hist AS (
  SELECT source, n_chars AS len, COUNT(*) AS cnt
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT source, SUM(cnt) AS n_docs, MIN(len) AS min_chars,
         MAX(len) AS max_chars
  FROM hist GROUP BY 1
),
cum AS (
  SELECT source, len,
         SUM(cnt) OVER (PARTITION BY source ORDER BY len
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
)
SELECT c.source, CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(t.min_chars AS BIGINT) AS min_chars,
       CAST(MIN(CASE WHEN c.cum >= (t.n_docs + 3) // 4 THEN c.len END)
            AS BIGINT) AS q1_chars,
       CAST(MIN(CASE WHEN c.cum >= (t.n_docs + 1) // 2 THEN c.len END)
            AS BIGINT) AS median_chars,
       CAST(MIN(CASE WHEN c.cum >= (3 * t.n_docs + 3) // 4 THEN c.len END)
            AS BIGINT) AS q3_chars,
       CAST(t.max_chars AS BIGINT) AS max_chars
FROM cum c JOIN tot t USING (source)
GROUP BY 1, 2, 3, 7 ORDER BY 1
"""


def char_bigram_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram entropy per language: H = −Σ p·ln(p) over
    each language's overlapping 2-char distribution (spaces
    included) — the sub-token diversity screen that separates
    repetitive/templated text from natural prose, and the char-level
    companion to ``token_entropy_by_source``.

    Plan: one row-local transform materializes the bigrams (no
    Python; whole-stage codegen), a (lang, bigram) count and a tiny
    per-lang rollup follow.  Entropy terms follow the module's ln
    contract: each libm product rounded to 9 dp into DECIMAL(18,9)
    and summed AS DECIMAL on both engines."""
    docs = _docs(spark, sf_dir)
    bg = F.explode(
        F.expr(
            "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"
        )
    )
    counts = (
        docs.where(F.length("text") >= 2)
        .select("lang", bg.alias("bg"))
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("lang").agg(
        F.sum("n").alias("n_bigrams"), F.count(F.lit(1)).alias("distinct_bigrams")
    )
    p = F.col("n").cast("double") / F.col("n_bigrams").cast("double")
    term = F.round(-(p * F.log(p)), 9).cast("decimal(18,9)")
    ent = (
        counts.join(F.broadcast(tot), "lang")
        .groupBy("lang", "n_bigrams", "distinct_bigrams")
        .agg(F.sum(term).alias("_h"))
    )
    return ent.select(
        "lang",
        "n_bigrams",
        "distinct_bigrams",
        F.col("_h").cast("double").alias("bigram_entropy_nats"),
    ).orderBy("lang")


CHAR_BIGRAM_ENTROPY_ORACLE = """
WITH bg AS (
  SELECT lang, substr(text, CAST(i AS INT), 2) AS bg
  FROM documents, LATERAL unnest(range(1, len(text))) t(i)
  WHERE len(text) >= 2
),
counts AS (
  SELECT lang, bg, COUNT(*) AS n FROM bg GROUP BY 1, 2
),
tot AS (
  SELECT lang, SUM(n) AS n_bigrams, COUNT(*) AS distinct_bigrams
  FROM counts GROUP BY 1
),
ent AS (
  SELECT c.lang, t.n_bigrams, t.distinct_bigrams,
         SUM(CAST(round(-(CAST(c.n AS DOUBLE) / CAST(t.n_bigrams AS DOUBLE))
                        * ln(CAST(c.n AS DOUBLE) / CAST(t.n_bigrams AS DOUBLE)),
                        9) AS DECIMAL(18,9))) AS _h
  FROM counts c JOIN tot t USING (lang) GROUP BY 1, 2, 3
)
SELECT lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(distinct_bigrams AS BIGINT) AS distinct_bigrams,
       CAST(_h AS DOUBLE) AS bigram_entropy_nats
FROM ent ORDER BY lang
"""


def word_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word collocations by document-level PMI: for word pairs
    co-occurring in ≥5 documents, PMI = ln(n_docs·df_ab / (df_a·df_b))
    — the collocation miner behind phrase vocabularies and
    boilerplate detection (``corpus_top_ngrams`` counts adjacent
    n-grams; this scores UNORDERED co-presence).

    Scale: the pair space is capped BY CONSTRUCTION to the top-100
    vocabulary by document frequency (ties on the token), so the
    per-doc fan-out is ≤ C(100,2) regardless of corpus size; the
    doc-grain distinct and df counts are single exchanges.  PMI's ln
    follows the module contract (round 9 dp; all inputs exact
    integers)."""
    docs = _docs(spark, sf_dir)
    dt = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .where(F.length("t") > 0)
        .distinct()
    )
    dfreq = dt.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    top = dfreq.orderBy(F.col("df").desc(), "t").limit(100)
    dtop = dt.join(F.broadcast(top), "t")
    a, b = dtop.alias("a"), dtop.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.t") < F.col("b.t")),
    )
    pc = pairs.groupBy(
        F.col("a.t").alias("w1"),
        F.col("b.t").alias("w2"),
        F.col("a.df").alias("df_a"),
        F.col("b.df").alias("df_b"),
    ).agg(F.count(F.lit(1)).alias("df_ab"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_nd"))
    pmi = F.round(
        F.log(
            (F.col("df_ab") * F.col("_nd")).cast("double")
            / (F.col("df_a") * F.col("df_b")).cast("double")
        ),
        9,
    )
    return (
        pc.where(F.col("df_ab") >= 5)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "df_ab",
            "df_a",
            "df_b",
            pmi.alias("pmi_nats"),
        )
        .orderBy(F.col("pmi_nats").desc(), "w1", "w2")
        .limit(30)
    )


WORD_PMI_ORACLE = """
WITH dt AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE length(t) > 0
),
dfreq AS (
  SELECT t, COUNT(*) AS df FROM dt GROUP BY 1
),
top AS (
  SELECT t, df FROM dfreq ORDER BY df DESC, t LIMIT 100
),
dtop AS (
  SELECT d.doc_id, d.t, tp.df FROM dt d JOIN top tp USING (t)
),
pc AS (
  SELECT a.t AS w1, b.t AS w2, a.df AS df_a, b.df AS df_b,
         COUNT(*) AS df_ab
  FROM dtop a JOIN dtop b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY 1, 2, 3, 4
),
nd AS (SELECT COUNT(*) AS _nd FROM documents)
SELECT w1, w2, CAST(df_ab AS BIGINT) AS df_ab,
       CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
       round(ln(CAST(df_ab * _nd AS DOUBLE)
                / CAST(df_a * df_b AS DOUBLE)), 9) AS pmi_nats
FROM pc CROSS JOIN nd
WHERE df_ab >= 5
ORDER BY pmi_nats DESC, w1, w2
LIMIT 30
"""


def source_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source × language composition: docs, characters, and the
    language share WITHIN each source — the contamination/coverage
    audit a multilingual corpus runs before per-language sampling
    (``mix_weights``' two-dimensional companion on the documents
    table).  One enum-sized aggregate; shares via the cell+broadcast
    idiom."""
    docs = _docs(spark, sf_dir)
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    stot = cell.groupBy("source").agg(F.sum("n_docs").alias("_st"))
    return (
        cell.join(F.broadcast(stot), "source")
        .select(
            "source",
            "lang",
            "n_docs",
            "n_chars",
            F.round(
                F.col("n_docs").cast("double") / F.col("_st").cast("double"), 9
            ).alias("share_of_source"),
        )
        .orderBy("source", "lang")
    )


SOURCE_LANG_MIX_ORACLE = """
WITH cell AS (
  SELECT source, lang, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
  FROM documents GROUP BY 1, 2
),
stot AS (SELECT source, SUM(n_docs) AS _st FROM cell GROUP BY 1)
SELECT c.source, c.lang, CAST(c.n_docs AS BIGINT) AS n_docs,
       CAST(c.n_chars AS BIGINT) AS n_chars,
       round(CAST(c.n_docs AS DOUBLE) / CAST(t._st AS DOUBLE), 9)
         AS share_of_source
FROM cell c JOIN stot t USING (source)
ORDER BY c.source, c.lang
"""


def lang_id_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision/recall/F1 of the marker-token language
    identifier — the evaluation summary a lang-ID deployment reads
    (the :func:`lang_id` confusion matrix collapsed to the three
    numbers per class).  Rides the production kernel: this is a pure
    re-aggregation of ``lang_id``'s output, so the audited path IS
    the deployed path.

    All counts exact integers; P/R/F1 are row-level double
    expressions rounded to 9 dp."""
    conf = lang_id(spark, sf_dir)
    truth = conf.groupBy("lang").agg(F.sum("n_docs").alias("n_true"))
    pred = conf.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n_docs").alias("n_pred")
    )
    diag = conf.where(F.col("lang") == F.col("pred_lang")).select(
        "lang", F.col("n_docs").alias("n_correct")
    )
    j = (
        truth.join(pred, "lang", "full")
        .join(diag, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )
    p = F.col("n_correct").cast("double") / F.col("n_pred").cast("double")
    r = F.col("n_correct").cast("double") / F.col("n_true").cast("double")
    # Guard the raw divisions too, not just f1: on a never-predicted
    # language (n_pred = 0) Spark's non-ANSI division yields NULL
    # while DuckDB yields NaN — neither is the 0.0-by-convention the
    # report should carry, and they hash-diverge in the oracle gate.
    p_safe = F.when(F.col("n_pred") > 0, p).otherwise(F.lit(0.0))
    r_safe = F.when(F.col("n_true") > 0, r).otherwise(F.lit(0.0))
    return j.select(
        "lang",
        "n_true",
        "n_pred",
        "n_correct",
        F.round(p_safe, 9).alias("precision"),
        F.round(r_safe, 9).alias("recall"),
        F.round(
            F.when(
                (F.col("n_pred") > 0)
                & (F.col("n_true") > 0)
                & (F.col("n_correct") > 0),
                2.0 * p * r / (p + r),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("f1"),
    ).orderBy("lang")


LANG_ID_PRF_ORACLE = """
WITH markers(pred_lang, tok, weight) AS (VALUES
  ('en','the',3),('en','fast',1),('en','table',1),
  ('es','data',2),('es','part',2),('es','la',3),
  ('fr','le',3),('fr','merge',2),('fr','row',2),
  ('de','der',3),('de','window',2),('de','hash',2),
  ('zh','spark',2),('zh','vector',2),('zh','scan',2)
),
toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
scores AS (
  SELECT doc_id, lang, pred_lang, SUM(weight) AS score
  FROM toks JOIN markers USING (tok)
  GROUP BY 1, 2, 3
),
best AS (
  SELECT doc_id, lang, pred_lang
  FROM (
    SELECT doc_id, lang, pred_lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, pred_lang ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
conf AS (
  SELECT lang, pred_lang, COUNT(*) AS n_docs FROM best GROUP BY 1, 2
),
truth AS (SELECT lang, SUM(n_docs) AS n_true FROM conf GROUP BY 1),
pred AS (SELECT pred_lang AS lang, SUM(n_docs) AS n_pred FROM conf GROUP BY 1),
diag AS (SELECT lang, n_docs AS n_correct FROM conf WHERE lang = pred_lang)
SELECT j.lang,
       CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true,
       CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(COALESCE(d.n_correct, 0) AS BIGINT) AS n_correct,
       round(CASE WHEN COALESCE(p.n_pred, 0) > 0
                  THEN CAST(COALESCE(d.n_correct, 0) AS DOUBLE)
                       / CAST(p.n_pred AS DOUBLE)
                  ELSE 0.0 END, 9) AS precision,
       round(CASE WHEN COALESCE(t.n_true, 0) > 0
                  THEN CAST(COALESCE(d.n_correct, 0) AS DOUBLE)
                       / CAST(t.n_true AS DOUBLE)
                  ELSE 0.0 END, 9) AS recall,
       round(CASE WHEN COALESCE(p.n_pred, 0) > 0 AND COALESCE(t.n_true, 0) > 0
                       AND COALESCE(d.n_correct, 0) > 0
                  THEN 2.0 * (CAST(d.n_correct AS DOUBLE) / CAST(p.n_pred AS DOUBLE))
                           * (CAST(d.n_correct AS DOUBLE) / CAST(t.n_true AS DOUBLE))
                       / ((CAST(d.n_correct AS DOUBLE) / CAST(p.n_pred AS DOUBLE))
                          + (CAST(d.n_correct AS DOUBLE) / CAST(t.n_true AS DOUBLE)))
                  ELSE 0.0 END, 9) AS f1
FROM (SELECT lang FROM truth UNION SELECT lang FROM pred) j
LEFT JOIN truth t USING (lang)
LEFT JOIN pred p USING (lang)
LEFT JOIN diag d USING (lang)
ORDER BY j.lang
"""


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: regex tokens per whitespace
    word and characters per regex token under the module's BPE-ish
    pre-tokenizer (``TOKEN_REGEX``) — the cost model multilingual
    tokenizer work reads first (a language with fertility ≫ 1 pays
    more sequence length per word).

    Plan: two row-local counts per document (split size and
    regexp_extract_all size — codegen, no explode), one enum-sized
    per-lang aggregate; ratios are single double divisions of exact
    integer sums."""
    docs = _docs(spark, sf_dir)
    n_words = F.size(F.split(F.col("text"), " "))
    n_toks = F.size(F.expr(f"regexp_extract_all(text, '{TOKEN_REGEX}', 0)"))
    cell = docs.select(
        "lang",
        n_words.alias("_w"),
        n_toks.alias("_t"),
        F.length("text").alias("_c"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_t").alias("n_tokens"),
        F.sum("_c").alias("n_chars"),
    )
    return cell.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
            9,
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
            9,
        ).alias("chars_per_token"),
    ).orderBy("lang")


TOKENIZER_FERTILITY_ORACLE = """
WITH cell AS (
  SELECT lang, COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS n_words,
         SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)))
           AS n_tokens,
         SUM(length(text)) AS n_chars
  FROM documents GROUP BY 1
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 9)
         AS fertility,
       round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
         AS chars_per_token
FROM cell ORDER BY lang
"""


def length_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source, the Pearson correlation between document LENGTH
    (chars) and STOPWORD RATIO — the filter-design sanity check (if
    long documents are systematically more/less boilerplate, a joint
    length+quality threshold beats two independent ones).

    Determinism: per-doc ratio rounded to 9 dp into DECIMAL; Σx/Σx²
    are exact integers, Σy/Σy² exact decimal products of the rounded
    ratios, Σxy a rounded-term decimal sum (the module contract);
    the correlation is one row-level double expression per source.
    One tokenize pass; enum-sized output."""
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    stop_expr = F.filter(w, lambda t: t.isin(*STOPWORDS))
    per_doc = docs.select(
        "source",
        F.length("text").cast("long").alias("x"),
        F.round(
            F.size(stop_expr).cast("double") / F.size(w).cast("double"), 9
        ).cast("decimal(18,9)").alias("y"),
    ).where(F.size(w) > 0)
    xy = F.round(F.col("x").cast("double") * F.col("y").cast("double"), 6).cast(
        "decimal(38,6)"
    )
    agg = per_doc.select(
        "source",
        "x",
        "y",
        xy.alias("_xy"),
        (F.col("y") * F.col("y")).cast("decimal(38,18)").alias("_yy"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").alias("_sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("_sxx"),
        F.sum("y").alias("_sy"),
        F.sum("_yy").alias("_syy"),
        F.sum("_xy").alias("_sxy"),
    )
    nd = F.col("n_docs").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    corr = (nd * sxy - sx * sy) / F.sqrt(
        (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    )
    return (
        agg.where(F.col("n_docs") > 1)
        .select(
            "source",
            "n_docs",
            F.round(sy / nd, 9).alias("mean_stopword_ratio"),
            F.round(corr, 9).alias("length_quality_corr"),
        )
        .orderBy("source")
    )


LENGTH_QUALITY_CORR_ORACLE = """
WITH per_doc AS (
  SELECT source, CAST(length(text) AS BIGINT) AS x,
         CAST(round(CAST(len(list_filter(string_split(text, ' '),
                                         t -> t IN ('the','a','and','of','to','in','is','it')))
                         AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS y
  FROM documents WHERE len(string_split(text, ' ')) > 0
),
agg AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(x) AS _sx, SUM(CAST(x * x AS HUGEINT)) AS _sxx,
         SUM(y) AS _sy,
         SUM(CAST(y * y AS DECIMAL(38,18))) AS _syy,
         SUM(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6)
                  AS DECIMAL(38,6))) AS _sxy
  FROM per_doc GROUP BY 1
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       round(CAST(_sy AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
         AS mean_stopword_ratio,
       round((CAST(n_docs AS DOUBLE) * CAST(_sxy AS DOUBLE)
              - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
             / sqrt((CAST(n_docs AS DOUBLE) * CAST(_sxx AS DOUBLE)
                     - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))
                    * (CAST(n_docs AS DOUBLE) * CAST(_syy AS DOUBLE)
                       - CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE))), 9)
         AS length_quality_corr
FROM agg WHERE n_docs > 1
ORDER BY source
"""


def doc_boilerplate_ngram_share(
    spark: SparkSession, sf_dir: str, n: int = 5, top_k: int = 50
) -> DataFrame:
    """Boilerplate coverage per source: the share of each document's
    token 5-gram positions that hit the corpus's TOP-50 most frequent
    5-grams — the template-contamination number curation reads before
    setting a dedup/quality threshold (high coverage = the corpus is
    repeating itself; ``corpus_top_ngrams`` lists the offenders, this
    measures their reach).

    Plan: one positional-gram pass (the ``dup_span_extents``
    tokenize kernel), a corpus count, a deterministic top-k
    (count desc, gram), then a broadcast semi-join back over the
    SAME gram frame — the corpus is tokenized ONCE and reused.
    Shares are rounded-term decimals averaged AS DECIMAL."""
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array())
    # Materialize the positional-gram frame once: both the corpus
    # top-k and the per-doc coverage consume it, and without the
    # checkpoint Catalyst re-derives the tokenize+explode for each —
    # the single most expensive part of the plan, paid twice.
    g = docs.select(
        "doc_id", "source", F.explode(grams).alias("gram")
    ).localCheckpoint(eager=True)
    top = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), "gram")
        .limit(top_k)
        .select("gram")
    )
    per_doc = (
        g.join(F.broadcast(top).withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_boiler"),
        )
    )
    share = F.round(
        F.col("n_boiler").cast("double") / F.col("n_grams").cast("double"), 9
    ).cast("decimal(18,9)")
    cell = per_doc.select("source", share.alias("_sh")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("_sh").cast("double") / F.count(F.lit(1)).cast("double"), 9
        ).alias("mean_boilerplate_share"),
    )
    return cell.orderBy("source")


DOC_BOILERPLATE_ORACLE = """
WITH g AS (
  SELECT doc_id, source,
         array_to_string(words[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS gram
  FROM (SELECT doc_id, source, string_split(text, ' ') AS words
        FROM documents) d,
       LATERAL unnest(range(1, len(words) - 3)) t(i)
  WHERE len(words) >= 5
),
top AS (
  SELECT gram FROM (
    SELECT gram, COUNT(*) AS _c FROM g GROUP BY 1
  ) ORDER BY _c DESC, gram LIMIT 50
),
per_doc AS (
  SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
         SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
  FROM g LEFT JOIN top t ON g.gram = t.gram
  GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(CAST(round(CAST(n_boiler AS DOUBLE)
                                 / CAST(n_grams AS DOUBLE), 9)
                           AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS mean_boilerplate_share
FROM per_doc GROUP BY 1 ORDER BY 1
"""


def source_unigram_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence (nats) between the sources'
    unigram distributions — the symmetric, bounded distance behind
    "which sources write alike?", sharper than
    ``source_vocab_overlap``'s set Jaccard because it weighs words by
    probability mass.

    Decomposition keeps it one equi-join: for a pair (A, B) with
    shared-vocabulary terms S,
    ``JSD = ½[Σ_S p·ln(2p/(p+q)) + ln2·(1−P_S)] +
    ½[Σ_S q·ln(2q/(p+q)) + ln2·(1−Q_S)]`` — words private to one
    source contribute exactly ``½·ln2`` per unit mass, and the
    private masses ``1−P_S``/``1−Q_S`` come from EXACT integer count
    sums (one division each), so only the shared Σ needs the
    rounded-term DECIMAL contract (``token_entropy_by_source``'s):
    each libm term rounds to 9 dp and sums as DECIMAL(18,9) — no
    accumulation-order drift.

    Scale: counts reduce to (source, token) grain first; the
    pairwise structure is ONE token-keyed equi-join with partial
    aggregation (never |sources|² scans of the corpus); output is
    the C(sources,2) matrix."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).where(F.length("t") > 0)
    counts = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("source").agg(F.sum("n").alias("ntot"))
    dist = counts.join(F.broadcast(tot), "source")
    a = dist.select(
        F.col("source").alias("source_a"),
        "t",
        F.col("n").alias("na"),
        F.col("ntot").alias("na_tot"),
    )
    b = dist.select(
        F.col("source").alias("source_b"),
        "t",
        F.col("n").alias("nb"),
        F.col("ntot").alias("nb_tot"),
    )
    pair = a.join(b, "t").where(F.col("source_a") < F.col("source_b"))
    p = F.col("na").cast("double") / F.col("na_tot").cast("double")
    q = F.col("nb").cast("double") / F.col("nb_tot").cast("double")
    term_p = F.round(p * F.log(F.lit(2.0) * p / (p + q)), 9).cast(
        "decimal(18,9)"
    )
    term_q = F.round(q * F.log(F.lit(2.0) * q / (p + q)), 9).cast(
        "decimal(18,9)"
    )
    sh = pair.groupBy("source_a", "source_b", "na_tot", "nb_tot").agg(
        F.count(F.lit(1)).alias("n_shared_terms"),
        F.sum(term_p).alias("_tp"),
        F.sum(term_q).alias("_tq"),
        F.sum("na").alias("_sna"),
        F.sum("nb").alias("_snb"),
    )
    ln2 = F.log(F.lit(2.0))
    priv_p = F.lit(1.0) - F.col("_sna").cast("double") / F.col(
        "na_tot"
    ).cast("double")
    priv_q = F.lit(1.0) - F.col("_snb").cast("double") / F.col(
        "nb_tot"
    ).cast("double")
    # final combination stays DECIMAL (each piece rounded to 9 dp
    # first), then ONE exact *0.5 in double (a power-of-two multiply
    # never rounds) — a final round(…, 9) here would sit exactly on
    # half-ulp boundaries and Spark/DuckDB disagree on ties
    total = (
        F.col("_tp")
        + F.col("_tq")
        + F.round(ln2 * priv_p, 9).cast("decimal(18,9)")
        + F.round(ln2 * priv_q, 9).cast("decimal(18,9)")
    )
    return sh.select(
        "source_a",
        "source_b",
        "n_shared_terms",
        (total.cast("double") * F.lit(0.5)).alias("jsd_nats"),
    ).orderBy("source_a", "source_b")


SOURCE_UNIGRAM_JSD_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
counts AS (
  SELECT source, t, COUNT(*) AS n FROM tok WHERE length(t) > 0 GROUP BY 1, 2
),
tot AS (SELECT source, SUM(n) AS n_tot FROM counts GROUP BY 1),
dist AS (SELECT c.source, c.t, c.n, t.n_tot
         FROM counts c JOIN tot t USING (source)),
pair AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.n AS na, a.n_tot AS na_tot, b.n AS nb, b.n_tot AS nb_tot
  FROM dist a JOIN dist b ON a.t = b.t AND a.source < b.source
),
sh AS (
  SELECT source_a, source_b, na_tot, nb_tot,
         COUNT(*) AS n_shared_terms,
         SUM(CAST(round((CAST(na AS DOUBLE) / CAST(na_tot AS DOUBLE))
                        * ln(2.0 * (CAST(na AS DOUBLE) / CAST(na_tot AS DOUBLE))
                             / ((CAST(na AS DOUBLE) / CAST(na_tot AS DOUBLE))
                                + (CAST(nb AS DOUBLE) / CAST(nb_tot AS DOUBLE)))),
                        9) AS DECIMAL(18,9))) AS _tp,
         SUM(CAST(round((CAST(nb AS DOUBLE) / CAST(nb_tot AS DOUBLE))
                        * ln(2.0 * (CAST(nb AS DOUBLE) / CAST(nb_tot AS DOUBLE))
                             / ((CAST(na AS DOUBLE) / CAST(na_tot AS DOUBLE))
                                + (CAST(nb AS DOUBLE) / CAST(nb_tot AS DOUBLE)))),
                        9) AS DECIMAL(18,9))) AS _tq,
         SUM(na) AS _sna, SUM(nb) AS _snb
  FROM pair GROUP BY 1, 2, 3, 4
)
SELECT source_a, source_b, CAST(n_shared_terms AS BIGINT) AS n_shared_terms,
       CAST(_tp + _tq
            + CAST(round(ln(2.0) * (1.0 - CAST(_sna AS DOUBLE)
                                          / CAST(na_tot AS DOUBLE)), 9)
                   AS DECIMAL(18,9))
            + CAST(round(ln(2.0) * (1.0 - CAST(_snb AS DOUBLE)
                                          / CAST(nb_tot AS DOUBLE)), 9)
                   AS DECIMAL(18,9))
            AS DOUBLE) * 0.5 AS jsd_nats
FROM sh ORDER BY source_a, source_b
"""


def _lang_bigram_counts(spark: SparkSession, sf_dir: str):
    """Stored (cached dc frame, sorted langs, per-lang smoothing
    denoms) — the classifier kernel of ``lang_profile_confusion``;
    its two scalar jobs run once per (session, sf_dir)."""
    return artifacts.get(
        spark, ("lang_bigrams", sf_dir), lambda: _lang_bigram_build(spark, sf_dir)
    )


def _lang_bigram_build(spark: SparkSession, sf_dir: str):
    docs = _docs(spark, sf_dir)
    bg = F.explode(
        F.expr(
            "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"
        )
    )
    dc = (
        docs.where(F.length("text") >= 2)
        .select("doc_id", "lang", bg.alias("bg"))
        .groupBy("doc_id", "lang", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    langs = sorted(r[0] for r in dc.select("lang").distinct().collect())
    stats = dc.agg(
        F.countDistinct("bg").alias("v"),
        *[
            F.sum(F.when(F.col("lang") == l, F.col("c"))).alias(f"nl{i}")
            for i, l in enumerate(langs)
        ],
    ).first()
    v = int(stats["v"])
    denom = [int(stats[f"nl{i}"]) + v for i in range(len(langs))]
    return dc, langs, denom


def lang_profile_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit via a char-bigram naive-Bayes classifier:
    each document is scored against every language's add-one-smoothed
    bigram profile (score = Σ c_bg·ln((n_bg|lang + 1)/(N_lang + V)))
    and assigned to the argmax; the (true lang × predicted lang)
    confusion matrix localizes suspected mislabels.  The
    distribution-profile companion to ``lang_id``'s marker-token
    identifier — two independent systems agreeing is the standard
    label-QA setup.

    Determinism: smoothed probabilities are ratios of exact integer
    counts; each c·ln term follows the module's rounded-term DECIMAL
    contract, so per-(doc, lang) scores are exact DECIMALs and the
    argmax (score desc, lang asc) is unambiguous in both engines.

    Scale: bigram profiles are |langs|·|charset²| rows (broadcast);
    docs reduce to (doc, bigram) counts once; scores for all |langs|
    candidates are CONDITIONAL COLUMNS over that frame — linear in
    corpus bigrams, nothing pairwise.

    r16 plan rewrite (same values, proven over the unchanged oracle):
    the former |dc|×|langs| crossJoin row fan-out + DECIMAL(28,9)
    hash aggregate + doc-grain row_number window is now (a) one
    vocab-grain profile aggregate with a per-language conditional-sum
    column each, broadcast-joined back to the (doc, bigram) counts,
    (b) per-language score columns summed as EXACT SCALED LONGS
    (round(c·lp, 9) has ≤9 decimal places; ×10⁹ is an integer that a
    double reconstructs exactly within ±0.004, so half-up rint
    recovers it — the long sum equals the old decimal sum ×10⁹
    term-for-term, preserving the argmax order bit-exactly), and
    (c) a row-local array argmax (array_position of array_max over
    asc-ordered langs == the old score-desc, plang-asc row_number
    tiebreak).  Removes the |langs|-fold row expansion, the fan
    shuffle, the decimal aggregation and the window exchange
    (guide §2.3 narrower types / §2.4 remove shuffles); adds two
    tiny scalar jobs (|langs| list + smoothing constants) over the
    cached (doc, bigram) frame."""
    dc, langs, denom = _lang_bigram_counts(spark, sf_dir)
    profp = dc.groupBy("bg").agg(
        *[
            F.sum(F.when(F.col("lang") == l, F.col("c"))).alias(f"nbl{i}")
            for i, l in enumerate(langs)
        ]
    )
    dcj = dc.join(F.broadcast(profp), "bg")
    terms = []
    for i in range(len(langs)):
        lp = F.log(
            (F.coalesce(F.col(f"nbl{i}"), F.lit(0)) + F.lit(1)).cast("double")
            / F.lit(denom[i]).cast("double")
        )
        term_d = F.round(F.col("c").cast("double") * lp, 9)
        terms.append(F.round(term_d * F.lit(1e9)).cast("long"))
    score = dcj.groupBy("doc_id", "lang").agg(
        *[F.sum(t).alias(f"s{i}") for i, t in enumerate(terms)]
    )
    sarr = F.array(*[F.col(f"s{i}") for i in range(len(langs))])
    pred_lang = F.element_at(
        F.array(*[F.lit(l) for l in langs]),
        F.array_position(sarr, F.array_max(sarr)).cast("int"),
    )
    pred = score.select("lang", pred_lang.alias("pred_lang"))
    cell = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cell.groupBy("lang").agg(F.sum("n_docs").alias("_lt"))
    return (
        cell.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("_lt").cast("double"),
                9,
            ).alias("share_of_lang"),
        )
        .orderBy("lang", "pred_lang")
    )


LANG_PROFILE_CONFUSION_ORACLE = """
WITH dc AS (
  SELECT doc_id, lang, substr(text, CAST(i AS INT), 2) AS bg, COUNT(*) AS c
  FROM documents, LATERAL unnest(range(1, len(text))) t(i)
  WHERE len(text) >= 2
  GROUP BY 1, 2, 3
),
prof AS (
  SELECT lang AS plang, bg, SUM(c) AS n_bl FROM dc GROUP BY 1, 2
),
ptot AS (SELECT plang, SUM(n_bl) AS n_l FROM prof GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT bg) AS v FROM prof),
fan AS (
  SELECT d.doc_id, d.lang, l.plang, d.c,
         COALESCE(p.n_bl, 0) AS _nbl, t.n_l, vb.v
  FROM dc d
  CROSS JOIN (SELECT plang FROM ptot) l
  LEFT JOIN prof p ON p.plang = l.plang AND p.bg = d.bg
  JOIN ptot t ON t.plang = l.plang
  CROSS JOIN vocab vb
),
score AS (
  SELECT doc_id, lang, plang,
         SUM(CAST(round(CAST(c AS DOUBLE)
                        * ln(CAST(_nbl + 1 AS DOUBLE)
                             / CAST(n_l + v AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS _s
  FROM fan GROUP BY 1, 2, 3
),
pred AS (
  SELECT lang, plang AS pred_lang
  FROM (
    SELECT lang, plang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY _s DESC, plang ASC) AS rn
    FROM score
  ) WHERE rn = 1
),
cell AS (
  SELECT lang, pred_lang, COUNT(*) AS n_docs FROM pred GROUP BY 1, 2
),
tot AS (SELECT lang, SUM(n_docs) AS _lt FROM cell GROUP BY 1)
SELECT c.lang, c.pred_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
       round(CAST(c.n_docs AS DOUBLE) / CAST(t._lt AS DOUBLE), 9)
         AS share_of_lang
FROM cell c JOIN tot t USING (lang)
ORDER BY c.lang, c.pred_lang
"""


def dup_quality_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are duplicated documents lower quality?  Per source, exact
    duplicates (same full text appearing ≥2 times corpus-wide) vs
    unique docs compared on mean length and mean type-token ratio —
    the curation cross-check that motivates dedup-before-quality
    ordering in a data pipeline (boilerplate is both duplicated AND
    low-TTR; this measures how much).

    Determinism: dup flag is exact text equality (no hashing); mean
    chars divides exact integer sums; per-doc TTR follows the
    rounded-term DECIMAL contract before averaging.

    Scale: one text-keyed aggregate for the dup flag (the
    ``dedup_exact`` kernel shape), one row-local token count pass,
    one enum-sized aggregate."""
    docs = _docs(spark, sf_dir)
    dup = docs.groupBy("text").agg(F.count(F.lit(1)).alias("_n"))
    toks = F.split(F.col("text"), " ")
    ttr = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )
    j = docs.join(dup, "text").select(
        "source",
        (F.col("_n") > 1).cast("int").alias("is_dup"),
        "n_chars",
        F.round(ttr, 9).cast("decimal(18,9)").alias("_ttr"),
    )
    cell = j.groupBy("source", "is_dup").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("mean_chars"),
        F.round(
            F.sum("_ttr").cast("double") / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("mean_ttr"),
    )
    return cell.orderBy("source", "is_dup")


DUP_QUALITY_GAP_ORACLE = """
WITH dup AS (
  SELECT text, COUNT(*) AS _n FROM documents GROUP BY 1
),
j AS (
  SELECT d.source,
         CASE WHEN u._n > 1 THEN 1 ELSE 0 END AS is_dup,
         d.n_chars,
         CAST(round(CAST(len(list_distinct(string_split(d.text, ' ')))
                         AS DOUBLE)
                    / CAST(len(string_split(d.text, ' ')) AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS _ttr
  FROM documents d JOIN dup u USING (text)
)
SELECT source, CAST(is_dup AS INT) AS is_dup,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         AS mean_chars,
       round(CAST(SUM(_ttr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         AS mean_ttr
FROM j GROUP BY 1, 2 ORDER BY 1, 2
"""


def doc_length_anova_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length across languages: does the
    declared language explain length variance?  A large F-ratio
    means per-language length norms differ enough that curation
    thresholds (truncation, min-length filters) should be set PER
    LANGUAGE, not globally — the corpus-level analog of
    ``dimension_discriminability``'s per-coordinate F.

    Determinism: per-language count/sum/sum-of-squares of ``n_chars``
    are exact DECIMAL sums; the s²/n terms round to 6 dp into
    DECIMAL(38,6) and sum AS DECIMAL (the established ANOVA
    contract); the final F is one double chain rounded 6.

    Scale: one |langs|-sized aggregate; everything after is
    enum-sized."""
    docs = _docs(spark, sf_dir)
    nd = F.col("n_chars").cast("decimal(38,0)")
    lab = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_l"),
        F.sum(nd).alias("s_l"),
        F.sum((nd * nd).cast("decimal(38,0)")).alias("ss_l"),
    )
    t_l = F.round(
        (F.col("s_l").cast("double") * F.col("s_l").cast("double"))
        / F.col("n_l").cast("double"),
        6,
    ).cast("decimal(38,6)")
    agg = lab.agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum("n_l").alias("n_total"),
        F.sum("s_l").alias("_s"),
        F.sum("ss_l").alias("_q"),
        F.sum(t_l).alias("_t"),
    )
    g = F.round(
        (F.col("_s").cast("double") * F.col("_s").cast("double"))
        / F.col("n_total").cast("double"),
        6,
    )
    ssb = F.col("_t").cast("double") - g
    ssw = F.col("_q").cast("double") - F.col("_t").cast("double")
    f_ratio = F.round(
        (ssb / (F.col("n_langs").cast("double") - 1.0))
        / (
            ssw
            / (
                F.col("n_total").cast("double")
                - F.col("n_langs").cast("double")
            )
        ),
        6,
    )
    return agg.select(
        "n_langs",
        "n_total",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        f_ratio.alias("f_ratio"),
    )


DOC_LENGTH_ANOVA_ORACLE = """
WITH lab AS (
  SELECT lang, COUNT(*) AS n_l,
         SUM(CAST(n_chars AS HUGEINT)) AS s_l,
         SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS ss_l
  FROM documents GROUP BY 1
),
agg AS (
  SELECT COUNT(*) AS n_langs, SUM(n_l) AS n_total,
         SUM(s_l) AS _s, SUM(ss_l) AS _q,
         SUM(CAST(round(CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE)
                        / CAST(n_l AS DOUBLE), 6) AS DECIMAL(38,6))) AS _t
  FROM lab
)
SELECT CAST(n_langs AS BIGINT) AS n_langs,
       CAST(n_total AS BIGINT) AS n_total,
       round(CAST(_t AS DOUBLE)
             - round(CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE)
                     / CAST(n_total AS DOUBLE), 6), 6) AS ss_between,
       round(CAST(_q AS DOUBLE) - CAST(_t AS DOUBLE), 6) AS ss_within,
       round(((CAST(_t AS DOUBLE)
               - round(CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE)
                       / CAST(n_total AS DOUBLE), 6))
              / (CAST(n_langs AS DOUBLE) - 1.0))
             / ((CAST(_q AS DOUBLE) - CAST(_t AS DOUBLE))
                / (CAST(n_total AS DOUBLE) - CAST(n_langs AS DOUBLE))), 6)
         AS f_ratio
FROM agg
"""


QUERIES = {
    "doc_length_anova_by_lang": doc_length_anova_by_lang,
    "lang_profile_confusion": lang_profile_confusion,
    "dup_quality_gap": dup_quality_gap,
    "source_unigram_jsd": source_unigram_jsd,
    "word_freq_top50": word_freq_top50,
    "heaps_vocab_growth": heaps_vocab_growth,
    "token_entropy_by_source": token_entropy_by_source,
    "doc_length_quartiles_by_source": doc_length_quartiles_by_source,
    "avg_word_len_by_lang": avg_word_len_by_lang,
    "sentence_stats_by_source": sentence_stats_by_source,
    "doc_length_gini_by_source": doc_length_gini_by_source,
    "shouting_docs_top20": shouting_docs_top20,
    "token_length_histogram": token_length_histogram,
    "ttr_by_source": ttr_by_source,
    "hapax_ratio_by_source": hapax_ratio_by_source,
    "char_class_composition": char_class_composition,
    "zipf_slope_by_source": zipf_slope_by_source,
    "bpe_merge_candidates": bpe_merge_candidates,
    "doc_ngram_novelty": doc_ngram_novelty,
    "lm_bigram_quality": lm_bigram_quality,
    "doc_length_histogram": doc_length_histogram,
    "source_vocab_overlap": source_vocab_overlap,
    "text_quality": text_quality,
    "lexical_rarity": lexical_rarity,
    "source_signature_terms": source_signature_terms,
    "token_counts": token_counts,
    "lang_id": lang_id,
    "doc_fingerprints": doc_fingerprints,
    "corpus_top_ngrams": corpus_top_ngrams,
    "source_dup_matrix": source_dup_matrix,
    "vocab_coverage": vocab_coverage,
    "char_bigram_entropy_by_lang": char_bigram_entropy_by_lang,
    "word_pmi_top_pairs": word_pmi_top_pairs,
    "source_lang_mix": source_lang_mix,
    "lang_id_prf": lang_id_prf,
    "tokenizer_fertility_by_lang": tokenizer_fertility_by_lang,
    "length_quality_correlation": length_quality_correlation,
    "doc_boilerplate_ngram_share": doc_boilerplate_ngram_share,
}

ORACLES = {
    "doc_length_anova_by_lang": DOC_LENGTH_ANOVA_ORACLE,
    "lang_profile_confusion": LANG_PROFILE_CONFUSION_ORACLE,
    "dup_quality_gap": DUP_QUALITY_GAP_ORACLE,
    "source_unigram_jsd": SOURCE_UNIGRAM_JSD_ORACLE,
    "doc_boilerplate_ngram_share": DOC_BOILERPLATE_ORACLE,
    "length_quality_correlation": LENGTH_QUALITY_CORR_ORACLE,
    "source_lang_mix": SOURCE_LANG_MIX_ORACLE,
    "lang_id_prf": LANG_ID_PRF_ORACLE,
    "tokenizer_fertility_by_lang": TOKENIZER_FERTILITY_ORACLE,
    "char_bigram_entropy_by_lang": CHAR_BIGRAM_ENTROPY_ORACLE,
    "word_pmi_top_pairs": WORD_PMI_ORACLE,
    "word_freq_top50": WORD_FREQ_TOP50_ORACLE,
    "heaps_vocab_growth": HEAPS_VOCAB_GROWTH_ORACLE,
    "token_entropy_by_source": TOKEN_ENTROPY_ORACLE,
    "doc_length_quartiles_by_source": DOC_LENGTH_QUARTILES_ORACLE,
    "avg_word_len_by_lang": AVG_WORD_LEN_ORACLE,
    "sentence_stats_by_source": SENTENCE_STATS_ORACLE,
    "doc_length_gini_by_source": DOC_LENGTH_GINI_ORACLE,
    "shouting_docs_top20": SHOUTING_DOCS_ORACLE,
    "token_length_histogram": TOKEN_LENGTH_HIST_ORACLE,
    "ttr_by_source": TTR_BY_SOURCE_ORACLE,
    "hapax_ratio_by_source": HAPAX_RATIO_ORACLE,
    "char_class_composition": CHAR_CLASS_ORACLE,
    "zipf_slope_by_source": ZIPF_SLOPE_ORACLE,
    "bpe_merge_candidates": BPE_MERGE_ORACLE,
    "doc_ngram_novelty": DOC_NGRAM_NOVELTY_ORACLE,
    "lm_bigram_quality": LM_BIGRAM_QUALITY_ORACLE,
    "doc_length_histogram": DOC_LENGTH_HISTOGRAM_ORACLE,
    "source_vocab_overlap": SOURCE_VOCAB_OVERLAP_ORACLE,
    "text_quality": TEXT_QUALITY_ORACLE,
    "lexical_rarity": LEXICAL_RARITY_ORACLE,
    "source_signature_terms": SOURCE_SIGNATURE_ORACLE,
    "token_counts": TOKEN_COUNTS_ORACLE,
    "lang_id": LANG_ID_ORACLE,
    "doc_fingerprints": DOC_FINGERPRINTS_ORACLE,
    "corpus_top_ngrams": CORPUS_TOP_NGRAMS_ORACLE,
    "source_dup_matrix": SOURCE_DUP_MATRIX_ORACLE,
    "vocab_coverage": VOCAB_COVERAGE_ORACLE,
}
