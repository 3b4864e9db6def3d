"""Corpus-curation operators for LLM training-data pipelines:
repetition-based quality rules, PII redaction, benchmark
contamination checks, deterministic stratified sampling, sequence
packing, and mixture re-weighting.

These extend the reference's surface (it has no document-curation
layer; its closest analog is the event mapper chain,
rakam-spi/.../EventMapper.java) with the operations a 100 TB
pretraining-data pipeline runs over the ``documents`` table.

Scale notes, per operator:

- ``quality_repetition_rules``: explode → two hash aggregations on
  ``doc_id`` — map-side partial aggregation dedupes token counts
  before the wire; linear in corpus size.
- ``pii_redaction``: pure row-local regexp column expressions;
  embarrassingly parallel, stays in whole-stage codegen.
- ``contamination_check``: the benchmark shingle set is tiny (the
  held-out eval suite) and is BROADCAST; the corpus side streams
  through one join + one aggregation — no corpus self-join, no
  shuffle of the corpus beyond its doc_id aggregation.
- ``stratified_sample``: row-local md5 bucket + per-stratum
  threshold; deterministic under retries (content-addressed, not
  ``rand()``), so a re-run of a failed partition samples the same
  rows — the property that matters at 1000 executors.
- ``pack_sequences``: running token sum WITHIN each source partition
  (window partitioned by ``source``) — parallel across sources; at
  100 TB sources map to input shards so no global ordering exists
  anywhere in the plan.
- ``mix_weights``: one small aggregation + a broadcast of the grand
  total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..tables import load_table
from .dedup import word_shingles

# Rule thresholds (Gopher-family repetition filters, re-anchored to
# the synthetic corpus distribution so both rule branches are
# exercised at test scale: top-token fraction median is ~0.09 /
# max 0.30, duplicate-token fraction median ~0.83 / max 0.99).
TOP_TOKEN_FRAC_MAX = 0.15
DUP_TOKEN_FRAC_MAX = 0.9

# RE2- and java.util.regex-compatible PII patterns (same behavior in
# Spark codegen and the DuckDB oracle; no lookarounds, no \b edge
# semantics differences on these shapes).
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "555-[0-9]{4}"

PACK_TOKEN_BUDGET = 512


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- repetition-based quality rules -------------------------------------


def quality_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per-doc top-token fraction
    and duplicate-token fraction, with a keep/drop verdict.

    Two hash aggregations keyed on doc_id (token counts, then doc
    rollup) — both benefit from map-side combine; no window, no
    self-join.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    wc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)).alias("dup_tokens"),
    )
    top_frac = F.col("top_count").cast("double") / F.col("n_tokens").cast("double")
    dup_frac = F.col("dup_tokens").cast("double") / F.col("n_tokens").cast("double")
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            top_frac.alias("top_token_frac"),
            dup_frac.alias("dup_token_frac"),
            (
                (top_frac <= F.lit(TOP_TOKEN_FRAC_MAX))
                & (dup_frac <= F.lit(DUP_TOKEN_FRAC_MAX))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


QUALITY_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct, MAX(c) AS top_count,
         COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS dup_tokens
  FROM wc GROUP BY 1
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac,
       CAST(dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_token_frac,
       (CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.15
        AND CAST(dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.9) AS keep
FROM per_doc
"""


# --- PII redaction -------------------------------------------------------


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/phone numbers and report per-doc counts.

    The synthetic corpus carries no PII, so a deterministic augmenter
    plants one email + one phone in every 5th doc IN-QUERY (both
    engines construct the identical augmented input) — the redaction
    path is exercised non-vacuously while the fixture tables stay
    untouched.  Row-local regexps: whole-stage codegen, linear scale.
    """
    docs = _docs(spark, sf_dir)
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    aug = docs.select("doc_id", planted.alias("text"))
    n_emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return aug.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


PII_REDACTION_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                          '{PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
FROM aug
"""


# --- benchmark contamination --------------------------------------------


def contamination_check(
    spark: SparkSession, sf_dir: str, n: int = 4, bench_mod: int = 97
) -> DataFrame:
    """N-gram contamination of the training corpus against a held-out
    benchmark set (docs with ``doc_id % bench_mod == 0`` stand in for
    the eval suite).

    The benchmark shingle set is small by construction → broadcast;
    the corpus streams through one equi-join + per-doc aggregation.
    At 100 TB the corpus is never self-joined and never shuffled on
    anything but doc_id.
    """
    docs = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") % bench_mod == 0
    bench_sh = (
        word_shingles(docs.where(is_bench), n=n).select("shingle").distinct()
    )
    corpus_sh = word_shingles(docs.where(~is_bench), n=n)
    sizes = corpus_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus_sh.join(broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        sizes.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("contaminated_frac"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_ORACLE = """
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2]
           || ' ' || w[CAST(i AS INT)+3] AS shingle
  FROM docs, LATERAL unnest(range(1, len(w)-2)) t(i)
  WHERE len(w) >= 4
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY 1),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_contaminated
  FROM corpus c JOIN bench USING (shingle) GROUP BY 1
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_contaminated AS BIGINT) AS n_contaminated,
       CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contaminated_frac
FROM sizes JOIN hits USING (doc_id)
"""


# --- deterministic stratified sampling ----------------------------------

# per-mill keep rates per language stratum (down-weight the dominant
# languages, keep the tail) — data, not code, like the lang-id
# marker table.
SAMPLE_RATES_PER_MILL = {"en": 500, "es": 250, "fr": 250, "de": 125, "zh": 125}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc iff its
    md5(doc_id) bucket (of 1000) falls under the stratum's rate.

    Content-addressed sampling (not ``rand()``) so task retries and
    full re-runs select identical rows — at 1000 executors a
    nondeterministic sample breaks exactly-once downstream contracts.
    Reports per-stratum totals; the kept frame itself is the same
    filter without the rollup.
    """
    docs = _docs(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 1000
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(r))
            for lang, r in SAMPLE_RATES_PER_MILL.items()
        ],
        F.lit(0),
    )
    kept = F.col("_bucket") < F.col("_rate")
    return (
        docs.select("doc_id", "lang", "n_chars", bucket.alias("_bucket"), rate.alias("_rate"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0)).alias("kept_chars"),
        )
        .orderBy("lang")
    )


STRATIFIED_SAMPLE_ORACLE = """
WITH tagged AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket,
         CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 250 WHEN 'fr' THEN 250
                   WHEN 'de' THEN 125 WHEN 'zh' THEN 125 ELSE 0 END AS rate
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN bucket < rate THEN n_chars END), 0) AS BIGINT) AS kept_chars
FROM tagged GROUP BY 1
"""


# --- sequence packing ----------------------------------------------------


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing for training: within each source
    shard, docs (ordered by doc_id) fill fixed token-budget
    sequences; a doc belongs to the sequence where it STARTS (the
    streaming-friendly rule — no doc splitting, no lookahead).

    The window is partitioned by ``source`` — sources are the unit
    of parallelism, mirroring how a 100 TB corpus packs per input
    shard with no global order anywhere.
    """
    docs = _docs(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "seq_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_TOKEN_BUDGET)).cast("long"),
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "seq_id")
    )


PACK_SEQUENCES_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT source, CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM packed GROUP BY 1, 2
"""


# --- unigram-LM typicality ----------------------------------------------

RARE_TYPICALITY_MAX = 0.0331


def doc_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality proxy with an integer-exact core: score
    each doc by the mean CORPUS frequency of its tokens, normalized
    by total corpus tokens (a scale-free typicality share — rare-
    vocabulary docs score low, boilerplate scores high).

    A real deployment plugs a trained LM's perplexity in here; this
    unigram formulation keeps the identical plan shape (corpus
    frequency table ← one aggregation, VOCABULARY-sized — no
    broadcast hint, because Heaps-law vocabularies reach 10⁸+ terms
    at 100 TB; AQE broadcasts while small and shuffle-joins on tok
    at scale, matching ``lm_bigram_quality``'s no-broadcast contract;
    per-doc rescore ← one join + one aggregation) while every
    arithmetic step is a double division of exact integer sums — no
    ``ln`` whose last-ulp behavior differs between libm and the JVM.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("ctot"))
    totals = tf.agg(F.sum("ctot").alias("total_tokens"))
    typicality = (
        F.col("freq_sum").cast("double")
        / F.col("n_tokens").cast("double")
        / F.col("total_tokens").cast("double")
    )
    return (
        toks.join(tf, "tok")
        .groupBy("doc_id")
        .agg(F.sum("ctot").alias("freq_sum"), F.count(F.lit(1)).alias("n_tokens"))
        .crossJoin(broadcast(totals))
        .select(
            "doc_id",
            "n_tokens",
            typicality.alias("typicality"),
            (typicality < F.lit(RARE_TYPICALITY_MAX)).alias("is_rare"),
        )
        .orderBy("doc_id")
    )


DOC_TYPICALITY_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT tok, COUNT(*) AS ctot FROM toks GROUP BY 1),
totals AS (SELECT SUM(ctot) AS total_tokens FROM tf),
sc AS (
  SELECT doc_id, SUM(ctot) AS freq_sum, COUNT(*) AS n_tokens
  FROM toks JOIN tf USING (tok) GROUP BY 1
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(freq_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         / CAST(total_tokens AS DOUBLE) AS typicality,
       CAST(freq_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         / CAST(total_tokens AS DOUBLE) < 0.0331 AS is_rare
FROM sc, totals
"""


# --- mixture re-weighting ------------------------------------------------


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling weights that re-balance the corpus to a
    uniform language mixture: weight = target_share / actual token
    share.  One aggregation + a broadcast grand total."""
    docs = _docs(spark, sf_dir)
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("lang_tokens"),
    )
    totals = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    share = F.col("lang_tokens").cast("double") / F.col("total_tokens").cast("double")
    return (
        per_lang.crossJoin(broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            share.alias("token_share"),
            ((F.lit(1.0) / F.col("n_langs").cast("double")) / share).alias("mix_weight"),
        )
        .orderBy("lang")
    )


MIX_WEIGHTS_ORACLE = """
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY 1
),
totals AS (
  SELECT SUM(lang_tokens) AS total_tokens, COUNT(*) AS n_langs FROM per_lang
)
SELECT lang, n_docs, lang_tokens,
       CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
       (1.0 / CAST(n_langs AS DOUBLE))
         / (CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS mix_weight
FROM per_lang, totals
"""


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel report: how many documents each curation rule
    keeps, individually and cumulatively — the acceptance report a
    corpus pipeline publishes per snapshot.

    Rules (cheap column predicates, evaluated in ONE pass):
      1. ``length``      — 200 ≤ n_chars ≤ 20000;
      2. ``repetition``  — Gopher-style top-token / dup-token caps
                           (same thresholds as
                           ``quality_repetition_rules``);
      3. ``word_shape``  — mean token length in [2, 12].

    Plan: the token stats reuse the two hash aggregations of the
    repetition rule; the funnel itself is one conditional
    aggregation producing a single row, unpivoted to one row per
    stage with ``stack`` — no joins, no windows, 3-row output."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    wc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_count"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)).alias("dup_tokens"),
        F.sum(F.length("tok") * F.col("c")).alias("n_tok_chars"),
    )
    flags = docs.select("doc_id", "n_chars").join(per_doc, "doc_id").select(
        F.col("n_chars").between(200, 20000).alias("len_ok"),
        (
            (F.col("top_count").cast("double") / F.col("n_tokens").cast("double") <= F.lit(TOP_TOKEN_FRAC_MAX))
            & (F.col("dup_tokens").cast("double") / F.col("n_tokens").cast("double") <= F.lit(DUP_TOKEN_FRAC_MAX))
        ).alias("rep_ok"),
        (F.col("n_tok_chars").cast("double") / F.col("n_tokens").cast("double")).between(2.0, 12.0).alias("shape_ok"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("len_ok").cast("long")).alias("p1"),
        F.sum(F.col("rep_ok").cast("long")).alias("p2"),
        F.sum(F.col("shape_ok").cast("long")).alias("p3"),
        F.sum((F.col("len_ok")).cast("long")).alias("s1"),
        F.sum((F.col("len_ok") & F.col("rep_ok")).cast("long")).alias("s2"),
        F.sum((F.col("len_ok") & F.col("rep_ok") & F.col("shape_ok")).cast("long")).alias("s3"),
    )
    return agg.select(
        F.expr(
            "stack(3, "
            "1, 'length', p1, s1, "
            "2, 'repetition', p2, s2, "
            "3, 'word_shape', p3, s3) AS (stage, rule, n_pass_rule, n_surviving)"
        ),
        F.col("n_total"),
    ).orderBy("stage")


CURATION_FUNNEL_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_count,
         COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS dup_tokens,
         SUM(len(tok) * c) AS n_tok_chars
  FROM wc GROUP BY doc_id
),
flags AS (
  SELECT d.n_chars BETWEEN 200 AND 20000 AS len_ok,
         (CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.15
          AND CAST(dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.9) AS rep_ok,
         (CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)) BETWEEN 2.0 AND 12.0 AS shape_ok
  FROM documents d JOIN per_doc USING (doc_id)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         CAST(SUM(CASE WHEN rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS p2,
         CAST(SUM(CASE WHEN shape_ok THEN 1 ELSE 0 END) AS BIGINT) AS p3,
         CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN len_ok AND rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN len_ok AND rep_ok AND shape_ok THEN 1 ELSE 0 END) AS BIGINT) AS s3
  FROM flags
)
SELECT 1 AS stage, 'length' AS rule, p1 AS n_pass_rule, s1 AS n_surviving, n_total FROM agg
UNION ALL
SELECT 2, 'repetition', p2, s2, n_total FROM agg
UNION ALL
SELECT 3, 'word_shape', p3, s3, n_total FROM agg
"""


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-size token windows —
    the context-window chunking step of a pretraining/RAG pipeline
    (chunk = 32 tokens, stride = 24 → 8-token overlap).

    Chunk boundaries are pure integer arithmetic over the doc-local
    token array (``sequence`` + ``slice`` — no explode of tokens, no
    shuffle at all until the output); a 100 TB corpus chunks
    embarrassingly parallel with output rows ≈ len/stride per doc.
    Each chunk carries an md5 content address so downstream exact
    dedup can run at chunk grain.
    """
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    # chunks start at 1, 1+stride, ... ; one chunk when n <= CHUNK,
    # else 1 + ceil((n - CHUNK)/stride) via integer division
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.floor((n - CHUNK_TOKENS + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)) + 1
    ).cast("int")
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                (i * CHUNK_STRIDE + 1).cast("int").alias("start_tok"),
            ),
        )
    ).alias("c")
    exploded = docs.select("doc_id", w.alias("w"), chunk)
    chunk_arr = F.slice(F.col("w"), F.col("c.start_tok"), CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        F.size(chunk_arr).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk_arr)).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


DOC_CHUNKING_ORACLE = f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n FROM documents),
chunks AS (
  SELECT doc_id,
         CAST(i AS INT) AS chunk_idx,
         CAST(i * {CHUNK_STRIDE} + 1 AS INT) AS start_tok,
         w[CAST(i * {CHUNK_STRIDE} + 1 AS INT) : CAST(LEAST(i * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n) AS INT)] AS chunk_arr
  FROM docs, unnest(range(0, CASE WHEN n <= {CHUNK_TOKENS} THEN 1
        ELSE CAST(FLOOR((n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) / {CHUNK_STRIDE}) AS BIGINT) + 1 END)) t(i)
)
SELECT doc_id, chunk_idx, start_tok,
       CAST(len(chunk_arr) AS INT) AS n_tokens,
       md5(array_to_string(chunk_arr, ' ')) AS chunk_md5
FROM chunks
"""


def quality_top_quartile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-quartile selection by document length — the
    "keep the best q% of each domain" curation step, with an exact
    integer rank threshold (ceil(0.25·count) per source) instead of
    a float percentile so both engines select the identical set.

    One window pass partitioned by source (rank + count reuse the
    same partitioning/sort); at 100 TB sources are the natural
    partition key, so no global ordering exists in the plan.
    """
    docs = _docs(spark, sf_dir)
    win = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    cnt = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(win).alias("rnk"),
        F.count(F.lit(1)).over(cnt).alias("n_source"),
    )
    keep = ranked.where(
        F.col("rnk") <= F.ceil(F.col("n_source") * F.lit(0.25)).cast("long")
    )
    return (
        keep.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars_kept"),
            F.max("n_chars").alias("max_chars_kept"),
            F.sum("n_chars").alias("total_chars_kept"),
        )
        .orderBy("source")
    )


QUALITY_TOP_QUARTILE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rnk,
         COUNT(*) OVER (PARTITION BY source) AS n_source
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(n_chars) AS min_chars_kept,
       MAX(n_chars) AS max_chars_kept,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars_kept
FROM ranked
WHERE rnk <= CAST(CEIL(n_source * 0.25) AS BIGINT)
GROUP BY source
"""


# --- weighted sampling / splits / epoch shuffle --------------------------


def priority_sample(spark: SparkSession, sf_dir: str, k: int = 200) -> DataFrame:
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield–Lund–Thorup, JACM 2007): each doc draws a deterministic
    uniform hash h and gets priority w/h (weight = ``n_chars``); the
    top-k priorities form the sample, which favors long documents in
    proportion to their weight.

    Content-addressed like ``stratified_sample`` — h comes from
    md5(doc_id), not ``rand()``, so retries and re-runs select the
    same sample.  The priority is ONE IEEE double division of two
    exact integers, which is correctly-rounded and therefore
    bit-identical in Spark and DuckDB — no transcendental (the
    classic Efraimidis–Spirakis key uses ln(u), whose libm rounding
    is engine-specific).  Plan: row-local hash + ``orderBy().limit``
    (TakeOrderedAndProject: per-partition top-k, driver merges
    k·partitions rows) + a tiny per-source rollup."""
    docs = _docs(spark, sf_dir)
    h = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast("long")
        + F.lit(1)
    )
    sample = (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("n_chars").cast("double") / h.cast("double")).alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(k)
    )
    return (
        sample.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.max("priority").alias("max_priority"),
        )
        .orderBy("source")
    )


PRIORITY_SAMPLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         CAST(n_chars AS DOUBLE)
           / CAST(CAST(('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1 AS DOUBLE)
           AS priority
  FROM documents
),
sample AS (SELECT * FROM keyed ORDER BY priority DESC, doc_id ASC LIMIT 200)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       MAX(priority) AS max_priority
FROM sample GROUP BY source ORDER BY source
"""


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by content
    hash: md5(doc_id) bucket of 100 → split.  Hash-based splits are
    the standard pipeline idiom because they are stable under corpus
    growth (a doc never migrates between splits when new data lands)
    and need no global shuffle or persisted assignment table —
    embarrassingly parallel at any scale.

    The report validates the contract: per (source, split) counts and
    the within-source share (exact-integer division, so the double is
    deterministic)."""
    docs = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train")).when(bucket < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    per = docs.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    w = Window.partitionBy("source")
    return (
        per.withColumn(
            "share",
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double"),
        )
        .orderBy("source", "split")
    )


DATASET_SPLITS_ORACLE = """
WITH tagged AS (
  SELECT source, n_chars,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT source, n_chars,
               CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        FROM documents)
),
per AS (SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM tagged GROUP BY 1, 2)
SELECT source, split, n_docs, total_chars,
       CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE) AS share
FROM per ORDER BY source, split
"""


def training_shuffle(spark: SparkSession, sf_dir: str, n_shards: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic global training-order shuffle: each doc hashes to
    an epoch-seeded shuffle key, key mod N picks the output shard,
    and the within-shard position is the rank of the key — a
    reproducible pseudo-random total order (shard-major) with NO
    global sort: the only sort is per-shard, so the plan is one hash
    shuffle + N independent shard-local sorts, exactly how a 100 TB
    corpus is laid out into training shards.

    The report validates order assignment per shard: count, the
    first/last doc in shuffle order, and an order-sensitive checksum
    Σ(position · doc_id) that any ranking discrepancy breaks."""
    docs = _docs(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"shuffle:{seed}:"), F.col("doc_id").cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    keyed = docs.select("doc_id", h.alias("_h"), (h % n_shards).alias("shard"))
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    pos = keyed.withColumn("pos", F.row_number().over(w))
    return (
        pos.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min_by("doc_id", F.col("pos")).alias("first_doc"),
            F.max_by("doc_id", F.col("pos")).alias("last_doc"),
            F.sum(F.col("pos").cast("long") * F.col("doc_id")).alias("order_checksum"),
        )
        .orderBy("shard")
    )


TRAINING_SHUFFLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shuffle:42:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
  FROM documents
),
pos AS (
  SELECT doc_id, h % 64 AS shard,
         row_number() OVER (PARTITION BY h % 64 ORDER BY h, doc_id) AS pos
  FROM keyed
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       min_by(doc_id, pos) AS first_doc,
       max_by(doc_id, pos) AS last_doc,
       CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
FROM pos GROUP BY shard ORDER BY shard
"""


def padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding waste report: per source, how many pad tokens
    naive global-max-length batching burns vs length-bucketed
    batching (pad to the next multiple of 64) — the measurement
    behind length-bucketed batch samplers in training pipelines.

    One corpus scan into a per-source aggregate; the single-row
    global max is broadcast back.  Waste ratios are one double
    division of exact integer sums, so both engines agree bitwise."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    gmax = toks.agg(F.max("n_tokens").alias("max_tokens"))
    bucket_pad = (F.floor((F.col("n_tokens") + 63) / 64) * 64).cast("long")
    per = (
        toks.withColumn("bucket_pad", bucket_pad)
        .crossJoin(broadcast(gmax))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("real_tokens"),
            F.sum("bucket_pad").alias("padded_bucketed"),
            F.sum("max_tokens").alias("padded_global"),
        )
    )
    return per.select(
        "source",
        "n_docs",
        "real_tokens",
        "padded_bucketed",
        "padded_global",
        (
            F.lit(1.0)
            - F.col("real_tokens").cast("double") / F.col("padded_global").cast("double")
        ).alias("waste_global"),
        (
            F.lit(1.0)
            - F.col("real_tokens").cast("double") / F.col("padded_bucketed").cast("double")
        ).alias("waste_bucketed"),
    ).orderBy("source")


PADDING_EFFICIENCY_ORACLE = """
WITH toks AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
gmax AS (SELECT MAX(n_tokens) AS max_tokens FROM toks),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
         CAST(SUM(((n_tokens + 63) // 64) * 64) AS BIGINT) AS padded_bucketed,
         CAST(SUM(max_tokens) AS BIGINT) AS padded_global
  FROM toks, gmax GROUP BY source
)
SELECT source, n_docs, real_tokens, padded_bucketed, padded_global,
       1.0 - CAST(real_tokens AS DOUBLE) / CAST(padded_global AS DOUBLE) AS waste_global,
       1.0 - CAST(real_tokens AS DOUBLE) / CAST(padded_bucketed AS DOUBLE) AS waste_bucketed
FROM per ORDER BY source
"""


def cluster_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: hash the NEAR-DUP
    CLUSTER id, not the document id, so a document and its near
    duplicates always land in the same split — the standard guard
    against eval contamination through paraphrase leakage (a val doc
    whose near-twin sits in train inflates every metric).

    Shape: the near-dup components come from the same bounded pair
    graph as :func:`~rakam_api_spark.llm.dedup.dedup_clusters`
    (Jaccard ≥ 0.6 pairs → min-label components); docs outside any
    cluster are their own singleton (cluster key = own doc_id).  The
    split decision is one md5 of the cluster key — row-local after a
    single left join of the corpus against the (tiny, near-dup-only)
    cluster labels.  At 100 TB the corpus is never self-joined here;
    the pair graph is the already-bounded dedup output.

    The report contrasts both strategies: per (strategy, split) doc
    counts plus ``leaky_pairs`` — near-dup pairs whose endpoints
    landed in DIFFERENT splits.  Cluster-keyed assignment yields 0
    by construction (a component shares one hash); doc-keyed
    assignment leaks whenever a pair straddles a hash boundary.
    Oracle: identical recursive-CTE components + the same md5 rule.
    """
    from .dedup import _corpus_pairs, connected_components

    docs = _docs(spark, sf_dir)
    # the stored (materialized) pair set feeds both the component
    # resolution and the leak check
    pairs = _corpus_pairs(spark, sf_dir).select("d1", "d2")
    labels = connected_components(pairs).select("doc_id", "cluster_id")

    def _bucket(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("split:"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 100
        )

    def _split(bucket):
        return (
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    tagged = (
        # No broadcast hint: `labels` is one row per document in ANY
        # near-dup cluster — at web-corpus dup fractions that is a
        # corpus-fraction-sized frame (tens of GB at 100 TB), over any
        # broadcast threshold.  Let AQE pick the join strategy; the
        # doc_id-keyed shuffle join is the shape that survives scale
        # (same correction as b4a08db for crosslingual_mining).
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("ckey"),
        )
        .select(
            "doc_id",
            _split(_bucket(F.col("doc_id"))).alias("doc_split"),
            _split(_bucket(F.col("ckey"))).alias("cluster_split"),
        )
        .cache()
    )
    per = (
        tagged.select(
            F.lit("doc_hash").alias("strategy"), F.col("doc_split").alias("split")
        )
        .unionByName(
            tagged.select(
                F.lit("cluster_hash").alias("strategy"),
                F.col("cluster_split").alias("split"),
            )
        )
        .groupBy("strategy", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    e1 = tagged.select(F.col("doc_id").alias("d1"), "doc_split", "cluster_split")
    e2 = tagged.select(
        F.col("doc_id").alias("d2"),
        F.col("doc_split").alias("doc_split2"),
        F.col("cluster_split").alias("cluster_split2"),
    )
    leaks = (
        pairs.join(e1, "d1")
        .join(e2, "d2")
        .agg(
            F.sum(
                (F.col("doc_split") != F.col("doc_split2")).cast("long")
            ).alias("doc_hash"),
            F.sum(
                (F.col("cluster_split") != F.col("cluster_split2")).cast("long")
            ).alias("cluster_hash"),
        )
        .select(
            F.explode(
                F.map_from_arrays(
                    F.array(F.lit("doc_hash"), F.lit("cluster_hash")),
                    F.array(F.col("doc_hash"), F.col("cluster_hash")),
                )
            ).alias("strategy", "leaky_pairs")
        )
    )
    out = (
        per.join(leaks, "strategy")
        .select("strategy", "split", "n_docs", "leaky_pairs")
        .orderBy("strategy", "split")
    )
    out = out.localCheckpoint(eager=True)  # sever the CC lineage
    tagged.unpersist()
    return out


CLUSTER_SAFE_SPLITS_ORACLE = """
WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2] AS shingle
  FROM docs, LATERAL unnest(range(1, len(w)-1)) t(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.6
),
adj AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
reach(doc_id, r) AS (
  SELECT DISTINCT d1, d1 FROM adj
  UNION
  SELECT a.d2, reach.r FROM reach JOIN adj a ON a.d1 = reach.doc_id
),
labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
tagged AS (
  SELECT d.doc_id,
         CASE WHEN bd < 80 THEN 'train' WHEN bd < 90 THEN 'val' ELSE 'test' END AS doc_split,
         CASE WHEN bc < 80 THEN 'train' WHEN bc < 90 THEN 'val' ELSE 'test' END AS cluster_split
  FROM (
    SELECT doc_id,
           CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bd,
           CAST(('0x' || substr(md5('split:' || CAST(ckey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bc
    FROM (SELECT dd.doc_id, COALESCE(l.cluster_id, dd.doc_id) AS ckey
          FROM documents dd LEFT JOIN labels l ON dd.doc_id = l.doc_id)
  ) d
),
per AS (
  SELECT strategy, split, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM (
    SELECT 'doc_hash' AS strategy, doc_split AS split FROM tagged
    UNION ALL
    SELECT 'cluster_hash' AS strategy, cluster_split AS split FROM tagged
  ) GROUP BY 1, 2
),
leaks AS (
  SELECT
    CAST(SUM(CASE WHEN t1.doc_split <> t2.doc_split THEN 1 ELSE 0 END) AS BIGINT) AS doc_hash,
    CAST(SUM(CASE WHEN t1.cluster_split <> t2.cluster_split THEN 1 ELSE 0 END) AS BIGINT) AS cluster_hash
  FROM pairs p JOIN tagged t1 ON p.d1 = t1.doc_id JOIN tagged t2 ON p.d2 = t2.doc_id
),
leakrows AS (
  SELECT 'doc_hash' AS strategy, doc_hash AS leaky_pairs FROM leaks
  UNION ALL
  SELECT 'cluster_hash' AS strategy, cluster_hash AS leaky_pairs FROM leaks
)
SELECT per.strategy, per.split, per.n_docs, leakrows.leaky_pairs
FROM per JOIN leakrows ON per.strategy = leakrows.strategy
ORDER BY per.strategy, per.split
"""


def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD: the headline numbers a published corpus
    snapshot carries (docs, sources, languages, characters, tokens,
    exact-duplicate rate, mean document length) — the summary
    artifact data-card / datasheet practice asks every training-set
    release to publish (Gebru et al., "Datasheets for Datasets").

    Everything is exact integer aggregation in ONE pass over the
    corpus (token counts from a split-size projection, duplicate
    groups from an md5 distinct count — the ``dedup_exact`` keyer);
    the two rates are single double divisions.
    """
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    return (
        docs.select(
            "source",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.size(w).cast("long").alias("n_tok"),
            F.md5(F.col("text")).alias("_h"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tok").alias("total_tokens"),
            F.countDistinct("_h").alias("distinct_texts"),
        )
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_chars",
            "total_tokens",
            (F.col("n_docs") - F.col("distinct_texts")).alias("exact_dup_docs"),
            (
                (F.col("n_docs") - F.col("distinct_texts")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("exact_dup_rate"),
            (
                F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
            ).alias("mean_doc_tokens"),
        )
    )


DATASET_CARD_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_dup_docs,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS exact_dup_rate,
       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_doc_tokens
FROM documents
"""


SAMPLING_TEMPERATURE = 0.7


def sampling_temperature_weights(
    spark: SparkSession, sf_dir: str, tau: float = SAMPLING_TEMPERATURE
) -> DataFrame:
    """Temperature-scaled language sampling weights (the multilingual
    LM recipe: wᵢ ∝ pᵢ^τ with τ = 0.7, as in XLM-R / mT5 — Conneau et
    al. 2020 §3.1): flattens the language mixture TOWARD uniform
    without inverting it, unlike ``mix_weights``' fully-uniform
    target.  ``boost`` = wᵢ/pᵢ is the per-language oversampling
    factor a data loader applies.

    Token counts are exact; pᵢ^τ is one ``pow`` on a double ratio of
    identical integers, and every output float is rounded on BOTH
    engines, so libm ulp drift can't reach the hash.  The Σpᵢ^τ
    normalizer is a single-row broadcast — two tiny aggregations over
    the per-language table."""
    docs = _docs(spark, sf_dir)
    per_lang = docs.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("lang_tokens")
    )
    tot = per_lang.agg(F.sum("lang_tokens").alias("total_tokens"))
    p = F.col("lang_tokens").cast("double") / F.col("total_tokens").cast("double")
    scored = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang", "lang_tokens", p.alias("p"), F.pow(p, F.lit(tau)).alias("pt")
    )
    z = scored.agg(F.sum("pt").alias("z"))
    return (
        scored.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "lang_tokens",
            F.round("p", 9).alias("token_share"),
            F.round(F.col("pt") / F.col("z"), 9).alias("sample_weight"),
            F.round(F.col("pt") / F.col("z") / F.col("p"), 9).alias("boost"),
        )
        .orderBy("lang")
    )


SAMPLING_TEMPERATURE_ORACLE = """
WITH per_lang AS (
  SELECT lang, SUM(len(string_split(text, ' '))) AS lang_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT SUM(lang_tokens) AS total_tokens FROM per_lang),
scored AS (
  SELECT lang, lang_tokens,
         CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS p,
         pow(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 0.7) AS pt
  FROM per_lang, tot
),
z AS (SELECT SUM(pt) AS z FROM scored)
SELECT lang, CAST(lang_tokens AS BIGINT) AS lang_tokens,
       round(p, 9) AS token_share,
       round(pt / z, 9) AS sample_weight,
       round(pt / z / p, 9) AS boost
FROM scored, z ORDER BY lang
"""



def packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency across context lengths (128 / 256 /
    512 / 1024): for each max length L, the pad-token share under
    per-document CHUNKING (each doc split into ⌈n/L⌉ sequences, tail
    padded) vs the CONCAT-STREAM lower bound (⌈total/L⌉ sequences,
    < L pad total) — the table that prices a context-length choice
    before training (the multi-L companion to ``padding_efficiency``'s
    per-source pad-to-64 report; ``pack_sequences`` implements the
    packer itself).

    Determinism: pure integer arithmetic (ceil division via
    ``(n + L - 1) div L``); shares are single double divisions of
    exact integer sums.

    Scale: one tokenize-count pass to doc-grain rows, a 4-row literal
    grid broadcast-fanned over the doc-grain aggregate — never 4
    corpus scans."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.size(F.split(F.col("text"), " ")).alias("n"))
    grid = spark.createDataFrame([(128,), (256,), (512,), (1024,)], "L int")
    fan = toks.crossJoin(broadcast(grid))
    cell = fan.groupBy("L").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum(F.expr("(n + L - 1) div L")).alias("chunked_seqs"),
    )
    chunk_pad = F.col("chunked_seqs") * F.col("L") - F.col("total_tokens")
    stream_seqs = F.expr("(total_tokens + L - 1) div L")
    stream_pad = stream_seqs * F.col("L") - F.col("total_tokens")
    return (
        cell.select(
            F.col("L").alias("max_seq_len"),
            "n_docs",
            "total_tokens",
            "chunked_seqs",
            F.round(
                chunk_pad.cast("double")
                / (F.col("chunked_seqs") * F.col("L")).cast("double"),
                9,
            ).alias("chunked_pad_share"),
            stream_seqs.alias("streamed_seqs"),
            F.round(
                stream_pad.cast("double")
                / (stream_seqs * F.col("L")).cast("double"),
                9,
            ).alias("streamed_pad_share"),
        )
        .orderBy("max_seq_len")
    )


PACKING_EFFICIENCY_ORACLE = """
WITH toks AS (
  SELECT len(string_split(text, ' ')) AS n FROM documents
),
grid AS (SELECT unnest([128, 256, 512, 1024]) AS L),
cell AS (
  SELECT L, COUNT(*) AS n_docs, SUM(n) AS total_tokens,
         SUM((n + L - 1) // L) AS chunked_seqs
  FROM toks CROSS JOIN grid GROUP BY 1
)
SELECT CAST(L AS INT) AS max_seq_len,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(chunked_seqs AS BIGINT) AS chunked_seqs,
       round(CAST(chunked_seqs * L - total_tokens AS DOUBLE)
             / CAST(chunked_seqs * L AS DOUBLE), 9) AS chunked_pad_share,
       CAST((total_tokens + L - 1) // L AS BIGINT) AS streamed_seqs,
       round(CAST(((total_tokens + L - 1) // L) * L - total_tokens AS DOUBLE)
             / CAST(((total_tokens + L - 1) // L) * L AS DOUBLE), 9)
         AS streamed_pad_share
FROM cell ORDER BY max_seq_len
"""


QUERIES = {
    "packing_efficiency_curve": packing_efficiency_curve,
    "dataset_card_stats": dataset_card_stats,
    "sampling_temperature_weights": sampling_temperature_weights,
    "quality_repetition_rules": quality_repetition_rules,
    "pii_redaction": pii_redaction,
    "contamination_check": contamination_check,
    "stratified_sample": stratified_sample,
    "pack_sequences": pack_sequences,
    "mix_weights": mix_weights,
    "doc_typicality": doc_typicality,
    "curation_funnel": curation_funnel,
    "doc_chunking": doc_chunking,
    "quality_top_quartile": quality_top_quartile,
    "priority_sample": priority_sample,
    "dataset_splits": dataset_splits,
    "training_shuffle": training_shuffle,
    "padding_efficiency": padding_efficiency,
    "cluster_safe_splits": cluster_safe_splits,
}

ORACLES = {
    "packing_efficiency_curve": PACKING_EFFICIENCY_ORACLE,
    "dataset_card_stats": DATASET_CARD_ORACLE,
    "sampling_temperature_weights": SAMPLING_TEMPERATURE_ORACLE,
    "quality_repetition_rules": QUALITY_REPETITION_ORACLE,
    "pii_redaction": PII_REDACTION_ORACLE,
    "contamination_check": CONTAMINATION_ORACLE,
    "stratified_sample": STRATIFIED_SAMPLE_ORACLE,
    "pack_sequences": PACK_SEQUENCES_ORACLE,
    "mix_weights": MIX_WEIGHTS_ORACLE,
    "doc_typicality": DOC_TYPICALITY_ORACLE,
    "curation_funnel": CURATION_FUNNEL_ORACLE,
    "doc_chunking": DOC_CHUNKING_ORACLE,
    "quality_top_quartile": QUALITY_TOP_QUARTILE_ORACLE,
    "priority_sample": PRIORITY_SAMPLE_ORACLE,
    "dataset_splits": DATASET_SPLITS_ORACLE,
    "training_shuffle": TRAINING_SHUFFLE_ORACLE,
    "padding_efficiency": PADDING_EFFICIENCY_ORACLE,
    "cluster_safe_splits": CLUSTER_SAFE_SPLITS_ORACLE,
}
