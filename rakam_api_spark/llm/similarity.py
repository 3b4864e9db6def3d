"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set, join candidates on vector position, integer-quantized
  dot products.  Exact baseline; scales linearly in corpus size and
  is embarrassingly parallel (candidates partition freely).
- ``ivf_topk`` — IVF-style pruned search: corpus is bucketed into
  cells (coarse quantizer = per-label centroid here), each query
  probes only the ``nprobe`` nearest cells.  The scale path: at
  100 TB the corpus would be written bucketed by cell id, so a probe
  touches only matching buckets (partition pruning on the cell
  column).

Determinism: cosine is computed from *integer-quantized* components
(round(x * 10000)) so dot products and norms are exact integer sums
— order-insensitive, bit-identical across engines; the final
``dot / sqrt(n1*n2)`` is one double expression over identical ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .. import artifacts
from ..tables import load_table

QUANT = 10_000


def _quantized_components(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, pos, q) rows with q = round(component * 10000) as long.
    posexplode keeps the transform in codegen; one row per component."""
    return df.select(
        F.col(id_col),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        id_col,
        "pos",
        F.round(F.col("v").cast("double") * QUANT, 0).cast("long").alias("q"),
    )


def _quantized_components_labeled(df: DataFrame) -> DataFrame:
    """(vec_id, label, pos, q) — :func:`_quantized_components` with the
    label carried through the posexplode.  Deriving the label in the
    same projection avoids a corpus-grain join entirely: a
    ``broadcast(emb.select('vec_id','label'))`` is one row per corpus
    vector, a guaranteed broadcast-OOM at 100 TB."""
    return df.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.round(F.col("v").cast("double") * QUANT, 0).cast("long").alias("q"),
    )


def _norms(comp: DataFrame, id_col: str) -> DataFrame:
    return comp.groupBy(id_col).agg(F.sum(F.col("q") * F.col("q")).alias("norm2"))


def brute_force_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 20
) -> DataFrame:
    """Exact cosine top-k neighbors for query vectors (vec_id <
    n_queries) against the whole corpus (excluding self).

    Vectorized kernel: the bounded query set (request-sized, like a
    search API's batch) rides to every partition as a numpy matrix;
    ``mapInPandas`` computes all query×candidate dot products per
    Arrow batch with one float64 BLAS matmul and emits only each
    partition's per-query top-k — the driver-side final rank then
    sees partitions×queries×k rows, never the corpus.  This is the
    documented "Python UDFs only where they beat the built-ins"
    exception: an 8M-row posexplode+join+hash-agg plan (the previous
    formulation, kept below as :func:`brute_force_topk_exploded`)
    does the same arithmetic ~2× slower.

    Exactness: components quantized to int (|q| ≤ 10⁴), dim ≤ 10³,
    so every product (≤ 10⁸) and every partial sum (≤ 10¹¹) is an
    integer far below 2⁵³ — float64 matmul is therefore EXACT, and
    the final ``dot / sqrt(double(n2) * double(qn2))`` runs the same
    IEEE ops as the SQL oracle expression, bit-for-bit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.where(F.col("vec_id") < n_queries).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )  # bounded: the query set IS the request
    import numpy as np

    def _quant(a):
        # SQL round() is half-AWAY-from-zero; np.round is half-to-even
        return np.sign(a) * np.floor(np.abs(a) + 0.5)

    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = _quant(np.array([r["embedding"] for r in qrows], dtype=np.float64) * QUANT)
    qn2 = (Q * Q).sum(axis=1)  # exact: integer-valued f64

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = _quant(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * QUANT)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            dots = X @ Q.T  # exact integer-valued f64, BLAS-side
            n2 = (X * X).sum(axis=1)
            cos = dots / np.sqrt(n2[:, None] * qn2[None, :])
            out_q, out_v, out_c = [], [], []
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]  # exclude self
                cand_ids, cand_cos = ids[mask], cos[mask, j]
                top = min(k, len(cand_ids))
                if top == 0:
                    continue
                # top-k by (cosine desc, vec_id asc): lexsort keys
                order = np.lexsort((cand_ids, -cand_cos))[:top]
                out_q.extend([int(q_ids[j])] * top)
                out_v.extend(cand_ids[order].tolist())
                out_c.extend(cand_cos[order].tolist())
            yield pd.DataFrame({"q_id": out_q, "vec_id": out_v, "cosine": out_c})

    partial = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "q_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


def brute_force_topk_exploded(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 20
) -> DataFrame:
    """Pure-DataFrame formulation of :func:`brute_force_topk` (kept
    as the JVM-only fallback and as plan documentation): query
    components broadcast; candidates stream through one hash
    aggregation keyed by (query, candidate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = _quantized_components(emb)
    qcomp = comp.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("q").alias("qq")
    )
    dots = (
        comp.join(broadcast(qcomp), "pos")
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum(F.col("q") * F.col("qq")).alias("dot"))
    )
    norms = _norms(comp, "vec_id")
    qnorms = norms.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("norm2").alias("qnorm2")
    )
    scored = (
        dots.join(broadcast(qnorms), "q_id")
        .join(norms, "vec_id")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / F.sqrt(F.col("norm2").cast("double") * F.col("qnorm2").cast("double")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


BRUTE_FORCE_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1),
qcomp AS (SELECT vec_id AS q_id, pos, q AS qq FROM comp WHERE vec_id < 20),
dots AS (
  SELECT q.q_id, c.vec_id, SUM(c.q * q.qq) AS dot
  FROM comp c JOIN qcomp q USING (pos)
  WHERE c.vec_id <> q.q_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.q_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE) * CAST(qn.norm2 AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms n  ON d.vec_id = n.vec_id
  JOIN norms qn ON d.q_id = qn.vec_id
)
SELECT q_id, vec_id AS neighbor_id, cosine, rnk
FROM (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


def ivf_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 20, nprobe: int = 3
) -> DataFrame:
    """IVF-pruned approximate top-k.

    Cells = the corpus ``label`` column (stand-in coarse quantizer;
    a production build would k-means its own centroids).  Each query
    is assigned to its ``nprobe`` closest cell centroids and scored
    only against those cells' members.  Same integer-quantized
    cosine as brute force, so candidate scoring matches exactly;
    recall is governed by nprobe.
    """
    # shared index artifacts (r17): the cached component decode and
    # the checkpointed label-centroid table — previously re-derived
    # per call (and per plan branch).  label rides the posexplode —
    # no corpus-grain label join (a broadcast of a one-row-per-vector
    # frame cannot scale).
    compl = _compl_for(spark, sf_dir)
    comp = compl.drop("label")
    cents = _label_cents_for(spark, sf_dir)
    qcomp = comp.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("q").alias("qq")
    )
    qcell = (
        cents.join(broadcast(qcomp), "pos")
        .groupBy("q_id", "label")
        .agg(F.sum(F.col("cq") * F.col("qq")).alias("dot"))
    )
    cnorm = cents.groupBy("label").agg(F.sum(F.col("cq") * F.col("cq")).alias("cn2"))
    qnorm = qcomp.groupBy("q_id").agg(F.sum(F.col("qq") * F.col("qq")).alias("qn2"))
    qsim = (
        qcell.join(broadcast(cnorm), "label")
        .join(broadcast(qnorm), "q_id")
        .withColumn(
            "csim",
            F.col("dot").cast("double") / F.sqrt(F.col("cn2").cast("double") * F.col("qn2").cast("double")),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("csim"), F.asc("label"))
    probes = qsim.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= nprobe).select("q_id", "label")
    # score only members of probed cells
    m = compl.alias("m")
    p = probes.alias("p")
    q = qcomp.alias("q")
    dots = (
        m.join(broadcast(p), F.col("m.label") == F.col("p.label"))
        .join(broadcast(q), (F.col("m.pos") == F.col("q.pos")) & (F.col("p.q_id") == F.col("q.q_id")))
        .where(F.col("m.vec_id") != F.col("p.q_id"))
        .groupBy(F.col("p.q_id").alias("q_id"), F.col("m.vec_id").alias("vec_id"))
        .agg(F.sum(F.col("m.q") * F.col("q.qq")).alias("dot"))
    )
    norms = _norms_for(spark, sf_dir)
    qnorms = norms.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("norm2").alias("qnorm2")
    )
    scored = (
        dots.join(broadcast(qnorms), "q_id")
        .join(norms, "vec_id")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / F.sqrt(F.col("norm2").cast("double") * F.col("qnorm2").cast("double")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


IVF_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
labels AS (SELECT vec_id, label FROM embeddings),
cents AS (
  SELECT label, pos, CAST(floor(avg(q)) AS BIGINT) AS cq
  FROM comp JOIN labels USING (vec_id)
  GROUP BY 1, 2
),
qcomp AS (SELECT vec_id AS q_id, pos, q AS qq FROM comp WHERE vec_id < 20),
qcell AS (
  SELECT q.q_id, c.label, SUM(c.cq * q.qq) AS dot
  FROM cents c JOIN qcomp q USING (pos)
  GROUP BY 1, 2
),
cnorm AS (SELECT label, SUM(cq*cq) AS cn2 FROM cents GROUP BY 1),
qnorm AS (SELECT q_id, SUM(qq*qq) AS qn2 FROM qcomp GROUP BY 1),
probes AS (
  SELECT q_id, label FROM (
    SELECT qc.q_id, qc.label,
           row_number() OVER (
             PARTITION BY qc.q_id
             ORDER BY CAST(qc.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(qn.qn2 AS DOUBLE)) DESC,
                      qc.label ASC) AS rn
    FROM qcell qc JOIN cnorm cn USING (label) JOIN qnorm qn USING (q_id)
  ) WHERE rn <= 3
),
dots AS (
  SELECT p.q_id, m.vec_id, SUM(m.q * q.qq) AS dot
  FROM comp m
  JOIN labels l ON m.vec_id = l.vec_id
  JOIN probes p ON l.label = p.label
  JOIN qcomp q ON m.pos = q.pos AND p.q_id = q.q_id
  WHERE m.vec_id <> p.q_id
  GROUP BY 1, 2
),
norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1),
scored AS (
  SELECT d.q_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE) * CAST(qn.norm2 AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms n  ON d.vec_id = n.vec_id
  JOIN norms qn ON d.q_id = qn.vec_id
)
SELECT q_id, vec_id AS neighbor_id, cosine, rnk
FROM (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


# Random-hyperplane (sign) LSH for cosine near-dup blocking:
# 4 tables × 12 bits.  P(two vectors at angle θ agree on one bit) =
# 1 − θ/π; at cosine 0.99 (true near-dups) a 12-bit table matches
# with p≈0.57, so 4 tables give ≈0.97 recall; random pairs land in
# the same 4096-way bucket with p≈(1/2)^12 per table — candidate
# volume stays O(n).  Hyperplanes are Rademacher (±1) components
# derived from md5(plane|pos) hex parity, so a DuckDB oracle
# reproduces the buckets bit-for-bit (SimHash's determinism trick).
N_PLANES = 48
PLANE_BAND_BITS = 12
N_PLANE_BANDS = N_PLANES // PLANE_BAND_BITS

_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def _hyperplanes(spark: SparkSession, comp: DataFrame) -> DataFrame:
    """(i, pos, s) Rademacher hyperplane components, s ∈ {−1, +1} =
    md5 hex parity of 'i|pos' — tiny (N_PLANES × dim), broadcast."""
    dims = comp.select("pos").distinct()
    planes = spark.range(N_PLANES).select(F.col("id").cast("int").alias("i"))
    return planes.crossJoin(dims).select(
        "i",
        "pos",
        F.when(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit("|"), F.col("pos").cast("string"))),
                1, 1,
            ).isin(*_ODD_HEX),
            F.lit(1),
        ).otherwise(F.lit(-1)).alias("s"),
    )


def embedding_cosine_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95, max_bucket: int = 200
) -> DataFrame:
    """Embedding near-dup pairs: (a < b) with cosine ≥ threshold.

    Scale path (replaces the old label blocking, whose one hot label
    degenerated to O(k²)): candidates come from random-hyperplane
    LSH buckets — each vector gets 4 × 12-bit sign-pattern keys; only
    vectors sharing a (table, key) bucket pair up, with the same
    star-fallback skew guard as MinHash-LSH for degenerate buckets —
    then exact integer-quantized cosine verifies each candidate.
    Every stage is an equi-join/groupBy on its key: O(n) + O(near-
    dups), no all-pairs anywhere."""
    comp = _compl_for(spark, sf_dir).drop("label")
    # 48 signed projections per vector: one broadcast join on pos +
    # one partial-aggregated groupBy — integer sums, codegen-side
    proj = (
        comp.join(broadcast(_hyperplanes(spark, comp)), "pos")
        .groupBy("vec_id", "i")
        .agg(F.sum(F.col("q") * F.col("s")).alias("p"))
    )
    bands = proj.groupBy(
        "vec_id", (F.col("i") / PLANE_BAND_BITS).cast("int").alias("band")
    ).agg(
        F.sum(
            F.when(
                F.col("p") > 0,
                F.expr(f"CAST(shiftleft(1, CAST(i % {PLANE_BAND_BITS} AS INT)) AS BIGINT)"),
            ).otherwise(F.lit(0))
        ).alias("key")
    )
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ds"))
        .where(F.size("ds") > 1)
    )
    pair_expr = F.when(
        F.size("ds") <= max_bucket,
        F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS v1, y AS v2))))"
        ),
    ).otherwise(
        F.expr("transform(slice(ds, 2, size(ds)), y -> struct(ds[0] AS v1, y AS v2))")
    )
    candidates = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.v1", "p.v2")
        .distinct()
        .cache()
    )
    candidates.count()
    # exact verify on candidates only: semi-join prune the component
    # table to candidate ids, then one (pair, pos) equi-join
    ids1 = candidates.select(F.col("v1").alias("vec_id")).distinct()
    ids2 = candidates.select(F.col("v2").alias("vec_id")).distinct()
    c1 = comp.join(broadcast(ids1), "vec_id", "left_semi").select(
        F.col("vec_id").alias("v1"), "pos", F.col("q").alias("q1")
    )
    c2 = comp.join(broadcast(ids2), "vec_id", "left_semi").select(
        F.col("vec_id").alias("v2"), "pos", F.col("q").alias("q2")
    )
    dots = (
        candidates.join(c1, "v1")
        .join(c2, ["v2", "pos"])
        .groupBy("v1", "v2")
        .agg(F.sum(F.col("q1") * F.col("q2")).alias("dot"))
    )
    norms = _norms_for(spark, sf_dir)
    n1 = norms.select(F.col("vec_id").alias("v1"), F.col("norm2").alias("n1"))
    n2 = norms.select(F.col("vec_id").alias("v2"), F.col("norm2").alias("n2"))
    return (
        dots.join(n1, "v1")
        .join(n2, "v2")
        .withColumn(
            "cosine",
            F.col("dot").cast("double") / F.sqrt(F.col("n1").cast("double") * F.col("n2").cast("double")),
        )
        .where(F.col("cosine") >= threshold)
        .select("v1", "v2", "cosine")
        .orderBy("v1", "v2")
    )


COSINE_DEDUP_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
planes AS (
  SELECT CAST(p.i AS INT) AS i, d.pos,
         CASE WHEN substr(md5(CAST(p.i AS VARCHAR) || '|' || CAST(d.pos AS VARCHAR)), 1, 1)
              IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range({n_planes})) AS i) p
  CROSS JOIN (SELECT DISTINCT pos FROM comp) d
),
proj AS (
  SELECT c.vec_id, pl.i, SUM(c.q * pl.s) AS p
  FROM comp c JOIN planes pl USING (pos)
  GROUP BY 1, 2
),
bands AS (
  SELECT vec_id, CAST(floor(i / {band_bits}) AS INT) AS band,
         SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << CAST(i % {band_bits} AS INT)) ELSE 0 END) AS key
  FROM proj GROUP BY 1, 2
),
bsize AS (
  SELECT band, key, COUNT(*) AS n, MIN(vec_id) AS mn
  FROM bands GROUP BY 1, 2
),
candidates AS (
  -- mirrors the Spark star-fallback: oversized buckets pair members
  -- with the bucket minimum only, never all-pairs
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
  JOIN bsize s ON s.band = a.band AND s.key = a.key
  WHERE s.n <= {max_bucket} OR a.vec_id = s.mn
),
dots AS (
  SELECT cd.v1, cd.v2, SUM(a.q * b.q) AS dot
  FROM candidates cd
  JOIN comp a ON a.vec_id = cd.v1
  JOIN comp b ON b.vec_id = cd.v2 AND b.pos = a.pos
  GROUP BY 1, 2
),
norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1)
SELECT v1, v2,
       CAST(dot AS DOUBLE) / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)) AS cosine
FROM dots JOIN norms na ON v1 = na.vec_id JOIN norms nb ON v2 = nb.vec_id
WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)) >= {threshold}
""".format(
    n_planes=N_PLANES,
    band_bits=PLANE_BAND_BITS,
    max_bucket=200,  # lockstep with embedding_cosine_dedup default
    threshold="{threshold}",  # bound by the gate wrapper below
)

# The correctness-gate threshold sits BELOW the synthetic corpus's
# maximum candidate cosine (0.4516 at sf0.01), so the oracle row
# exercises bucketing + candidate verify + threshold on a NON-EMPTY
# result set (at 0.95 both engines return zero rows and the gate
# proves only the empty case).  Production callers keep the 0.95
# near-dup default; the planted-pair pytest covers the high-cosine
# path (tests/test_similarity_lsh.py).
GATE_DEDUP_THRESHOLD = 0.35


def _cosine_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_cosine_dedup(spark, sf_dir, threshold=GATE_DEDUP_THRESHOLD)


# --- IVF physical layout: cell-partitioned index --------------------------
#
# ivf_topk/kmeans_ivf_topk prune LOGICALLY (probe only matching cells'
# rows) but still scan the whole corpus file.  The scale path writes
# the corpus ONCE partitioned by cell id, so a probe's scan touches
# only the probed cells' directories — hive partition pruning turns
# nprobe/k of the corpus into the physical read set.  This is the
# "bucketed-by-cell writes" layer the ANN docstrings promise.


def build_ivf_index(
    spark: SparkSession, sf_dir: str, index_dir: str, k: int | None = None, iters: int | None = None
) -> None:
    """Build a cell-partitioned IVF index: k-means cells learned as in
    :func:`kmeans_ivf_topk` (deterministic Lloyd), then

    - ``{index_dir}/corpus`` — the embeddings written
      ``partitionBy(cell)`` (one directory per cell: partition
      pruning makes a probe read nprobe/k of the data),
    - ``{index_dir}/centroids`` — the (cell, pos, cq) centroid
      components (tiny; broadcast at query time).

    One-time layout cost, amortized over every subsequent query —
    the same publish-once pattern as the bucketed event layout
    (bucketing.py)."""
    k = k if k is not None else K_CELLS
    iters = iters if iters is not None else KM_ITERS
    emb = load_table(spark, sf_dir, "embeddings")
    comp, cents, assign = _ivf_fit_for(spark, sf_dir, k, iters)
    import os

    (
        emb.select("vec_id", "embedding")  # corpus label column != cell id
        .join(assign.withColumnRenamed("label", "cell"), "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "corpus"))
    )
    cents.write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))


def ivf_index_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    nprobe: int = 3,
    topk: int = 5,
    member_ids: DataFrame | None = None,
) -> DataFrame:
    """Query a cell-partitioned IVF index: rank cells per query
    against the (broadcast) centroids, then scan ONLY the probed
    cells' partitions — the ``cell IN (...)`` filter lands in the
    scan's PartitionFilters, so the files of unprobed cells are
    never opened (plan-audited in tests/test_similarity_lsh.py).

    ``queries``: (q_id, embedding) frame.  Same integer-quantized
    cosine as every other ANN path.

    ``member_ids`` (one ``vec_id`` column) restricts candidates to a
    metadata predicate's qualifying set via a semi-join BEFORE any
    scoring — filtered search over the PERSISTED artifact: partition
    pruning (nprobe/k of the files) composed with the predicate,
    never a post-filter of top-k.  The qualifying set comes from the
    BASE table (where the metadata lives), keeping the artifact
    schema stable under the incremental maintenance append path."""
    import os

    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    qcomp = _quantized_components(queries, id_col="q_id").select(
        "q_id", "pos", F.col("q").alias("qq")
    )
    qcell = (
        cents.join(broadcast(qcomp), "pos")
        .groupBy("q_id", "label")
        .agg(F.sum(F.col("cq") * F.col("qq")).alias("dot"))
    )
    cnorm = cents.groupBy("label").agg(F.sum(F.col("cq") * F.col("cq")).alias("cn2"))
    qnorm = qcomp.groupBy("q_id").agg(F.sum(F.col("qq") * F.col("qq")).alias("qn2"))
    wq = Window.partitionBy("q_id").orderBy(
        F.desc(
            F.col("dot").cast("double")
            / F.sqrt(F.col("cn2").cast("double") * F.col("qn2").cast("double"))
        ),
        F.asc("label"),
    )
    probes = (
        qcell.join(broadcast(cnorm), "label")
        .join(broadcast(qnorm), "q_id")
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "label")
    )
    # the driver learns WHICH cells to open (tiny: nprobe × queries
    # values), so the partition filter is a literal IN list and the
    # scan prunes directories — never the corpus rows themselves
    probed_cells = sorted({r["label"] for r in probes.select("label").distinct().collect()})
    corpus = spark.read.parquet(os.path.join(index_dir, "corpus")).where(
        F.col("cell").isin(probed_cells)
    )
    if member_ids is not None:
        corpus = corpus.join(member_ids, "vec_id", "left_semi")
    mcomp = corpus.select(
        "vec_id", "cell", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "cell",
        "pos",
        F.round(F.col("v").cast("double") * QUANT, 0).cast("long").alias("q"),
    )
    m = mcomp.alias("m")
    p = probes.alias("p")
    q = qcomp.alias("q")
    dots = (
        m.join(broadcast(p), F.col("m.cell") == F.col("p.label"))
        .join(
            broadcast(q),
            (F.col("m.pos") == F.col("q.pos")) & (F.col("p.q_id") == F.col("q.q_id")),
        )
        .where(F.col("m.vec_id") != F.col("p.q_id"))
        .groupBy(F.col("p.q_id").alias("q_id"), F.col("m.vec_id").alias("vec_id"))
        .agg(F.sum(F.col("m.q") * F.col("q.qq")).alias("dot"))
    )
    norms = mcomp.groupBy("vec_id").agg(F.sum(F.col("q") * F.col("q")).alias("norm2"))
    qnorms = qnorm.select("q_id", F.col("qn2").alias("qnorm2"))
    scored = (
        dots.join(broadcast(qnorms), "q_id")
        .join(norms, "vec_id")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / F.sqrt(F.col("norm2").cast("double") * F.col("qnorm2").cast("double")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= topk)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


K_CELLS = 8
KM_ITERS = 2


def _assign_cells(comp: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: argmin over cells of
    ||v - c||² = n_v + cn2 − 2·dot; n_v is constant per vector so
    cost = cn2 − 2·dot suffices.  Exact integer arithmetic;
    deterministic tiebreak on label."""
    costs = (
        comp.join(broadcast(cents), "pos")
        .groupBy("vec_id", "label")
        .agg((F.sum(F.col("cq") * F.col("cq")) - 2 * F.sum(F.col("q") * F.col("cq"))).alias("cost"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("cost"), F.asc("label"))
    return costs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select("vec_id", "label")


def _lloyd_fit(
    comp: DataFrame,
    k: int = K_CELLS,
    iters: int = KM_ITERS,
    materialize_assign: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared deterministic Lloyd fit, MATERIALIZED: each iteration's
    centroid table is eagerly localCheckpoint-ed (k·d rows — tiny by
    construction), and the final assignment (corpus-sized but two
    columns) once.  Consumers reference ``cents`` two-to-three times
    (probe ranking, centroid norms) and ``assign`` once per probe
    budget; without lineage truncation EVERY reference re-evaluates
    the whole unrolled assign→recompute chain, which is where the
    multi-second wall went (same defect class as the label-propagation
    checkpoint fix, VERDICT r10 Next #3).  Values are exact integers
    throughout, so materialization cannot change results.  At 100 TB
    the checkpoint would be a persisted centroid/assignment table —
    same operators, same cut.

    ``materialize_assign``: the final assignment is corpus-sized, so
    eagerly checkpointing it only pays when a consumer references it
    more than once (the nprobe curve probes it per budget); single-
    reference consumers (one probe/score tail) keep it lazy — measured
    A/B at sf0.1: eager assign cost kmeans_ivf_topk ~0.5 s while
    saving the curve ~2 s."""
    cents = comp.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("label"), "pos", F.col("q").alias("cq")
    )
    for _ in range(iters):
        assign = _assign_cells(comp, cents)
        cents = (
            comp.join(assign, "vec_id")
            .groupBy("label", "pos")
            .agg(F.floor(F.avg("q")).cast("long").alias("cq"))
            .localCheckpoint(eager=True)
        )
    assign = _assign_cells(comp, cents)
    if materialize_assign:
        assign = assign.localCheckpoint(eager=True)
    return cents, assign


def _compl_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored CACHED labeled component frame (vec_id, label, pos, q)
    for the full embeddings table — the ONE in-session decode of the
    corpus that every similarity/ANN/vectors query reads instead of
    re-decoding per call (and, for multi-branch plans, per branch).
    At scale this is the index's resident vector storage."""

    def build():
        out = _quantized_components_labeled(load_table(spark, sf_dir, "embeddings")).cache()
        out.count()  # single deterministic materialization
        return out

    return artifacts.get(spark, ("compl", sf_dir), build)


def _norms_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored eager checkpoint of the per-vector norm table
    (vec_id, norm2) — the norm sidecar every vector index persists
    beside its postings."""
    return artifacts.get(
        spark,
        ("norms", sf_dir),
        lambda: _norms(_compl_for(spark, sf_dir).drop("label"), "vec_id").localCheckpoint(
            eager=True
        ),
    )


def _label_cents_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored eager checkpoint of the label-cell coarse quantizer
    (label, pos, cq = floor(avg(q))) — the |labels|·dim centroid
    table of the label-IVF index, shared by :func:`ivf_topk` and
    :func:`vector_margin_histogram` (identical derivation both)."""
    return artifacts.get(
        spark,
        ("lcents", sf_dir),
        lambda: _compl_for(spark, sf_dir)
        .groupBy("label", "pos")
        .agg(F.floor(F.avg("q")).cast("long").alias("cq"))
        .localCheckpoint(eager=True),
    )


def _ivf_fit_for(
    spark: SparkSession, sf_dir: str, k: int = K_CELLS, iters: int = KM_ITERS
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(comp, cents, assign) for the learned-cell IVF family — the
    stored component frame projected, Lloyd fit and assignment
    materialized (shared by every consumer, so the corpus-sized
    checkpoint amortizes across the family)."""

    def build():
        comp = _compl_for(spark, sf_dir).drop("label")
        return (comp, *_lloyd_fit(comp, k, iters, materialize_assign=True))

    return artifacts.get(spark, ("ivf", sf_dir, k, iters), build)


def _ivf_members_for(
    spark: SparkSession, sf_dir: str, k: int = K_CELLS, iters: int = KM_ITERS
) -> DataFrame:
    """Stored eager checkpoint of the cell-attached component table
    (vec_id, pos, q, label) — the in-session form of the cell-
    partitioned posting-list layout :func:`build_ivf_index` persists
    to disk; query-independent, so it is built once with the fit."""

    def build():
        comp, _cents, assign = _ivf_fit_for(spark, sf_dir, k, iters)
        return comp.join(assign, "vec_id").localCheckpoint(eager=True)

    return artifacts.get(spark, ("ivfmem", sf_dir, k, iters), build)


def _brute_topk_for(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 20
) -> DataFrame:
    """Stored, eagerly-checkpointed :func:`brute_force_topk` frame:
    the exact top-k GROUND TRUTH the recall evaluations
    (``ann_recall_audit``, ``ivf_nprobe_recall_curve``,
    ``knn_purity_at_k``) compare against.  n_queries·k rows.  The
    declared ``ann_brute_force_topk`` is the lazy builder itself."""
    return artifacts.get(
        spark,
        ("bft", sf_dir, k, n_queries),
        lambda: brute_force_topk(spark, sf_dir, k=k, n_queries=n_queries).localCheckpoint(
            eager=True
        ),
    )


def _cosine_pairs_for(
    spark: SparkSession, sf_dir: str, threshold: float, max_bucket: int = 200
) -> DataFrame:
    """Stored, eagerly-checkpointed :func:`embedding_cosine_dedup`
    pair set (the small near-dup pair list) that
    ``crosslingual_mining`` reads.  The declared
    ``embedding_cosine_dedup`` is the lazy builder itself."""
    return artifacts.get(
        spark,
        ("cospairs", sf_dir, threshold, max_bucket),
        lambda: embedding_cosine_dedup(
            spark, sf_dir, threshold=threshold, max_bucket=max_bucket
        ).localCheckpoint(eager=True),
    )


def kmeans_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CELLS,
    iters: int = KM_ITERS,
    nprobe: int = 3,
    topk: int = 5,
    n_queries: int = 20,
) -> DataFrame:
    """IVF with LEARNED cells: Lloyd's k-means over the quantized
    components (an iterative algorithm — the driver loops, each
    iteration is one assign + one centroid-recompute Spark job with
    centroids broadcast), then the standard IVF probe/score.

    Fully deterministic (integer costs, floor(avg) centroids,
    label-ordered tiebreaks, fixed init = vectors 0..k-1), so the
    DuckDB oracle replicates it by unrolling the iterations as CTEs
    — an oracle-verified iterative ML algorithm.

    Scale: assignment is a broadcast join + partial-aggregated
    groupBy per iteration (no shuffle of the corpus beyond the
    (vec,cell) cost rows); at 100 TB one would sample for the
    k-means fit and assign the full corpus once — same operators.
    """
    comp, cents, assign = _ivf_fit_for(spark, sf_dir, k, iters)
    return _ivf_probe_score(
        comp,
        cents,
        assign,
        n_queries,
        nprobe,
        topk,
        members=_ivf_members_for(spark, sf_dir, k, iters),
        norms=_norms_for(spark, sf_dir),
    )


def _ivf_probe_score(
    comp: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    n_queries: int,
    nprobe: int,
    topk: int,
    member_ids: DataFrame | None = None,
    members: DataFrame | None = None,
    norms: DataFrame | None = None,
) -> DataFrame:
    """The IVF probe/score tail shared by the plain and the FILTERED
    k-means paths: rank cells per query against the broadcast
    centroids, score only probed cells' members — optionally
    semi-joined to ``member_ids`` (the metadata predicate's
    qualifying set) BEFORE the scoring join, so a selective filter
    shrinks the candidate volume instead of post-filtering top-k."""
    scored = _ivf_scored(
        comp, cents, assign, n_queries, nprobe, member_ids, members, norms
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= topk)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


def _ivf_scored(
    comp: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    n_queries: int,
    nprobe: int,
    member_ids: DataFrame | None = None,
    members: DataFrame | None = None,
    norms: DataFrame | None = None,
) -> DataFrame:
    """Candidate scoring shared by :func:`_ivf_probe_score` and the
    nprobe curve: (q_id, vec_id, cosine, crank) where ``crank`` is
    the rank of the probed cell that produced the candidate — the
    candidate set at any budget n ≤ nprobe is exactly the crank ≤ n
    restriction (each vector lives in ONE cell, so crank is
    well-defined per candidate).  ``members`` / ``norms`` accept the
    stored index artifacts (:func:`_ivf_members_for` /
    :func:`_norms_for`) so the per-query plan skips the corpus-grain
    join and norm aggregate; both defaults rebuild the identical
    frames inline."""
    qcomp = comp.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("q").alias("qq")
    )
    qcell = (
        cents.join(broadcast(qcomp), "pos")
        .groupBy("q_id", "label")
        .agg(F.sum(F.col("cq") * F.col("qq")).alias("dot"))
    )
    cnorm = cents.groupBy("label").agg(F.sum(F.col("cq") * F.col("cq")).alias("cn2"))
    qnorm = qcomp.groupBy("q_id").agg(F.sum(F.col("qq") * F.col("qq")).alias("qn2"))
    wq = Window.partitionBy("q_id").orderBy(
        F.desc(
            F.col("dot").cast("double") / F.sqrt(F.col("cn2").cast("double") * F.col("qn2").cast("double"))
        ),
        F.asc("label"),
    )
    probes = (
        qcell.join(broadcast(cnorm), "label")
        .join(broadcast(qnorm), "q_id")
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "label", F.col("rn").alias("crank"))
    )
    if members is None:
        members = comp.join(assign, "vec_id")
    if member_ids is not None:
        members = members.join(member_ids, "vec_id", "left_semi")
    dots = (
        members.alias("m")
        .join(broadcast(probes.alias("p")), F.col("m.label") == F.col("p.label"))
        .join(
            broadcast(qcomp.alias("q")),
            (F.col("m.pos") == F.col("q.pos")) & (F.col("p.q_id") == F.col("q.q_id")),
        )
        .where(F.col("m.vec_id") != F.col("p.q_id"))
        .groupBy(F.col("p.q_id").alias("q_id"), F.col("m.vec_id").alias("vec_id"))
        .agg(F.sum(F.col("m.q") * F.col("q.qq")).alias("dot"), F.min("crank").alias("crank"))
    )
    if norms is None:
        norms = _norms(comp, "vec_id")
    qnorms = norms.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("norm2").alias("qnorm2")
    )
    return (
        dots.join(broadcast(qnorms), "q_id")
        .join(norms, "vec_id")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / F.sqrt(F.col("norm2").cast("double") * F.col("qnorm2").cast("double")),
        )
    )


def filtered_kmeans_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CELLS,
    iters: int = KM_ITERS,
    nprobe: int = 5,
    topk: int = 5,
    n_queries: int = 20,
    min_label: int = 5,
) -> DataFrame:
    """FILTERED IVF search: the metadata predicate (label ≥
    min_label) composed with the learned-cell index — VERDICT r6 #7's
    scale path for ``ann_filtered_topk``, whose exact brute-force
    formulation stays as the recall baseline.

    Probe-then-filter-then-rerank: cells are probed by query-centroid
    similarity exactly as in :func:`kmeans_ivf_topk` (the index
    structure is predicate-agnostic), the predicate's qualifying set
    semi-joins the probed cells' members BEFORE any scoring work, and
    only survivors get the exact integer-quantized cosine.  At 100 TB
    with a cell-partitioned layout this is partition pruning (nprobe/k
    of the files) times predicate pushdown inside each cell — the
    full-scan-under-predicate baseline reads everything instead.
    ``nprobe`` defaults wider than the unfiltered path (5 vs 3): a
    selective filter thins each probed cell, so filtered search
    probes more cells for the same candidate budget — the standard
    filtered-ANN compensation.

    Deterministic end-to-end (same Lloyd fit, integer arithmetic,
    label tiebreaks), so the DuckDB oracle replicates the probe set
    AND the filtered candidate set bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp, cents, assign = _ivf_fit_for(spark, sf_dir, k, iters)
    qualifying = emb.where(F.col("label") >= min_label).select("vec_id")
    return _ivf_probe_score(
        comp,
        cents,
        assign,
        n_queries,
        nprobe,
        topk,
        member_ids=qualifying,
        members=_ivf_members_for(spark, sf_dir, k, iters),
        norms=_norms_for(spark, sf_dir),
    )


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QA harness as a query: recall@5 of the learned-cell IVF
    path (:func:`kmeans_ivf_topk`, nprobe=3) against exact
    brute-force cosine GROUND TRUTH over the same query set — the
    evaluation every vector-search deployment runs before trusting
    nprobe/k geometry (the :func:`dedup_precision_audit` discipline
    applied to similarity search).

    Single-row report: n_queries, n_truth (= queries×5 truth pairs),
    n_hit ((q_id, neighbor) pairs the IVF path recovered), and recall
    as one double division of exact integers.  The truth side is the
    20-query brute-force scan — request-sized by construction (the
    query batch IS the bound; the corpus side stays the production
    one-pass kernel), so no extra cap parameter is needed."""
    # stored truth frame (already eagerly checkpointed): referenced
    # by the hit join AND the totals agg, and shared with the curve /
    # purity audits
    truth = _brute_topk_for(spark, sf_dir).select("q_id", "neighbor_id")
    approx = kmeans_ivf_topk(spark, sf_dir).select("q_id", "neighbor_id")
    hit = approx.join(truth, ["q_id", "neighbor_id"], "left_semi")
    row = (
        truth.agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_truth"),
        )
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return row.select(
        "n_queries",
        "n_truth",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_truth").cast("double")).alias(
            "recall_at_5"
        ),
    )


def ivf_nprobe_recall_curve(
    spark: SparkSession,
    sf_dir: str,
    nprobes: tuple = (1, 2, 4),
    k: int = K_CELLS,
    iters: int = KM_ITERS,
    topk: int = 5,
    n_queries: int = 20,
) -> DataFrame:
    """Recall-vs-nprobe TUNING CURVE for the learned-cell IVF path:
    recall@5 against exact brute-force truth at nprobe ∈ {1, 2, 4} —
    the artifact every IVF deployment reads before fixing its probe
    budget (``ann_recall_audit`` reports the single production
    operating point; the curve shows what one more probe buys).

    The Lloyd fit and cell assignment are computed ONCE and shared by
    every probe budget (the index is probe-agnostic), and — r16 —
    so is the SCORING: candidates are scored once at the WIDEST
    budget with their probed cell's rank attached, and each budget's
    approx top-k is the crank ≤ n restriction re-ranked (identical
    by construction: budget n's candidate set is exactly the top-n
    cells' members).  One budget-exploded window pass + ONE truth
    semi-join + one aggregate replace the former per-budget copy of
    the whole probe/score tail (3× members join, 3× score aggregate,
    union — guide §2.4).  Truth stays the one request-sized
    brute-force pass.  All counts are exact integers; recall is one
    double division per row.  The oracle re-derives each operating
    point from the shared unrolled-CTE k-means chain."""
    comp, cents, assign = _ivf_fit_for(spark, sf_dir, k, iters)
    # truth is request-sized (n_queries·topk rows) but referenced by
    # every probe budget's recall join — materialize it once.
    truth = _brute_topk_for(spark, sf_dir, k=topk, n_queries=n_queries).select(
        "q_id", "neighbor_id"
    )
    scored = _ivf_scored(
        comp,
        cents,
        assign,
        n_queries,
        max(nprobes),
        members=_ivf_members_for(spark, sf_dir, k, iters),
        norms=_norms_for(spark, sf_dir),
    )
    fanned = scored.select(
        "q_id",
        "vec_id",
        "cosine",
        F.explode(
            F.filter(
                F.array(*[F.lit(int(n)) for n in sorted(nprobes)]),
                lambda b: F.col("crank") <= b,
            )
        ).alias("b"),
    )
    wb = Window.partitionBy("b", "q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    hits = (
        fanned.withColumn("rnk", F.row_number().over(wb))
        .where(F.col("rnk") <= topk)
        .select("b", "q_id", F.col("vec_id").alias("neighbor_id"))
        .join(truth, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    base = truth.agg(F.count(F.lit(1)).alias("n_truth")).select(
        "n_truth",
        F.explode(F.array(*[F.lit(int(n)) for n in sorted(nprobes)])).alias("nprobe"),
    )
    return (
        base.join(hits, base.nprobe == hits.b, "left")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_truth",
            F.coalesce("_n_hit", F.lit(0)).alias("n_hit"),
            (
                F.coalesce("_n_hit", F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


def _nprobe_curve_oracle(nprobes: tuple = (1, 2, 4)) -> str:
    """Compose the curve from the proven chains: brute-force truth as
    one CTE, one full unrolled k-means IVF statement per probe budget
    (the fit CTEs repeat per budget — redundant but each chain is the
    exact statement already verified standalone)."""
    ctes = [f"truth AS (\n{BRUTE_FORCE_ORACLE}\n)"]
    selects = []
    for n in nprobes:
        ctes.append(f"a{n} AS (\n{_kmeans_oracle(nprobe=n)}\n)")
        selects.append(
            f"""SELECT CAST({n} AS INT) AS nprobe,
       CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM a{n} x
             JOIN truth t ON x.q_id = t.q_id AND x.neighbor_id = t.neighbor_id)
            AS BIGINT) AS n_hit,
       CAST((SELECT COUNT(*) FROM a{n} x
             JOIN truth t ON x.q_id = t.q_id AND x.neighbor_id = t.neighbor_id)
            AS DOUBLE) / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) AS recall"""
        )
    body = "\nUNION ALL\n".join(selects)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM (\n{body}\n) ORDER BY nprobe"
    )



TWONN_SAMPLE = 256


def embedding_intrinsic_dim(
    spark: SparkSession, sf_dir: str, sample_n: int = TWONN_SAMPLE
) -> DataFrame:
    """Intrinsic-dimension estimate of the embedding manifold by the
    TWO-NN estimator (Facco, d'Errico, Rodriguez & Laio, "Estimating
    the intrinsic dimension of datasets by a minimal neighborhood
    information", Scientific Reports 2017): for each point, μ = r₂/r₁
    (distance to 2nd vs 1st nearest neighbor); the MLE is
    d̂ = N / Σ ln μ.  An embedding column whose intrinsic dimension
    collapses (or explodes toward the ambient dimension) signals an
    encoder regression before any downstream recall number moves —
    the geometric companion to ``embedding_norm_audit`` (scale) and
    ``ivf_cell_balance`` (partition shape).

    All-pairs distances are quadratic, so the estimator runs on the
    ENFORCED hash-rank sample (``sample_n`` vectors chosen by
    md5(vec_id) — the audit_sample discipline; pairs ≤ sample_n² BY
    CONSTRUCTION).  Distances are exact integer squared-euclidean on
    the quantized components; ties break by neighbor id; coincident
    points (r₁ = 0) are excluded as the paper prescribes.  ln μ =
    (ln d₂² − ln d₁²)/2 is rounded to 9 dp on BOTH engines and summed
    as DECIMAL so accumulation order can't drift the hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    chosen = (
        emb.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(sample_n)
        .select("vec_id")
    )
    comp = _quantized_components(emb.join(broadcast(chosen), "vec_id"))
    a = comp.select(F.col("vec_id").alias("a"), "pos", F.col("q").alias("qa"))
    b = comp.select(F.col("vec_id").alias("b"), "pos", F.col("q").alias("qb"))
    d2 = (
        a.join(b, "pos")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))).alias("d2"))
    )
    w = Window.partitionBy("a").orderBy(F.asc("d2"), F.asc("b"))
    nn2 = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("a")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d2"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("d2"))).alias("d2nd"),
        )
        .where((F.col("d1") > 0) & F.col("d2nd").isNotNull())
    )
    lnmu = F.round(
        (F.log(F.col("d2nd").cast("double")) - F.log(F.col("d1").cast("double")))
        / F.lit(2.0),
        9,
    ).cast("decimal(18,9)")
    return (
        nn2.select(lnmu.alias("lnmu"))
        .agg(F.count(F.lit(1)).alias("n_used"), F.sum("lnmu").alias("_s"))
        .select(
            F.lit(sample_n).cast("int").alias("n_sampled"),
            "n_used",
            F.round(
                F.col("n_used").cast("double") / F.col("_s").cast("double"), 6
            ).alias("intrinsic_dim"),
        )
    )


EMBEDDING_INTRINSIC_DIM_ORACLE = f"""
WITH chosen AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {TWONN_SAMPLE}
),
comp AS (
  SELECT e.vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings e JOIN chosen USING (vec_id),
       LATERAL unnest(range(0, len(embedding))) t(i)
),
d2 AS (
  SELECT x.vec_id AS a, y.vec_id AS b, SUM((x.q - y.q) * (x.q - y.q)) AS d2
  FROM comp x JOIN comp y ON x.pos = y.pos AND x.vec_id <> y.vec_id
  GROUP BY 1, 2
),
nn AS (
  SELECT a, d2,
         row_number() OVER (PARTITION BY a ORDER BY d2 ASC, b ASC) AS rn
  FROM d2
),
pairs AS (
  SELECT a,
         MIN(CASE WHEN rn = 1 THEN d2 END) AS d1,
         MIN(CASE WHEN rn = 2 THEN d2 END) AS d2nd
  FROM nn WHERE rn <= 2 GROUP BY 1
),
used AS (
  SELECT CAST(round((ln(CAST(d2nd AS DOUBLE)) - ln(CAST(d1 AS DOUBLE))) / 2.0, 9)
              AS DECIMAL(18,9)) AS lnmu
  FROM pairs WHERE d1 > 0 AND d2nd IS NOT NULL
)
SELECT CAST({TWONN_SAMPLE} AS INT) AS n_sampled,
       CAST(COUNT(*) AS BIGINT) AS n_used,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(lnmu) AS DOUBLE), 6) AS intrinsic_dim
FROM used
"""



def _source_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of the embeddings source (relpath,
    size, mtime per file) — no data read.  Keys the cached IVF
    artifact so a regenerated testdata dir can never be served by a
    stale index."""
    import hashlib
    import os

    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    parts = []
    if os.path.isdir(src):
        for dp, _dirs, fs in os.walk(src):
            for f in sorted(fs):
                p = os.path.join(dp, f)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, src)}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(src)
        parts.append(f"{src}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(sorted(parts)).encode()).hexdigest()[:16]


def _resolve_ivf_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Return a persisted IVF index dir for ``sf_dir``'s embeddings,
    building it once per source fingerprint (publish via build-temp →
    atomic rename; a concurrent builder losing the rename race just
    uses the winner's artifact).  This is the PRODUCTION read path
    the maintenance planner keeps fresh — queries probe the artifact,
    they don't re-learn centroids (VERDICT r7 Next #6)."""
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    final = os.path.join(
        tempfile.gettempdir(), f"rakam_ivf_{_source_fingerprint(sf_dir)}"
    )
    if os.path.isdir(os.path.join(final, "centroids")):
        return final
    tmp = final + f".build-{_uuid.uuid4().hex[:8]}"
    build_ivf_index(spark, sf_dir, tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race; theirs is identical
    return final


def ann_filtered_ivf_indexed(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = 5,
    topk: int = 5,
    n_queries: int = 20,
    min_label: int = 5,
    index_dir: str | None = None,
) -> DataFrame:
    """Filtered ANN over the PERSISTED IVF artifact: the production
    counterpart of :func:`filtered_kmeans_ivf_topk`, which stays as
    the inline-fit recall gate.  Centroids/cells are loaded from the
    ``build_ivf_index`` output (the artifact ``register_index`` keeps
    staleness-healed and fragment-compacted) and probed with the
    metadata predicate's qualifying set semi-joined before scoring —
    partition pruning × predicate, zero Lloyd iterations at query
    time.

    Identical output contract to the inline variant (same
    deterministic fit frozen into the artifact, same integer-quantized
    cosine, same tiebreaks), so the SAME DuckDB oracle
    (ANN_FILTERED_IVF_ORACLE) gates both."""
    emb = load_table(spark, sf_dir, "embeddings")
    if index_dir is None:
        index_dir = _resolve_ivf_artifact(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    qualifying = emb.where(F.col("label") >= min_label).select("vec_id")
    return ivf_index_topk(
        spark, index_dir, queries, nprobe=nprobe, topk=topk, member_ids=qualifying
    )


def _kmeans_cte_chain(k: int = K_CELLS, iters: int = KM_ITERS) -> tuple[list, str, str]:
    """Shared CTE chain for the deterministic Lloyd fit: returns
    (ctes, final_assign_name, final_cents_name) — used by the IVF
    top-k oracle and the cluster-profile oracle so both verify the
    SAME unrolled iterations."""
    ctes = [
        """comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
)""",
        f"cents0 AS (SELECT vec_id AS label, pos, q AS cq FROM comp WHERE vec_id < {k})",
    ]
    prev = "cents0"
    for i in range(1, iters + 2):  # one extra assignment after the last recompute
        ctes.append(
            f"""costs{i} AS (
  SELECT c.vec_id, t.label, SUM(t.cq*t.cq) - 2*SUM(c.q*t.cq) AS cost
  FROM comp c JOIN {prev} t ON c.pos = t.pos GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""assign{i} AS (
  SELECT vec_id, label FROM (
    SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id ORDER BY cost ASC, label ASC) AS rn
    FROM costs{i}
  ) WHERE rn = 1
)"""
        )
        if i <= iters:
            ctes.append(
                f"""cents{i} AS (
  SELECT a.label, c.pos, CAST(floor(avg(c.q)) AS BIGINT) AS cq
  FROM comp c JOIN assign{i} a USING (vec_id) GROUP BY 1, 2
)"""
            )
            prev = f"cents{i}"
    return ctes, f"assign{iters + 1}", prev


def _kmeans_oracle(
    k: int = K_CELLS,
    iters: int = KM_ITERS,
    nprobe: int = 3,
    member_join: str = "",
) -> str:
    """DuckDB oracle for kmeans_ivf_topk (and, with ``nprobe=5`` +
    ``member_join`` set, for the FILTERED variant): the k-means
    iterations unrolled as CTE chains (cents0 → assign1/cents1 → …).
    ``member_join`` is an extra JOIN clause inside the dots CTE that
    restricts candidates to the metadata predicate's qualifying set —
    mirroring the Spark side's semi-join before scoring."""
    ctes, final_assign, prev = _kmeans_cte_chain(k, iters)
    ctes = list(ctes)
    ctes += [
        "qcomp AS (SELECT vec_id AS q_id, pos, q AS qq FROM comp WHERE vec_id < 20)",
        f"""qcell AS (
  SELECT q.q_id, c.label, SUM(c.cq * q.qq) AS dot
  FROM {prev} c JOIN qcomp q USING (pos) GROUP BY 1, 2
)""",
        f"cnorm AS (SELECT label, SUM(cq*cq) AS cn2 FROM {prev} GROUP BY 1)",
        "qnorm AS (SELECT q_id, SUM(qq*qq) AS qn2 FROM qcomp GROUP BY 1)",
        f"""probes AS (
  SELECT q_id, label FROM (
    SELECT qc.q_id, qc.label,
           row_number() OVER (
             PARTITION BY qc.q_id
             ORDER BY CAST(qc.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(qn.qn2 AS DOUBLE)) DESC,
                      qc.label ASC) AS rn
    FROM qcell qc JOIN cnorm cn USING (label) JOIN qnorm qn USING (q_id)
  ) WHERE rn <= {nprobe}
)""",
        f"""dots AS (
  SELECT p.q_id, m.vec_id, SUM(m.q * q.qq) AS dot
  FROM comp m
  JOIN {final_assign} l ON m.vec_id = l.vec_id
  JOIN probes p ON l.label = p.label
  JOIN qcomp q ON m.pos = q.pos AND p.q_id = q.q_id{member_join}
  WHERE m.vec_id <> p.q_id
  GROUP BY 1, 2
)""",
        "norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1)",
        """scored AS (
  SELECT d.q_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE) * CAST(qn.norm2 AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms n  ON d.vec_id = n.vec_id
  JOIN norms qn ON d.q_id = qn.vec_id
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT q_id, vec_id AS neighbor_id, cosine, rnk
FROM (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""
    )


KMEANS_IVF_ORACLE = _kmeans_oracle()

# composed AFTER both constituent oracles exist: the audit verifies
# the IVF chain against the brute-force chain inside ONE statement
ANN_RECALL_AUDIT_ORACLE = f"""
WITH truth_full AS (
{BRUTE_FORCE_ORACLE}
),
approx_full AS (
{KMEANS_IVF_ORACLE}
),
counts AS (
  SELECT
    CAST((SELECT COUNT(DISTINCT q_id) FROM truth_full) AS BIGINT) AS n_queries,
    CAST((SELECT COUNT(*) FROM truth_full) AS BIGINT) AS n_truth,
    CAST((SELECT COUNT(*) FROM approx_full a
          JOIN truth_full t ON a.q_id = t.q_id AND a.neighbor_id = t.neighbor_id)
         AS BIGINT) AS n_hit
)
SELECT n_queries, n_truth, n_hit,
       CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall_at_5
FROM counts
"""

IVF_NPROBE_CURVE_ORACLE = _nprobe_curve_oracle()

ANN_FILTERED_IVF_ORACLE = _kmeans_oracle(
    nprobe=5,
    member_join="\n  JOIN (SELECT vec_id FROM embeddings WHERE label >= 5) f ON m.vec_id = f.vec_id",
)


def embedding_cluster_profile(
    spark: SparkSession, sf_dir: str, k: int = K_CELLS, iters: int = KM_ITERS
) -> DataFrame:
    """Unsupervised-clustering evaluation: run the SAME deterministic
    Lloyd fit as ``ann_kmeans_ivf_topk``, then profile each cluster
    against the corpus's ground-truth ``label`` column — member
    count, majority true label, and purity (majority share).

    The fit is the proven iterative machinery (broadcast centroids,
    integer costs, label-ordered tiebreaks); the profile adds one
    join to the (vec_id, true label) projection and two tiny
    aggregations.  Oracle: the shared unrolled-CTE chain plus the
    same profile SQL.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp, cents, assign = _ivf_fit_for(spark, sf_dir, k, iters)
    truth = emb.select("vec_id", F.col("label").alias("true_label"))
    cell_counts = (
        assign.select("vec_id", F.col("label").alias("cluster"))
        .join(truth, "vec_id")
        .groupBy("cluster", "true_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("true_label"))
    totals = cell_counts.groupBy("cluster").agg(F.sum("n").alias("n_members"))
    majority = (
        cell_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster", F.col("true_label").alias("majority_label"), F.col("n").alias("n_major"))
    )
    out = (
        totals.join(majority, "cluster")
        .select(
            "cluster",
            "n_members",
            "majority_label",
            (F.col("n_major").cast("double") / F.col("n_members").cast("double")).alias(
                "purity"
            ),
        )
        .orderBy("cluster")
    )
    return out


def _cluster_profile_oracle(k: int = K_CELLS, iters: int = KM_ITERS) -> str:
    ctes, final_assign, _ = _kmeans_cte_chain(k, iters)
    ctes = list(ctes)
    ctes += [
        f"""cellc AS (
  SELECT a.label AS cluster, e.label AS true_label, COUNT(*) AS n
  FROM {final_assign} a JOIN embeddings e ON a.vec_id = e.vec_id
  GROUP BY 1, 2
)""",
        "totals AS (SELECT cluster, SUM(n) AS n_members FROM cellc GROUP BY 1)",
        """majority AS (
  SELECT cluster, true_label AS majority_label, n AS n_major FROM (
    SELECT cluster, true_label, n,
           row_number() OVER (PARTITION BY cluster ORDER BY n DESC, true_label ASC) AS rn
    FROM cellc
  ) WHERE rn = 1
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT t.cluster, CAST(t.n_members AS BIGINT) AS n_members, m.majority_label,
       CAST(m.n_major AS DOUBLE) / CAST(t.n_members AS DOUBLE) AS purity
FROM totals t JOIN majority m USING (cluster)
"""
    )


CLUSTER_PROFILE_ORACLE = _cluster_profile_oracle()


PQ_M = 8  # subspaces (64-dim vectors → 8 dims each)
PQ_K = 16  # centroids per subspace codebook
PQ_ITERS = 2


def _pq_rekey(comp: DataFrame, m: int) -> DataFrame:
    """Re-key a (vec_id, pos, q) component frame to (subspace,
    within-subspace position) — a pure projection."""
    dsub = F.expr(f"pos div {64 // m}")
    return comp.select(
        "vec_id", dsub.alias("m"), F.expr(f"pos % {64 // m}").alias("spos"), "q"
    )


def _pq_comp(emb: DataFrame, m: int) -> DataFrame:
    """(vec_id, m, spos, q): quantized components re-keyed to
    (subspace, within-subspace position) — the shared input of the
    PQ fit, encode, and audit paths."""
    return _pq_rekey(_quantized_components(emb), m)


def _pq_assign(comp: DataFrame, cs: DataFrame) -> DataFrame:
    """Per-subspace nearest-codebook-entry assignment (argmin of
    cn2 − 2·dot per (vector, subspace); exact ints, label tiebreak)."""
    costs = (
        comp.join(broadcast(cs), ["m", "spos"])
        .groupBy("vec_id", "m", "label")
        .agg(
            (F.sum(F.col("cq") * F.col("cq")) - 2 * F.sum(F.col("q") * F.col("cq"))).alias(
                "cost"
            )
        )
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("cost"), F.asc("label"))
    return (
        costs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", "label")
    )


def _pq_fit(
    comp: DataFrame, kc: int = PQ_K, iters: int = PQ_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Per-subspace Lloyd codebook fit, MATERIALIZED — the
    :func:`_lloyd_fit` treatment applied to the PQ chain: each
    iteration's codebook (m·kc·d/m rows, tiny) is eagerly
    localCheckpoint-ed, and the final code table once, so the
    consuming ADC/reconstruction plans scan flat tables instead of
    re-evaluating the unrolled fit per reference.  Integer-exact
    throughout; results unchanged."""
    cents = comp.where(F.col("vec_id") < kc).select(
        "m", F.col("vec_id").alias("label"), "spos", F.col("q").alias("cq")
    )
    for _ in range(iters):
        a = _pq_assign(comp, cents)
        cents = (
            comp.join(a, ["vec_id", "m"])
            .groupBy("m", "label", "spos")
            .agg(F.floor(F.avg("q")).cast("long").alias("cq"))
            .localCheckpoint(eager=True)
        )
    codes = _pq_assign(comp, cents).localCheckpoint(eager=True)
    return cents, codes


def _pq_fit_for(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(comp, cents, codes) for the PQ family, stored like
    :func:`_ivf_fit_for`: the PQ layout is a re-keyed projection of
    the stored component frame."""

    def build():
        comp = _pq_rekey(_compl_for(spark, sf_dir).drop("label"), m)
        return (comp, *_pq_fit(comp, kc, iters))

    return artifacts.get(spark, ("pq", sf_dir, m, kc, iters), build)


def pq_ann_topk(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
    topk: int = 5,
    n_queries: int = 20,
) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): each
    vector splits into ``m`` subspaces, a per-subspace ``kc``-entry
    codebook is Lloyd-fit, the corpus is encoded to m small codes
    (m·log2(kc) bits/vector — 32 bits here vs 4 KB raw), and queries
    score candidates by ASYMMETRIC DISTANCE: a per-query distance
    table of m·kc exact subspace distances, summed by code lookup.

    Fully deterministic — integer components (the QUANT contract),
    integer squared distances, floor(avg) centroid recompute, fixed
    init (vectors 0..kc-1), label-ordered tie-breaks — so the DuckDB
    oracle unrolls the same Lloyd iterations as CTEs and reproduces
    the approximate distances EXACTLY (bigint, no float anywhere).

    Scale: codebooks are m·kc·(d/m) integers (broadcast); encoding is
    one broadcast join + argmin per subspace; the ADC scan touches
    one m-code row per corpus vector — the memory shape that makes
    billion-vector ANN fit a cluster."""
    comp, cents, codes = _pq_fit_for(spark, sf_dir, m, kc, iters)

    qcomp = comp.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "m", "spos", F.col("q").alias("qq")
    )
    # asymmetric distance table: exact ||q_sub - c||² per (query,
    # subspace, codebook entry) — m·kc rows per query
    dtab = (
        qcomp.join(broadcast(cents), ["m", "spos"])
        .groupBy("q_id", "m", "label")
        .agg(F.sum((F.col("qq") - F.col("cq")) * (F.col("qq") - F.col("cq"))).alias("d2"))
    )
    approx = (
        codes.join(broadcast(dtab), ["m", "label"])
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2").alias("approx_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    return (
        approx.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= topk)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "approx_d2", "rnk")
        .orderBy("q_id", "rnk")
    )


def _pq_cte_chain(m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS):
    """Shared CTE chain for the deterministic per-subspace Lloyd fit:
    (ctes, final_assign_name, final_cents_name) — used by the PQ
    top-k oracle and the reconstruction-error oracle so both verify
    the SAME unrolled iterations."""
    dsub = 64 // m
    ctes = [
        f"""comp AS (
  SELECT vec_id, CAST(i AS INT) // {dsub} AS m, CAST(i AS INT) % {dsub} AS spos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
)""",
        f"cents0 AS (SELECT m, vec_id AS label, spos, q AS cq FROM comp WHERE vec_id < {kc})",
    ]
    prev = "cents0"
    for i in range(1, iters + 2):
        ctes.extend(
            [
                f"""costs{i} AS (
  SELECT c.vec_id, c.m, t.label, SUM(t.cq*t.cq) - 2*SUM(c.q*t.cq) AS cost
  FROM comp c JOIN {prev} t ON c.m = t.m AND c.spos = t.spos GROUP BY 1, 2, 3
)""",
                f"""assign{i} AS (
  SELECT vec_id, m, label FROM (
    SELECT vec_id, m, label,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY cost ASC, label ASC) AS rn
    FROM costs{i}
  ) WHERE rn = 1
)""",
            ]
        )
        if i <= iters:
            ctes.append(
                f"""cents{i} AS (
  SELECT a.m, a.label, c.spos, CAST(floor(avg(c.q)) AS BIGINT) AS cq
  FROM comp c JOIN assign{i} a ON c.vec_id = a.vec_id AND c.m = a.m GROUP BY 1, 2, 3
)"""
            )
            prev = f"cents{i}"
    return ctes, f"assign{iters + 1}", prev


def _pq_oracle(m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS) -> str:
    ctes, final_assign, prev = _pq_cte_chain(m, kc, iters)
    ctes = list(ctes)
    ctes += [
        "qcomp AS (SELECT vec_id AS q_id, m, spos, q AS qq FROM comp WHERE vec_id < 20)",
        f"""dtab AS (
  SELECT q.q_id, c.m, c.label, SUM((q.qq - c.cq) * (q.qq - c.cq)) AS d2
  FROM qcomp q JOIN {prev} c ON q.m = c.m AND q.spos = c.spos GROUP BY 1, 2, 3
)""",
        f"""approx AS (
  SELECT d.q_id, a.vec_id, CAST(SUM(d.d2) AS BIGINT) AS approx_d2
  FROM {final_assign} a JOIN dtab d ON a.m = d.m AND a.label = d.label
  WHERE a.vec_id <> d.q_id
  GROUP BY 1, 2
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT q_id, vec_id AS neighbor_id, approx_d2, rnk
FROM (
  SELECT q_id, vec_id, approx_d2,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY approx_d2 ASC, vec_id ASC) AS INT) AS rnk
  FROM approx
) WHERE rnk <= 5
"""
    )


PQ_ANN_ORACLE = _pq_oracle()


def pq_reconstruction_error(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Codebook-quality audit for the PQ index: per corpus label, the
    exact reconstruction error of the encoded vectors — Σ‖x_sub −
    c_code‖² over every subspace — against the vectors' own energy
    (Σ‖x‖²).  ``relative_err`` is the fraction of signal the 32-bit
    codes throw away; a label whose error runs hot is one the ADC
    scores will misrank first (the re-fit trigger beside
    ``ivf_cell_balance``, which watches the coarse index the same
    way).

    The fit is the SAME deterministic per-subspace Lloyd chain as
    :func:`pq_ann_topk` (integer costs, floor(avg) centroids, fixed
    init, label tiebreaks); the audit adds one (vec, m)-grain join of
    codes to broadcast codebooks and two aggregations.  All errors
    and norms are exact integers; the two ratios are single double
    divisions.  The oracle unrolls the identical iterations via the
    shared CTE chain."""
    comp, cents, codes = _pq_fit_for(spark, sf_dir, m, kc, iters)
    err = (
        comp.join(codes, ["vec_id", "m"])
        .join(
            broadcast(cents.withColumnRenamed("spos", "cspos")), ["m", "label"]
        )
        .where(F.col("spos") == F.col("cspos"))
        .groupBy("vec_id")
        .agg(F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))).alias("err"))
    )
    # Σq² per vector is layout-invariant: the (m, spos) re-key is a
    # bijection on components, so the shared norm sidecar applies
    norms = _norms_for(spark, sf_dir)
    return (
        err.join(norms, "vec_id")
        .join(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", F.col("label").alias("true_label")
            ),
            "vec_id",
        )
        .groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("err").alias("total_err"),
            F.sum("norm2").alias("total_norm2"),
        )
        .select(
            "label",
            "n_vectors",
            "total_err",
            "total_norm2",
            (F.col("total_err").cast("double") / F.col("total_norm2").cast("double")).alias(
                "relative_err"
            ),
            (F.col("total_err").cast("double") / F.col("n_vectors").cast("double")).alias(
                "mean_err"
            ),
        )
        .orderBy("label")
    )


def _pq_recon_oracle(m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS) -> str:
    ctes, final_assign, prev = _pq_cte_chain(m, kc, iters)
    ctes = list(ctes)
    ctes += [
        f"""recon AS (
  SELECT c.vec_id, SUM((c.q - t.cq) * (c.q - t.cq)) AS err
  FROM comp c
  JOIN {final_assign} a ON c.vec_id = a.vec_id AND c.m = a.m
  JOIN {prev} t ON a.m = t.m AND a.label = t.label AND c.spos = t.spos
  GROUP BY 1
)""",
        "vnorms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT e.label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(r.err) AS BIGINT) AS total_err,
       CAST(SUM(v.norm2) AS BIGINT) AS total_norm2,
       CAST(SUM(r.err) AS DOUBLE) / CAST(SUM(v.norm2) AS DOUBLE) AS relative_err,
       CAST(SUM(r.err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_err
FROM recon r
JOIN vnorms v USING (vec_id)
JOIN embeddings e USING (vec_id)
GROUP BY 1 ORDER BY 1
"""
    )


PQ_RECON_ORACLE = _pq_recon_oracle()



def semantic_contamination(
    spark: SparkSession, sf_dir: str, k: int = 25, heldout_label: int = 0
) -> DataFrame:
    """SEMANTIC benchmark-contamination screen: for every training-
    corpus vector (label ≠ heldout_label), its maximum cosine to the
    held-out evaluation set (label = heldout_label); returns the k
    most suspect corpus vectors with their nearest held-out item —
    the embedding-space complement of the n-gram ``contamination_check``
    (paraphrased leakage that shares no shingles still lands close in
    embedding space).

    Scale shape: the held-out set is request-sized (an eval suite,
    not a corpus) and rides to every partition as a numpy matrix —
    one ``mapInPandas`` BLAS pass per Arrow batch emits ONE row per
    corpus vector (its max + argmax), so the corpus never shuffles
    and nothing grows with |corpus|×|heldout|.

    Exactness: same integer-quantized components as
    :func:`brute_force_topk` — every dot and norm is an exact
    integer-valued float64, the cosine one IEEE division, and the
    max/argmax (ties → smallest held-out id) total-ordered."""
    emb = load_table(spark, sf_dir, "embeddings")
    import numpy as np

    hrows = sorted(
        emb.where(F.col("label") == heldout_label).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )

    def _quant(a):
        return np.sign(a) * np.floor(np.abs(a) + 0.5)

    h_ids = np.array([r["vec_id"] for r in hrows], dtype=np.int64)
    H = _quant(np.array([r["embedding"] for r in hrows], dtype=np.float64) * QUANT)
    hn2 = (H * H).sum(axis=1)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf[pdf["label"] != heldout_label]
            if pdf.empty:
                continue
            X = _quant(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * QUANT)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cos = (X @ H.T) / np.sqrt((X * X).sum(axis=1)[:, None] * hn2[None, :])
            # argmax with smallest-id tiebreak: scan ids ascending,
            # strict > keeps the first (smallest) id at the max
            best = np.argmax(cos, axis=1)  # first occurrence = smallest h_id
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "nearest_heldout_id": h_ids[best],
                    "max_cosine": cos[np.arange(len(ids)), best],
                }
            )

    scored = emb.select("vec_id", "embedding", "label").mapInPandas(
        kernel, "vec_id long, nearest_heldout_id long, max_cosine double"
    )
    return scored.orderBy(F.desc("max_cosine"), F.asc("vec_id")).limit(k)


SEMANTIC_CONTAMINATION_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q,
         label
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1),
hcomp AS (SELECT vec_id AS h_id, pos, q AS hq FROM comp WHERE label = 0),
dots AS (
  SELECT c.vec_id, h.h_id, SUM(c.q * h.hq) AS dot
  FROM comp c JOIN hcomp h USING (pos)
  WHERE c.label <> 0
  GROUP BY 1, 2
),
scored AS (
  SELECT d.vec_id, d.h_id,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE) * CAST(hn.norm2 AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms n  ON d.vec_id = n.vec_id
  JOIN norms hn ON d.h_id  = hn.vec_id
),
best AS (
  SELECT vec_id, h_id AS nearest_heldout_id, cosine AS max_cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, h_id ASC) AS rn
  FROM scored
)
SELECT vec_id, nearest_heldout_id, max_cosine
FROM (
  SELECT vec_id, nearest_heldout_id, max_cosine,
         row_number() OVER (ORDER BY max_cosine DESC, vec_id ASC) AS rnk
  FROM best WHERE rn = 1
) WHERE rnk <= 25
"""


def ann_filtered_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 20, min_label: int = 5
) -> DataFrame:
    """FILTERED vector search: exact cosine top-k restricted to
    candidates satisfying a metadata predicate (label ≥ min_label) —
    the retrieval-with-metadata-filters shape every vector store
    exposes (time ranges, tenant ids, source filters in RAG).

    The predicate applies BEFORE the scoring kernel, so the scan is
    pruned to the qualifying half of the corpus (pre-filtering, not
    post-filtering — post-filter top-k under-fills when the filter is
    selective).  At 100 TB the corpus would be partitioned/bucketed
    by the filter column and the predicate becomes partition pruning.
    Same integer-quantized exact-cosine kernel as
    :func:`brute_force_topk`."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.where(F.col("vec_id") < n_queries).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    import numpy as np

    def _quant(a):
        return np.sign(a) * np.floor(np.abs(a) + 0.5)

    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = _quant(np.array([r["embedding"] for r in qrows], dtype=np.float64) * QUANT)
    qn2 = (Q * Q).sum(axis=1)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = _quant(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * QUANT)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            dots = X @ Q.T
            n2 = (X * X).sum(axis=1)
            cos = dots / np.sqrt(n2[:, None] * qn2[None, :])
            out_q, out_v, out_c = [], [], []
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]
                cand_ids, cand_cos = ids[mask], cos[mask, j]
                top = min(k, len(cand_ids))
                if top == 0:
                    continue
                order = np.lexsort((cand_ids, -cand_cos))[:top]
                out_q.extend([int(q_ids[j])] * top)
                out_v.extend(cand_ids[order].tolist())
                out_c.extend(cand_cos[order].tolist())
            yield pd.DataFrame({"q_id": out_q, "vec_id": out_v, "cosine": out_c})

    # the metadata predicate prunes the scan BEFORE the kernel
    cand = emb.where(F.col("label") >= min_label).select("vec_id", "embedding")
    partial = cand.mapInPandas(kernel, "q_id long, vec_id long, cosine double")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


ANN_FILTERED_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q,
         label
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1),
qcomp AS (SELECT vec_id AS q_id, pos, q AS qq FROM comp WHERE vec_id < 20),
dots AS (
  SELECT q.q_id, c.vec_id, SUM(c.q * q.qq) AS dot
  FROM comp c JOIN qcomp q USING (pos)
  WHERE c.vec_id <> q.q_id AND c.label >= 5
  GROUP BY 1, 2
),
scored AS (
  SELECT d.q_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE) * CAST(qn.norm2 AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms n  ON d.vec_id = n.vec_id
  JOIN norms qn ON d.q_id = qn.vec_id
)
SELECT q_id, vec_id AS neighbor_id, cosine, rnk
FROM (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


def knn_label_propagation(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 20
) -> DataFrame:
    """k-NN label propagation: the unlabeled slice (vec_id <
    n_queries plays the freshly-ingested batch) takes the majority
    label of its k nearest LABELED neighbors by cosine — the
    workhorse for cheap auto-labeling / weak supervision over an
    embedding column, and the evaluation harness for embedding
    quality (``correct`` compares against the held-back true label).

    Plan: the query side is request-sized → its components and norms
    BROADCAST; the labeled corpus streams through one (query,
    candidate) hash aggregation for the dots — the same
    never-materialize-the-corpus-pair-matrix shape as
    ``brute_force_topk_exploded``; top-k per query via a per-query
    window over the (queries × corpus partitions) survivors; the
    vote is a k-row-per-query aggregation.  At 100 TB swap the exact
    candidate scan for the IVF-probed candidate set — the scoring,
    ranking and voting stages are unchanged.

    Determinism: quantized-int dot products (exact f64), one
    division per cosine; vote winner ordered by (votes DESC, label
    ASC) — a total order, since labels are unique within a vote
    group.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = _compl_for(spark, sf_dir).drop("label")
    qcomp = comp.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("q").alias("qq")
    )
    cand = comp.where(F.col("vec_id") >= n_queries)
    dots = (
        cand.join(broadcast(qcomp), "pos")
        .groupBy("q_id", "vec_id")
        .agg(F.sum(F.col("q") * F.col("qq")).alias("dot"))
    )
    norms = _norms_for(spark, sf_dir)
    qnorms = norms.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("norm2").alias("qnorm2")
    )
    scored = (
        dots.join(broadcast(qnorms), "q_id")
        .join(norms, "vec_id")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / F.sqrt(F.col("norm2").cast("double") * F.col("qnorm2").cast("double")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    topk = scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)
    labels = emb.select("vec_id", F.col("label").alias("nbr_label"))
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("q_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("vrnk", F.row_number().over(wv))
        .where(F.col("vrnk") == 1)
        .select("q_id", F.col("nbr_label").alias("predicted_label"), "votes")
    )
    truth = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(truth, "q_id")
        .select(
            "q_id",
            "predicted_label",
            F.col("votes").cast("long").alias("votes"),
            "true_label",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("q_id")
    )


KNN_LABEL_PROP_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1),
qcomp AS (SELECT vec_id AS q_id, pos, q AS qq FROM comp WHERE vec_id < 20),
dots AS (
  SELECT q.q_id, c.vec_id, SUM(c.q * q.qq) AS dot
  FROM comp c JOIN qcomp q USING (pos)
  WHERE c.vec_id >= 20
  GROUP BY 1, 2
),
scored AS (
  SELECT d.q_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE) * CAST(qn.norm2 AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms n  ON d.vec_id = n.vec_id
  JOIN norms qn ON d.q_id = qn.vec_id
),
topk AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
votes AS (
  SELECT t.q_id, e.label AS nbr_label, COUNT(*) AS votes
  FROM topk t JOIN embeddings e ON t.vec_id = e.vec_id
  GROUP BY 1, 2
),
pred AS (
  SELECT q_id, nbr_label AS predicted_label, votes FROM (
    SELECT q_id, nbr_label, votes,
           row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, nbr_label ASC) AS vrnk
    FROM votes
  ) WHERE vrnk = 1
)
SELECT p.q_id, p.predicted_label, CAST(p.votes AS BIGINT) AS votes,
       e.label AS true_label, p.predicted_label = e.label AS correct
FROM pred p JOIN embeddings e ON p.q_id = e.vec_id
ORDER BY p.q_id
"""


def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the cosine between the
    label's centroid in the REFERENCE window (first half of vec_ids)
    and in the CURRENT window (second half) — the production check
    that an upstream encoder change or data shift hasn't silently
    rotated a class's embedding region (drift ≪ 1 ⇒ retrain/reindex).

    The window boundary is data-derived (midpoint of the id range) so
    the query is scale-factor-invariant.  One (label, window, pos)
    aggregation over the quantized components — integer sums are
    exact at any corpus size (|q| ≤ 10⁴ ⇒ per-pos sums < 2⁵³ for up
    to ~10⁹ rows per label); cosine(Σref, Σcur) ≡ cosine of the mean
    vectors, so the centroids never need the inexact division.  The
    final cosine is a short float chain (two sqrts, one division) →
    ``round(.., 9)`` on both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # explicit floor on BOTH engines: Spark's double->long cast
    # truncates while DuckDB's CAST rounds, so an even max(vec_id)
    # would shift the window boundary by one vector between them
    mid = emb.agg(F.floor((F.max("vec_id") + 1) / 2).cast("long").alias("mid"))
    comp = _compl_for(spark, sf_dir)
    sums = (
        comp.crossJoin(broadcast(mid))
        .withColumn(
            "win", F.when(F.col("vec_id") < F.col("mid"), "ref").otherwise("cur")
        )
        .groupBy("label", "win", "pos")
        .agg(F.sum("q").alias("s"), F.countDistinct("vec_id").alias("n"))
    )
    ref = sums.where(F.col("win") == "ref").select(
        "label", "pos", F.col("s").alias("sr"), F.col("n").alias("n_ref")
    )
    cur = sums.where(F.col("win") == "cur").select(
        "label", "pos", F.col("s").alias("sc"), F.col("n").alias("n_cur")
    )
    per_label = (
        ref.join(cur, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
            F.sum(F.col("sr") * F.col("sc")).alias("dot"),
            F.sum(F.col("sr") * F.col("sr")).alias("nr2"),
            F.sum(F.col("sc") * F.col("sc")).alias("nc2"),
        )
    )
    return (
        per_label.select(
            "label",
            "n_ref",
            "n_cur",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nr2").cast("double"))
                    * F.sqrt(F.col("nc2").cast("double"))
                ),
                9,
            ).alias("drift_cosine"),
        )
        .orderBy("label")
    )


EMBEDDING_DRIFT_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
mid AS (SELECT CAST(floor((MAX(vec_id) + 1) / 2) AS BIGINT) AS mid FROM embeddings),
sums AS (
  SELECT label, CASE WHEN vec_id < mid THEN 'ref' ELSE 'cur' END AS win, pos,
         SUM(q) AS s, COUNT(DISTINCT vec_id) AS n
  FROM comp, mid GROUP BY 1, 2, 3
),
joined AS (
  SELECT r.label, r.pos, r.s AS sr, c.s AS sc, r.n AS n_ref, c.n AS n_cur
  FROM (SELECT * FROM sums WHERE win = 'ref') r
  JOIN (SELECT * FROM sums WHERE win = 'cur') c USING (label, pos)
)
SELECT label,
       CAST(MAX(n_ref) AS BIGINT) AS n_ref,
       CAST(MAX(n_cur) AS BIGINT) AS n_cur,
       round(CAST(SUM(sr * sc) AS DOUBLE)
             / (sqrt(CAST(SUM(sr * sr) AS DOUBLE)) * sqrt(CAST(SUM(sc * sc) AS DOUBLE))), 9) AS drift_cosine
FROM joined GROUP BY label ORDER BY label
"""


def crosslingual_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext-style cross-lingual pair mining (the CCMatrix/LASER
    pattern): semantically-similar document pairs whose LANGUAGES
    DIFFER — translation/paraphrase candidates for parallel-corpus
    construction — reported per unordered language pair with the
    strongest alignment score.

    Rides the bounded LSH near-dup path end to end
    (:func:`embedding_cosine_dedup`: hyperplane buckets → star
    fallback → exact quantized verify — never all-pairs), then two
    joins against the documents dimension (AQE broadcasts the small
    pair side, never the corpus) (vec_id =
    doc_id, the repo's established embedding↔document link; see
    ``hybrid_search``) and a |langs|² rollup.  MAX is
    order-insensitive and the cosines are the already-deterministic
    quantized values, so no rounding is needed.
    """
    pairs = _cosine_pairs_for(spark, sf_dir, GATE_DEDUP_THRESHOLD)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    da = docs.select(F.col("doc_id").alias("v1"), F.col("lang").alias("la"))
    db = docs.select(F.col("doc_id").alias("v2"), F.col("lang").alias("lb"))
    # no broadcast hint: the documents side is corpus-sized, the pair
    # side is the (small) near-dup output — AQE broadcasts the PAIRS,
    # which is the join direction that survives 100 TB
    tagged = (
        pairs.join(da, "v1")
        .join(db, "v2")
        .where(F.col("la") != F.col("lb"))
        .select(
            F.least(F.col("la"), F.col("lb")).alias("lang_a"),
            F.greatest(F.col("la"), F.col("lb")).alias("lang_b"),
            "cosine",
        )
    )
    return (
        tagged.groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("cosine").alias("max_cosine"),
        )
        .orderBy("lang_a", "lang_b")
    )


CROSSLINGUAL_MINING_ORACLE = """
SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS n_pairs, MAX(cosine) AS max_cosine
FROM (
  SELECT CASE WHEN da.lang <= db.lang THEN da.lang ELSE db.lang END AS lang_a,
         CASE WHEN da.lang <= db.lang THEN db.lang ELSE da.lang END AS lang_b,
         p.cosine
  FROM ({pairs_sql}) p
  JOIN documents da ON p.v1 = da.doc_id
  JOIN documents db ON p.v2 = db.doc_id
  WHERE da.lang <> db.lang
)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity of the per-label embedding
    CENTROIDS — the class-confusability matrix a labeling pipeline
    watches: two labels whose centroids converge are candidates for
    merge (or a sign the encoder stopped separating them).  Sibling
    of :func:`embedding_drift_by_label` (drift is within-label
    across time; this is between-label).

    Scale: the corpus collapses to one (label, pos) integer-sum
    aggregation (labels × dims rows — KB-scale at ANY corpus size);
    the pair join runs on that aggregate only (L·(L−1)/2 pairs),
    never on vectors.  cosine(Σa, Σb) ≡ cosine of the mean vectors,
    so centroids never need the inexact division.

    Determinism: quantized integer sums are exact; the final cosine
    is a short double chain → ``round(.., 9)`` both engines."""
    comp = _compl_for(spark, sf_dir)
    sums = comp.groupBy("label", "pos").agg(
        F.sum("q").alias("s"), F.countDistinct("vec_id").alias("n")
    )
    a = sums.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("sa"),
        F.col("n").alias("n_a"),
    )
    bside = sums.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("sb"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(bside, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(F.col("sa") * F.col("sb")).alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).alias("na2"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb2"),
        )
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                9,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


LABEL_CENTROID_SIM_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
sums AS (
  SELECT label, pos, SUM(q) AS s, COUNT(DISTINCT vec_id) AS n
  FROM comp GROUP BY 1, 2
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(MAX(a.n) AS BIGINT) AS n_a, CAST(MAX(b.n) AS BIGINT) AS n_b,
       round(CAST(SUM(a.s * b.s) AS DOUBLE)
             / (sqrt(CAST(SUM(a.s * a.s) AS DOUBLE))
                * sqrt(CAST(SUM(b.s * b.s) AS DOUBLE))), 9) AS centroid_cosine
FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label
GROUP BY 1, 2 ORDER BY 1, 2
"""


def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mislabel/outlier audit: every vector's cosine to its
    OWN label centroid; report per label the member count, the mean
    affinity, the minimum, and the most atypical vector — the triage
    list a labeling QA pass reviews first (a vector far from its own
    centroid is a mislabel or an encoder artifact).

    Scale: the label centroid-sums are a (labels × dims) aggregate
    (KB at any corpus size) joined back onto the component stream on
    (label, pos) — AQE broadcasts the tiny side; per-vector dot and
    norm are exact integer sums, so the only float math is one
    cosine chain per vector.  The arg-min is resolved by equality
    join against the per-label minimum with a MIN(vec_id) tiebreak —
    deterministic on both engines, no ordered aggregate.

    Determinism: cosine rounded to 9 BEFORE the min/arg-min so both
    engines agree on ties; the mean is a multi-term float reduction
    → ``round(.., 6)``."""
    comp = _compl_for(spark, sf_dir)
    cents = comp.groupBy("label", "pos").agg(F.sum("q").alias("s"))
    cent_norm = cents.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("c2")
    )
    per_vec = (
        comp.join(cents, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("q") * F.col("s")).alias("dot"),
            F.sum(F.col("q") * F.col("q")).alias("v2"),
        )
        .join(cent_norm, "label")
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("v2").cast("double"))
                    * F.sqrt(F.col("c2").cast("double"))
                ),
                9,
            ).alias("cos_r"),
        )
        # per_vec feeds TWO branches (stats, the arg-min join) and
        # Catalyst does not CSE across branches — without this the
        # (vec, label)-grain corpus reduce ran twice per query
        # (guide §2.4/§5); the frame is one row per vector.
        .localCheckpoint(eager=False)
    )
    stats = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("cos_r") / F.count(F.lit(1)).cast("double"), 6).alias(
            "mean_affinity"
        ),
        F.min("cos_r").alias("min_affinity"),
    )
    outlier = (
        per_vec.join(
            stats.select("label", F.col("min_affinity").alias("m")), "label"
        )
        .where(F.col("cos_r") == F.col("m"))
        .groupBy("label")
        .agg(F.min("vec_id").alias("outlier_vec_id"))
    )
    return (
        stats.join(outlier, "label")
        .select("label", "n_vecs", "mean_affinity", "min_affinity", "outlier_vec_id")
        .orderBy("label")
    )


EMBEDDING_LABEL_OUTLIERS_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
cents AS (SELECT label, pos, SUM(q) AS s FROM comp GROUP BY 1, 2),
cent_norm AS (SELECT label, SUM(s * s) AS c2 FROM cents GROUP BY 1),
per_vec AS (
  SELECT vec_id, c.label,
         round(CAST(SUM(q * s) AS DOUBLE)
               / (sqrt(CAST(SUM(q * q) AS DOUBLE)) * sqrt(CAST(MAX(c2) AS DOUBLE))), 9) AS cos_r
  FROM comp c
  JOIN cents USING (label, pos)
  JOIN cent_norm cn ON cn.label = c.label
  GROUP BY 1, 2
),
stats AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         round(SUM(cos_r) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_affinity,
         MIN(cos_r) AS min_affinity
  FROM per_vec GROUP BY 1
),
outlier AS (
  SELECT p.label, MIN(p.vec_id) AS outlier_vec_id
  FROM per_vec p JOIN stats s ON p.label = s.label AND p.cos_r = s.min_affinity
  GROUP BY 1
)
SELECT s.label, n_vecs, mean_affinity, min_affinity, outlier_vec_id
FROM stats s JOIN outlier o ON s.label = o.label
ORDER BY s.label
"""


def ivf_cell_balance(
    spark: SparkSession, sf_dir: str, k: int = K_CELLS, iters: int = KM_ITERS
) -> DataFrame:
    """IVF index-health report (single row): how balanced are the
    k-means cells the ANN queries probe?  Skewed cells are the IVF
    failure mode — one hot cell turns every probe into a near-scan —
    and this is the number the index-maintenance planner should watch
    to decide a re-fit.  Same deterministic Lloyd fit as
    ``ann_kmeans_ivf_topk`` (shared machinery, shared oracle CTE
    chain), then: non-empty cell count, empty cells out of k,
    min/max/mean occupancy, imbalance (max/mean), and the largest
    cell's id (max occupancy, min-label tiebreak).

    Scale: the fit is the documented iterative path (broadcast
    centroids, integer costs); the report itself aggregates the
    assignment — one row per VECTOR collapses to one row per CELL,
    then to one row.  Determinism: occupancies are exact integers;
    mean/imbalance are single double divisions rounded to 6."""
    comp, cents, assign = _ivf_fit_for(spark, sf_dir, k, iters)
    sizes = assign.groupBy("label").agg(F.count(F.lit(1)).alias("n")).cache()
    stats = sizes.agg(
        F.count(F.lit(1)).alias("n_cells_used"),
        (F.lit(k) - F.count(F.lit(1))).cast("long").alias("n_empty_cells"),
        F.min("n").alias("min_cell"),
        F.max("n").alias("max_cell"),
        F.round(
            F.sum("n").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_cell"),
        F.round(
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")),
            6,
        ).alias("imbalance"),
    )
    largest = (
        sizes.join(stats.select(F.col("max_cell").alias("mx")), sizes.n == F.col("mx"))
        .agg(F.min("label").alias("largest_cell"))
    )
    result = stats.crossJoin(largest).localCheckpoint(eager=True)
    sizes.unpersist()
    return result


def _ivf_cell_balance_oracle(k: int = K_CELLS, iters: int = KM_ITERS) -> str:
    ctes, final_assign, _ = _kmeans_cte_chain(k, iters)
    ctes = list(ctes)
    ctes += [
        f"sizes AS (SELECT label, COUNT(*) AS n FROM {final_assign} GROUP BY 1)",
        f"""stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_used,
         CAST({k} - COUNT(*) AS BIGINT) AS n_empty_cells,
         CAST(MIN(n) AS BIGINT) AS min_cell,
         CAST(MAX(n) AS BIGINT) AS max_cell,
         round(CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_cell,
         round(CAST(MAX(n) AS DOUBLE)
               / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6) AS imbalance
  FROM sizes
)""",
        """largest AS (
  SELECT MIN(label) AS largest_cell FROM sizes
  WHERE n = (SELECT MAX(n) FROM sizes)
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT n_cells_used, n_empty_cells, min_cell, max_cell, mean_cell, imbalance, largest_cell\nFROM stats, largest"
    )


IVF_CELL_BALANCE_ORACLE = _ivf_cell_balance_oracle()


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm health report: vector counts,
    degenerate (all-zero) vectors, and the norm² envelope — the
    sanity screen every embedding pipeline runs before similarity
    search (zero or wildly-scaled vectors poison cosine math and
    IVF assignment silently).

    Plan: ONE posexplode + (vec_id)-grain integer aggregate (the
    shared quantized-norm kernel), a label join at id grain, then a
    |labels|-row rollup — no windows, no pairs, nothing quadratic.

    Determinism: norms are EXACT integer sums of quantized
    components (the module's round(x·10⁴) convention), so count/
    min/max/zero are exact and the mean is one integer-over-integer
    division rounded to 6."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = _norms_for(spark, sf_dir)
    labeled = norms.join(emb.select("vec_id", "label"), "vec_id")
    return (
        labeled.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum((F.col("norm2") == 0).cast("long")).alias("n_zero"),
            F.min("norm2").alias("min_norm2"),
            F.max("norm2").alias("max_norm2"),
            F.round(
                F.sum("norm2").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_norm2"),
        )
        .orderBy("label")
    )


EMBEDDING_NORM_AUDIT_ORACLE = """
WITH comp AS (
  SELECT vec_id,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
norms AS (SELECT vec_id, SUM(q*q) AS norm2 FROM comp GROUP BY 1)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(MIN(norm2) AS BIGINT) AS min_norm2,
       CAST(MAX(norm2) AS BIGINT) AS max_norm2,
       round(CAST(SUM(norm2) AS DOUBLE) / COUNT(*), 6) AS mean_norm2
FROM norms JOIN embeddings USING (vec_id)
GROUP BY label ORDER BY label
"""




# --- round-11 additions -------------------------------------------------


def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 highest-variance embedding dimensions (mean + population
    variance per coordinate): the collapse/anisotropy screen run
    before ANN indexing — dead dimensions waste PQ codebook bits, and
    a few dominant ones hint the corpus needs rotation/OPQ
    (companion to ``embedding_intrinsic_dim``'s single number).

    Exactness: components go through the module's round(x·10⁴)
    integer quantization; Σq and Σq² are exact DECIMAL sums, so
    variance = (n·Σq² − (Σq)²) / n² divides two exact values once —
    bit-identical across engines, deterministic top-10 with the dim
    index as tiebreak."""
    comp = _compl_for(spark, sf_dir).drop("label")
    g = comp.groupBy(F.col("pos").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("_s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("_s2"),
    )
    mean = F.col("_s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("n").cast("decimal(38,0)") * F.col("_s2")
        - F.col("_s") * F.col("_s")
    ).cast("double") / (F.col("n").cast("double") * F.col("n").cast("double"))
    return (
        g.select(
            "dim",
            "n",
            F.round(mean / F.lit(float(QUANT)), 9).alias("mean_component"),
            F.round(var / F.lit(float(QUANT * QUANT)), 9).alias(
                "var_component"
            ),
        )
        .orderBy(F.desc("var_component"), "dim")
        .limit(10)
    )


EMBEDDING_DIM_PROFILE_ORACLE = """
WITH comp AS (
  SELECT CAST(i AS INT) AS dim,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
g AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(q AS DECIMAL(38,0))) AS _s,
         SUM(CAST(q*q AS DECIMAL(38,0))) AS _s2
  FROM comp GROUP BY 1
)
SELECT dim, CAST(n AS BIGINT) AS n,
       round((CAST(_s AS DOUBLE) / CAST(n AS DOUBLE)) / 10000.0, 9)
         AS mean_component,
       round((CAST(CAST(n AS DECIMAL(38,0)) * _s2 - _s * _s AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 100000000.0, 9)
         AS var_component
FROM g
ORDER BY var_component DESC, dim
LIMIT 10
"""


def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Euclidean distances between label centroids — the
    class-separation matrix behind contamination checks and
    label-propagation sanity (labels whose centroids nearly coincide
    will bleed into each other under kNN).

    Exactness: per-(label, dim) sums are exact integers (quantized
    components); the pair distance uses the common-denominator form
    Σ(sa·nb − sb·na)² / (na·nb)² with the numerator summed EXACTLY in
    DECIMAL(38,0), so the only float steps are one division, one
    sqrt, one rescale — identical on both engines.

    Scale: the corpus is touched once (one (label, dim) aggregate =
    |labels|·d rows); the pair join runs over that TINY aggregate,
    never over vectors."""
    comp = _compl_for(spark, sf_dir)
    cent = comp.groupBy("label", "pos").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    pair = a.join(
        b,
        (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.label") < F.col("b.label")),
    ).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        (
            (F.col("a.s") * F.col("b.n").cast("decimal(38,0)")
             - F.col("b.s") * F.col("a.n").cast("decimal(38,0)"))
        ).alias("d"),
    )
    g = pair.groupBy("label_a", "label_b", "na", "nb").agg(
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)")).alias("_num")
    )
    dist = F.sqrt(F.col("_num").cast("double")) / (
        F.col("na").cast("double")
        * F.col("nb").cast("double")
        * F.lit(float(QUANT))
    )
    return (
        g.select(
            "label_a",
            "label_b",
            F.round(dist, 9).alias("centroid_distance"),
        )
        .orderBy("label_a", "label_b")
    )


LABEL_CENTROID_DIST_ORACLE = """
WITH comp AS (
  SELECT e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS BIGINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
cent AS (
  SELECT label, pos, SUM(CAST(q AS DECIMAL(38,0))) AS s, COUNT(*) AS n
  FROM comp GROUP BY 1, 2
),
pair AS (
  SELECT a.label AS label_a, b.label AS label_b, a.n AS na, b.n AS nb,
         (a.s * CAST(b.n AS DECIMAL(38,0))
          - b.s * CAST(a.n AS DECIMAL(38,0))) AS d
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
),
g AS (
  SELECT label_a, label_b, na, nb,
         SUM(CAST(d*d AS DECIMAL(38,0))) AS _num
  FROM pair GROUP BY 1, 2, 3, 4
)
SELECT label_a, label_b,
       round(sqrt(CAST(_num AS DOUBLE))
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * 10000.0), 9)
         AS centroid_distance
FROM g ORDER BY label_a, label_b
"""



def centroid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier confusion matrix: assign every
    vector to its closest LABEL CENTROID (Euclidean) and cross-tab
    predicted vs true label — the linear-separability screen behind
    label-quality audits (a label whose members mostly land on
    another centroid is noisy or duplicated; the classifier view of
    ``label_centroid_distances``' geometry).

    Exactness: distances use the common-denominator form
    Σ(q·n − s)² / (n·QUANT)² over integer-quantized components —
    the numerator is an exact DECIMAL sum, so each (vector, label)
    distance is sqrt+divide on identical exact values in both
    engines (bit-identical doubles); argmin breaks ties on the label
    id.  Deterministic end to end.

    Scale: the corpus is posexploded ONCE; the centroid table is
    |labels|·d rows (domain-bounded — the broadcast is justified by
    construction, unlike user-scale frames); the candidate fan-out is
    |vectors|·|labels| at (vec, label) grain, linear in the corpus
    for an enum label set."""
    comp = _compl_for(spark, sf_dir)
    cent = comp.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("cn"),
    )
    pair = comp.join(broadcast(cent), "pos")
    term = (
        F.col("q").cast("decimal(38,0)") * F.col("cn").cast("decimal(38,0)")
        - F.col("s")
    )
    d2 = pair.groupBy("vec_id", "label", "clabel", "cn").agg(
        F.sum((term * term).cast("decimal(38,0)")).alias("num")
    )
    dist = F.sqrt(F.col("num").cast("double")) / (
        F.col("cn").cast("double") * F.lit(float(QUANT))
    )
    pred = d2.groupBy("vec_id", "label").agg(
        F.min(F.struct(dist.alias("d"), F.col("clabel").alias("cl"))).alias("m")
    )
    conf = pred.groupBy(
        F.col("label").alias("true_label"),
        F.col("m.cl").alias("pred_label"),
    ).agg(F.count(F.lit(1)).alias("n_vectors"))
    tot = conf.groupBy("true_label").agg(F.sum("n_vectors").alias("_n"))
    return (
        conf.join(broadcast(tot), "true_label")
        .select(
            "true_label",
            "pred_label",
            "n_vectors",
            F.round(
                F.col("n_vectors").cast("double") / F.col("_n").cast("double"),
                9,
            ).alias("share_of_true"),
        )
        .orderBy("true_label", "pred_label")
    )


CENTROID_CONFUSION_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS HUGEINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
cent AS (
  SELECT label AS clabel, pos, SUM(q) AS s, COUNT(*) AS cn
  FROM comp GROUP BY 1, 2
),
d2 AS (
  SELECT c.vec_id, c.label, ct.clabel, ct.cn,
         SUM((c.q * ct.cn - ct.s) * (c.q * ct.cn - ct.s)) AS num
  FROM comp c JOIN cent ct USING (pos)
  GROUP BY 1, 2, 3, 4
),
pred AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY sqrt(CAST(num AS DOUBLE))
                    / (CAST(cn AS DOUBLE) * 10000.0), clabel
         ) AS rn
  FROM d2
),
conf AS (
  SELECT label AS true_label, clabel AS pred_label, COUNT(*) AS n_vectors
  FROM pred WHERE rn = 1 GROUP BY 1, 2
),
tot AS (SELECT true_label, SUM(n_vectors) AS _n FROM conf GROUP BY 1)
SELECT c.true_label, c.pred_label, CAST(c.n_vectors AS BIGINT) AS n_vectors,
       round(CAST(c.n_vectors AS DOUBLE) / CAST(t._n AS DOUBLE), 9)
         AS share_of_true
FROM conf c JOIN tot t USING (true_label)
ORDER BY c.true_label, c.pred_label
"""


def intra_inter_label_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise dot product WITHIN each label vs AGAINST the
    rest of the corpus — the contrastive-margin table that says
    whether labels are embedding-coherent (intra ≫ inter) before any
    kNN/propagation is trusted.  Uses the sum-vector identities
    Σᵢⱼ vᵢ·vⱼ = ‖S‖² (so mean intra dot = (‖S_l‖² − Σ‖vᵢ‖²) /
    (n_l(n_l−1))) and S_l·(S_tot − S_l) for the inter side — the
    corpus is touched ONCE; no pair is ever materialized.

    Exactness: quantized components make every sum/product integer-
    valued; ‖S‖²-scale products accumulate in DECIMAL(38,0); the
    only float steps are two divisions and a subtraction, written
    identically on both engines and rounded to 9 dp."""
    comp = _compl_for(spark, sf_dir)
    # ONE corpus-grain pass: Σq² folds into the (label, pos) aggregate
    # as a partial (q2p) and re-aggregates from the |labels|·dim cent
    # frame — integer decimal sums are associative, so the two-level
    # sum is bit-identical to a direct per-label Σq².  Previously q2
    # was its own corpus aggregate, so the posexplode + a corpus-sized
    # shuffle ran twice per query (guide §2.4).  cent is checkpointed
    # (|labels|·dim rows) because three branches consume it.
    cent = (
        comp.groupBy("label", "pos")
        .agg(
            F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("q2p"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .localCheckpoint(eager=False)
    )
    q2 = cent.groupBy("label").agg(F.sum("q2p").alias("q2"))
    dimtot = cent.groupBy("pos").agg(F.sum("s").alias("tall"))
    per_label = (
        cent.join(dimtot, "pos")
        .groupBy("label")
        .agg(
            F.sum((F.col("s") * F.col("s")).cast("decimal(38,0)")).alias("ss"),
            F.sum((F.col("s") * F.col("tall")).cast("decimal(38,0)")).alias("st"),
            F.max("cnt").alias("n"),
        )
    )
    ntot = per_label.agg(F.sum("n").alias("n_corpus"))
    scale = float(QUANT) * float(QUANT)
    intra = (
        (F.col("ss") - F.col("q2")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        / scale
    )
    inter = (
        (F.col("st") - F.col("ss")).cast("double")
        / (
            F.col("n").cast("double")
            * (F.col("n_corpus") - F.col("n")).cast("double")
        )
        / scale
    )
    return (
        per_label.join(q2, "label")
        .crossJoin(F.broadcast(ntot))
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            F.round(intra, 9).alias("mean_intra_dot"),
            F.round(inter, 9).alias("mean_inter_dot"),
            F.round(intra - inter, 9).alias("affinity_margin"),
        )
        .orderBy("label")
    )


INTRA_INTER_AFFINITY_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS BIGINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
q2 AS (
  SELECT label, SUM(CAST(q * q AS DECIMAL(38,0))) AS q2
  FROM comp GROUP BY 1
),
cent AS (
  SELECT label, pos, SUM(CAST(q AS DECIMAL(38,0))) AS s, COUNT(*) AS cnt
  FROM comp GROUP BY 1, 2
),
dimtot AS (SELECT pos, SUM(s) AS tall FROM cent GROUP BY 1),
per_label AS (
  SELECT c.label,
         SUM(CAST(c.s * c.s AS DECIMAL(38,0))) AS ss,
         SUM(CAST(c.s * d.tall AS DECIMAL(38,0))) AS st,
         MAX(c.cnt) AS n
  FROM cent c JOIN dimtot d USING (pos)
  GROUP BY 1
),
ntot AS (SELECT SUM(n) AS n_corpus FROM per_label)
SELECT p.label, CAST(p.n AS BIGINT) AS n_vecs,
       round(CAST(p.ss - q.q2 AS DOUBLE)
             / (CAST(p.n AS DOUBLE) * CAST(p.n - 1 AS DOUBLE))
             / 100000000.0, 9) AS mean_intra_dot,
       round(CAST(p.st - p.ss AS DOUBLE)
             / (CAST(p.n AS DOUBLE) * CAST(t.n_corpus - p.n AS DOUBLE))
             / 100000000.0, 9) AS mean_inter_dot,
       round(CAST(p.ss - q.q2 AS DOUBLE)
             / (CAST(p.n AS DOUBLE) * CAST(p.n - 1 AS DOUBLE))
             / 100000000.0
             - CAST(p.st - p.ss AS DOUBLE)
             / (CAST(p.n AS DOUBLE) * CAST(t.n_corpus - p.n AS DOUBLE))
             / 100000000.0, 9) AS affinity_margin
FROM per_label p JOIN q2 q USING (label), ntot t
ORDER BY p.label
"""


def centroid_nearest_rival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each label's NEAREST rival centroid: the single most
    confusable class and its distance — the headline row of
    ``label_centroid_distances``' full matrix, plus the margin
    audits read first.  Same exact common-denominator distance
    machinery; the argmin ranks within the |labels|²-cell table
    (ties → lexicographic rival), never vectors."""
    comp = _compl_for(spark, sf_dir)
    cent = comp.groupBy("label", "pos").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    pair = a.join(
        b,
        (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.label") != F.col("b.label")),
    ).select(
        F.col("a.label").alias("label"),
        F.col("b.label").alias("rival"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        (
            F.col("a.s") * F.col("b.n").cast("decimal(38,0)")
            - F.col("b.s") * F.col("a.n").cast("decimal(38,0)")
        ).alias("d"),
    )
    g = pair.groupBy("label", "rival", "na", "nb").agg(
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)")).alias("_num")
    )
    dist = F.round(
        F.sqrt(F.col("_num").cast("double"))
        / (
            F.col("na").cast("double")
            * F.col("nb").cast("double")
            * F.lit(float(QUANT))
        ),
        9,
    )
    scored = g.select("label", "rival", dist.alias("centroid_distance"))
    w = Window.partitionBy("label").orderBy("centroid_distance", "rival")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("label", "rival", "centroid_distance")
        .orderBy("label")
    )


CENTROID_NEAREST_RIVAL_ORACLE = """
WITH comp AS (
  SELECT e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS BIGINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
cent AS (
  SELECT label, pos, SUM(CAST(q AS DECIMAL(38,0))) AS s, COUNT(*) AS n
  FROM comp GROUP BY 1, 2
),
pair AS (
  SELECT a.label AS label, b.label AS rival, a.n AS na, b.n AS nb,
         (a.s * CAST(b.n AS DECIMAL(38,0))
          - b.s * CAST(a.n AS DECIMAL(38,0))) AS d
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
),
g AS (
  SELECT label, rival, na, nb, SUM(CAST(d*d AS DECIMAL(38,0))) AS _num
  FROM pair GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT label, rival,
         round(sqrt(CAST(_num AS DOUBLE))
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * 10000.0), 9)
           AS centroid_distance
  FROM g
),
ranked AS (
  SELECT label, rival, centroid_distance,
         row_number() OVER (PARTITION BY label
                            ORDER BY centroid_distance, rival) AS _rk
  FROM scored
)
SELECT label, rival, centroid_distance
FROM ranked WHERE _rk = 1 ORDER BY label
"""


def centroid_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-GLOBAL-centroid histogram (0.005-wide bins
    anchored at 0.9, clamped to [0, 60] — high-dim distances
    concentrate near 1, so the window brackets the shell): the
    radial density profile of the embedding cloud —
    a heavy far tail means outliers/mis-encoded rows, a spike at 0
    means collapsed (constant) vectors.  The corpus-level margin of
    ``embedding_label_outliers``' per-label view.

    Exactness: the usual common-denominator form — dist = sqrt(Σ_pos
    (q·N − S_pos)²) / (N·QUANT) with exact DECIMAL sums, so every
    distance is sqrt+divide on identical exact integers in both
    engines; binning is floor on that identical double (no
    transcendentals anywhere).

    Scale: corpus posexploded ONCE; the centroid table is d rows
    (broadcast by construction); one vec-grain aggregate and an
    enum-sized histogram follow — linear, no pairwise anything."""
    comp = _compl_for(spark, sf_dir).drop("label")
    cent = comp.groupBy("pos").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("cn"),
    )
    pair = comp.join(broadcast(cent), "pos")
    term = (
        F.col("q").cast("decimal(38,0)") * F.col("cn").cast("decimal(38,0)")
        - F.col("s")
    )
    num = pair.groupBy("vec_id").agg(
        F.sum((term * term).cast("decimal(38,0)")).alias("num"),
        F.max("cn").alias("_n"),
    )
    dist = F.sqrt(F.col("num").cast("double")) / (
        F.col("_n").cast("double") * F.lit(float(QUANT))
    )
    bin_ = F.least(
        F.greatest(F.floor((dist - 0.9) / 0.005), F.lit(0)), F.lit(60)
    )
    cell = num.groupBy(bin_.cast("int").alias("dist_bin")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    tot = cell.agg(F.sum("n_vectors").alias("_tot"))
    return (
        cell.crossJoin(broadcast(tot))
        .select(
            "dist_bin",
            "n_vectors",
            F.round(
                F.col("n_vectors").cast("double") / F.col("_tot").cast("double"),
                9,
            ).alias("share_of_vectors"),
        )
        .orderBy("dist_bin")
    )


CENTROID_DISTANCE_HIST_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS HUGEINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
cent AS (
  SELECT pos, SUM(q) AS s, COUNT(*) AS cn FROM comp GROUP BY 1
),
num AS (
  SELECT c.vec_id,
         SUM((c.q * ct.cn - ct.s) * (c.q * ct.cn - ct.s)) AS num,
         MAX(ct.cn) AS _n
  FROM comp c JOIN cent ct USING (pos) GROUP BY 1
),
cell AS (
  SELECT CAST(least(greatest(floor((sqrt(CAST(num AS DOUBLE))
                                    / (CAST(_n AS DOUBLE) * 10000.0) - 0.9)
                                   / 0.005), 0), 60)
              AS INT) AS dist_bin,
         COUNT(*) AS n_vectors
  FROM num GROUP BY 1
),
tot AS (SELECT SUM(n_vectors) AS _tot FROM cell)
SELECT c.dist_bin, CAST(c.n_vectors AS BIGINT) AS n_vectors,
       round(CAST(c.n_vectors AS DOUBLE) / CAST(t._tot AS DOUBLE), 9)
         AS share_of_vectors
FROM cell c CROSS JOIN tot t
ORDER BY c.dist_bin
"""


def dimension_discriminability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension one-way ANOVA F-ratio of the label split:
    between-label variance over within-label variance, dimension by
    dimension — which embedding coordinates actually carry the label
    signal (feature selection / projection audits before IVF or
    propagation trusts the geometry).

    Determinism: per-(pos,label) sums/counts/sum-of-squares are exact
    integers (DECIMAL); every non-exact step is a ROW-LEVEL double
    expression on those exact aggregates written identically in both
    engines, with the per-label s²/n term rounded to 6 dp into
    DECIMAL(18,6) and summed AS DECIMAL (the module's entropy-ln
    contract, applied to divisions) — never a raw double aggregate.

    Scale: corpus touched once (posexplode → (pos,label) cells =
    d·|labels| rows); everything after is enum-sized."""
    comp = _compl_for(spark, sf_dir)
    qd = F.col("q").cast("decimal(38,0)")
    lab = comp.groupBy("pos", "label").agg(
        F.count(F.lit(1)).alias("n_l"),
        F.sum(qd).alias("s_l"),
        F.sum((qd * qd).cast("decimal(38,0)")).alias("ss_l"),
    )
    t_l = F.round(
        (F.col("s_l").cast("double") * F.col("s_l").cast("double"))
        / F.col("n_l").cast("double"),
        6,
    ).cast("decimal(38,6)")
    pos_agg = lab.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n_labels"),
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
        (ssb / (F.col("n_labels").cast("double") - 1.0))
        / (ssw / (F.col("n_total").cast("double") - F.col("n_labels").cast("double"))),
        6,
    )
    return (
        pos_agg.where((F.col("n_labels") > 1) & (F.col("_q") > F.col("_t")))
        .select(
            "pos",
            "n_labels",
            F.round(ssb, 6).alias("ss_between"),
            F.round(ssw, 6).alias("ss_within"),
            f_ratio.alias("f_ratio"),
        )
        .orderBy("pos")
    )


DIMENSION_DISCRIMINABILITY_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, e.label, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS HUGEINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
lab AS (
  SELECT pos, label, COUNT(*) AS n_l, SUM(q) AS s_l, SUM(q * q) AS ss_l
  FROM comp GROUP BY 1, 2
),
pos_agg AS (
  SELECT pos, COUNT(*) AS n_labels, SUM(n_l) AS n_total,
         SUM(s_l) AS _s, SUM(ss_l) AS _q,
         SUM(CAST(round(CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE)
                        / CAST(n_l AS DOUBLE), 6) AS DECIMAL(38,6))) AS _t
  FROM lab GROUP BY 1
)
SELECT pos, CAST(n_labels AS BIGINT) AS n_labels,
       round(CAST(_t AS DOUBLE)
             - round(CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE)
                     / CAST(n_total AS DOUBLE), 6), 6) AS ss_between,
       round(CAST(_q AS DOUBLE) - CAST(_t AS DOUBLE), 6) AS ss_within,
       round((CAST(_t AS DOUBLE)
              - round(CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE)
                      / CAST(n_total AS DOUBLE), 6))
             / (CAST(n_labels AS DOUBLE) - 1.0)
             / ((CAST(_q AS DOUBLE) - CAST(_t AS DOUBLE))
                / (CAST(n_total AS DOUBLE) - CAST(n_labels AS DOUBLE))), 6)
         AS f_ratio
FROM pos_agg
WHERE n_labels > 1 AND _q > _t
ORDER BY pos
"""


def embedding_quantization_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantization-error audit across scales 10/100/1000/10000: mean
    and max absolute per-component error of round(x·Q)/Q — the
    evidence behind the module's QUANT=10000 contract (error must sit
    orders of magnitude under component spread) and the compression
    dial a PQ/scalar-quantized index reads before dropping precision.

    Determinism: per-component errors are row-local double
    expressions (mult/round/divide/abs — no transcendentals) rounded
    to 12 dp into DECIMAL(18,12); mean comes from the exact decimal
    sum, max over the rounded decimals.  Plan: the corpus is
    posexploded ONCE and fanned ×4 by a literal scale array — one
    aggregate, no joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        F.col("v").cast("double").alias("x"),
        F.explode(F.array(*(F.lit(s) for s in (10, 100, 1000, 10000)))).alias(
            "quant_scale"
        ),
    )
    q = F.col("quant_scale").cast("double")
    err = F.round(
        F.abs(F.round(F.col("x") * q, 0) / q - F.col("x")), 12
    ).cast("decimal(18,12)")
    cell = comp.select("quant_scale", err.alias("e")).groupBy("quant_scale").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("e").alias("_se"),
        F.max("e").alias("_me"),
    )
    return cell.select(
        "quant_scale",
        "n_components",
        F.round(
            F.col("_se").cast("double") / F.col("n_components").cast("double"),
            12,
        ).alias("mean_abs_err"),
        F.col("_me").cast("double").alias("max_abs_err"),
    ).orderBy("quant_scale")


QUANTIZATION_SENSITIVITY_ORACLE = """
WITH comp AS (
  SELECT CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) AS x, s.quant_scale
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i),
       LATERAL (SELECT unnest([10, 100, 1000, 10000]) AS quant_scale) s
),
cell AS (
  SELECT quant_scale, COUNT(*) AS n_components,
         SUM(CAST(round(abs(round(x * CAST(quant_scale AS DOUBLE), 0)
                            / CAST(quant_scale AS DOUBLE) - x), 12)
                  AS DECIMAL(18,12))) AS _se,
         MAX(CAST(round(abs(round(x * CAST(quant_scale AS DOUBLE), 0)
                            / CAST(quant_scale AS DOUBLE) - x), 12)
                  AS DECIMAL(18,12))) AS _me
  FROM comp GROUP BY 1
)
SELECT CAST(quant_scale AS INT) AS quant_scale,
       CAST(n_components AS BIGINT) AS n_components,
       round(CAST(_se AS DOUBLE) / CAST(n_components AS DOUBLE), 12)
         AS mean_abs_err,
       CAST(_me AS DOUBLE) AS max_abs_err
FROM cell ORDER BY quant_scale
"""


def embedding_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vector audit: group vectors by their full
    quantized component ARRAY (the QUANT contract's canonical form)
    and histogram the group sizes — re-encoded rows and copy-paste
    corpora show up as size ≥ 2 groups before any ANN/near-dup work
    runs (the vector-side mirror of ``dedup_exact`` on documents).

    Plan: one hash aggregate keyed on the quantized array (row-local
    transform, no explode), then an enum-sized histogram.  Exact
    integers end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = F.expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 10000, 0) as bigint))"
    )
    groups = emb.select(qarr.alias("qa")).groupBy("qa").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    cell = groups.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    return cell.select(
        F.col("group_size").cast("int").alias("group_size"),
        "n_groups",
        (F.col("group_size") * F.col("n_groups")).alias("n_vectors"),
    ).orderBy("group_size")


EMBEDDING_EXACT_DUP_ORACLE = """
WITH groups AS (
  SELECT list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0)
                                  AS BIGINT)) AS qa,
         COUNT(*) AS group_size
  FROM embeddings GROUP BY 1
),
cell AS (
  SELECT group_size, COUNT(*) AS n_groups FROM groups GROUP BY 1
)
SELECT CAST(group_size AS INT) AS group_size,
       CAST(n_groups AS BIGINT) AS n_groups,
       CAST(group_size * n_groups AS BIGINT) AS n_vectors
FROM cell ORDER BY group_size
"""


def knn_purity_at_k(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 20
) -> DataFrame:
    """kNN label purity@k: for each query vector, the share of its
    exact top-``k`` cosine neighbors that carry the query's own
    label — the zero-training classification-accuracy proxy that
    tells you whether the embedding space respects the labels at
    all (the per-query view behind ``intra_inter_label_affinity``'s
    corpus means and ``knn_label_propagation``'s vote).

    Plan: rides :func:`brute_force_topk` (the exact integer-quantized
    cosine kernel); the bounded top-k frame (n_queries*k rows) is
    broadcast against the streaming corpus label scan, then one
    query-grain aggregate; purity is one double division of exact
    counts."""
    top = _brute_topk_for(spark, sf_dir, k=k, n_queries=n_queries)
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    nlab = labels.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
    )
    # top is bounded (n_queries * k rows) — broadcast THAT side and let
    # the corpus-grain label frames stream past it; broadcasting qlab /
    # nlab (one row per corpus vector) would OOM at scale.  The second
    # join carries no hint: its small side is derived, so AQE's runtime
    # size check picks the build side (the intra_inter_label_affinity
    # convention).
    step1 = qlab.join(broadcast(top), "q_id")
    j = step1.join(nlab, "neighbor_id")
    return (
        j.groupBy("q_id", "q_label")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(
                (F.col("n_label") == F.col("q_label")).cast("long")
            ).alias("n_same_label"),
        )
        .select(
            "q_id",
            "q_label",
            "n_neighbors",
            "n_same_label",
            F.round(
                F.col("n_same_label").cast("double")
                / F.col("n_neighbors").cast("double"),
                9,
            ).alias("purity"),
        )
        .orderBy("q_id")
    )


KNN_PURITY_ORACLE = f"""
WITH topk AS (
{BRUTE_FORCE_ORACLE}
)
SELECT t.q_id, ql.label AS q_label,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_label,
       round(CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS purity
FROM topk t
JOIN embeddings ql ON t.q_id = ql.vec_id
JOIN embeddings nl ON t.neighbor_id = nl.vec_id
GROUP BY 1, 2
ORDER BY t.q_id
"""


def vector_margin_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-VECTOR centroid margin histogram: for every vector, the
    gap between its distance to the 2nd-nearest and nearest label
    centroid (0.005-wide bins, clamped to [0, 80]) — the pointwise
    confidence profile of the label geometry (``
    centroid_nearest_rival`` reports the same margin at centroid
    grain; a mass near bin 0 here means many individually ambiguous
    vectors even when centroids are well separated).

    Exactness: centroid components are ``floor(avg(q))`` integers
    (the IVF convention), so every squared distance is an exact
    integer; margin = (sqrt(d2²)−sqrt(d1²))/QUANT runs identical
    IEEE ops in both engines; binning is floor on that identical
    double.

    Scale: corpus posexploded once, centroids broadcast (|labels|×d
    rows), one (vec,label)-grain aggregate → corpus×|labels| rows →
    a two-row-per-vector rank filter → enum-sized histogram."""
    compl = _compl_for(spark, sf_dir)
    comp = compl.drop("label")
    cents = _label_cents_for(spark, sf_dir)
    diff = F.col("q") - F.col("cq")
    d2 = (
        comp.join(broadcast(cents.withColumnRenamed("label", "clabel")), "pos")
        .groupBy("vec_id", "clabel")
        .agg(F.sum(diff * diff).alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "clabel")
    two = d2.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 2)
    margin = (
        two.groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.sqrt(F.col("dist2").cast("double")))).alias("_d2"),
            F.max(F.when(F.col("rn") == 1, F.sqrt(F.col("dist2").cast("double")))).alias("_d1"),
        )
        .select(
            ((F.col("_d2") - F.col("_d1")) / F.lit(float(QUANT))).alias("m")
        )
    )
    bin_ = F.least(F.greatest(F.floor(F.col("m") / 0.005), F.lit(0)), F.lit(80))
    cell = margin.groupBy(bin_.cast("int").alias("margin_bin")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    tot = cell.agg(F.sum("n_vectors").alias("_t"))
    return (
        cell.crossJoin(broadcast(tot))
        .select(
            "margin_bin",
            "n_vectors",
            F.round(
                F.col("n_vectors").cast("double") / F.col("_t").cast("double"),
                9,
            ).alias("share_of_vectors"),
        )
        .orderBy("margin_bin")
    )


VECTOR_MARGIN_HIST_ORACLE = """
WITH comp AS (
  SELECT e.vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS BIGINT) AS q
  FROM embeddings e, LATERAL unnest(range(0, len(embedding))) t(i)
),
cents AS (
  SELECT e.label AS clabel, c.pos,
         CAST(floor(avg(c.q)) AS BIGINT) AS cq
  FROM comp c JOIN embeddings e USING (vec_id)
  GROUP BY 1, 2
),
d2 AS (
  SELECT c.vec_id, ct.clabel, SUM((c.q - ct.cq) * (c.q - ct.cq)) AS dist2
  FROM comp c JOIN cents ct USING (pos)
  GROUP BY 1, 2
),
two AS (
  SELECT vec_id, dist2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist2 ASC, clabel ASC) AS rn
  FROM d2
),
m AS (
  SELECT vec_id,
         (MAX(CASE WHEN rn = 2 THEN sqrt(CAST(dist2 AS DOUBLE)) END)
          - MAX(CASE WHEN rn = 1 THEN sqrt(CAST(dist2 AS DOUBLE)) END))
           / 10000.0 AS mg
  FROM two WHERE rn <= 2 GROUP BY 1
),
cell AS (
  SELECT CAST(least(greatest(floor(mg / 0.005), 0), 80) AS INT)
           AS margin_bin,
         COUNT(*) AS n_vectors
  FROM m GROUP BY 1
)
SELECT margin_bin, CAST(n_vectors AS BIGINT) AS n_vectors,
       round(CAST(n_vectors AS DOUBLE)
             / CAST((SELECT SUM(n_vectors) FROM cell) AS DOUBLE), 9)
         AS share_of_vectors
FROM cell ORDER BY margin_bin
"""


def pq_code_balance(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ codebook utilization audit: per subspace, how many of the
    ``kc`` codes are actually used, the code-assignment entropy
    (nats), and the hottest code's share — the index-health numbers
    that catch a collapsed codebook (few live codes ⇒ coarse
    quantization ⇒ recall loss) before it ships.  Companion to
    ``pq_reconstruction_error``'s distortion view.

    Plan: rides the stored deterministic PQ fit; the audit itself
    is one (m, code) aggregate over the materialized assignment and
    an |subspaces|-row rollup.  Entropy follows the rounded-term
    DECIMAL contract; shares are double divisions of exact counts."""
    _comp, _cents, codes = _pq_fit_for(spark, sf_dir, m, kc, iters)
    cell = codes.groupBy("m", "label").agg(F.count(F.lit(1)).alias("n"))
    tot = cell.groupBy("m").agg(
        F.sum("n").alias("nt"), F.count(F.lit(1)).alias("codes_used")
    )
    p = F.col("n").cast("double") / F.col("nt").cast("double")
    term = F.round(-(p * F.log(p)), 9).cast("decimal(18,9)")
    j = cell.join(broadcast(tot), "m")
    return (
        j.groupBy("m", "nt", "codes_used")
        .agg(
            F.sum(term).alias("_h"),
            F.max("n").alias("_top"),
        )
        .select(
            F.col("m").cast("int").alias("subspace"),
            F.col("codes_used").cast("long").alias("codes_used"),
            F.col("_h").cast("double").alias("code_entropy_nats"),
            F.round(
                F.col("_top").cast("double") / F.col("nt").cast("double"), 9
            ).alias("top_code_share"),
        )
        .orderBy("subspace")
    )


def _pq_code_balance_oracle(
    m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS
) -> str:
    ctes, final_assign, _prev = _pq_cte_chain(m, kc, iters)
    ctes = list(ctes)
    ctes += [
        f"cell AS (SELECT m, label, COUNT(*) AS n FROM {final_assign} GROUP BY 1, 2)",
        "tot AS (SELECT m, SUM(n) AS nt, COUNT(*) AS codes_used FROM cell GROUP BY 1)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(c.m AS INT) AS subspace,
       CAST(t.codes_used AS BIGINT) AS codes_used,
       CAST(SUM(CAST(round(-(CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE))
                           * ln(CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE)),
                           9) AS DECIMAL(18,9))) AS DOUBLE)
         AS code_entropy_nats,
       round(CAST(MAX(c.n) AS DOUBLE) / CAST(MAX(t.nt) AS DOUBLE), 9)
         AS top_code_share
FROM cell c JOIN tot t USING (m)
GROUP BY 1, 2
ORDER BY subspace
"""
    )


PQ_CODE_BALANCE_ORACLE = _pq_code_balance_oracle()


def embedding_dim_correlation_pairs(
    spark: SparkSession, sf_dir: str, top_k: int = 20
) -> DataFrame:
    """Dimension-redundancy audit: the ``top_k`` most correlated
    embedding-coordinate pairs by |Pearson| over the quantized
    components — heavily correlated dimensions are wasted capacity
    (the pairwise view behind ``embedding_intrinsic_dim``'s single
    number, and the pre-PQ check that subspace splits don't straddle
    redundant coordinates).

    Exactness: all moments (n, Σx, Σy, Σx², Σy², Σxy) are exact —
    the kernel accumulates integer-valued float64 (|q| ≤ 10⁴, so
    every product and partial sum sits far below 2⁵³), then the
    Pearson chain runs identical IEEE double ops in both engines,
    rounded to 9.

    Scale: ``mapInPandas`` computes each Arrow batch's Gram matrix
    XᵀX (BLAS, d² outputs per batch — never a row-pair join), and
    the d²-sized partials reduce by key; d is a constant (64), so
    shuffle volume is partitions × d² rows regardless of corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    import numpy as np

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * QUANT
            X = np.sign(X) * np.floor(np.abs(X) + 0.5)  # SQL half-away round
            n = X.shape[0]
            d = X.shape[1]
            g = X.T @ X  # exact integer-valued f64
            s = X.sum(axis=0)
            s2 = (X * X).sum(axis=0)
            ia, ib = np.triu_indices(d, k=1)
            yield pd.DataFrame(
                {
                    "pos_a": ia.astype(np.int64),
                    "pos_b": ib.astype(np.int64),
                    "n": np.full(len(ia), n, dtype=np.int64),
                    "sx": s[ia],
                    "sy": s[ib],
                    "sxx": s2[ia],
                    "syy": s2[ib],
                    "sxy": g[ia, ib],
                }
            )

    partial = emb.select("embedding").mapInPandas(
        kernel,
        "pos_a long, pos_b long, n long, sx double, sy double,"
        " sxx double, syy double, sxy double",
    )
    mom = partial.groupBy("pos_a", "pos_b").agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        F.sum("sxy").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    corr = F.round(num / den, 9)
    return (
        mom.select(
            F.col("pos_a").cast("int").alias("pos_a"),
            F.col("pos_b").cast("int").alias("pos_b"),
            corr.alias("corr"),
        )
        .orderBy(F.abs(F.col("corr")).desc(), "pos_a", "pos_b")
        .limit(top_k)
    )


EMBEDDING_DIM_CORR_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(i AS INT) AS pos,
         CAST(round(CAST(embedding[CAST(i AS INT)+1] AS DOUBLE) * 10000, 0)
              AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) t(i)
),
mom AS (
  SELECT a.pos AS pos_a, b.pos AS pos_b,
         COUNT(*) AS n,
         SUM(a.q) AS sx, SUM(b.q) AS sy,
         SUM(a.q * a.q) AS sxx, SUM(b.q * b.q) AS syy,
         SUM(a.q * b.q) AS sxy
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.pos < b.pos
  GROUP BY 1, 2
)
SELECT CAST(pos_a AS INT) AS pos_a, CAST(pos_b AS INT) AS pos_b,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
         AS corr
FROM mom
ORDER BY abs(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)) DESC,
         pos_a, pos_b
LIMIT 20
"""


QUERIES = {
    "embedding_dim_correlation_pairs": embedding_dim_correlation_pairs,
    "pq_code_balance": pq_code_balance,
    "knn_purity_at_k": knn_purity_at_k,
    "vector_margin_histogram": vector_margin_histogram,
    "centroid_distance_histogram": centroid_distance_histogram,
    "embedding_quantization_sensitivity": embedding_quantization_sensitivity,
    "embedding_exact_dup_groups": embedding_exact_dup_groups,
    "dimension_discriminability": dimension_discriminability,
    "intra_inter_label_affinity": intra_inter_label_affinity,
    "centroid_nearest_rival": centroid_nearest_rival,
    "centroid_confusion_matrix": centroid_confusion_matrix,
    "embedding_dimension_profile": embedding_dimension_profile,
    "label_centroid_distances": label_centroid_distances,
    "embedding_norm_audit": embedding_norm_audit,
    "ivf_cell_balance": ivf_cell_balance,
    "embedding_label_outliers": embedding_label_outliers,
    "label_centroid_similarity": label_centroid_similarity,
    "crosslingual_mining": crosslingual_mining,
    "embedding_drift_by_label": embedding_drift_by_label,
    "knn_label_propagation": knn_label_propagation,
    "ann_brute_force_topk": brute_force_topk,
    "ann_filtered_topk": ann_filtered_topk,
    "semantic_contamination": semantic_contamination,
    "ann_ivf_topk": ivf_topk,
    "ann_kmeans_ivf_topk": kmeans_ivf_topk,
    "ann_filtered_ivf_topk": filtered_kmeans_ivf_topk,
    "ann_filtered_ivf_indexed": ann_filtered_ivf_indexed,
    "ann_recall_audit": ann_recall_audit,
    "ivf_nprobe_recall_curve": ivf_nprobe_recall_curve,
    "embedding_intrinsic_dim": embedding_intrinsic_dim,
    "embedding_cluster_profile": embedding_cluster_profile,
    "embedding_cosine_dedup": _cosine_dedup_gate,
    "ann_pq_topk": pq_ann_topk,
    "pq_reconstruction_error": pq_reconstruction_error,
}

ORACLES = {
    "embedding_dim_correlation_pairs": EMBEDDING_DIM_CORR_ORACLE,
    "pq_code_balance": PQ_CODE_BALANCE_ORACLE,
    "knn_purity_at_k": KNN_PURITY_ORACLE,
    "vector_margin_histogram": VECTOR_MARGIN_HIST_ORACLE,
    "centroid_distance_histogram": CENTROID_DISTANCE_HIST_ORACLE,
    "embedding_quantization_sensitivity": QUANTIZATION_SENSITIVITY_ORACLE,
    "embedding_exact_dup_groups": EMBEDDING_EXACT_DUP_ORACLE,
    "dimension_discriminability": DIMENSION_DISCRIMINABILITY_ORACLE,
    "intra_inter_label_affinity": INTRA_INTER_AFFINITY_ORACLE,
    "centroid_nearest_rival": CENTROID_NEAREST_RIVAL_ORACLE,
    "centroid_confusion_matrix": CENTROID_CONFUSION_ORACLE,
    "embedding_dimension_profile": EMBEDDING_DIM_PROFILE_ORACLE,
    "label_centroid_distances": LABEL_CENTROID_DIST_ORACLE,
    "embedding_norm_audit": EMBEDDING_NORM_AUDIT_ORACLE,
    "ivf_cell_balance": IVF_CELL_BALANCE_ORACLE,
    "embedding_label_outliers": EMBEDDING_LABEL_OUTLIERS_ORACLE,
    "label_centroid_similarity": LABEL_CENTROID_SIM_ORACLE,
    "crosslingual_mining": CROSSLINGUAL_MINING_ORACLE.format(
        pairs_sql=COSINE_DEDUP_ORACLE.format(threshold=GATE_DEDUP_THRESHOLD)
    ),
    "embedding_drift_by_label": EMBEDDING_DRIFT_ORACLE,
    "knn_label_propagation": KNN_LABEL_PROP_ORACLE,
    "ann_brute_force_topk": BRUTE_FORCE_ORACLE,
    "semantic_contamination": SEMANTIC_CONTAMINATION_ORACLE,
    "ann_filtered_topk": ANN_FILTERED_ORACLE,
    "ann_ivf_topk": IVF_ORACLE,
    "ann_kmeans_ivf_topk": KMEANS_IVF_ORACLE,
    "ann_filtered_ivf_topk": ANN_FILTERED_IVF_ORACLE,
    # same oracle gates the artifact-probing variant: identical
    # output contract, the fit is frozen into the index
    "ann_filtered_ivf_indexed": ANN_FILTERED_IVF_ORACLE,
    "ann_recall_audit": ANN_RECALL_AUDIT_ORACLE,
    "ivf_nprobe_recall_curve": IVF_NPROBE_CURVE_ORACLE,
    "embedding_intrinsic_dim": EMBEDDING_INTRINSIC_DIM_ORACLE,
    "embedding_cluster_profile": CLUSTER_PROFILE_ORACLE,
    "embedding_cosine_dedup": COSINE_DEDUP_ORACLE.format(threshold=GATE_DEDUP_THRESHOLD),
    "ann_pq_topk": PQ_ANN_ORACLE,
    "pq_reconstruction_error": PQ_RECON_ORACLE,
}
