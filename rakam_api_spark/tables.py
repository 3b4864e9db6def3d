"""Loaders for the driver-generated test tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``{sf_dir}/{name}.parquet``.

The only tricky one is ``events``: downstream operators do epoch
math on a raw nanosecond LongType column ``ts_ns`` which is derived
here from whatever physical type the driver wrote:

- parquet TIMESTAMP(NANOS, isAdjustedToUTC=false) (rounds 1-3):
  arrives as a raw ns LongType via
  ``spark.sql.legacy.parquet.nanosAsLong``; we rebuild a
  TimestampNTZType ``ts`` with pure integer arithmetic.
- parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 4+):
  arrives as TimestampNTZType directly; we derive
  ``ts_ns = unix_micros(cast(ts as timestamp)) * 1000`` — with the
  UTC session timezone (session.py) the NTZ->TIMESTAMP cast is the
  identity on the stored micros, so ``ts_ns div 1000`` equals
  DuckDB's ``epoch_us(ts)`` bit-exactly.

Either way callers get both ``ts`` (TimestampNTZ) and ``ts_ns``
(long) with no session-timezone dependence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure_runtime

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NS_PER_DAY = 86_400_000_000_000


#: per-session memo of loaded test tables: the testdata files are
#: immutable (read-only by contract) and a DataFrame is an immutable
#: logical plan, so reuse across queries is safe — and each uncached
#: load pays a parquet-footer read + schema analysis (~0.1-0.7 s of
#: pure driver time), which multiplied over a 240-query bench run
#: (2 runs × 2-6 tables each) is tens of seconds of nothing.  Keyed
#: weakly by session so a stopped session's plans don't pin memory.
#: A plain plan memo, not an ``artifacts`` entry: it holds no Spark
#: storage, so there is nothing to release.
from weakref import WeakKeyDictionary

_TABLE_MEMO: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_runtime(spark)
    per = _TABLE_MEMO.setdefault(spark, {})
    df = per.get((sf_dir, name))
    if df is None:
        df = per[(sf_dir, name)] = _load_table(spark, sf_dir, name)
    return df


#: Tables below this on-disk size never gain from a post-scan
#: repartition (the exchange costs more than single-task work on a
#: dim-sized table); above it, a parallelism-deficient scan is
#: re-spread across the cluster.
_REPART_MIN_BYTES = 256 << 10


def _scan_split_estimate(path: str) -> tuple[int, int] | None:
    """(estimated scan tasks, total bytes) from parquet FOOTER
    metadata — no Spark job.  A parquet file contributes at most
    min(row groups, byte-range splits) working tasks: extra byte
    splits of a single-row-group file read zero rows.  Returns None
    for non-local/unreadable layouts (caller skips the check)."""
    try:
        import pyarrow.parquet as pq

        files: list[str] = []
        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
        if not files:
            return None
        splits, total = 0, 0
        for f in files:
            size = os.path.getsize(f)
            total += size
            groups = pq.ParquetFile(f).metadata.num_row_groups
            byte_splits = max(1, size // (128 << 20))
            splits += max(1, min(groups, byte_splits))
        return splits, total
    except Exception:
        return None


#: per-table spread key for the deficient-scan repartition: the
#: column most downstream plans join/group/window on, so the forced
#: exchange is one those plans can REUSE (guide §2.4 "two operations
#: keyed the same way share one exchange").  Hash repartitioning on a
#: deterministic column also skips round-robin's local
#: sort-before-repartition AND is retry-safe by construction
#: (guide §2.5 on rand-derived keys).
_SPREAD_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "part": "p_partkey",
    "supplier": "s_suppkey",
}


def _maybe_respread(
    spark: SparkSession, df: DataFrame, path: str, name: str
) -> DataFrame:
    """Guide §2.5 ("one huge unsplittable file … repartition
    immediately after the read"), scale-adaptively: the driver-
    generated test tables are SINGLE-ROW-GROUP parquet files, so
    every scan — and every narrow stage above it (corpus explodes,
    regex mappers, decimal partial aggregates) — ran on ONE core
    regardless of ``local[N]``.  When footer metadata says the scan
    yields fewer working splits than half the cluster's parallelism
    AND the table is big enough for the (tiny) exchange to pay for
    itself, hash-repartition on the table's dominant key to the
    default parallelism.  On a real deployment (many files / many
    row groups) the condition is false and NO exchange is added; the
    override env pins the behavior either way (off/on)."""
    mode = os.environ.get("SPARK_GRAFT_SCAN_REPARTITION", "auto")
    if mode == "off":
        return df
    try:
        # sessions without a sparkContext (Spark Connect, mocks) skip
        # the respread instead of failing every load (ADVICE r16) —
        # same guard discipline as _scan_split_estimate
        para = spark.sparkContext.defaultParallelism
    except Exception:
        return df
    if mode != "on":
        est = _scan_split_estimate(path)
        if est is None:
            return df
        splits, total = est
        if total < _REPART_MIN_BYTES or splits >= max(1, para // 2):
            return df
    key = _SPREAD_KEYS.get(name)
    if key is None or key not in df.columns:
        return df
    return df.repartition(para, F.col(key))


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    df = _maybe_respread(spark, df, f"{sf_dir}/{name}.parquet", name)
    if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts_ns", F.expr("unix_micros(cast(ts as timestamp)) * 1000"))
    elif name == "events" and dict(df.dtypes).get("ts") == "timestamp":
        # tz-adjusted micros (isAdjustedToUTC=true): normalize ts to
        # the UTC wall-clock as TimestampNTZ so callers always see
        # NTZ and downstream date/strftime math is tz-independent
        # (configure_runtime pins the session timezone to UTC, so the
        # cast reads the instant at UTC).  NOTE: the driver testdata
        # is NTZ — this branch serves external tz-adjusted parquet,
        # and a DuckDB oracle over such data reads TIMESTAMPTZ, so it
        # must run with its timezone pinned to UTC (SET TimeZone='UTC')
        # to match bit-exactly.
        df = df.withColumn("ts_ns", F.expr("unix_micros(ts) * 1000")).withColumn(
            "ts", F.expr("cast(ts as timestamp_ntz)")
        )
    elif name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ts (ns since epoch) -> timestamp_ntz, tz-independent:
        # date part from floor-div days, sub-day part from remainder
        # micros (truncation toward -inf matches DuckDB's ns->us).
        df = (
            df.withColumnRenamed("ts", "ts_ns")
            .withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND,"
                    " cast((ts_ns - floor(ts_ns/86400000000000)*86400000000000)/1000 as long),"
                    " cast(date_from_unix_date(cast(floor(ts_ns/86400000000000) as int))"
                    "      as timestamp_ntz))"
                ),
            )
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


#: (sf_dir, name) -> row count.  Process-wide (not per-session): the
#: testdata is immutable by contract, so the count can never change
#: within a build.  Populated from the parquet footer when the table
#: is a plain local file/directory — zero Spark jobs — else from one
#: memoized ``count()``.
_ROWCOUNT_MEMO: dict[tuple, int] = {}


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a test table for plan-selection gates (e.g. the
    two-pass decile cut's auto mode).  Reads parquet footer metadata
    driver-side when possible so auto-gated queries don't pay an
    eager full-scan ``count()`` job per invocation."""
    key = (sf_dir, name)
    hit = _ROWCOUNT_MEMO.get(key)
    if hit is not None:
        return hit
    n = None
    path = f"{sf_dir}/{name}.parquet"
    try:
        import os

        import pyarrow.parquet as pq

        if os.path.isfile(path):
            n = pq.ParquetFile(path).metadata.num_rows
        elif os.path.isdir(path):
            n = sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for root, _, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
    except Exception:
        n = None
    if n is None:  # remote FS / mock: one Spark count, memoized
        n = load_table(spark, sf_dir, name).count()
    _ROWCOUNT_MEMO[key] = int(n)
    return _ROWCOUNT_MEMO[key]


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
