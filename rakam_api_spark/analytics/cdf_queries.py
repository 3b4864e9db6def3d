"""Change-data-feed SQL surface queries.

The reference's whole analytics model is external SQL over the
tables the ingest layer maintains (reference README.md:27-31,
SURVEY.md §2.7); a change feed is only useful if that SQL surface
can reach it.  ``table_changes('collection', start[, end])`` —
rewritten by :mod:`rakam_api_spark.query_service` into a view over
``TxnTable.changes`` (txnlog.py) — is the Delta-convention TVF an
incremental consumer polls instead of re-reading snapshots.

The gated query below exercises the FULL path end-to-end: a
transaction-logged collection is built from the sf_dir ``orders``
table in three deterministic commits (``o_orderkey % 4`` slices:
{0,1} → v1, {2} → v2, {3} → v3), then the TVF is queried THROUGH the
query service for the inclusive commit range [2, 3].  The DuckDB
oracle recomputes the same feed from the raw parquet with the same
modulo split — every appended row surfaces exactly once as an
``insert`` tagged with its commit version, so the rollup is exact.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

# one fixture per (sf_dir) per process: the driver/bench harnesses
# call each query twice (run + hash), so the three-commit build runs
# once and the second call is a metadata-only re-read
_FIXTURE: dict[str, str] = {}


def _cdf_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) a warehouse holding project ``cdfp`` with a
    txn-logged ``orders`` collection populated by three deterministic
    commits, and return the warehouse path."""
    cached = _FIXTURE.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    from ..catalog import Metastore
    from ..store import EventStore

    warehouse = tempfile.mkdtemp(prefix="rakam_cdf_wh_")
    ms = Metastore(warehouse)
    ms.create_project("cdfp")
    store = EventStore(spark, ms)
    txn = store.txn_table("cdfp", "orders")
    orders = load_table(spark, sf_dir, "orders")
    slices = (
        orders.where((F.col("o_orderkey") % 4) < 2),
        orders.where((F.col("o_orderkey") % 4) == 2),
        orders.where((F.col("o_orderkey") % 4) == 3),
    )
    for i, part in enumerate(slices, start=1):
        txn.append(part)
        got = txn.version()
        if got != i:  # the oracle hardcodes commit numbers — fail loudly
            raise RuntimeError(f"cdf fixture: expected version {i}, got {got}")
    _FIXTURE[sf_dir] = warehouse
    return warehouse


_FEED_SQL = """
SELECT _change_type,
       _commit_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM table_changes('orders', 2, 3)
GROUP BY _change_type, _commit_version
"""


def table_changes_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-commit rollup of the change feed for the inclusive commit
    range [2, 3], queried through the SQL service's
    ``table_changes`` TVF (the Delta-CDF consumption pattern: an
    incremental derived table reads only the commits it has not seen).

    Plan: the TVF resolves to a parquet scan over ONLY the files the
    two commits touched (never a snapshot diff), attribution is a
    broadcast of the driver-side (file → version/type) map, and the
    rollup is one enum-sized aggregate — commit count × change types
    rows regardless of corpus size."""
    from ..query_service import QueryService
    from ..store import EventStore
    from ..catalog import Metastore

    warehouse = _cdf_warehouse(spark, sf_dir)
    svc = QueryService(spark, EventStore(spark, Metastore(warehouse)))
    return svc.dataframe("cdfp", _FEED_SQL)


TABLE_CHANGES_ORACLE = """
WITH feed AS (
  SELECT 'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version, *
  FROM orders WHERE o_orderkey % 4 = 2
  UNION ALL
  SELECT 'insert', CAST(3 AS BIGINT), *
  FROM orders WHERE o_orderkey % 4 = 3
)
SELECT _change_type,
       _commit_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM feed
GROUP BY _change_type, _commit_version
"""


QUERIES = {
    "table_changes_rollup": table_changes_rollup,
}

ORACLES = {
    "table_changes_rollup": TABLE_CHANGES_ORACLE,
}


_MV_FIXTURE: dict[str, str] = {}

_MV_SQL = (
    "SELECT o_orderpriority AS priority, COUNT(*) AS n, "
    "SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS val "
    "FROM orders GROUP BY o_orderpriority"
)


_MV_ROWS_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice "
    "FROM orders WHERE o_totalprice > 150000"
)


def _mv_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) a warehouse where a materialized view over a
    txn-logged ``orders`` collection is created on the FIRST modulo
    slice and then incrementally refreshed (change-feed path) after
    two more insert-only appends — the refresh mode is asserted, so
    a silent fallback to full recompute fails the query instead of
    hiding the path under test."""
    cached = _MV_FIXTURE.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    from ..catalog import Metastore
    from ..matview import MaterializedViewService
    from ..store import EventStore

    from ..types import from_spark_type

    warehouse = tempfile.mkdtemp(prefix="rakam_mv_wh_")
    ms = Metastore(warehouse)
    ms.create_project("mvp")
    store = EventStore(spark, ms)
    txn = store.txn_table("mvp", "orders")
    # keep the fixture to registerable column types (the metastore's
    # ingest type system has no NTZ timestamp; the view needs none)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    # register the collection schema (matview.create validates against
    # the metastore, exactly as the ingest path would have)
    ms.get_or_create_collection_fields(
        "mvp",
        "orders",
        {f.name: from_spark_type(f.dataType) for f in orders.schema.fields},
    )
    txn.append(orders.where((F.col("o_orderkey") % 4) < 2))
    mv = MaterializedViewService(spark, store)
    mv.create("mvp", "ordstats", _MV_SQL)
    mv.create("mvp", "bigorders", _MV_ROWS_SQL)
    txn.append(orders.where((F.col("o_orderkey") % 4) == 2))
    txn.append(orders.where((F.col("o_orderkey") % 4) == 3))
    for name in ("ordstats", "bigorders"):
        res = mv.refresh("mvp", name)
        if res["mode"] != "incremental":  # the path under test
            raise RuntimeError(
                f"expected incremental refresh of {name}, got {res['mode']}"
            )
    _MV_FIXTURE[sf_dir] = warehouse
    return warehouse


def matview_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view incremental-consistency proof at the SQL
    surface: a priority rollup view materialized on one third of
    ``orders`` and INCREMENTALLY refreshed (through the change feed)
    after two more appends must equal the rollup of the full table —
    read DIRECTLY as ``materialized_ordstats`` through the query
    service, with NO hand re-aggregation: the view's sum/count GROUP
    BY is classified ``cells`` grain at create time, so the SQL alias
    serves the re-aggregated merge of the per-refresh partial cells
    (a direct reader between refreshes can never see partials) —
    checked row-for-row against DuckDB computing the rollup from the
    raw parquet.

    Plan: the view read is a plain txn-table scan (a handful of
    partial cells per priority) + one enum-sized merge aggregate.
    Refresh cost was O(increment): the change feed read only the two
    appends' files."""
    from ..catalog import Metastore
    from ..query_service import QueryService
    from ..store import EventStore

    warehouse = _mv_warehouse(spark, sf_dir)
    svc = QueryService(spark, EventStore(spark, Metastore(warehouse)))
    return svc.dataframe(
        "mvp",
        "SELECT priority, n AS n_orders, CAST(val AS DOUBLE) AS total_value "
        "FROM materialized_ordstats ORDER BY priority",
    )


MATVIEW_ROLLUP_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
         AS total_value
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""


QUERIES["matview_incremental_rollup"] = matview_incremental_rollup
ORACLES["matview_incremental_rollup"] = MATVIEW_ROLLUP_ORACLE


def matview_rows_grain_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-grain materialized-view consistency at the SQL surface: a
    filtered projection view ('rows' consumption grain — every stored
    row is final) created on the first modulo slice and incrementally
    refreshed (change feed, mode ASSERTED in the fixture) across two
    more appends must read back through ``materialized_bigorders``
    as exactly the filter over the full table — checked row-for-row
    against DuckDB filtering the raw parquet.

    Plan: the view read is a plain txn-table scan (no re-aggregation:
    the create-time grain classifier marked it 'rows'); refresh cost
    was O(increment)."""
    from ..catalog import Metastore
    from ..query_service import QueryService
    from ..store import EventStore

    warehouse = _mv_warehouse(spark, sf_dir)
    svc = QueryService(spark, EventStore(spark, Metastore(warehouse)))
    return svc.dataframe(
        "mvp",
        "SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice "
        "FROM materialized_bigorders ORDER BY o_orderkey",
    )


MATVIEW_ROWS_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
FROM orders WHERE o_totalprice > 150000
ORDER BY o_orderkey
"""


QUERIES["matview_rows_grain_read"] = matview_rows_grain_read
ORACLES["matview_rows_grain_read"] = MATVIEW_ROWS_ORACLE


_TS_FEED_SQL = """
SELECT _commit_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM table_changes('orders', '2000-01-01')
GROUP BY _commit_version
"""


def table_changes_since_timestamp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TIMESTAMP form of the change-feed TVF end-to-end:
    ``table_changes('orders', '2000-01-01')`` resolves the start
    through the commit log's time index (``TxnTable.version_at``,
    O(log commits)) to the pre-history snapshot, so the feed is the
    COMPLETE deterministic commit history (versions 1-3 of the
    fixture) — the "everything since my checkpoint time" poll a
    time-based incremental consumer issues, per-commit rollup checked
    against DuckDB recomputing the same modulo slices.

    Plan: identical to the version form after resolution — a parquet
    scan of only the commits' files, broadcast (file → version)
    attribution, one enum-sized aggregate."""
    from ..catalog import Metastore
    from ..query_service import QueryService
    from ..store import EventStore

    warehouse = _cdf_warehouse(spark, sf_dir)
    svc = QueryService(spark, EventStore(spark, Metastore(warehouse)))
    return svc.dataframe("cdfp", _TS_FEED_SQL)


TS_FEED_ORACLE = """
WITH feed AS (
  SELECT CAST(1 AS BIGINT) AS _commit_version, * FROM orders
  WHERE o_orderkey % 4 < 2
  UNION ALL
  SELECT CAST(2 AS BIGINT), * FROM orders WHERE o_orderkey % 4 = 2
  UNION ALL
  SELECT CAST(3 AS BIGINT), * FROM orders WHERE o_orderkey % 4 = 3
)
SELECT _commit_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM feed
GROUP BY _commit_version
"""


QUERIES["table_changes_since_timestamp"] = table_changes_since_timestamp
ORACLES["table_changes_since_timestamp"] = TS_FEED_ORACLE


_HISTORY_SQL = """
SELECT version, operation, added_rows
FROM table_history('orders')
ORDER BY version
"""


def table_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DESCRIBE HISTORY analog at the SQL surface:
    ``table_history('orders')`` lists the fixture's three append
    commits with their exact row deltas — the audit a warehouse
    operator runs before trusting a table's lineage, checked against
    DuckDB recomputing the slice sizes from the raw parquet.

    Plan: commit metadata is driver-side JSON (O(commits) file opens,
    bounded by the optional last_n arg); no table data is read at
    all."""
    from ..catalog import Metastore
    from ..query_service import QueryService
    from ..store import EventStore

    warehouse = _cdf_warehouse(spark, sf_dir)
    svc = QueryService(spark, EventStore(spark, Metastore(warehouse)))
    return svc.dataframe("cdfp", _HISTORY_SQL)


TABLE_HISTORY_ORACLE = """
WITH counts AS (
  SELECT CAST(1 AS BIGINT) AS version, 'append' AS operation,
         CAST(COUNT(*) AS BIGINT) AS added_rows
  FROM orders WHERE o_orderkey % 4 < 2
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'append', CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_orderkey % 4 = 2
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'append', CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_orderkey % 4 = 3
)
SELECT version, operation, added_rows FROM counts ORDER BY version
"""


QUERIES["table_history_audit"] = table_history_audit
ORACLES["table_history_audit"] = TABLE_HISTORY_ORACLE
