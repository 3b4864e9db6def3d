"""Event store: one transaction-logged Parquet table per (project,
collection).

Re-expresses the reference's EventStore SPI (rakam-spi/.../plugin/
EventStore.java:10-25) and the Postgres implementation's layout
(PostgresqlEventStore.java): one table per collection inside a
project namespace, time-partitioned.

Spark mapping decisions:
- layout: ``{warehouse}/{project}/{collection}.txn/`` is a
  :class:`txnlog.TxnTable` — parquet files hive-partitioned by
  ``_month=YYYY-MM`` derived from ``_time`` (the analog of the
  reference's PG10 monthly RANGE partitions,
  PostgresqlEventStore.java:103-170) plus a ``_txn`` commit log that
  names the live files.
- every write is one atomic commit — append, compaction, expiry,
  erase — replacing the reference's 5000-row JDBC commit chunks
  (PostgresqlEventStore.java:186); concurrent writers are arbitrated
  by the log's O_EXCL commit slots.
- reads take the file list and the schema from the log: files
  written before an ADD COLUMN read NULL for it (the add-column-only
  evolution contract), and retired files or crash orphans in the
  directory are never read.
- dead-letter rows go to ``{project}/$invalid_schema`` — an
  append-only parquet directory, as in the reference
  (JsonEventDeserializer.java:85-93); it is never rewritten, so it
  needs no log.
- a collection an older release wrote as a plain parquet directory
  is migrated once by :meth:`EventStore.enable_txn`; until then every
  read or write of it raises.

At 100 TB: the month partition prunes scans for time-ranged
analytics, and the manifest's per-file stats and blooms skip files
within a month. A production deployment would add bucketing by _user
for the sessionization/funnel workloads (SPARK-19256 hive bucketing)
— noted in operator docstrings where it applies.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import Metastore

INVALID_COLLECTION = "$invalid_schema"

# publish_rollup's default measure set — exported so stream-start
# validation (streaming/job.py) can compare a spec's EFFECTIVE
# contract against the published _rollup_meta.json before ingesting.
DEFAULT_ROLLUP_MEASURES = {
    "n_events": "CAST(COUNT(*) AS BIGINT)",
    "total_value": "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)",
}


@dataclass
class RoutedReport:
    """Result of ``EventStore.route_report``: the report frame plus
    which physical route answered it (``"rollup"`` or ``"raw"``) and
    why."""

    df: DataFrame
    route: str
    reason: str


def _paren_valid(s: str) -> bool:
    """True when parentheses in ``s`` are balanced and the depth
    never goes negative — i.e. ``s`` is a self-contained expression,
    not a fragment cut out of a larger one."""
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


def _strip_casts(expr: str) -> str:
    """Peel outer ``CAST(<inner> AS <type>)`` wrappers (the rollup's
    default measures are cast-wrapped); returns the innermost
    expression.  Conservative: bails (returns as-is) whenever the
    wrapper isn't a clean whole-expression cast."""
    while True:
        m = re.match(r"^CAST\s*\(", expr, re.I)
        if not m or not expr.endswith(")"):
            return expr
        inner = expr[m.end() : -1]
        # locate the LAST top-level " AS " (the cast's own)
        depth, as_pos = 0, -1
        for j in range(len(inner)):
            c = inner[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth < 0:
                    return expr  # trailing ')' wasn't the CAST's
            elif depth == 0 and inner[j : j + 4].upper() == " AS ":
                as_pos = j
        if as_pos < 0:
            return expr
        cand = inner[:as_pos].strip()
        if not _paren_valid(cand):
            return expr
        expr = cand


def _reagg_fn(measure_sql: str) -> str | None:
    """Re-aggregation rule for answering a measure FROM the rollup's
    day-grain cells: COUNT/SUM cells re-SUM, MIN/MAX re-extremize.
    DISTINCT aggregates and anything unrecognized (AVG, percentiles,
    UDAFs) are NOT algebraically mergeable from cells → None routes
    the report to raw.

    The measure must be EXACTLY ONE aggregate call spanning the whole
    expression (CAST wrappers allowed) — a compound like
    ``SUM(x)/COUNT(*)`` or ``MAX(v)-MIN(v)`` is NOT cell-mergeable
    (re-SUMming a per-day ratio serves wrong numbers at coarser
    grain), so any arithmetic around or between aggregates → None."""
    up = _strip_casts(measure_sql.strip().upper())
    m = re.match(r"^(COUNT|SUM|MIN|MAX)\s*\((.*)\)$", up, re.S)
    if not m:
        return None
    inner = m.group(2)
    if not _paren_valid(inner):
        # the final ')' wasn't this aggregate's own closing paren —
        # there is trailing arithmetic, e.g. SUM(X)/COUNT(*)
        return None
    if re.match(r"^\s*DISTINCT\b", inner):
        return None
    return {"COUNT": "SUM", "SUM": "SUM", "MIN": "MIN", "MAX": "MAX"}[m.group(1)]


def _safe(name: str) -> str:
    return name.replace("$", "_sys_")


class MaintenanceLockHeld(RuntimeError):
    """Another process or thread holds this collection's maintenance
    lock — refusing to start a second concurrent maintenance job."""


class _MaintenanceLock:
    """Per-collection writer lock: ``flock(LOCK_EX | LOCK_NB)`` on a
    lock file that is never unlinked (unlinking on release would let
    two processes lock different inodes).  A contender fails fast
    with :class:`MaintenanceLockHeld` — no blocking, no queue; the
    caller retries on its own schedule, as the reference retries
    concurrent DDL (PostgresqlMetastore.java:256,343-346).  The kernel
    drops a dead or killed holder's lock with its descriptor, so no
    pid is recorded and nothing is ever "broken"; a stopped holder
    keeps it.

    Re-entrant per THREAD (erase_user republishes derived tables
    under its own lock); a sibling thread of the holder contends like
    a foreign process."""

    _REG_LOCK = threading.Lock()
    #: path -> [holding thread ident, descriptor, depth]
    _HELD: dict[str, list] = {}

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        me = threading.get_ident()
        with self._REG_LOCK:
            held = self._HELD.get(self.path)
            if held is not None:
                if held[0] != me:
                    raise MaintenanceLockHeld(
                        f"{self.path} held by thread {held[0]} of this process; "
                        "maintenance ops are single-writer per collection"
                    )
                held[2] += 1
                return self
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            fd = os.open(self.path, os.O_RDWR | os.O_CREAT, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                os.close(fd)
                raise MaintenanceLockHeld(
                    f"{self.path} held by another process; maintenance ops "
                    "are single-writer per collection"
                ) from None
            self._HELD[self.path] = [me, fd, 1]
        return self

    def __exit__(self, *exc):
        with self._REG_LOCK:
            held = self._HELD[self.path]
            held[2] -= 1
            if held[2] == 0:
                del self._HELD[self.path]
                os.close(held[1])  # releases the flock
        return False


def salted_repartition(df: DataFrame, key_col: str, n_partitions: int, salt_buckets: int = 32) -> DataFrame:
    """Hot-shard avoidance (reference K4: Kinesis partition key =
    `project|collection` + random(0,100000),
    AWSKinesisEventStore.java:148-169): repartition on
    (key, deterministic salt) so one dominant key value spreads over
    ``salt_buckets`` partitions instead of melting one task/shard.

    The salt is a hash of the whole row (not rand()) so the plan
    stays deterministic and retry-safe — at-least-once replays land
    identically."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    return df.repartition(n_partitions, F.col(key_col), salt)


class EventStore:
    #: schedule a cells-grain materialized-view compaction once this
    #: many incremental-refresh generations have stacked since the
    #: last full materialization (each adds one partial cell per
    #: touched key; the consumption merge re-reads all of them)
    MATVIEW_COMPACT_FRAGMENTS = 8

    def __init__(self, spark: SparkSession, metastore: Metastore):
        self.spark = spark
        self.metastore = metastore
        self.warehouse = metastore.warehouse_dir

    def _base_path(self, project: str, collection: str) -> str:
        return os.path.join(self.warehouse, _safe(project), _safe(collection))

    def collections(self, project: str) -> list[str]:
        """The project's event collections: its registered metastore
        collections minus the ``_``-prefixed system tables (the
        profile table ``_users`` has storage of its own)."""
        return sorted(
            c for c in self.metastore.collections(project) if not c.startswith("_")
        )

    def txn_table(self, project: str, collection: str):
        """The collection's :class:`txnlog.TxnTable` (its directory is
        created on first use).  Raises for a collection whose data
        still sits in a legacy directory that ``enable_txn`` never
        migrated."""
        legacy = self._legacy_dir(project, collection)
        if legacy is not None:
            raise RuntimeError(
                f"{project}.{collection} is still a legacy plain-parquet "
                f"directory ({legacy}); run enable_txn({project!r}, "
                f"{collection!r}) once to migrate it"
            )
        return self._txn(project, collection)

    def _txn(self, project: str, collection: str):
        from .txnlog import TxnTable

        return TxnTable(
            self.spark,
            self._base_path(project, collection) + ".txn",
            bloom_cols=self.bloom_cols(project, collection),
        )

    def stored_table(self, project: str, collection: str):
        """:meth:`txn_table` for a collection that has been written,
        else None — without creating a directory."""
        if not os.path.isdir(
            self._base_path(project, collection) + ".txn"
        ) and self._legacy_dir(project, collection) is None:
            return None
        return self.txn_table(project, collection)  # raises for legacy

    def changes(
        self,
        project: str,
        collection: str,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change feed of a collection — the store-level surface of
        :meth:`TxnTable.changes` (Delta's ``table_changes``): rows
        touched in ``(from_version, to_version]`` tagged
        ``_change_type``/``_commit_version``."""
        return self.txn_table(project, collection).changes(
            from_version, to_version
        )

    def bloom_cols(self, project: str, collection: str) -> list[str]:
        """Columns opted into per-file bloom filters for this
        collection (metastore-persisted, so EVERY writer — ingest
        appends, compaction, maintenance — blooms consistently)."""
        try:
            return list(
                self.metastore.get_config(project, f"BLOOM_COLS_{collection}") or []
            )
        except Exception:
            return []

    def set_bloom_cols(
        self, project: str, collection: str, cols: list[str]
    ) -> None:
        """Opt ``cols`` into per-file bloom filters in the collection's
        txn manifest: point lookups via ``read(equals={col: value})``
        then open only the files whose bloom (or min/max range) admits
        the value.  Applies to files written AFTER the call — run
        ``compact()`` to re-bloom existing history; files without
        blooms are conservatively kept, so the setting can be flipped
        at any time without a correctness risk."""
        self.metastore.set_config(
            project, f"BLOOM_COLS_{collection}", [str(c) for c in cols]
        )

    # --- legacy-directory migration ---------------------------------------

    #: txn app id of the migration commit: once it has landed, no
    #: other migration of the same collection can commit
    MIGRATION_APP = "enable_txn"

    def enable_txn(
        self,
        project: str,
        collection: str,
        bloom_cols: list[str] | None = None,
    ) -> None:
        """Set ``bloom_cols`` (see :meth:`set_bloom_cols`) and migrate a
        collection an older release wrote as a plain parquet
        directory into its txn table.  The migration is one append
        tagged with the :attr:`MIGRATION_APP` txn app id, so a re-run
        after a crash commits nothing and only deletes the legacy
        directory, and two migrators can never both commit (a
        concurrent one on a shared lock fails fast with
        :class:`MaintenanceLockHeld`).  The blooms are set BEFORE the
        migration append, so migrated files already carry them.  A
        collection with nothing to migrate takes no lock."""
        if bloom_cols is not None:
            self.set_bloom_cols(project, collection, bloom_cols)
        if self._legacy_dir(project, collection) is None:
            return
        with self.maintenance_lock(project, collection):
            legacy = self._legacy_dir(project, collection)
            if legacy is None:
                return  # a concurrent migrator finished first
            if any(f.endswith(".parquet") for _, _, fs in os.walk(legacy) for f in fs):
                df = self.spark.read.option("mergeSchema", "true").parquet(legacy)
                self._txn(project, collection).append(
                    df,
                    partition_col="_month" if "_month" in df.columns else None,
                    app=self.MIGRATION_APP,
                    app_version=0,
                )
            shutil.rmtree(legacy, ignore_errors=True)

    def _legacy_dir(self, project: str, collection: str) -> str | None:
        """The plain parquet directory an older release kept for this
        collection — ``{base}``, or ``{base}.v{N}`` once its
        compaction had moved the ``TABLE_VERSION_*`` pointer — or None
        when there is none."""
        base = self._base_path(project, collection)
        try:
            v = self.metastore.get_config(project, f"TABLE_VERSION_{collection}")
        except Exception:
            v = None
        path = base if v is None else f"{base}.v{int(v)}"
        return path if os.path.isdir(path) else None

    def _txn_partition_col(self, txn) -> str | None:
        return (
            "_month"
            if any((e.get("partition") or {}).get("_month") for e in txn.state().values())
            else None
        )

    # --- write (reference K1/K2/K3) -------------------------------------

    def append(self, project: str, collection: str, df: DataFrame) -> int:
        """Append a coerced micro-batch to its collection table,
        partitioned by month(_time).  Returns the row count."""
        n = df.count()
        if n == 0:
            return 0
        self.write_batch(project, collection, df)
        return n

    def write_batch(
        self,
        project: str,
        collection: str,
        df: DataFrame,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> bool:
        """The write half of :meth:`append`, with no counting action:
        the ingest hot path meters rows via ``Observation`` on the
        frame it passes in, so the batch executes exactly once.  The
        batch lands as one atomic commit (stage → move → one log
        entry), so concurrent appends from other processes interleave
        safely.

        ``txn_app``/``txn_version`` make the write IDEMPOTENT via the
        commit log's transaction identifiers: a replayed streaming
        epoch whose first attempt already landed this collection's
        append is a no-op — returns False and the batch frame is never
        executed.  Returns True when the batch was committed."""
        partition_col = None
        if "_time" in df.columns:
            df = df.withColumn("_month", F.date_format(F.col("_time"), "yyyy-MM"))
            partition_col = "_month"
        v = self.txn_table(project, collection).append(
            df, partition_col=partition_col, app=txn_app, app_version=txn_version
        )
        return v is not None

    def append_dead_letter(self, project: str, df: DataFrame) -> int:
        n = df.count()
        if n == 0:
            return 0
        self.write_dead_letter(project, df)
        return n

    def write_dead_letter(self, project: str, df: DataFrame) -> None:
        """Uncounted dead-letter append (the caller already knows the
        row count from its ingest Observation)."""
        df.write.mode("append").parquet(self._base_path(project, INVALID_COLLECTION))

    # --- maintenance ----------------------------------------------------

    def maintenance_lock(self, project: str, collection: str):
        """Single-writer lock for one collection's maintenance jobs
        (compact / erase_user / publish_* / rebloom).  It guards the
        writes outside the commit log — the ``.rollup`` cells and the
        ``.bucketed`` copy; index directories take a lock of the same
        kind beside them — and keeps one maintenance job per
        collection; appends never take it.  See
        :class:`_MaintenanceLock`.

        Usage: ``with store.maintenance_lock(project, collection): ...``
        """
        return _MaintenanceLock(self._base_path(project, collection) + ".lock")

    def compact(
        self,
        project: str,
        collection: str,
        sort_by: str | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction (the OPTIMIZE analog): streaming
        micro-batches write one file per trigger per partition, so a
        long-running ingest accumulates thousands of tiny files —
        the classic streaming-warehouse pathology (SURVEY.md §7 hard
        part (d)).  Rewrites each month partition into one file and
        retires the old files in the same commit.  ``sort_by`` /
        ``zorder_by`` cluster rows within each rewritten partition so
        manifest min/max ranges tighten and range reads skip files.
        Returns the number of live data files after compaction."""
        with self.maintenance_lock(project, collection):
            txn = self.txn_table(project, collection)
            txn.compact(
                partition_col=self._txn_partition_col(txn),
                sort_by=sort_by,
                zorder_by=zorder_by,
            )
            # reclaim orphans and files retired BEFORE this rewrite;
            # the snapshot the rewrite just replaced is retained one
            # version so a reader that resolved it moments ago can
            # still lazily open its files.  The age guard protects a
            # CONCURRENT append that has published staging files into
            # the tree but not yet committed — appends don't take the
            # maintenance lock, so without it those files would be
            # reaped as orphans and the append would commit pointers
            # to deleted files.
            txn.vacuum(retain_versions=1, min_age_seconds=300)
            return len(txn.live_files())

    def export_manifest(
        self,
        project: str,
        collection: str,
        out_path: str | None = None,
        version: int | None = None,
    ) -> dict:
        """Snapshot manifest for EXTERNAL engines (the reference's
        analytics model is other engines over shared storage,
        README.md:27-31): the collection's live file list at the
        current version — or at ``version`` (time travel: the same
        snapshot the query service serves for that ``as_of``) — via
        ``TxnTable.export_manifest``, snapshot-consistent under
        concurrent rewrites within the vacuum retention horizon."""
        return self.txn_table(project, collection).export_manifest(
            version=version, out_path=out_path
        )

    def table_stats(self, project: str, collection: str) -> DataFrame:
        """Per-month table statistics (rows, files, bytes, _time
        min/max) — the auto-indexer's bookkeeping (reference
        collects per-collection stats to drive maintenance; SURVEY.md
        M5): feeds compaction scheduling (file counts), retention
        (oldest month), and capacity reports.  Row counts come from
        one partition-grouped aggregate; file counts/bytes from the
        manifest (metadata only — retired files and crash orphans in
        the directory never skew them)."""
        files: dict[str, tuple[int, int]] = {}
        txn = self.stored_table(project, collection)
        if txn is not None:
            version = txn.version()
            for e in txn.state(version).values():
                month = (e.get("partition") or {}).get("_month")
                if month is None:
                    continue
                n, size = files.get(month, (0, 0))
                files[month] = (n + 1, size + os.path.getsize(txn._abs(e["path"])))
        if not files:
            return self.spark.createDataFrame(
                [], "month string, n_rows long, n_files long, bytes long, min_time timestamp_ntz, max_time timestamp_ntz"
            )
        rows = txn.read(version=version).groupBy(F.col("_month").alias("month")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_time").alias("min_time"),
            F.max("_time").alias("max_time"),
        )
        fdf = self.spark.createDataFrame(
            [(m, n, b) for m, (n, b) in sorted(files.items())],
            "month string, n_files long, bytes long",
        )
        return (
            rows.join(F.broadcast(fdf), "month")
            .select("month", "n_rows", "n_files", "bytes", "min_time", "max_time")
            .orderBy("month")
        )

    def maintenance_plan(
        self,
        project: str,
        max_files_per_month: int = 8,
        retention_months: int | None = None,
        max_index_fragments: int = 64,
    ) -> list[dict]:
        """The auto-indexer's DECISION step (reference M5: the
        auto-indexer watches collection stats and schedules
        maintenance — here the policy is explicit and testable):
        derive a ranked action list from ``table_stats`` without
        touching data —

        - ``compact``        months whose small-file count exceeds
          ``max_files_per_month`` (streaming micro-batch debris),
        - ``expire``         months older than ``retention_months``
          behind each collection's newest month (TTL),
        - ``rollup_refresh`` published rollups whose cells are behind
          the base: months MISSING from the rollup, plus months whose
          base content CHANGED after their cells were computed —
          proven from the commit log (the recorded per-month
          snapshot version vs ``TxnTable.months_changed_since``;
          metadata only, exact); an un-attributable change
          (merge/erase, a month gone from base) plans a FULL rebuild
          (``months=None``),
        - ``index_refresh`` / ``index_compact`` registered derived
          indexes (BM25 / MinHash / IVF, see ``register_index``) that
          are stale vs their base table or fragmented beyond
          ``max_index_fragments``.

        Returns [{collection, action, months, reason}, ...] ordered
        expire → compact → rollup_refresh per collection (expiring
        first avoids compacting doomed partitions), then index
        actions (refresh before compact: refreshing appends new
        fragments);
        ``run_maintenance`` executes the same list under the
        per-collection writer lock."""
        plan: list[dict] = []
        for coll in self.collections_with_data(project):
            stats = self.table_stats(project, coll).collect()
            if not stats:
                continue
            months = sorted(r["month"] for r in stats)
            # months THIS plan will expire: their stale rollup cells
            # are cleared by the expire action's own full-rebuild
            # follow-up, so the staleness check below must not ALSO
            # demand a full rebuild for them
            expired_planned: set[str] = set()
            if retention_months is not None and len(months) > 1:
                # cutoff = retention_months behind the NEWEST month
                y, m = map(int, months[-1].split("-"))
                total = y * 12 + (m - 1) - retention_months
                cutoff = f"{total // 12:04d}-{total % 12 + 1:02d}"
                expired = [mm for mm in months if mm < cutoff]
                expired_planned.update(expired)
                if expired:
                    plan.append(
                        {
                            "collection": coll,
                            "action": "expire",
                            "months": expired,
                            "reason": f"older than {retention_months} months behind {months[-1]}",
                        }
                    )
                    months = [mm for mm in months if mm >= cutoff]
            fat = [
                r["month"]
                for r in stats
                if r["month"] in months and r["n_files"] > max_files_per_month
            ]
            if fat:
                plan.append(
                    {
                        "collection": coll,
                        "action": "compact",
                        "months": sorted(fat),
                        "reason": f"> {max_files_per_month} files per month partition",
                    }
                )
            bcols = self.bloom_cols(project, coll)
            if bcols:
                # bloom heal: live entries predating set_bloom_cols
                # lack point-lookup blooms — a metadata-only commit
                # backfills them (TxnTable.rebloom).  Planned after
                # compact so freshly rewritten files (which bloom at
                # write time) don't get double work; the executor's
                # rebloom re-snapshots anyway.
                from .txnlog import _BLOOM_FMT

                n_stale = sum(
                    1
                    for e in self.txn_table(project, coll).state().values()
                    if any(
                        (b := (e.get("blooms") or {}).get(c)) is None
                        or b.get("v") != _BLOOM_FMT
                        for c in bcols
                    )
                )
                if n_stale:
                    plan.append(
                        {
                            "collection": coll,
                            "action": "rebloom",
                            "months": None,
                            "reason": (
                                f"{n_stale} live files lack current-format "
                                f"blooms for {bcols}"
                            ),
                        }
                    )
            rmeta = self.rollup_meta(project, coll)
            if rmeta is not None:
                rolled = set()
                rdir = self._base_path(project, coll) + ".rollup"
                if os.path.isdir(rdir):
                    rolled = {
                        d.split("=", 1)[1]
                        for d in os.listdir(rdir)
                        if d.startswith("_month=")
                    }
                base_months = set(months)
                missing = sorted(base_months - rolled)
                # staleness BEYOND missing months: a month already in
                # the rollup whose BASE content changed after its
                # cells were computed (the common case — appends into
                # the current month): the recorded per-month snapshot
                # version against the commit log (metadata only,
                # exact).  A meta without versions (a rollup published
                # before this bookkeeping) checks missing months only.
                stale: list[str] = []
                full = False
                verified_to: int | None = None
                if rmeta.get("month_versions"):
                    mv = rmeta["month_versions"]
                    txn = self.txn_table(project, coll)
                    verified_to = txn.version()
                    changed, full = txn.months_changed_since(
                        max(0, min(mv.values(), default=0)), verified_to
                    )
                    # a recorded month whose base rows vanished
                    # entirely (expire outside run_maintenance) keeps
                    # stale cells a partial refresh can't clear —
                    # dynamic overwrite only touches months with rows
                    full = full or any(
                        m in rolled
                        and m not in base_months
                        and m not in expired_planned
                        for m in changed
                    )
                    stale = sorted(
                        m
                        for m, cv in changed.items()
                        if m in base_months
                        and m in rolled
                        and cv > mv.get(m, -1)
                    )
                if full:
                    plan.append(
                        {
                            "collection": coll,
                            "action": "rollup_refresh",
                            "months": None,
                            "reason": "un-attributable base change (merge/erase/"
                            "unpartitioned append, or a month left retention) "
                            "since the rollup's snapshot",
                        }
                    )
                elif missing or stale:
                    reasons = []
                    if missing:
                        reasons.append("base months absent from the published rollup")
                    if stale:
                        reasons.append("base content changed since the cells' snapshot")
                    item = {
                        "collection": coll,
                        "action": "rollup_refresh",
                        "months": sorted(set(missing) | set(stale)),
                        "reason": "; ".join(reasons),
                    }
                    if verified_to is not None:
                        # run_maintenance advances UNCHANGED months'
                        # recorded versions to this scan horizon, so
                        # the next plan's commit-log scan starts here
                        # — the scan stays bounded by commits between
                        # EXECUTED maintenance cycles
                        item["verified_to"] = verified_to
                    plan.append(item)
        plan.extend(self._index_plan(project, max_index_fragments))
        # materialized views behind their bases refresh like rollups:
        # staleness is a commit-log metadata read (matview.py), so the
        # planner never touches view or base data
        from .matview import MaterializedViewService

        mv = MaterializedViewService(self.spark, self)
        for name in mv.list(project):
            behind = {
                c: d for c, d in mv.staleness(project, name).items() if d > 0
            }
            if behind:
                plan.append(
                    {
                        "collection": f"materialized_{name}",
                        "action": "matview_refresh",
                        "view": name,
                        "months": [],
                        "reason": "base advanced: "
                        + ", ".join(
                            f"{c} +{d} commits" for c, d in sorted(behind.items())
                        ),
                    }
                )
            # cells-grain views accumulate one partial generation per
            # incremental refresh; past the threshold, compaction
            # merges them back to one cell per key (one atomic
            # replace).  fragmentation() is commit-log metadata only.
            grain = (
                mv._meta(project, name).get("consumption") or {}
            ).get("grain", "rows")
            if grain == "cells":
                frag = mv.fragmentation(project, name)
                if frag >= self.MATVIEW_COMPACT_FRAGMENTS:
                    plan.append(
                        {
                            "collection": f"materialized_{name}",
                            "action": "matview_compact",
                            "view": name,
                            "months": [],
                            "reason": f"{frag} partial-cell generations "
                            "since the last full materialization",
                        }
                    )
        return plan

    # --- derived-index maintenance (auto-indexer over the LLM indexes) --

    def register_index(
        self,
        project: str,
        name: str,
        kind: str,
        path: str,
        base_path: str,
        id_col: str = "doc_id",
    ) -> None:
        """Register a persisted derived index (BM25 inverted / MinHash
        dedup / IVF vector) with its base table so the maintenance
        cycle covers it — the auto-indexer registration step
        (reference M5 wires a listener per materialized view,
        rakam-postgresql/src/main/java/org/rakam/postgresql/PostgresqlModule.java:192-242;
        here the contract is persisted metastore config, and the
        planner polls staleness instead of listening)."""
        from .llm.index_maintenance import KINDS

        if kind not in KINDS:
            raise ValueError(f"unknown index kind {kind!r}; expected one of {KINDS}")
        indexes = self.metastore.get_config(project, "INDEXES") or {}
        indexes[name] = {
            "kind": kind,
            "path": path,
            "base_path": base_path,
            "id_col": id_col,
        }
        self.metastore.set_config(project, "INDEXES", indexes)

    def registered_indexes(self, project: str) -> dict[str, dict]:
        return dict(self.metastore.get_config(project, "INDEXES") or {})

    def _read_index_base(self, base_path: str) -> DataFrame:
        """Read a registered index's base table regardless of storage
        mode: a directory carrying a ``_txn`` log is read through the
        manifest (retired files and crash orphans must not count as
        'missing from the index'), anything else as plain parquet."""
        if os.path.isdir(os.path.join(base_path, "_txn")):
            from .txnlog import TxnTable

            return TxnTable(self.spark, base_path).read()
        return self.spark.read.parquet(base_path)

    def _index_plan(self, project: str, max_fragments: int) -> list[dict]:
        """Index actions for ``maintenance_plan``: ``index_refresh``
        when base ids are missing from the index (appends landed since
        the last index write — VERDICT r6 #4's ``search_index_refresh``
        generalized over the three kinds), ``index_compact`` when the
        append-grown component's parquet fragment count exceeds
        ``max_fragments`` (per-append postings/bands/cell debris).
        Staleness is one doc-grain anti-join count; fragmentation is
        directory metadata — no postings/band data is read to plan."""
        from .llm import index_maintenance as im

        plan: list[dict] = []
        for name, meta in sorted(self.registered_indexes(project).items()):
            if not os.path.isdir(meta["path"]):
                continue
            base = self._read_index_base(meta["base_path"])
            n_missing = im.missing_ids(
                self.spark, meta["kind"], meta["path"], base, meta["id_col"]
            ).count()
            if n_missing:
                plan.append(
                    {
                        "collection": name,
                        "action": "index_refresh",
                        "months": [],
                        "reason": f"{n_missing} base ids not in the {meta['kind']} index",
                    }
                )
            frags = im.fragment_count(meta["kind"], meta["path"])
            if frags > max_fragments:
                plan.append(
                    {
                        "collection": name,
                        "action": "index_compact",
                        "months": [],
                        "reason": f"{frags} parquet fragments > {max_fragments}",
                    }
                )
        return plan

    def run_maintenance(self, project: str, plan: list[dict] | None = None, **plan_kwargs) -> list[dict]:
        """Execute a maintenance plan (default: compute one now).
        Each action runs under the collection's writer lock; returns
        the plan annotated with an ``outcome`` per action."""
        plan = self.maintenance_plan(project, **plan_kwargs) if plan is None else plan
        for item in plan:
            coll = item["collection"]
            if item["action"] == "expire":
                # expire_months takes an exclusive upper bound
                bound = max(item["months"])
                y, m = map(int, bound.split("-"))
                nxt = y * 12 + m  # first month AFTER the expired set
                before = f"{nxt // 12:04d}-{nxt % 12 + 1:02d}"
                dropped = self.expire_months(project, coll, before)
                meta = self.rollup_meta(project, coll)
                if dropped and meta is not None:
                    # full rebuild clears the dropped months' stale
                    # rollup cells (expire_months' documented follow-up)
                    self.publish_rollup(
                        project,
                        coll,
                        dims=tuple(meta["dims"]),
                        measures=dict(meta["measures"]),
                        months=None,
                    )
                item["outcome"] = f"dropped {len(dropped)} months"
            elif item["action"] == "compact":
                n_files = self.compact(project, coll)
                item["outcome"] = f"{n_files} files after compaction"
            elif item["action"] == "rebloom":
                with self.maintenance_lock(project, coll):
                    n = self.txn_table(project, coll).rebloom()
                item["outcome"] = f"{n} entries rebloomed"
            elif item["action"] == "rollup_refresh":
                meta = self.rollup_meta(project, coll)
                n = self.publish_rollup(
                    project,
                    coll,
                    dims=tuple(meta["dims"]),
                    measures=dict(meta["measures"]),
                    months=item["months"],
                )
                vt = item.get("verified_to")
                if vt is not None and item["months"] is not None:
                    # the planner's commit-log scan proved every
                    # non-flagged month unchanged through version
                    # ``vt`` — advance their recorded versions so the
                    # NEXT plan's scan starts at vt instead of
                    # re-reading the same commits (keeps the scan
                    # bounded by commits between executed cycles)
                    with self.maintenance_lock(project, coll):
                        meta = self.rollup_meta(project, coll)
                        mv = dict(meta.get("month_versions") or {})
                        refreshed = set(item["months"])
                        bumped = {
                            m: (v if m in refreshed else max(v, vt))
                            for m, v in mv.items()
                        }
                        if bumped != mv:
                            meta["month_versions"] = bumped
                            self._write_rollup_meta(project, coll, meta)
                item["outcome"] = f"{n} rollup rows"
            elif item["action"] in ("index_refresh", "index_compact"):
                from .llm import index_maintenance as im

                imeta = self.registered_indexes(project)[coll]
                # the index's own advisory writer lock: index
                # maintenance serializes with concurrent appends the
                # same way table maintenance serializes per collection
                with _MaintenanceLock(imeta["path"].rstrip("/") + ".lock"):
                    if item["action"] == "index_refresh":
                        base = self._read_index_base(imeta["base_path"])
                        n = im.refresh(
                            self.spark, imeta["kind"], imeta["path"], base, imeta["id_col"]
                        )
                        item["outcome"] = f"{n} ids appended to the {imeta['kind']} index"
                    else:
                        frags = im.compact(self.spark, imeta["kind"], imeta["path"])
                        item["outcome"] = f"{frags} fragments after compaction"
            elif item["action"] == "matview_refresh":
                from .matview import MaterializedViewService

                res = MaterializedViewService(self.spark, self).refresh(
                    project, item["view"]
                )
                item["outcome"] = f"refreshed ({res['mode']})"
            elif item["action"] == "matview_compact":
                from .matview import MaterializedViewService

                MaterializedViewService(self.spark, self).compact(
                    project, item["view"]
                )
                item["outcome"] = "partial cells compacted (atomic replace)"
        return plan

    def expire_months(self, project: str, collection: str, before_month: str) -> list[str]:
        """Retention/TTL enforcement: drop every month partition
        strictly older than ``before_month`` ("YYYY-MM") — one
        metadata-only commit per month, no data rewrite, O(months) not
        O(rows); the reason the table is month-partitioned in the
        first place.  Returns the dropped month keys.  Callers that
        maintain a rollup should follow with a full
        ``publish_rollup(months=None)`` (see its staleness note)."""
        txn = self.stored_table(project, collection)
        if txn is None:
            return []
        months = sorted(
            {(e.get("partition") or {}).get("_month") for e in txn.state().values()}
            - {None}
        )
        dropped = [m for m in months if m < before_month]
        for m in dropped:
            # metadata-only commit; files reclaimed on vacuum
            txn.remove_partition("_month", m)
        if dropped:
            # same age guard as compact: a concurrent append's
            # published-but-uncommitted files must not be reaped
            txn.vacuum(retain_versions=1, min_age_seconds=300)
        return dropped

    def erase_user(
        self, project: str, user_col: str, user_id, collections: list[str] | None = None
    ) -> dict[str, int]:
        """Right-to-be-forgotten: rewrite every collection WITHOUT
        the user's rows in one commit per collection, like
        ``compact`` (the old snapshot stays live until the commit
        lands; a crash never leaves a missing table).

        DERIVED tables are refreshed too: the ``.bucketed`` analytics
        copy (full row-level copies of the user's data) is
        re-published from the rewritten base using its recorded
        publish contract, and the ``.rollup`` cells (which embed the
        user's contributions in their aggregates) are fully rebuilt
        from their ``_rollup_meta.json`` contract — without this the
        user is NOT actually erased from the warehouse.

        Returns {collection: rows_removed}.  Collections lacking
        ``user_col`` are skipped.  At 100 TB the rewrite cost is the
        erasure-batch amortization problem every lakehouse has;
        bucketing by user would confine it to the user's buckets, and
        deletion vectors would make it metadata-only."""
        removed: dict[str, int] = {}
        for coll in collections or self.collections_with_data(project):
            with self.maintenance_lock(project, coll):
                n = self._erase_one(project, coll, user_col, user_id)
            if n is not None:
                removed[coll] = n
        return removed

    def _erase_one(self, project: str, coll: str, user_col: str, user_id) -> int | None:
        """One collection's erase (caller holds the maintenance lock):
        write the kept rows via staging, then ONE commit adds them and
        retires exactly the snapshot they were read from — a
        concurrent append conflicts neither way, its files are not in
        the remove set and stay live.  None = skipped (no data or no
        user column)."""
        txn = self.stored_table(project, coll)
        snapshot = txn.live_files() if txn is not None else []
        if not snapshot:
            return None
        df = txn.read(files=snapshot)
        if user_col not in df.columns:
            return None
        keep = df.where(
            F.col(user_col).isNull() | (F.col(user_col) != F.lit(user_id))
        )
        n_before = df.count()
        part_col = self._txn_partition_col(txn)
        tag = uuid.uuid4().hex[:12]
        writer = keep.write.mode("overwrite")
        if part_col:
            writer = writer.partitionBy(part_col)
        writer.parquet(os.path.join(txn.path, "_staging", tag))
        add = txn._publish_staging(tag)
        txn.commit(add=add, remove=snapshot, op="erase")
        # retain_versions=0 is DELIBERATE here (compact/expire retain
        # 1): erasure's contract is prompt physical removal of the
        # user's rows — keeping the pre-erase snapshot readable would
        # defeat the point.  An in-flight reader racing an erasure can
        # fail and must re-resolve; that is the price of the right to
        # be forgotten, not a retention bug.  Retired files delete
        # promptly (min_age 0) while ORPHANS keep the age guard: a
        # concurrent append's published-but-uncommitted files must
        # survive this vacuum too.
        txn.vacuum(retain_versions=0, orphan_min_age_seconds=300)
        n_removed = n_before - sum(e["rows"] or 0 for e in add)
        if n_removed:
            self._refresh_derived(project, coll)
        return n_removed

    def _refresh_derived(self, project: str, collection: str) -> None:
        """Rebuild the derived ``.bucketed`` and ``.rollup`` tables of
        a collection from its (just-rewritten) base — the maintenance
        follow-up erase_user owes: both artifacts carry the user's
        data (row copies / aggregate contributions) and would
        otherwise survive the base rewrite."""
        rmeta = self.rollup_meta(project, collection)
        if rmeta is not None:
            self.publish_rollup(
                project,
                collection,
                dims=tuple(rmeta["dims"]),
                measures=dict(rmeta["measures"]),
                months=None,  # full rebuild: every cell may change
            )
        bmeta = self.metastore.get_config(project, f"BUCKETED_{collection}")
        if bmeta is not None and os.path.isdir(
            self._base_path(project, collection) + ".bucketed"
        ):
            self.publish_bucketed(
                project,
                collection,
                key=bmeta["key"],
                n_buckets=int(bmeta["n_buckets"]),
                table_name=bmeta["table_name"],
            )

    def publish_bucketed(
        self,
        project: str,
        collection: str,
        key: str = "_user",
        n_buckets: int = 64,
        table_name: str | None = None,
    ) -> str:
        """Republish a collection as a user-bucketed analytics table
        (bucketing.write_bucketed): the maintenance companion to
        ``compact`` — ingest keeps appending to the month-partitioned
        layout, and a periodic publish gives every user-keyed
        operator (sessionization, funnel, retention, profile
        snapshot) an Exchange-free scan.  Returns the catalog table
        name to query via ``spark.table``."""
        from .bucketing import write_bucketed

        with self.maintenance_lock(project, collection):
            df = self.read(project, collection)
            sort_cols = (key, "_time") if "_time" in df.columns else (key,)
            name = table_name or f"{_safe(project)}_{_safe(collection)}_by_user".replace(".", "_")
            write_bucketed(
                df,
                name,
                self._base_path(project, collection) + ".bucketed",
                key=key,
                sort_cols=sort_cols,
                n_buckets=n_buckets,
            )
            # record the publish contract so maintenance ops
            # (erase_user) can REFRESH this derived table rather than
            # silently leaving full row copies of erased users behind
            self.metastore.set_config(
                project,
                f"BUCKETED_{collection}",
                {"key": key, "n_buckets": n_buckets, "table_name": name},
            )
            return name

    def publish_rollup(
        self,
        project: str,
        collection: str,
        dims: tuple[str, ...] = ("event_type",),
        measures: dict[str, str] | None = None,
        months: list[str] | None = None,
    ) -> int:
        """Maintain a day-grain pre-aggregated rollup table beside a
        collection — the continuous-query / materialized-rollup
        pattern: segmentation-style reports read the rollup instead
        of re-scanning raw events.

        INCREMENTAL by month partition: ingest appends only to the
        current month, so ``publish_rollup(months=[...])`` recomputes
        and overwrites JUST those month partitions (dynamic partition
        overwrite — untouched months' files stay byte-identical).
        With ``months=None`` the full table is (re)built.  Returns
        the number of rollup rows written.

        ``measures`` maps output column → aggregation SQL over the
        raw rows (defaults to event count + value sum in exact
        decimal).  At 100 TB each month refresh is one partial-
        aggregated shuffle over that month's partition only — the
        read prunes on the ``_month`` partition column.

        Runs under the per-collection maintenance lock (single-writer:
        a concurrent double-publish could interleave the full-rebuild
        delete with another writer's partition files).

        Freshness bookkeeping: ``_rollup_meta.json`` records, per
        refreshed month, the txn snapshot version (pinned BEFORE the
        read, so concurrent unlocked appends can't be silently
        included-but-unrecorded).
        ``maintenance_plan`` compares these against the current base
        to flag months whose cells are behind — see its docstring.
        """
        measures = measures or DEFAULT_ROLLUP_MEASURES
        with self.maintenance_lock(project, collection):
            # pin the snapshot version BEFORE reading: appends don't
            # take the maintenance lock, so read() at "now" could see
            # rows newer than the version we record — masking their
            # months from the staleness planner
            txn = self.stored_table(project, collection)
            as_of = txn.version() if txn is not None else 0
            if txn is None or not txn.live_files(version=as_of):
                raise FileNotFoundError(
                    f"no data to roll up: {project}.{collection}"
                )
            raw = txn.read(version=as_of)
            if months is not None:
                raw = raw.where(F.col("_month").isin(list(months)))
            day = F.col("_time").cast("date").alias("_day")
            aggs = [F.expr(sql).alias(name) for name, sql in measures.items()]
            rollup = raw.groupBy(
                F.col("_month"), day, *[F.col(d) for d in dims]
            ).agg(*aggs)
            out = self._base_path(project, collection) + ".rollup"
            if months is None:
                # full rebuild: drop the whole table first so month
                # partitions that vanished from raw (retention delete,
                # compaction pruning) don't linger stale — dynamic
                # overwrite only touches partitions present in the new
                # aggregate
                shutil.rmtree(out, ignore_errors=True)
            # per-write option (not a session-conf flip, which would
            # race with concurrent jobs on the same SparkSession):
            # overwrite ONLY the month partitions present in this
            # refresh — other months' files are untouched
            meta = {"dims": list(dims), "measures": dict(measures)}
            existing = self.rollup_meta(project, collection)
            if (
                months is not None
                and existing is not None
                and {k: existing.get(k) for k in ("dims", "measures")} != meta
            ):
                # a partial (per-month) refresh under a different
                # dim/measure contract would leave a frankentable —
                # require a full rebuild to change the contract
                raise ValueError(
                    "rollup dims/measures differ from the published contract; "
                    "run a full rebuild (months=None) to change them"
                )
            # rows written, counted DURING the write (no re-read)
            obs = Observation()
            (
                rollup.observe(obs, F.count(F.lit(1)).alias("n"))
                .write.partitionBy("_month")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(out)
            )
            # per-month freshness bookkeeping for maintenance_plan's
            # staleness check: the txn version each month's cells were
            # computed at.  Months this call did NOT touch keep
            # their previous record; an untouched month with no
            # record (pre-feature rollup) gets the stale sentinel so
            # the next maintenance cycle refreshes it once and
            # converges.
            rolled = sorted(
                d.split("=", 1)[1]
                for d in os.listdir(out)
                if d.startswith("_month=")
            )
            refreshed = set(rolled) if months is None else set(months)
            prev = (existing or {}).get("month_versions") or {}
            meta["month_versions"] = {
                m: (as_of if m in refreshed else prev.get(m, -1)) for m in rolled
            }
            self._write_rollup_meta(project, collection, meta)
            return int(obs.get["n"])

    def _write_rollup_meta(self, project: str, collection: str, meta: dict) -> None:
        out = self._base_path(project, collection) + ".rollup"
        with open(os.path.join(out, "_rollup_meta.json"), "w") as f:
            json.dump(meta, f)

    def rollup_meta(self, project: str, collection: str) -> dict | None:
        """The published rollup's dim/measure contract, or None if no
        rollup (or a pre-metadata rollup) exists."""
        p = os.path.join(self._base_path(project, collection) + ".rollup", "_rollup_meta.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read_rollup(self, project: str, collection: str) -> DataFrame:
        return self.spark.read.option("mergeSchema", "true").parquet(
            self._base_path(project, collection) + ".rollup"
        )

    def route_report(
        self,
        project: str,
        collection: str,
        dims: tuple[str, ...],
        measures: dict[str, str],
        grain: str = "day",
        months: list[str] | None = None,
    ) -> RoutedReport:
        """Segmentation-report ROUTER — the continuous-query answer
        path: serve the report from the maintained day-grain rollup
        whenever it is algebraically derivable (requested dims ⊆
        published dims, every measure a mergeable COUNT/SUM/MIN/MAX
        that the rollup published), else fall back to a raw scan.

        At 100 TB the routed plan reads |dims|×|days| pre-aggregated
        cells (plus ``_month`` partition pruning for time ranges)
        instead of the event-grain table — the reference's
        pre-aggregation promise (SURVEY.md M5) made into an automatic
        query-path decision.  ``grain`` ∈ day | month | total.

        Caveat (documented contract, same as any cell-merging OLAP
        rollup): double-typed SUM cells re-sum in float, so a rollup-
        routed float sum can differ in last-ulp from a raw scan;
        count/min/max and decimal-sourced measures merge exactly.
        """
        if grain not in ("day", "month", "total"):
            raise ValueError(f"grain must be day|month|total, got {grain!r}")
        meta = self.rollup_meta(project, collection)
        reaggs = {name: _reagg_fn(sql) for name, sql in measures.items()}
        derivable = (
            meta is not None
            and set(dims) <= set(meta["dims"])
            and all(
                fn is not None and meta["measures"].get(name) == measures[name]
                for name, fn in reaggs.items()
            )
        )
        grain_cols = {"day": ["_month", "_day"], "month": ["_month"], "total": []}[grain]
        if derivable:
            cells = self.read_rollup(project, collection)
            if months is not None:
                cells = cells.where(F.col("_month").isin(list(months)))
            out = cells.groupBy(*grain_cols, *dims).agg(
                *[
                    F.expr(f"{fn}(`{name}`)").alias(name)
                    for name, fn in reaggs.items()
                ]
            )
            return RoutedReport(out, "rollup", "dims and measures derivable from cells")
        raw = self.read(project, collection).withColumn(
            "_month", F.date_format(F.col("_time"), "yyyy-MM")
        )
        if months is not None:
            raw = raw.where(F.col("_month").isin(list(months)))
        raw = raw.withColumn("_day", F.col("_time").cast("date"))
        out = raw.groupBy(*grain_cols, *dims).agg(
            *[F.expr(sql).alias(name) for name, sql in measures.items()]
        )
        why = "no rollup published" if meta is None else "measure/dim not derivable from cells"
        return RoutedReport(out, "raw", why)

    # --- read -----------------------------------------------------------

    def read(
        self,
        project: str,
        collection: str,
        version: int | None = None,
        equals: dict | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Read a collection under its current (widest) registered
        schema; files written before an ADD COLUMN read NULL for the
        new columns.  ``version`` time-travels to that commit-log
        snapshot (the same resolution the query service's ``as_of``
        and the versioned manifest export use); ``timestamp`` to the
        version current at that wall-clock instant.

        ``equals`` (column → exact value) is the POINT-LOOKUP path:
        the manifest's per-file blooms (see :meth:`set_bloom_cols`)
        and min/max stats prune
        the file list before Spark opens anything — the returned
        frame is a SUPERSET of matching rows (bloom false positives
        keep whole files), so callers still apply the row filter,
        exactly as with Iceberg/Delta data skipping."""
        schema = self.metastore.get_collection(project, collection)
        if timestamp is not None:
            # TIMESTAMP AS OF: resolve to the commit-log version
            # current at that wall-clock instant (O(log commits))
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.txn_table(project, collection).version_at(timestamp)
        # a version is checked against the log even for a collection
        # that was never written (out-of-range versions raise a
        # descriptive ValueError inside live_files' state() call)
        txn = (
            self.txn_table(project, collection)
            if version is not None or equals is not None
            else self.stored_table(project, collection)
        )
        files = txn.live_files(version=version, equals=equals) if txn is not None else []
        df = txn.read(files=files) if files else None
        if df is None:
            # never written, or no live files: empty frame under the
            # registered schema
            if schema is None:
                raise FileNotFoundError(f"no such collection: {project}.{collection}")
            return self.spark.createDataFrame([], schema)
        if schema is not None:
            # project onto registered schema/order; pad missing columns
            cols = []
            have = {f.name for f in df.schema.fields}
            for fld in schema.fields:
                if fld.name in have:
                    cols.append(F.col(f"`{fld.name}`").cast(fld.dataType).alias(fld.name))
                else:
                    cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
            df = df.select(*cols)
        return df

    def read_dead_letter(self, project: str) -> DataFrame:
        path = self._base_path(project, INVALID_COLLECTION)
        if not os.path.exists(path):
            from .ingest.coerce import DEAD_LETTER_SCHEMA

            return self.spark.createDataFrame([], DEAD_LETTER_SCHEMA)
        return self.spark.read.parquet(path)

    def collections_with_data(self, project: str) -> list[str]:
        base = os.path.join(self.warehouse, _safe(project))
        if not os.path.exists(base):
            return []
        names = {
            # txn dirs (and unmigrated legacy dirs, so that using them
            # raises) map to their collection
            re.sub(r"\.(v\d+|txn)$", "", d)
            for d in os.listdir(base)
            # derived maintenance artifacts and lock files are NOT
            # collections (and must never be rewritten as if they were)
            if not d.startswith("_")
            and not d.endswith((".bucketed", ".rollup", ".lock"))
        }
        return sorted(names)
