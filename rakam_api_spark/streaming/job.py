"""Streaming ingest job: readStream → foreachBatch{ parse; dedup;
dynamic-schema ingest; dead-letter; push subscriptions } → parquet
collections.

Reference mapping (SURVEY.md §3.2 "Spark shape"): the gateway feeds
a bus (Kinesis/Kafka); here any Structured Streaming source works —
tests use the file source and a Kafka-shaped static frame;
production calls ``start_kafka_stream`` (same foreachBatch body, the
source frame is projected to the shared envelope ``value`` column).
Envelope format = the reference's EventList items: one JSON object
per line ``{"collection": …, "properties": {…}, "api": {"uuid": …}}``
(EventListDeserializer.java:42-186; EventContext.uuid documented
"for deduplication", Event.java:154).

Semantics:
- delivery is at-least-once from the source (the reference offers
  at-least-once with ×3 retries, AWSKinesisEventStore.java:144);
  replayed epochs are skipped via a per-epoch commit marker written
  after all collection appends succeed, so a restart that replays a
  fully-committed epoch is a no-op.  A crash *inside* an epoch
  re-processes it (at-least-once); uuid dedup then drops rows whose
  uuids were recorded by earlier *completed* epochs — current-epoch
  uuids are excluded from the anti-join so a mid-epoch retry never
  cannibalizes its own batch.  Commit markers are namespaced by a
  random token stored INSIDE the checkpoint directory: deleting the
  checkpoint to reprocess (a standard Spark operation that restarts
  epoch ids at 0) mints a fresh token, so stale markers can never
  silently skip replayed batches; orphaned namespaces and old
  markers are garbage-collected.
- uuid dedup *implemented for real* (the reference transports the
  uuid but never enforces it): batch-local dropDuplicates on rows
  that HAVE a uuid (uuid-less rows pass through untouched — a null
  uuid must not collapse distinct events), then a left-anti join
  against a persisted recent-uuid set that is genuinely bounded:
  reads filter to ``epoch >= current − dedup_window``, and every
  ``seen_compact_every`` epochs the set is rewritten dropping
  expired epochs (versioned directory + CURRENT pointer via the
  statestore seam).  No broadcast hint — the windowed set is usually
  small and AQE will broadcast it when it is, but a wide window must
  not be forced driver-side.
- parsing is pure column expressions and schema inference is
  JVM-side: the envelope has a fixed schema (``from_json``); per-
  collection property schemas come from ONE distributed aggregation
  — ``schema_of_variant_agg(try_parse_json(props_json))`` grouped
  by collection — so the driver receives one DDL string per
  collection and zero data rows (the reference resolves schema
  stream-side per event, JsonEventDeserializer.java:345-488).  The
  full-batch parse is one ``from_json`` projection; no rdd
  round-trips anywhere in the batch plan.
- late data: accepted unconditionally into its month partition,
  like the reference's on-demand partitions
  (PostgresqlEventStore.java:103-170).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import EventCollector
from ..statestore import DEFAULT_STATE_STORE, LocalFSStateStore
from .subscriptions import SubscriptionRegistry

# EventContext fields carried by the reference envelope
# (EventListDeserializer.java:42-186).
ENVELOPE_DDL = (
    "collection STRING, api STRUCT<uuid: STRING, api_key: STRING, "
    "library: STRUCT<name: STRING, version: STRING>, api_version: STRING, "
    "upload_time: BIGINT, checksum: STRING>"
)

COMMIT_NS_FILE = "RAKAM_COMMIT_NS"

# seen-uuid state: fixed schemas, so reads never infer from footers
_SEEN_DDL = "uuid STRING, epoch BIGINT, shard INT"
_PRE_SHARD_SEEN_DDL = "uuid STRING, epoch BIGINT"


def _epoch_partitions(spark: SparkSession, nbytes: int) -> int:
    """Partitions for an epoch of ``nbytes`` payload bytes, split the
    way Spark splits a file scan (``FilePartition.maxSplitBytes``):
    ``min(maxPartitionBytes, max(openCostInBytes, bytes / cores))``.
    An epoch under ``openCostInBytes`` (4 MB by default) is ONE
    partition, so each collection write lands one file per month
    instead of one per source/shuffle partition; an epoch over
    ``openCostInBytes`` × cores keeps a partition per core."""
    conf = spark._jsparkSession.sessionState().conf()
    split = min(
        conf.filesMaxPartitionBytes(),
        max(conf.filesOpenCostInBytes(), nbytes // spark.sparkContext.defaultParallelism),
    )
    return max(1, math.ceil(nbytes / split))


def parse_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Envelope lines → (collection, api struct, props_json string).

    Pure column expressions: ``from_json`` for the fixed envelope
    fields, ``get_json_object`` to carve out the free-form
    ``properties`` object as a raw JSON string (its schema is
    per-collection and resolved later).  Works on the file source
    (string ``value``) and the Kafka source (binary ``value`` — the
    cast handles both)."""
    v = F.col(value_col).cast("string")
    return df.select(
        F.from_json(v, ENVELOPE_DDL).alias("env"),
        F.get_json_object(v, "$.properties").alias("props_json"),
    ).select(
        F.col("env.collection").alias("collection"),
        F.col("env.api").alias("api"),
        "props_json",
    )


def kafka_envelope_frame(df: DataFrame) -> DataFrame:
    """Project a Kafka source frame (key/value binary, topic,
    partition, offset, …) onto the shared envelope contract: one
    string column ``value``.  The same ``process_batch`` then serves
    both buses (reference KafkaEventStore.java:82-108 publishes the
    same serialized event envelope)."""
    return df.select(F.col("value").cast("string").alias("value"))


def to_kafka_envelopes(
    events: list[dict], project: str, salt_buckets: int = 32
) -> list[tuple[str, str]]:
    """Gateway-side producer helper: event dicts → (key, value)
    pairs for a Kafka/Kinesis sink.  Key = ``project|collection|salt``
    — the reference's hot-shard-avoiding partition key
    (AWSKinesisEventStore.java:148-169 uses project|collection +
    random suffix; the salt here is a crc32 of the payload — a
    *stable* digest, not Python ``hash()`` whose PYTHONHASHSEED
    randomization would break shard affinity across gateway process
    restarts — so retries land on the same shard)."""
    out = []
    for e in events:
        value = json.dumps(e)
        salt = zlib.crc32(value.encode("utf-8")) % salt_buckets
        out.append((f"{project}|{e.get('collection', '')}|{salt}", value))
    return out


def variant_struct_ddl(vddl: str | None) -> str | None:
    """``schema_of_variant_agg`` DDL → ``from_json``-compatible
    struct DDL, preserving ``schema_of_json``'s inference dialect:
    ``OBJECT<…>`` → ``STRUCT<…>``; ``DECIMAL(p,s)`` → ``DOUBLE``
    (JSON decimals, prefersDecimal off); ``VARIANT`` (mixed-type
    field) and ``VOID`` (all-null field) → ``STRING``.  The walk is
    position-aware — replacements apply only in type position, so a
    field *named* ``VOID`` or ``DECIMAL`` is untouched (variant DDL
    backtick-quotes only names with special characters).

    Returns None when the merged schema isn't an object (non-object
    payloads, or an all-null/unparseable sample)."""
    if not vddl or not vddl.startswith("OBJECT<"):
        return None
    out: list[str] = []
    n = len(vddl)
    pos = 0

    def parse_type() -> None:
        nonlocal pos
        for kw, sub in (("OBJECT<", "STRUCT<"), ("ARRAY<", "ARRAY<"), ("MAP<", "MAP<")):
            if vddl.startswith(kw, pos):
                out.append(sub)
                pos += len(kw)
                if kw == "OBJECT<":
                    parse_fields()
                else:
                    parse_type()
                    if kw == "MAP<":
                        assert vddl[pos] == ","
                        out.append(", ")
                        pos += 1
                        while vddl[pos] == " ":
                            pos += 1
                        parse_type()
                assert vddl[pos] == ">"
                out.append(">")
                pos += 1
                return
        # primitive token: runs to the next , or > outside parens
        # (DECIMAL(26,0) carries a comma inside its parens)
        j = pos
        depth = 0
        while j < n:
            c = vddl[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c in ",>" and depth == 0:
                break
            j += 1
        tok = vddl[pos:j].strip()
        pos = j
        if tok.startswith("DECIMAL"):
            tok = "DOUBLE"
        elif tok in ("VOID", "VARIANT"):
            tok = "STRING"
        out.append(tok)

    def parse_fields() -> None:
        nonlocal pos
        first = True
        while pos < n and vddl[pos] != ">":
            if not first:
                assert vddl[pos] == ","
                out.append(", ")
                pos += 1
                while vddl[pos] == " ":
                    pos += 1
            first = False
            if vddl[pos] == "`":  # backtick-quoted name, `` escapes
                j = pos + 1
                while True:
                    j = vddl.index("`", j)
                    if j + 1 < n and vddl[j + 1] == "`":
                        j += 2
                    else:
                        break
                out.append(vddl[pos : j + 1])
                pos = j + 1
            else:
                j = vddl.index(":", pos)
                out.append(vddl[pos:j])
                pos = j
            assert vddl[pos] == ":"
            out.append(": ")
            pos += 1
            while vddl[pos] == " ":
                pos += 1
            parse_type()

    parse_type()
    ddl = "".join(out)
    return None if ddl == "STRUCT<>" else ddl


def _json_object_rows(rows: DataFrame) -> DataFrame:
    """Rows whose props_json plausibly holds a JSON object (the only
    shape the properties contract allows)."""
    return rows.where(
        F.col("props_json").isNotNull()
        & F.startswith(F.ltrim(F.col("props_json")), F.lit("{"))
    )


class StreamingIngest:
    def __init__(
        self,
        collector: EventCollector,
        project: str,
        registry: SubscriptionRegistry | None = None,
        dedup_uuids: bool = True,
        dedup_window_batches: int = 100,
        seen_compact_every: int = 10,
        push_row_cap: int = 10_000,
        marker_retention_epochs: int = 1_000,
        state_store: LocalFSStateStore | None = None,
        ingest_parallelism: int = 8,
        seen_shards: int = 16,
        rollup_specs: dict[str, dict] | None = None,
        maintenance_every: int = 0,
        maintenance_kwargs: dict | None = None,
    ):
        self.collector = collector
        self.project = project
        self.registry = registry or SubscriptionRegistry()
        self.dedup_uuids = dedup_uuids
        self.dedup_window = dedup_window_batches
        self.seen_compact_every = seen_compact_every
        self.push_row_cap = push_row_cap
        self.marker_retention = marker_retention_epochs
        # collections within an epoch ingest concurrently (thread pool
        # submitting independent Spark jobs): epoch wall-time tracks
        # the largest collection, not the sum over hundreds of live
        # collections.  1 = sequential.
        self.ingest_parallelism = max(1, ingest_parallelism)
        # seen-uuid state is hash-sharded on uuid: compaction rewrites
        # run one task per shard (never a single-partition funnel) and
        # the dedup anti-join carries the shard in its key.  At 100
        # TB/day the window can hold billions of uuids — a
        # repartition(1) rewrite would bottleneck on one task.
        self.seen_shards = max(1, seen_shards)
        # continuous-query maintenance: collection → {"dims": tuple,
        # "measures": dict|None}.  After a collection ingests, the
        # month partitions its batch touched are re-published into the
        # day-grain rollup (store.publish_rollup months=[...]) so
        # route_report answers from fresh cells one epoch behind at
        # most.  Replays are safe: committed epochs no-op, and a
        # half-finished epoch's refresh recomputes from raw on retry.
        self.rollup_specs = rollup_specs or {}
        # auto-indexer cycle wired to the stream (reference M5 reacts
        # to data-change events,
        # rakam-postgresql/src/main/java/org/rakam/postgresql/PostgresqlModule.java:192-242;
        # here the trigger is the epoch clock): every
        # ``maintenance_every`` committed epochs, the FULL
        # maintenance plan (expire/compact/rollup_refresh plus the
        # registered derived indexes) runs against the project, so
        # micro-batch small-file debris stays bounded without any
        # manual compaction call.  0 disables.  Runs AFTER the commit
        # marker (maintenance never forces a batch replay), is gated
        # by the per-collection/per-index writer locks, and a cycle
        # skipped because another process holds a lock simply retries
        # at the next trigger epoch.
        self.maintenance_every = max(0, maintenance_every)
        self.maintenance_kwargs = dict(maintenance_kwargs or {})
        self.last_maintenance: list[dict] | None = None
        self.state = state_store or DEFAULT_STATE_STORE
        self.spark = collector.spark
        base = os.path.join(collector.metastore.warehouse_dir, project)
        self._seen_base = os.path.join(base, "_seen_uuids")
        self._commit_base = os.path.join(base, "_stream_commits")
        # set when wired to a checkpointed stream: epoch ids are only
        # meaningful per checkpoint, so commit markers are namespaced
        # by a token minted inside the checkpoint dir; ad-hoc
        # process_batch calls skip marker logic
        self._commit_ns: str | None = None

    # --- core micro-batch handler --------------------------------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body.  ``batch_df`` has one column ``value``
        (string or binary) holding an event-envelope JSON line."""
        if self._is_committed(epoch_id):
            return  # replay of a fully-committed epoch: no-op
        spark = batch_df.sparkSession
        # persist the parsed envelope BEFORE the dedup split: _dedup
        # unions two filter branches of this frame, which would
        # otherwise scan (re-fetch from the bus) the source twice per
        # micro-batch
        raw = parse_envelope(batch_df).where(F.col("collection").isNotNull()).persist()
        parsed = raw
        try:
            # the epoch's first action: ONE aggregate fills the envelope
            # cache and sizes everything after it
            stats = raw.agg(
                F.count(F.lit(1)).alias("rows"),
                F.count("api.uuid").alias("uuid_rows"),
                F.coalesce(F.sum(F.octet_length("props_json")), F.lit(0)).alias("bytes"),
            ).first()
            if self.dedup_uuids:
                parsed = self._dedup(raw, epoch_id)
            # one cached pass feeds the schema probe, every per-collection
            # ingest, and the post-ingest seen-uuid append
            parsed = parsed.coalesce(_epoch_partitions(spark, stats["bytes"])).persist()
            # ONE distributed job resolves every collection's property
            # schema: variant-parse each object JVM-side and merge
            # per-collection with schema_of_variant_agg.  The driver
            # gets one (collection, ddl) row per collection — schema
            # metadata only, never data rows.  An empty epoch skips it.
            schema_rows = (
                _json_object_rows(parsed)
                .groupBy("collection")
                .agg(
                    F.schema_of_variant_agg(F.try_parse_json("props_json")).alias("vddl")
                )
                .collect()
                if stats["rows"]
                else []
            )
            push = bool(self.registry.subs)

            def ingest_one(coll: str, inner: str) -> None:
                rows = parsed.where(F.col("collection") == coll)
                props = rows.select(F.from_json("props_json", inner).alias("p")).select("p.*")
                report = self.collector._ingest_df(
                    self.project,
                    coll,
                    props,
                    retain_valid=push,
                    # touched months ride the write-pass Observation —
                    # rollup maintenance never re-executes the batch
                    # lineage for a distinct() pass
                    observe_months=coll in self.rollup_specs,
                    # txn collections: per-(stream, collection) Delta-
                    # style transaction identifier — a mid-epoch crash
                    # replay re-runs the epoch, but collections whose
                    # append ALREADY landed skip (exactly-once rows,
                    # closing the partial-epoch double-append window
                    # the epoch marker alone can't).  Namespaced by the
                    # checkpoint token, so a fresh checkpoint (epoch
                    # ids restart) never collides.
                    txn_app=(
                        f"stream:{self._commit_ns}:{coll}" if self._commit_ns else None
                    ),
                    txn_version=epoch_id if self._commit_ns else None,
                )
                try:
                    if report.skipped_replay and coll in self.rollup_specs:
                        # the original attempt may have crashed between
                        # its append and its rollup refresh: recompute
                        # the batch's months (one cheap distinct on the
                        # replayed frame — replay-only cost) and
                        # refresh idempotently from raw
                        spec = self.rollup_specs[coll]
                        months = [
                            r["m"]
                            for r in report.valid_df.select(
                                F.date_format("_time", "yyyy-MM").alias("m")
                            )
                            .distinct()
                            .collect()
                        ]
                        if months:
                            self.collector.store.publish_rollup(
                                self.project,
                                coll,
                                dims=tuple(spec.get("dims", ("event_type",))),
                                measures=spec.get("measures"),
                                months=sorted(months),
                            )
                    if (
                        (report.stored or report.skipped_replay)
                        and push
                        and report.valid_df is not None
                    ):
                        # push THIS batch's coerced rows only — never
                        # a re-read of the stored table.  On a replay
                        # skip the push re-runs too: callbacks stay
                        # at-least-once (losing the append→push crash
                        # window would be silent data loss downstream);
                        # only STORAGE is exactly-once.
                        self.registry.push(
                            self.project, report.collection, report.valid_df,
                            row_cap=self.push_row_cap,
                        )
                    if (
                        report.stored
                        and coll in self.rollup_specs
                        and report.months_touched
                    ):
                        # incremental rollup maintenance: only the
                        # month partitions THIS batch touched are
                        # recomputed (from raw, so the refresh is
                        # idempotent under epoch replay)
                        spec = self.rollup_specs[coll]
                        self.collector.store.publish_rollup(
                            self.project,
                            coll,
                            dims=tuple(spec.get("dims", ("event_type",))),
                            measures=spec.get("measures"),
                            months=report.months_touched,
                        )
                finally:
                    report.release()

            tasks: list[tuple[str, str]] = []
            for r in sorted(schema_rows, key=lambda r: r["collection"]):
                inner = variant_struct_ddl(r["vddl"])
                if inner is not None:
                    tasks.append((r["collection"], inner))
            if len(tasks) <= 1 or self.ingest_parallelism == 1:
                for coll, inner in tasks:
                    ingest_one(coll, inner)
            else:
                # concurrent per-collection Spark jobs: the metastore
                # serializes schema evolution behind its lock, store
                # writes land in disjoint per-collection dirs, and
                # subscriber callbacks are serialized by the registry.
                # Submission is in sorted-collection order, so
                # first-sight decisions (USER_TYPE pinning) follow the
                # same order as the sequential path on a best-effort
                # basis — concurrent first-write is an inherent race
                # the reference has too (TestUserStorage contract).
                # Any failure fails the epoch (no commit marker), so
                # the at-least-once replay machinery re-processes it.
                from concurrent.futures import ThreadPoolExecutor

                workers = min(self.ingest_parallelism, len(tasks))
                with ThreadPoolExecutor(max_workers=workers) as pool:
                    futures = [pool.submit(ingest_one, c, i) for c, i in tasks]
                    for fut in futures:
                        fut.result()
            if self.dedup_uuids:
                # record uuids only after every collection ingested:
                # a mid-epoch crash re-processes the batch instead of
                # losing it (and dead-lettered *values* never block a
                # corrected resend — the uuid marks the stored event)
                if stats["uuid_rows"]:
                    new_uuids = (
                        parsed.select(
                            F.col("api.uuid").alias("uuid"),
                            F.lit(epoch_id).cast("long").alias("epoch"),
                        ).where(F.col("uuid").isNotNull())
                    )
                    self._append_seen(spark, new_uuids, epoch_id)
                if self.seen_compact_every and epoch_id % self.seen_compact_every == 0:
                    self._compact_seen(spark, epoch_id)
        finally:
            parsed.unpersist()
            raw.unpersist()
        self._mark_committed(epoch_id)
        if self.maintenance_every and epoch_id and epoch_id % self.maintenance_every == 0:
            self._run_epoch_maintenance()

    def _run_epoch_maintenance(self) -> None:
        """One auto-indexer cycle between micro-batches.  A held lock
        (another maintenance process on this warehouse) skips the
        cycle instead of failing the stream — the next trigger epoch
        retries; any other error propagates and fails the epoch's
        caller visibly (a maintenance bug must not be silently
        swallowed forever)."""
        from ..store import MaintenanceLockHeld

        try:
            self.last_maintenance = self.collector.store.run_maintenance(
                self.project, **self.maintenance_kwargs
            )
        except MaintenanceLockHeld:
            self.last_maintenance = [
                {"action": "skipped", "reason": "maintenance lock held elsewhere"}
            ]

    def _shard_expr(self, uuid_col):
        return F.pmod(F.hash(uuid_col), F.lit(self.seen_shards)).cast("int")

    def _dedup(self, parsed: DataFrame, epoch_id: int) -> DataFrame:
        """uuid dedup: only rows WITH a uuid deduplicate (batch-local
        + against the windowed seen set); uuid-less rows pass through
        — grouping NULLs would collapse distinct events.  The
        anti-join key leads with the uuid-hash shard — the partition
        column of the compacted state — so the join prunes to
        matching shard partitions instead of scanning the whole seen
        set."""
        parsed = parsed.withColumn("__uuid", F.col("api.uuid"))
        no_uuid = parsed.where(F.col("__uuid").isNull())
        with_uuid = parsed.where(F.col("__uuid").isNotNull()).dropDuplicates(["__uuid"])
        seen = self._read_seen(parsed.sparkSession, epoch_id)
        if seen is not None:
            with_uuid = (
                with_uuid.withColumn("__shard", self._shard_expr(F.col("__uuid")))
                .join(
                    seen.select(
                        F.col("shard").alias("__seen_shard"),
                        F.col("uuid").alias("__seen_uuid"),
                    ),
                    (F.col("__shard") == F.col("__seen_shard"))
                    & (F.col("__uuid") == F.col("__seen_uuid")),
                    "left_anti",
                )
                .drop("__shard")
            )
        return with_uuid.unionByName(no_uuid).drop("__uuid")

    # --- per-collection property parsing (no driver data hops) ----------

    def _parse_props(self, rows: DataFrame, collection: str) -> DataFrame | None:
        """properties JSON strings → typed DataFrame via ``from_json``.

        Standalone form of the batch loop's parse (used by ad-hoc
        callers/tests): schema from one scalar
        ``schema_of_variant_agg`` aggregation — JVM-side inference,
        one DDL string to the driver, zero data rows — then one
        ``from_json`` projection over the full frame.  Fields
        registered in the catalog but absent from this batch stay
        absent here; the coercion layer NULL-pads them against the
        registered schema downstream."""
        self.collector.metastore.create_project(self.project)  # idempotent
        vddl = (
            _json_object_rows(rows)
            .agg(F.schema_of_variant_agg(F.try_parse_json("props_json")).alias("vddl"))
            .head()[0]
        )
        inner = variant_struct_ddl(vddl)
        if inner is None:
            return None
        return rows.select(F.from_json("props_json", inner).alias("p")).select("p.*")

    # --- seen-uuid state (windowed, versioned, bounded) ------------------

    def _current_seen_dir(self) -> str | None:
        name = self.state.get(os.path.join(self._seen_base, "CURRENT"))
        if name is None:
            return None
        d = os.path.join(self._seen_base, name)
        return d if os.path.exists(d) else None

    def _set_current_seen(self, name: str) -> None:
        self.state.put(os.path.join(self._seen_base, "CURRENT"), name)

    def _read_seen(self, spark: SparkSession, epoch_id: int) -> DataFrame | None:
        """Windowed read of the seen set: only epochs inside
        ``dedup_window`` count, and the CURRENT epoch is excluded so
        an at-least-once replay of this epoch cannot anti-join away
        its own batch."""
        d = self._current_seen_dir()
        if d is None:
            return None
        return self._scan_seen(spark, d).where(
            (F.col("epoch") >= F.lit(epoch_id - self.dedup_window))
            & (F.col("epoch") != F.lit(epoch_id))
        ).select("shard", "uuid", "epoch")

    @staticmethod
    def _is_sharded(d: str) -> bool:
        return any(n.startswith("shard=") for n in os.listdir(d))

    def _scan_seen(self, spark: SparkSession, d: str) -> DataFrame:
        """The seen set in ``d`` under its fixed schema.  A pre-shard
        directory (no ``shard=`` partitions) gets the shard computed."""
        if self._is_sharded(d):
            return spark.read.schema(_SEEN_DDL).parquet(d)
        return (
            spark.read.schema(_PRE_SHARD_SEEN_DDL)
            .parquet(d)
            .withColumn("shard", self._shard_expr(F.col("uuid")))
        )

    def _append_seen(self, spark: SparkSession, df: DataFrame, epoch_id: int) -> None:
        """Append this epoch's uuids, hash-sharded on uuid: the state
        dir is hive-partitioned by ``shard`` so compaction rewrites
        and the dedup anti-join work shard-parallel.  A pre-shard
        CURRENT dir is first migrated by a compaction — sharded files
        appended beside its flat ones would make it unreadable."""
        sharded = df.withColumn("shard", self._shard_expr(F.col("uuid")))
        d = self._current_seen_dir()
        if d is not None and not self._is_sharded(d):
            self._compact_seen(spark, epoch_id)
            d = self._current_seen_dir()
        if d is None:
            os.makedirs(self._seen_base, exist_ok=True)
            d = os.path.join(self._seen_base, "v0")
            sharded.write.partitionBy("shard").mode("append").parquet(d)
            self._set_current_seen("v0")
            return
        sharded.write.partitionBy("shard").mode("append").parquet(d)

    def _compact_seen(self, spark: SparkSession, epoch_id: int) -> None:
        """Bound the state: rewrite the seen set keeping only epochs
        inside the window, into a fresh versioned dir, then swap the
        CURRENT pointer atomically and remove the old version.  State
        size is O(window × batch), independent of stream lifetime.
        The rewrite is partitioned by uuid-hash shard — one task per
        shard, never a single-partition funnel — because at scale the
        window can hold billions of uuids."""
        d = self._current_seen_dir()
        if d is None:
            return
        cur_name = os.path.basename(d)
        nxt_name = f"v{int(cur_name[1:]) + 1}"
        nxt = os.path.join(self._seen_base, nxt_name)
        (
            self._scan_seen(spark, d)
            .where(F.col("epoch") >= F.lit(epoch_id - self.dedup_window))
            .repartition(self.seen_shards, "shard")
            .write.partitionBy("shard")
            .mode("overwrite")
            .parquet(nxt)
        )
        self._set_current_seen(nxt_name)
        shutil.rmtree(d, ignore_errors=True)

    # --- epoch commit markers (replay idempotence) -----------------------

    def _commit_dir(self) -> str | None:
        if self._commit_ns is None:
            return None
        return os.path.join(self._commit_base, self._commit_ns)

    def _is_committed(self, epoch_id: int) -> bool:
        d = self._commit_dir()
        return d is not None and self.state.exists(os.path.join(d, f"epoch_{epoch_id}"))

    def _mark_committed(self, epoch_id: int) -> None:
        d = self._commit_dir()
        if d is None:
            return
        self.state.touch(os.path.join(d, f"epoch_{epoch_id}"))
        # GC old markers: replays only ever revisit epochs near the
        # checkpoint head, so markers far behind are dead weight —
        # keep the namespace O(retention), not O(stream lifetime)
        if epoch_id % 100 == 0 and epoch_id > self.marker_retention:
            floor = epoch_id - self.marker_retention
            for name in self.state.listdir(d):
                try:
                    if name.startswith("epoch_") and int(name[6:]) < floor:
                        self.state.delete(os.path.join(d, name))
                except ValueError:
                    continue

    def _ensure_commit_ns(self, checkpoint_dir: str) -> None:
        """Mint (or re-read) the commit namespace token stored INSIDE
        the checkpoint directory.  Spark epoch ids are only unique per
        checkpoint AND per checkpoint lifetime: deleting the
        checkpoint dir restarts them at 0, so the namespace must die
        with the checkpoint — a content-derived name (e.g. a path
        hash) would resurrect stale markers and silently skip
        replayed batches.  Orphaned namespaces (their checkpoint gone
        or re-minted) are garbage-collected here via the token→source
        registry kept next to the namespaces."""
        import uuid

        os.makedirs(checkpoint_dir, exist_ok=True)
        token_file = os.path.join(checkpoint_dir, COMMIT_NS_FILE)
        token = self.state.get(token_file)
        if token is None:
            token = uuid.uuid4().hex[:16]
            self.state.put(token_file, token)
        self._commit_ns = token
        self.state.put(os.path.join(self._commit_base, f"{token}.src"), token_file)
        for name in self.state.listdir(self._commit_base):
            if not name.endswith(".src"):
                continue
            tok = name[: -len(".src")]
            if tok == token:
                continue
            src = self.state.get(os.path.join(self._commit_base, name))
            if src is None or self.state.get(src) != tok:
                # checkpoint gone or re-minted: the namespace can
                # never be consulted again
                self.state.delete(os.path.join(self._commit_base, tok))
                self.state.delete(os.path.join(self._commit_base, name))

    # --- stream wiring ---------------------------------------------------

    def validate_rollup_specs(self) -> None:
        """Fail-fast check that every rollup spec matches its already-
        published dim/measure contract — run at STREAM START, so a
        contract mismatch surfaces before any ingest instead of as a
        mid-stream ``publish_rollup`` ValueError that kills the whole
        ingest stream on its first epoch."""
        from ..store import DEFAULT_ROLLUP_MEASURES

        for coll, spec in self.rollup_specs.items():
            existing = self.collector.store.rollup_meta(self.project, coll)
            if existing is None:
                continue
            effective = {
                "dims": list(spec.get("dims", ("event_type",))),
                "measures": dict(spec.get("measures") or DEFAULT_ROLLUP_MEASURES),
            }
            # compare the CONTRACT keys only — the published meta also
            # carries per-month freshness bookkeeping (month_versions)
            # that a spec never states
            if {k: existing.get(k) for k in ("dims", "measures")} != effective:
                raise ValueError(
                    f"rollup spec for {self.project}.{coll} differs from the "
                    f"published contract {existing}; run a full rebuild "
                    "(publish_rollup months=None) with the new dims/measures "
                    "before starting the stream"
                )

    def _start_writer(self, stream: DataFrame, checkpoint_dir: str, trigger_available_now: bool):
        self.validate_rollup_specs()
        self._ensure_commit_ns(checkpoint_dir)
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_file_stream(
        self,
        input_dir: str,
        checkpoint_dir: str,
        trigger_available_now: bool = True,
    ):
        """File-bus stream: each file contains JSON-line envelopes
        (the reference's S3-bulk + pointer pattern — K5 — where the
        object store is the bus and file arrival is the signal)."""
        # one file per micro-batch: each envelope file is one
        # gateway batch, so schema decisions happen in arrival order
        # (the reference types a field from the first event that
        # carries it; a merged batch would blur that to
        # first-batch-wins)
        stream = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(input_dir)
        )
        return self._start_writer(stream, checkpoint_dir, trigger_available_now)

    def start_kafka_stream(
        self,
        bootstrap_servers: str,
        topic: str,
        checkpoint_dir: str,
        starting_offsets: str = "latest",
        trigger_available_now: bool = False,
        max_offsets_per_trigger: int | None = None,
    ):
        """Kafka-bus stream (reference K4/K6: AWSKinesisEventStore /
        KafkaEventStore publish the event envelope to a topic keyed
        by project|collection).  Same foreachBatch body as the file
        bus — only the source frame projection differs.  Requires the
        spark-sql-kafka connector jar on the session classpath
        (``session.get_spark(kafka=True)``); the parse path itself is
        covered broker-free by tests via ``kafka_envelope_frame`` on
        a Kafka-shaped static frame."""
        reader = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
        )
        if max_offsets_per_trigger is not None:
            reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        stream = kafka_envelope_frame(reader.load())
        return self._start_writer(stream, checkpoint_dir, trigger_available_now)

    def start_local_bus_stream(
        self,
        bus_dir: str,
        topic: str,
        checkpoint_dir: str,
        max_offsets_per_trigger: int | None = None,
    ):
        """Loopback-bus stream: the Kafka contract (keyed produce →
        per-partition offsets → bounded consumption → ingest →
        commit) served by the in-repo ``rakam_localbus`` Python
        streaming data source, for environments without a broker.
        Identical foreachBatch body and envelope projection as
        ``start_kafka_stream`` — only the source format differs."""
        from .localbus import LocalBusDataSource

        self.spark.dataSource.register(LocalBusDataSource)
        reader = (
            self.spark.readStream.format("rakam_localbus")
            .option("path", bus_dir)
            .option("topic", topic)
        )
        if max_offsets_per_trigger is not None:
            reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        stream = kafka_envelope_frame(reader.load())
        return self._start_writer(stream, checkpoint_dir, trigger_available_now=False)


def stream_health(query, ingest: "StreamingIngest | None" = None) -> dict:
    """Operational snapshot of a running StreamingQuery — the
    observability surface the reference pushes to CloudWatch on its
    ingest path (S3BulkEventStore.java:79-172 emits
    ``rakam-middleware-collection`` metrics per batch); here derived
    from Structured Streaming's progress feed so any metrics sink
    (StreamingQueryListener, Prometheus scraper) can consume it.

    Returns {active, batch_id, num_input_rows, input_rows_per_sec,
    processed_rows_per_sec, batch_duration_ms, state_rows,
    state_memory_bytes, sources: [{description, start_offset,
    end_offset}], total_input_rows} — all from ``lastProgress`` /
    ``recentProgress`` (no extra Spark jobs; reading metrics must
    never compete with the stream for executors).  Passing the
    ``ingest`` adds ``last_maintenance``: the outcome list of the most
    recent epoch-clock maintenance cycle (already computed — still no
    extra jobs)."""
    lp = query.lastProgress
    out = {
        "active": bool(query.isActive),
        "batch_id": None,
        "num_input_rows": 0,
        "input_rows_per_sec": 0.0,
        "processed_rows_per_sec": 0.0,
        "batch_duration_ms": None,
        "state_rows": 0,
        "state_memory_bytes": 0,
        "sources": [],
        "total_input_rows": sum(
            int(p["numInputRows"]) for p in query.recentProgress
        ),
    }
    if ingest is not None:
        out["last_maintenance"] = ingest.last_maintenance
    if lp is None:
        return out
    out["batch_id"] = lp.get("batchId")
    out["num_input_rows"] = int(lp.get("numInputRows", 0))
    out["input_rows_per_sec"] = float(lp.get("inputRowsPerSecond") or 0.0)
    out["processed_rows_per_sec"] = float(lp.get("processedRowsPerSecond") or 0.0)
    out["batch_duration_ms"] = (lp.get("durationMs") or {}).get("triggerExecution")
    for op in lp.get("stateOperators") or []:
        out["state_rows"] += int(op.get("numRowsTotal", 0))
        out["state_memory_bytes"] += int(op.get("memoryUsedBytes", 0))
    for src in lp.get("sources") or []:
        out["sources"].append(
            {
                "description": src.get("description"),
                "start_offset": src.get("startOffset"),
                "end_offset": src.get("endOffset"),
            }
        )
    return out


def write_envelope_file(path: str, events: list[dict]) -> None:
    """Test/gateway helper: write an envelope batch as a JSON-lines
    file (atomically: temp + rename, so the file source never reads
    partial files)."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.replace(tmp, path)
