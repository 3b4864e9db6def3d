"""Event collection API: the engine-side equivalent of the
reference's HTTP surface (rakam/.../collection/
EventCollectionHttpService.java) as Python calls.

Endpoints → methods:
- ``POST /event/collect``   → ``collect(project, collection, properties)``
- ``POST /event/batch``     → ``batch(project, event_list, checksum=…)``
- ``POST /event/bulk``      → ``bulk(project, collection, df_or_records)``
- ``POST /event/copy``      → ``bulk(..., map_events=False)``
  (mapper bypass, EventCollectionHttpService.java:457-462)

Pipeline per micro-batch (reference lifecycle §3.1-3.2 of SURVEY.md):
parse → resolve/evolve schema (inference + magic-field injection) →
enrich (mapper chain) → coerce to registered schema → dead-letter
invalid values → append to the collection table.

Scale: the driver only touches schema metadata (names/types) —
values never leave executors except the one-row first-value probe
for new string columns.  Everything else is column expressions.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import ALLOWED_USER_TYPES, Metastore, USER_FIELD
from .enrich import EnrichmentPipeline, TimestampMapper
from .ingest.coerce import DEFAULT_MAX_STRING_LENGTH, coerce_to_schema
from .ingest.infer import infer_new_fields
from .store import EventStore
from .types import FieldType, from_spark_type, strip_collection_name, strip_name


def default_pipeline() -> EnrichmentPipeline:
    from .enrich import GeoIPMapper, ReferrerMapper, UserAgentMapper

    return EnrichmentPipeline([TimestampMapper(), GeoIPMapper(), UserAgentMapper(), ReferrerMapper()])


@dataclass
class IngestReport:
    collection: str
    stored: int = 0
    dead_lettered: int = 0
    new_fields: dict[str, str] = field(default_factory=dict)
    # the coerced batch frame that was appended — streaming uses it
    # to push exactly this batch's rows to subscribers (never a
    # re-read of the stored table).  When the ingest was called with
    # ``retain_valid=True`` this frame is persisted (its cache was
    # populated by the store write), so consuming it re-reads cached
    # rows — the exact rows stored — instead of re-executing the
    # enrich+coerce lineage; call ``release()`` when done.
    valid_df: DataFrame | None = None
    # month partitions ("yyyy-MM") this batch's stored rows touched —
    # collected by the write-pass Observation when the ingest was
    # called with ``observe_months=True`` (None otherwise).  Streaming
    # rollup maintenance reads this instead of re-executing the batch
    # lineage for a distinct() pass.
    months_touched: list[str] | None = None
    _retained: bool = False
    # True when a txn transaction-identifier (app, version) match made
    # the append an idempotent no-op — the rows are already stored by
    # the original attempt of this epoch (streaming replay path)
    skipped_replay: bool = False

    def release(self) -> None:
        """Unpersist the retained batch frame (no-op otherwise)."""
        if self._retained and self.valid_df is not None:
            self.valid_df.unpersist()
            self._retained = False


class EventCollector:
    def __init__(
        self,
        spark: SparkSession,
        metastore: Metastore,
        store: EventStore | None = None,
        pipeline: EnrichmentPipeline | None = None,
        excluded_collections: tuple[str, ...] = (),
        max_string_length: int = DEFAULT_MAX_STRING_LENGTH,
    ):
        self.spark = spark
        self.metastore = metastore
        self.store = store or EventStore(spark, metastore)
        self.pipeline = pipeline if pipeline is not None else default_pipeline()
        self.excluded = set(excluded_collections)
        self.max_string_length = max_string_length

    # --- parsing helpers ------------------------------------------------

    def _records_to_df(self, records: list[dict]) -> DataFrame:
        """JSON-object records → DataFrame via distributed JSON
        inference (spark.read.json semantics, permissive)."""
        rdd = self.spark.sparkContext.parallelize([json.dumps(r) for r in records])
        return self.spark.read.json(rdd)

    def _normalize_columns(self, df: DataFrame) -> DataFrame:
        """Apply reference name normalization to every column
        (ValidationUtil.stripName); drops columns whose names cannot
        be normalized.  A client-sent ``id`` is renamed ``_id``
        (PostgresqlUserStorage.java:131-144 semantics)."""
        renames: dict[str, str] = {}
        for c in df.columns:
            if c.startswith("$"):
                # $-prefixed names are system-reserved; client-sent
                # ones are dropped ($server_time is server-assigned)
                continue
            if c.startswith("_"):
                renames[c] = c
                continue
            try:
                n = strip_name(c)
            except ValueError:
                continue
            renames[c] = "_id" if n == "id" else n
        return df.select([F.col(f"`{old}`").alias(new) for old, new in renames.items()])

    # --- core ingest ----------------------------------------------------

    def _ingest_df(
        self,
        project: str,
        collection: str,
        df: DataFrame,
        map_events: bool = True,
        master_key: bool = False,
        ctx: dict | None = None,
        type_overrides: dict | None = None,
        retain_valid: bool = False,
        observe_months: bool = False,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> IngestReport:
        collection = strip_collection_name(collection)
        if collection in self.excluded:
            # P8 excluded-collections filter
            return IngestReport(collection=collection, stored=0)
        self.metastore.create_project(project)
        df = self._normalize_columns(df)

        ctx = ctx or {}
        # pin server time to ONE literal per request: the reference
        # stamps server time at request receipt (TimestampEventMapper
        # takes Instant.now() once).  An F.current_timestamp() here
        # would re-evaluate on every lineage execution, so a
        # subscriber push replaying the plan would see different
        # _time/$server_time values than the rows actually stored.
        if "server_time_expr" not in ctx:
            import time as _time

            ctx["server_time_expr"] = F.timestamp_millis(F.lit(int(_time.time() * 1000)))
        registered = self.metastore.project(project).collections.get(collection)
        known = dict(registered.fields) if registered else {}

        # 1. reference-precedence inference for unknown client fields
        #    (JSON numbers → DOUBLE, string → DATE/TIMESTAMP probe,
        #    nulls deferred)
        client_types = (
            dict(type_overrides)
            if type_overrides is not None
            else infer_new_fields(df, known=known)
        )
        # registered _user type wins over the batch's apparent type
        pinned = self.metastore.get_config(project, "USER_TYPE")
        if USER_FIELD in client_types:
            if pinned is not None:
                client_types[USER_FIELD] = FieldType(pinned)
            elif client_types[USER_FIELD] == FieldType.DOUBLE:
                client_types[USER_FIELD] = FieldType.LONG
            elif client_types[USER_FIELD] not in ALLOWED_USER_TYPES:
                client_types[USER_FIELD] = FieldType.STRING

        # 2. mapper schema contributions (constant + trigger-activated
        #    dependent fields) and trigger columns to drop
        all_incoming = {**known, **client_types}
        pipeline = (
            self.pipeline
            if (self.pipeline is not None and map_events)
            # /event/copy: mappers bypassed but _time/$server_time
            # constants still attach
            else EnrichmentPipeline([TimestampMapper()])
        )
        resolved, drop = pipeline.resolve_fields(all_incoming)

        # 3. enrich, then drop trigger columns (P9 pruning)
        df = pipeline.apply(df, ctx)
        df = df.drop(*[c for c in drop if c in df.columns])
        # Persist the enriched frame ONLY when a later pass might
        # re-execute the lineage with different results or real cost:
        # (a) the post-enrichment inference below will run a probe
        #     action (needs_probe — an undeclared STRING column
        #     exists), making probe + write two full passes, or
        # (b) the pipeline contains CUSTOM transforms, whose code we
        #     don't control — if one is nondeterministic, an uncached
        #     dead-letter recompute could desync from the stored
        #     rows, so the cache pins one consistent snapshot.
        # On the common path (built-in mappers only — deterministic:
        # server time is pinned to a literal above, sources are
        # immutable) nothing before the store write executes the
        # lineage, and caching the enriched frame measurably DOUBLES
        # the write pass (wide string columns), so we skip it: the
        # batch runs exactly one full pass.
        from .enrich.transforms import CustomMapperStage
        from .ingest.infer import needs_probe

        post_known = {**known, **resolved}
        cached = needs_probe(df, post_known) or any(
            isinstance(m, CustomMapperStage) for m in pipeline.mappers
        )
        if cached:
            df = df.persist()

        # 3b. post-enrichment inference: custom transforms (P6) may
        # have added undeclared columns — the reference evolves the
        # schema when a JS mapper sets a new field
        # (CustomEventMapperHttpService.java:517-653)
        post = infer_new_fields(df, known=post_known)
        for n, ft in post.items():
            resolved.setdefault(n, ft)
        new_fields = {n: ft for n, ft in resolved.items() if n not in known}

        # 4. additive schema evolution (registered types never change)
        from .catalog import FixedSchemaViolation, TypeMismatch

        try:
            schema = self.metastore.get_or_create_collection_fields(
                project, collection, new_fields, master_key=master_key
            )
        except TypeMismatch:
            # registered types win; values are coerced/dead-lettered
            schema = self.metastore.get_collection(project, collection)
        except FixedSchemaViolation:
            # M6 explicit-schema deployment mode (reference
            # MysqlExplicitMetastore, rakam-presto/.../
            # MysqlExplicitMetastore.java:48-196): collections carry
            # a pre-declared schema; inference never evolves it.
            # Events still store — unregistered fields are projected
            # away by the coercion step, like the explicit metastore
            # writing only declared columns.  An event for a
            # collection that was never declared is rejected.
            schema = self.metastore.get_collection(project, collection)
            if schema is None:
                if cached:
                    df.unpersist()
                raise

        # 5. coerce to the registered schema + dead-letter failures.
        # One metered write pass: the valid frame carries a hidden
        # per-row bad-field count and an Observation collects
        # (row count, Σ bad fields) DURING the parquet write — the
        # old count-then-write-then-count-dead sequence executed the
        # batch lineage three times.  The dead-letter pass runs only
        # when the observed bad count is > 0; it reads the cache when
        # ``cached`` pinned one (probe needed, or CUSTOM transforms
        # whose determinism we can't vouch for), otherwise it
        # RE-EXECUTES the source+builtin-mapper lineage.  That is
        # correct because both are deterministic here: server time is
        # pinned to a literal above and built-in mappers are pure.
        # API contract: caller-supplied source DataFrames must be
        # deterministic (stable under re-execution) — a
        # nondeterministic source could store rows that desync from
        # their dead-letter copies.
        try:
            result = coerce_to_schema(
                df,
                schema,
                collection,
                max_len=self.max_string_length,
                event_id_col=None,
                bad_count_col="_rakam_n_bad",
            )
            obs = Observation()
            obs_aggs = [
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("_rakam_n_bad"), F.lit(0)).cast("long").alias("n_bad"),
            ]
            if observe_months and "_time" in result.valid.columns:
                # month partitions touched, collected DURING the write
                # (no second lineage pass for rollup maintenance)
                obs_aggs.append(
                    F.sort_array(
                        F.collect_set(F.date_format("_time", "yyyy-MM"))
                    ).alias("months")
                )
            to_store = result.valid.observe(obs, *obs_aggs).drop("_rakam_n_bad")
            if retain_valid:
                # persist BEFORE the append: the write action fills
                # the cache, so a later subscriber push reads exactly
                # the stored rows without re-running the pipeline
                to_store = to_store.persist()
            result.valid = to_store
            wrote = self.store.write_batch(
                project, collection, to_store,
                txn_app=txn_app, txn_version=txn_version,
            )
            if not wrote:
                # idempotent replay skip (txn transaction identifier
                # already applied): the batch frame never executed, so
                # the Observation holds nothing — report the replay as
                # such.  Rows were stored by the ORIGINAL attempt;
                # dead letters from that attempt are only lost if the
                # crash fell between the valid append and the
                # dead-letter write (diagnostics-only, bounded to one
                # epoch — the price of never double-storing rows).
                return IngestReport(
                    collection=collection,
                    stored=0,
                    dead_lettered=0,
                    new_fields={n: t.value for n, t in new_fields.items()},
                    valid_df=result.valid,
                    months_touched=None,
                    _retained=retain_valid,
                    skipped_replay=True,
                )
            metrics = obs.get
            stored = int(metrics["n"])
            dead = int(metrics["n_bad"])
            if dead > 0:
                # dead row count is already known exactly (one dead-
                # letter row per observed bad field), so write without
                # a counting pass
                self.store.write_dead_letter(project, result.dead_letter)
        finally:
            if cached:
                df.unpersist()
        return IngestReport(
            collection=collection,
            stored=stored,
            dead_lettered=dead,
            new_fields={n: t.value for n, t in new_fields.items()},
            valid_df=result.valid,
            months_touched=list(metrics["months"]) if "months" in metrics else None,
            _retained=retain_valid,
        )

    # --- public surface -------------------------------------------------

    def collect(
        self, project: str, collection: str, properties: dict, ctx: dict | None = None
    ) -> IngestReport:
        """Single-event hot path (``POST /event/collect``)."""
        return self._ingest_df(project, collection, self._records_to_df([properties]), ctx=ctx)

    def batch(self, project: str, events: list[dict], ctx: dict | None = None) -> list[IngestReport]:
        """EventList envelope (``POST /event/batch``): items are
        ``{"collection": …, "properties": {…}}``; events are grouped
        by collection and stored per group (reference
        PostgresqlEventStore.storeBatch groups the same way)."""
        by_coll: dict[str, list[dict]] = {}
        for e in events:
            by_coll.setdefault(strip_collection_name(e["collection"]), []).append(e["properties"])
        reports = []
        for coll, props in by_coll.items():
            reports.append(self._ingest_df(project, coll, self._records_to_df(props), ctx=ctx))
        return reports

    def bulk(
        self,
        project: str,
        collection: str,
        data: DataFrame | list[dict],
        map_events: bool = True,
        master_key: bool = True,
        ctx: dict | None = None,
    ) -> IngestReport:
        """Bulk load (``POST /event/bulk``; ``map_events=False`` is
        ``/event/copy``).  ``data`` may be a prepared DataFrame (any
        spark.read source: json/csv/avro/parquet/url) or records.

        Contract: a caller-supplied DataFrame must be deterministic
        under re-execution (file sources are; frames derived from
        ``rand()``/current-time/changing inputs are not) — the
        dead-letter pass may re-run the lineage and must see the same
        rows the store write saw."""
        df = data if isinstance(data, DataFrame) else self._records_to_df(data)
        return self._ingest_df(
            project, collection, df, map_events=map_events, master_key=master_key, ctx=ctx
        )

    def bulk_csv(
        self,
        project: str,
        collection: str,
        path_or_df,
        header: bool = True,
        sep: str = ",",
        ctx: dict | None = None,
    ) -> IngestReport:
        """CSV bulk (S5): header names normalized and mapped onto the
        registered schema; columns NOT in the schema are typed STRING
        (CsvEventDeserializer header-mapping rule); values coerce to
        registered types."""
        from .ingest.csv_ingest import csv_field_types, read_csv

        df = read_csv(self.spark, path_or_df, header=header, sep=sep)
        registered = self.metastore.project(self.metastore.create_project(project).name).collections.get(
            strip_collection_name(collection)
        )
        known = dict(registered.fields) if registered else {}
        overrides = csv_field_types(df, known)
        return self._ingest_df(
            project, collection, df, master_key=True, ctx=ctx, type_overrides=overrides
        )

    def bulk_remote(
        self,
        project: str,
        collection: str,
        url: str,
        fmt: str = "json",
        ctx: dict | None = None,
    ) -> IngestReport:
        """Remote-URL bulk (S7): fetch and parse as json/ndjson/csv.
        Cloud-store URLs (s3://, hdfs://…) go straight to spark.read;
        http(s) bodies are fetched with the reference's 5 s timeouts."""
        if url.startswith(("http://", "https://")):
            from .ingest.envelope import fetch_remote

            body = fetch_remote(url).decode()
            if fmt in ("json", "ndjson"):
                rdd = self.spark.sparkContext.parallelize(body.splitlines())
                df = self.spark.read.json(rdd)
                return self._ingest_df(project, collection, df, master_key=True, ctx=ctx)
            if fmt == "csv":
                import io

                pdf = __import__("pandas").read_csv(io.StringIO(body), dtype=str)
                df = self.spark.createDataFrame(pdf)
                return self.bulk_csv(project, collection, df, ctx=ctx)
            raise ValueError(f"unsupported remote format: {fmt}")
        df = self.spark.read.format("csv" if fmt == "csv" else "json").load(url)
        return self._ingest_df(project, collection, df, master_key=True, ctx=ctx)

    def pixel(self, project: str, query_params: dict, ctx: dict | None = None) -> IngestReport:
        """Pixel GET source (S8): ``prop.*`` params → string
        properties (``prop._time`` → epoch millis long)."""
        from .ingest.envelope import pixel_event

        collection, props = pixel_event(query_params)
        return self.collect(project, collection, props, ctx=ctx)

    def webhook(
        self,
        project: str,
        hook_id: str,
        registry,
        query_params: dict | None = None,
        body: str = "",
        params: dict | None = None,
        headers: dict | None = None,
        ctx: dict | None = None,
    ) -> IngestReport | None:
        """Webhook source (S9): run the stored transform on the raw
        request, then feed the returned event through the full
        collect path; None from the transform drops the request."""
        event = registry.invoke_webhook(project, hook_id, query_params, body, params, headers)
        if event is None:
            return None
        return self.collect(project, event["collection"], event.get("properties", {}), ctx=ctx)


def _safe_fieldtype(f) -> FieldType | None:
    try:
        return from_spark_type(f.dataType, dict(f.metadata) if f.metadata else None)
    except ValueError:
        return None
