"""Materialized views — the engine-side implementation of the
reference's declared materialized-view surface.

The reference registers ``materialized-view`` as a first-class API
tag (rakam/.../ServiceStarter.java:201) but this snapshot ships no
service implementation (the EventStream pattern, SURVEY.md §2.8);
its warehouse-backed editions materialize a saved query into a table
and refresh it by running the query over ONLY the data that arrived
since the last update, appending the result — correct whenever the
view query is slice-decomposable over arrival order (per-event
transformations, time-window aggregates keyed by the slice), which
is the documented contract the caller opts into.

Here that contract is implemented exactly, on the transaction log:

- ``create(project, name, sql)`` gates the statement through the
  query service's read-only validation, pins every base collection's
  commit version, materializes the result into a txn-logged view
  table, and records the base versions.  The statement is classified
  into a CONSUMPTION GRAIN at create time (from its analyzed plan):

  * ``rows`` — no aggregation: every stored row is a final row, the
    table is directly readable, and incremental refresh appends
    complete rows.
  * ``cells`` — a single sum/count/min/max GROUP BY: incremental
    refresh appends PARTIAL cells, and :meth:`table` (and the SQL
    alias ``materialized_<name>``) serve the RE-AGGREGATED merge of
    those cells, so a direct reader never sees partials.
  * ``opaque`` — any other aggregation (avg, distinct, nested
    aggregates, window over groups): no sound cell-merge exists, so
    the view is FULL-REFRESH-ONLY — the stored table is always a
    complete snapshot and direct reads stay safe.

- ``refresh(project, name)`` is a metadata-only no-op when no base
  advanced.  When the (single) base advanced by INSERT-ONLY commits,
  the increment is served by the change feed (``TxnTable.changes``,
  the same primitive behind ``table_changes(...)``), the view SQL
  runs over just that increment, and the result APPENDS — with the
  append made idempotent through the commit log's (app, app_version)
  transaction identifiers AND the feed start clamped to the view
  table's applied high-water mark, so a crash between the data
  commit and the metadata write can never double-apply an increment
  even after the base advances further (ADVICE r14).
- Any rewrite in a base (merge/expire), an UNRECOGNIZED commit op
  (fail-safe: it may have changed data — mirrors
  streaming/txnsource.py's fail-fast whitelist, except a refresh CAN
  fall back where a stream cannot: the full recompute reads the
  current snapshot and is correct regardless of what the op did), a
  multi-collection view, an ``opaque`` grain, or ``full=True`` falls
  back to a FULL recompute published as ONE atomic
  ``TxnTable.replace`` commit (readers flip at a single version; the
  change feed renders the swap as pre/post images).
- Views are queryable from SQL as ``materialized_<name>`` (the
  query service registers them beside the collection views, at the
  consumption grain).

Scale: refresh cost is O(increment) for the incremental path — the
change feed reads only the files the new commits added, never a
snapshot diff; the full path is one distributed recompute + one
atomic swap.  Staleness checks are commit-log metadata reads (no
data I/O).  The ``cells`` consumption re-aggregation is one
enum-sized merge over the handful of partial cells per key — never
a base-table scan.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NAME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")

#: commit ops that change a table's logical content
_DATA_OPS = {"append", "merge", "expire"}
#: commit ops KNOWN to preserve content (file rewrites / metadata) —
#: anything outside both sets is treated as potentially data-changing
#: (never silently skipped; see :meth:`_insert_only`)
_CONTENT_PRESERVING_OPS = {
    "compact",
    "rebloom",
    "set_constraint",
    "drop_constraint",
}

#: cell-merge functions for the decomposable aggregates: COUNT cells
#: re-aggregate by SUM; everything else by itself
_MERGE_FN = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}

_ATTR_RE = re.compile(r"^([^()#\s]+)#\d+[A-Za-z]*$")
_ALIAS_RE = re.compile(r"^([^()#\s]+)#\d+[A-Za-z]*$")
_AGG_RE = re.compile(r"^(sum|count|min|max)\((.*)\)$")


def _split_top(s: str) -> list[str]:
    """Split a plan expression list on top-level ``, `` (bracket- and
    paren-aware)."""
    out, depth, cur = [], 0, []
    i = 0
    while i < len(s):
        c = s[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        if depth == 0 and s.startswith(", ", i):
            out.append("".join(cur))
            cur = []
            i += 2
            continue
        cur.append(c)
        i += 1
    if cur:
        out.append("".join(cur))
    return [x for x in out if x]


def _node_lines(plan: str) -> list[str]:
    """Tree lines with the ``+- `` / ``:  `` prefixes stripped."""
    out = []
    for line in plan.splitlines():
        out.append(line.lstrip(" :+-"))
    return out


def _whole_call(expr: str) -> bool:
    """True when ``expr`` is ONE function call (its first '(' closes
    at the very end) — rejects e.g. ``sum(a) + sum(b)``."""
    start = expr.find("(")
    if start < 0 or not expr.endswith(")"):
        return False
    depth = 0
    for i in range(start, len(expr)):
        if expr[i] == "(":
            depth += 1
        elif expr[i] == ")":
            depth -= 1
            if depth == 0:
                return i == len(expr) - 1
    return False


def consumption_spec(df: DataFrame) -> dict:
    """Classify an analyzed view DataFrame into a consumption grain
    (module docstring).  Returns ``{"grain": "rows"}``,
    ``{"grain": "opaque"}``, or ``{"grain": "cells", "keys": [...],
    "aggs": {col: fn}, "order": [...], "schema": [[col, type],...]}``.

    Pure string analysis of the ANALYZED logical plan (attribute
    references print as ``name#exprId``, so string equality between a
    grouping expression and an output child is exact expression
    identity).  Every unparseable shape degrades to ``opaque`` — the
    fail-safe grain (full-refresh-only, direct reads always see a
    complete snapshot)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    lines = _node_lines(plan)
    n_aggs = sum(1 for ln in lines if ln.startswith("Aggregate ["))
    if any(
        ln.startswith(("Distinct", "Deduplicate")) for ln in lines
    ):
        return {"grain": "opaque"}
    if n_aggs == 0:
        return {"grain": "rows"}
    if n_aggs > 1:
        return {"grain": "opaque"}
    # allow ORDER BY on top (re-aggregation loses it; a view's order
    # is cosmetic, like any table's); anything else above → opaque
    root = 0
    while root < len(lines) and lines[root].startswith("Sort ["):
        root += 1
    if root >= len(lines) or not lines[root].startswith("Aggregate ["):
        return {"grain": "opaque"}
    body = lines[root][len("Aggregate ") :]
    # 'Aggregate [keys], [outputs]' with GROUP BY, 'Aggregate [outputs]'
    # without — split the two top-level bracket groups
    groups: list[str] = []
    depth, start = 0, None
    for i, c in enumerate(body):
        if c == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif c == "]":
            depth -= 1
            if depth == 0:
                groups.append(body[start:i])
    if len(groups) == 1:
        keys_s, outs_s = [], _split_top(groups[0])
    elif len(groups) == 2:
        keys_s, outs_s = _split_top(groups[0]), _split_top(groups[1])
    else:
        return {"grain": "opaque"}

    keys: list[str] = []
    aggs: dict[str, str] = {}
    order: list[str] = []
    matched_keys: set[str] = set()
    for item in outs_s:
        # top-level alias: the analyzed plan prints it as the LAST
        # ' AS name#id' (nested casts print lowercase ' as ')
        expr, alias = item, None
        if " AS " in item:
            left, right = item.rsplit(" AS ", 1)
            if _ALIAS_RE.match(right):
                expr, alias = left, _ALIAS_RE.match(right).group(1)
        if expr in keys_s:
            m = _ATTR_RE.match(expr)
            name = alias or (m.group(1) if m else None)
            if name is None:
                return {"grain": "opaque"}
            keys.append(name)
            order.append(name)
            matched_keys.add(expr)
            continue
        m = _AGG_RE.match(expr)
        if m and _whole_call(expr) and alias is not None:
            if m.group(2).startswith("distinct "):
                return {"grain": "opaque"}
            aggs[alias] = m.group(1)
            order.append(alias)
            continue
        return {"grain": "opaque"}
    if matched_keys != set(keys_s):
        # a grouping expression absent from the output: stored cells
        # from different refreshes are indistinguishable — no merge
        return {"grain": "opaque"}
    if len(set(order)) != len(order) or not aggs:
        return {"grain": "opaque"}
    return {
        "grain": "cells",
        "keys": keys,
        "aggs": aggs,
        "order": order,
        "schema": [
            [f.name, f.dataType.simpleString()] for f in df.schema.fields
        ],
    }


class MaterializedViewService:
    """Create / refresh / drop materialized views over a project's
    transaction-logged collections (see module docstring for the
    refresh contract)."""

    def __init__(self, spark: SparkSession, store):
        self.spark = spark
        self.store = store

    # --- layout ----------------------------------------------------------

    def _dir(self, project: str) -> str:
        return os.path.join(self.store.warehouse, project, "_matviews")

    def _meta_path(self, project: str, name: str) -> str:
        return os.path.join(self._dir(project), f"{name}.json")

    def _table(self, project: str, name: str):
        from .txnlog import TxnTable

        return TxnTable(
            self.spark, os.path.join(self._dir(project), f"{name}.txn")
        )

    def _meta(self, project: str, name: str) -> dict:
        try:
            with open(self._meta_path(project, name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(f"no materialized view {project}.{name}")

    def _write_meta(self, project: str, name: str, meta: dict) -> None:
        os.makedirs(self._dir(project), exist_ok=True)
        tmp = self._meta_path(project, name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path(project, name))

    def list(self, project: str) -> list[str]:
        try:
            return sorted(
                f[:-5]
                for f in os.listdir(self._dir(project))
                if f.endswith(".json") and not f.endswith(".tmp")
            )
        except FileNotFoundError:
            return []

    # --- SQL plumbing ----------------------------------------------------

    def _service(self):
        from .query_service import QueryService

        return QueryService(self.spark, self.store)

    def _relations(self, sql: str) -> list[str]:
        """Collection names the statement references (parse-only)."""
        return sorted(self._relation_counts(sql))

    def _relation_counts(self, sql: str) -> dict:
        """Collection name -> number of SCANS of it in the parsed
        plan.  A single-base view whose SQL references the base
        twice (self-join, non-aggregating EXISTS/IN subquery) is NOT
        incrementally refreshable: binding the increment to every
        occurrence yields only new×new pairs and silently drops
        new×old results (ADVICE r15) — the count gates
        ``incremental_capable``."""
        from .query_service import QueryService

        parsed = (
            self.spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        )
        counts: dict = {}
        for m in QueryService._REL_RE.finditer(parsed.treeString()):
            name = m.group(1).split(", ")[0].strip("`")
            counts[name] = counts.get(name, 0) + 1
        return counts

    def _run_over(self, sql: str, frames: dict[str, DataFrame]) -> DataFrame:
        """Analyze ``sql`` with each collection name bound to the
        given frame (pinned snapshot or increment); views drop after
        the eager analysis, so execution is registration-free.

        Registration holds the PROCESS-WIDE view-registry lock shared
        with :class:`QueryService` (temp views are session-global):
        without it a concurrent query's analysis window could see its
        collection view silently replaced by the pinned/increment
        frame here — wrong results, not an error (ADVICE r14)."""
        from .query_service import REGISTRY_LOCK

        with REGISTRY_LOCK:
            try:
                for coll, df in frames.items():
                    df.createOrReplaceTempView(coll)
                return self.spark.sql(sql)
            finally:
                for coll in frames:
                    self.spark.catalog.dropTempView(coll)

    # --- surface ---------------------------------------------------------

    def create(self, project: str, name: str, sql: str) -> dict:
        """Validate, materialize at a pinned snapshot, record base
        versions.  Every referenced collection must be transaction-
        logged (staleness and increments are commit-log facts)."""
        if not _NAME_RE.match(name):
            raise ValueError(f"invalid view name: {name!r}")
        if os.path.exists(self._meta_path(project, name)):
            raise ValueError(f"materialized view {project}.{name} exists")
        svc = self._service()
        err = svc._gate(sql)
        if err is not None:
            raise ValueError(err.message)
        from .query_service import _TABLE_CHANGES_RE, _TABLE_HISTORY_RE

        if _TABLE_CHANGES_RE.search(sql):
            raise ValueError(
                "materialized views over table_changes() are not supported: "
                "reference the collection directly — refresh() already "
                "consumes the change feed for you"
            )
        if _TABLE_HISTORY_RE.search(sql):
            raise ValueError(
                "materialized views over table_history() are not supported: "
                "commit metadata changes with every commit — query it "
                "directly through the SQL service"
            )
        rel_counts = self._relation_counts(sql)
        bases = sorted(rel_counts)
        if not bases:
            raise ValueError("view statement references no collection")
        known = set(self.store.collections(project))
        for coll in bases:
            if coll not in known:
                raise ValueError(f"unknown collection: {coll}")
        # crash idempotency: a <name>.txn directory with NO meta file
        # is an orphan from a create (or drop) that died between the
        # data write and the meta write — re-running create must not
        # append a second full copy beside it (ADVICE r14)
        orphan = os.path.join(self._dir(project), f"{name}.txn")
        if os.path.isdir(orphan):
            shutil.rmtree(orphan, ignore_errors=True)
        pinned = {
            coll: self.store.txn_table(project, coll).version()
            for coll in bases
        }
        frames = {
            coll: self.store.txn_table(project, coll).read(version=v)
            for coll, v in pinned.items()
        }
        out = self._run_over(sql, frames)
        spec = consumption_spec(out)
        view = self._table(project, name)
        if len(bases) == 1:
            # app-tag the initial materialization too: the applied
            # high-water mark then exists from birth, so refresh's
            # feed-start clamp has a baseline even before the first
            # incremental refresh
            ((_, v0),) = pinned.items()
            view.append(out, app=f"matview:{name}", app_version=v0)
        else:
            view.append(out)
        meta = {
            "name": name,
            "sql": sql,
            "bases": pinned,
            # incremental append is only sound for a single base (a
            # multi-collection view's increment is not expressible as
            # one slice — rakam's per-collection model has the same
            # boundary) scanned exactly ONCE (a self-join or subquery
            # re-scan bound to the increment would see only new×new
            # and drop new×old — ADVICE r15) at a mergeable grain: an
            # 'opaque' aggregate (avg/distinct/nested) has no sound
            # cell-merge, so its stored table must always be a
            # complete snapshot
            "incremental_capable": len(bases) == 1
            and rel_counts[bases[0]] == 1
            and spec["grain"] != "opaque",
            "consumption": spec,
        }
        self._write_meta(project, name, meta)
        return dict(meta, rows=None, mode="initial")

    def staleness(self, project: str, name: str) -> dict:
        """Per-base versions behind HEAD — commit-log metadata only."""
        meta = self._meta(project, name)
        return {
            coll: self.store.txn_table(project, coll).version() - v
            for coll, v in meta["bases"].items()
        }

    def raw_table(self, project: str, name: str) -> DataFrame:
        """The stored table as-is: final rows for ``rows`` grain,
        PARTIAL per-refresh cells for ``cells`` grain (consumers must
        re-aggregate — :meth:`table` does)."""
        self._meta(project, name)  # existence gate
        return self._table(project, name).read()

    def table(self, project: str, name: str) -> DataFrame:
        """The view at CONSUMPTION grain — what ``materialized_<name>``
        serves from SQL.  ``cells`` views re-aggregate their partial
        cells here (one enum-sized merge, never a base scan) and cast
        back to the definition's output schema, so a direct reader
        between refreshes never sees partial cells; ``rows`` and
        ``opaque`` views read as stored (complete by construction)."""
        meta = self._meta(project, name)
        df = self._table(project, name).read()
        return self._consume(meta, df)

    def _consume(self, meta: dict, df: DataFrame) -> DataFrame:
        """Apply the consumption-grain merge to a stored frame (the
        view's current read, or a version-pinned one — compact)."""
        spec = meta.get("consumption") or {"grain": "rows"}
        if spec["grain"] != "cells":
            return df
        merged = [
            _MERGE_FN[fn](c).alias(c) for c, fn in spec["aggs"].items()
        ]
        out = (
            df.groupBy(*spec["keys"]).agg(*merged)
            if spec["keys"]
            else df.agg(*merged)
        )
        types = dict(map(tuple, spec["schema"]))
        # SUM widens (decimal precision, count→sum stays bigint): cast
        # back so the consumption schema equals the definition's
        return out.select(
            *[F.col(c).cast(types[c]).alias(c) for c in spec["order"]]
        )

    def fragmentation(self, project: str, name: str) -> int:
        """How many incremental-refresh appends have stacked since the
        view last held one cell per key: the count of ``append``
        commits after the most recent full-materialization commit
        (the initial append or the last ``merge`` from a full refresh
        / compaction).  Pure commit-log metadata — no data I/O — so
        the maintenance planner can poll it for free."""
        self._meta(project, name)
        frag, seen_initial = 0, False
        for rec in self._table(project, name).history():  # oldest-first
            op = rec.get("op")
            if op == "merge":  # full refresh / compaction: one cell per key
                frag = 0
            elif op == "append":
                if seen_initial:
                    frag += 1
                seen_initial = True  # the initial materialization is full
        return frag

    def compact(self, project: str, name: str) -> dict:
        """Merge a ``cells``-grain view's accumulated partial cells
        into ONE cell per key, published as a single atomic
        ``TxnTable.replace`` — reads flip at one version and the
        consumption re-aggregation goes back to touching one row per
        key.  Refresh-safe: a later incremental append just starts a
        new partial generation (``table()`` always re-aggregates),
        and the commit log keeps the applied app-version high-water
        mark across the replace, so the refresh clamp still holds.
        Only ``cells`` views compact — ``rows``/``opaque`` tables are
        already one-row-per-fact / full snapshots."""
        meta = self._meta(project, name)
        spec = meta.get("consumption") or {"grain": "rows"}
        if spec["grain"] != "cells":
            raise ValueError(
                f"materialized view {project}.{name} is "
                f"{spec['grain']}-grain; only cells-grain views have "
                "partial cells to compact"
            )
        # pin the snapshot BEFORE reading: the merged frame and the
        # replace's remove set must describe the SAME version, or an
        # incremental append landing between the staged read and the
        # commit would have its files retired without its rows in the
        # merged frame — a silently lost increment (ADVICE r15).
        # With remove_files pinned, such an append simply stays live
        # beside the compacted cells (consumption re-aggregates), and
        # a competing REWRITE surfaces as CommitConflict → recompute.
        from .txnlog import CommitConflict

        t = self._table(project, name)
        last_err: Exception | None = None
        for _ in range(3):
            v0 = t.version()
            files0 = t.live_files(version=v0)
            merged = self._consume(meta, t.read(version=v0, files=files0))
            try:
                t.replace(merged, remove_files=files0)
                return {"mode": "compacted", "view": name}
            except CommitConflict as e:  # concurrent rewrite: restage
                last_err = e
        raise last_err

    def drop(self, project: str, name: str) -> None:
        self._meta(project, name)
        os.remove(self._meta_path(project, name))
        shutil.rmtree(
            os.path.join(self._dir(project), f"{name}.txn"),
            ignore_errors=True,
        )

    def _insert_only(self, project: str, coll: str, frm: int, to: int) -> bool:
        """True when every commit in (frm, to] is an append or a KNOWN
        content-preserving op — a metadata scan of the commit records,
        no data I/O.  An UNRECOGNIZED op returns False (fail-safe: it
        may have changed data, so the caller full-recomputes —
        txnsource raises here because a stream cannot fall back; a
        refresh can, and the full path is correct regardless)."""
        t = self.store.txn_table(project, coll)
        for rec in t.history(since=frm + 1):
            if rec["version"] > to:
                break
            op = rec.get("op")
            if op == "append" or op in _CONTENT_PRESERVING_OPS:
                continue
            return False
        return True

    def refresh(self, project: str, name: str, full: bool = False) -> dict:
        """Bring the view up to date.  Returns {mode, versions} where
        mode is ``noop`` | ``incremental`` | ``full``."""
        meta = self._meta(project, name)
        current = {
            coll: self.store.txn_table(project, coll).version()
            for coll in meta["bases"]
        }
        if current == meta["bases"] and not full:
            return {"mode": "noop", "versions": current}
        incremental = (
            not full
            and meta["incremental_capable"]
            and all(
                self._insert_only(project, coll, meta["bases"][coll], cur)
                for coll, cur in current.items()
            )
        )
        view = self._table(project, name)
        if incremental:
            ((coll, last),) = meta["bases"].items()
            cur = current[coll]
            # clamp the feed start to the APPLIED high-water mark: a
            # crash between the data append and the meta write leaves
            # meta stale; if the base then advances, re-reading the
            # feed from stale meta would replay the already-applied
            # slice under a NEWER app_version and double-apply it —
            # the commit log itself records how far we really got
            # (ADVICE r14)
            applied = view.app_versions().get(f"matview:{name}", -1)
            last = max(last, applied)
            if last < cur:
                feed = self.store.changes(project, coll, last, cur)
                increment = feed.drop("_change_type", "_commit_version")
                out = self._run_over(meta["sql"], {coll: increment})
                # idempotent through the commit log: a replay of this
                # exact append is a no-op
                view.append(out, app=f"matview:{name}", app_version=cur)
            # else: the increment already landed (crash before the
            # meta write); repairing the metadata is all that is left
            mode = "incremental"
        else:
            frames = {
                coll: self.store.txn_table(project, coll).read(version=v)
                for coll, v in current.items()
            }
            out = self._run_over(meta["sql"], frames)
            # app-tag the replace so the applied high-water mark
            # covers full refreshes too: a crash between this commit
            # and the meta write below must not let a later
            # incremental refresh clamp to the PRE-replace mark and
            # re-append rows the replaced snapshot already contains
            # (ADVICE r15).  ONLY single-base views get the tag
            # (ADVICE r16): they are the only ones that ever read the
            # mark, and for a multi-base view max(bases) is NOT
            # monotone in the view's content — a refresh after only a
            # non-max base advanced would hit commit()'s idempotence
            # check and silently skip the replace while meta["bases"]
            # below still records the new versions.
            if len(current) == 1:
                view.replace(
                    out,
                    app=f"matview:{name}",
                    app_version=max(current.values()),
                )
            else:
                view.replace(out)
            mode = "full"
        meta["bases"] = current
        self._write_meta(project, name, meta)
        return {"mode": mode, "versions": current}
