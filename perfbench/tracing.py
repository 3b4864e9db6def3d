"""Spans around the program's public calls, and per-layer metrics
built from them plus Spark's own event log.

A traced run wraps each layer's public functions and methods *where
their callers look them up* (module attributes imported by name,
class attributes for methods).  Each call records a span
``(name, start, end, thread, parent, error)`` in memory; nothing is
written until the run ends.  While a span is open on a thread, the
Spark local property ``perfbench.span`` carries its id, so every job
that thread submits names its span in the event log.  Jobs submitted
from threads with no open span (e.g. a pool inside the program) are
attributed to the innermost span whose interval holds the job's
submission time.

Self time of a span is its duration minus the part of its interval
covered by spans nested inside it (on any thread, so pool-thread work
counts as nested).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []  # [name, start, end, thread, parent, error]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.main_thread = threading.get_ident()

    # ---- recording -------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, jobs: bool, fn, *args, **kwargs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                [name, time.time(), None, threading.get_ident(), stack[-1] if stack else None, None]
            )
        stack.append(sid)
        sc = self.spark.sparkContext if jobs else None
        if sc is not None:
            sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            return fn(*args, **kwargs)
        except BaseException as e:
            self.spans[sid][5] = type(e).__name__
            raise
        finally:
            self.spans[sid][2] = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(SPAN_PROP, str(stack[-1]) if stack else None)

    def wrap_function(self, module: str, attr: str, name: str, jobs: bool = True) -> None:
        """Replace ``module.attr`` and every other module attribute in
        the program's package bound to the same function object."""
        orig = getattr(sys.modules[module], attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, jobs, orig, *args, **kwargs)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name.startswith("rakam_api_spark") or mod_name == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, key, val))
                    setattr(mod, key, wrapper)

    def wrap_method(self, cls, attr: str, name: str, jobs: bool = True) -> None:
        orig = cls.__dict__[attr]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, jobs, orig, *args, **kwargs)

        self._undo.append((cls, attr, orig))
        setattr(cls, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, val in reversed(self._undo):
            setattr(owner, attr, val)
        self._undo.clear()


def install(tracer: Tracer) -> None:
    """Wrap the public calls of every measured layer."""
    import rakam_api_spark.api  # noqa: F401  (binds the names api.py imports)
    from rakam_api_spark.catalog import Metastore
    from rakam_api_spark.enrich.pipeline import EnrichmentPipeline
    from rakam_api_spark.matview import MaterializedViewService
    from rakam_api_spark.query_service import QueryService
    from rakam_api_spark.store import EventStore
    from rakam_api_spark.streaming.job import StreamingIngest
    from rakam_api_spark.txnlog import TxnTable
    from rakam_api_spark.users import UserStorage

    w = tracer.wrap_function
    w("rakam_api_spark.tables", "load_table", "tables.load")
    w("rakam_api_spark.ingest.infer", "infer_new_fields", "ingest.infer")
    w("rakam_api_spark.ingest.coerce", "coerce_to_schema", "ingest.coerce_plan")
    m = tracer.wrap_method
    m(EnrichmentPipeline, "apply", "enrich.plan")
    for attr in (
        "create_project",
        "project",
        "get_config",
        "set_config",
        "set_config_once",
        "collections",
        "get_collection",
        "get_or_create_collection_fields",
    ):
        m(Metastore, attr, "catalog.call", jobs=False)
    m(EventStore, "write_batch", "store.write")
    m(EventStore, "write_dead_letter", "store.dead_letter")
    m(EventStore, "publish_rollup", "store.rollup")
    m(EventStore, "route_report", "store.route_report")
    m(EventStore, "read", "store.read")
    m(TxnTable, "commit", "txnlog.commit", jobs=False)
    m(TxnTable, "state", "txnlog.state", jobs=False)
    m(StreamingIngest, "process_batch", "streaming.process_batch")
    m(UserStorage, "batch", "users.batch")
    m(UserStorage, "get_user", "users.get")
    m(QueryService, "execute", "query_service.execute")
    m(MaterializedViewService, "refresh", "matview.refresh")
    m(MaterializedViewService, "table", "matview.table")


# ---- event log -------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and their stage/task totals from an uncompressed,
    non-rolling Spark event log (one JSON object a line)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        if path.endswith(".inprogress"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "span": props.get(SPAN_PROP),
                        "stages": 0,
                        "tasks": 0,
                        "run_ms": 0.0,
                        "cpu_ms": 0.0,
                        "gc_ms": 0.0,
                        "shuffle_read_b": 0,
                        "shuffle_write_b": 0,
                        "spill_b": 0,
                        "files": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    j = jobs[jid]
                    tm = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["run_ms"] += tm.get("Executor Run Time", 0)
                    j["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    j["gc_ms"] += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    j["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    j["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    j["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    om = tm.get("Output Metrics") or {}
                    j["files"] += 1 if om.get("Records Written", 0) else 0
    return {"jobs": jobs}


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_jobs(spans: list[list], jobs: dict[int, dict]) -> None:
    """Set ``job["span"]`` to a span index: the local property when
    present, else the innermost span open at submission time."""
    closed = [(i, s) for i, s in enumerate(spans) if s[2] is not None]
    for j in jobs.values():
        if j["span"] is not None:
            j["span"] = int(j["span"])
            continue
        best, best_len = None, None
        for i, s in closed:
            if s[1] <= j["submit"] <= s[2] and (best_len is None or s[2] - s[1] < best_len):
                best, best_len = i, s[2] - s[1]
        j["span"] = best


def self_time(spans: list[list], i: int) -> float:
    """Duration of span ``i`` minus the union of the spans nested in
    its interval (opened after it, on any thread)."""
    s = spans[i]
    inner = [
        (o[1], o[2])
        for k, o in enumerate(spans)
        if k != i and o[2] is not None and s[1] <= o[1] and o[2] <= s[2] and (o[1], -o[2]) > (s[1], -s[2])
    ]
    return s[2] - s[1] - union_len(inner)
