"""Per-layer metrics of a traced run.

Inputs: the tracer's spans, the jobs of Spark's event log, the timed
pass windows, and end-of-run counts a workload read from the
program's outputs.  Only spans and jobs that start inside a timed pass
are counted.  A layer that a workload does not call reports 0.

Span names are ``<layer>.<call>`` (see ``tracing.install`` and the
workloads' own ``ctx.span`` calls).  ``X.ms``-style metrics sum the
outermost spans of a name, so a call that re-enters its own layer is
not counted twice.  Job metrics count the jobs whose span, or one of
the spans enclosing it, has the named prefix.
"""

from __future__ import annotations

from tracing import attribute_jobs, self_time, union_len

#: every per-layer metric, in print order, with its unit
PER_LAYER = [
    ("analytics.build_ms", "ms"),
    ("analytics.collect_ms", "ms"),
    ("analytics.jobs", "count"),
    ("analytics.stages", "count"),
    ("analytics.tasks", "count"),
    ("analytics.shuffle_write_b", "B"),
    ("llm.build_ms", "ms"),
    ("llm.build_jobs", "count"),
    ("llm.collect_ms", "ms"),
    ("llm.stages", "count"),
    ("tables.load_ms", "ms"),
    ("ingest.infer_ms", "ms"),
    ("ingest.infer_jobs", "count"),
    ("ingest.coerce_plan_ms", "ms"),
    ("enrich.plan_ms", "ms"),
    ("catalog.calls", "count"),
    ("catalog.ms", "ms"),
    ("store.write_ms", "ms"),
    ("store.write_jobs", "count"),
    ("store.write_exec_cpu_ms", "ms"),
    ("store.files_written", "count"),
    ("store.bytes_per_event", "B"),
    ("store.rollup_ms", "ms"),
    ("store.route_rollup_ratio", "ratio"),
    ("txnlog.commits", "count"),
    ("txnlog.commit_ms", "ms"),
    ("txnlog.commit_conflicts", "count"),
    ("txnlog.live_files", "count"),
    ("txnlog.state_ms", "ms"),
    ("streaming.epochs", "count"),
    ("streaming.process_batch_ms", "ms"),
    ("streaming.self_ms", "ms"),
    ("streaming.trigger_overhead_ms", "ms"),
    ("streaming.dup_drop_ratio", "ratio"),
    ("streaming.eps", "events/s"),
    ("users.batch_ms", "ms"),
    ("users.batch_jobs", "count"),
    ("users.get_ms", "ms"),
    ("query_service.execute_ms", "ms"),
    ("query_service.jobs", "count"),
    ("matview.refresh_ms", "ms"),
    ("matview.fragments", "count"),
    ("spark.driver_ms", "ms"),
    ("spark.exec_run_ms", "ms"),
    ("spark.exec_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_read_b", "B"),
    ("spark.shuffle_write_b", "B"),
    ("spark.spill_b", "B"),
    ("trace.pass_s", "s"),
]

#: span-time metrics: metric → span name
_SPAN_MS = {
    "analytics.build_ms": "analytics.build",
    "analytics.collect_ms": "analytics.collect",
    "llm.build_ms": "llm.build",
    "llm.collect_ms": "llm.collect",
    "tables.load_ms": "tables.load",
    "ingest.infer_ms": "ingest.infer",
    "ingest.coerce_plan_ms": "ingest.coerce_plan",
    "enrich.plan_ms": "enrich.plan",
    "catalog.ms": "catalog.call",
    "store.write_ms": "store.write",
    "store.rollup_ms": "store.rollup",
    "txnlog.commit_ms": "txnlog.commit",
    "txnlog.state_ms": "txnlog.state",
    "streaming.process_batch_ms": "streaming.process_batch",
    "users.batch_ms": "users.batch",
    "users.get_ms": "users.get",
    "query_service.execute_ms": "query_service.execute",
    "matview.refresh_ms": "matview.refresh",
}

#: span-count metrics: metric → span name
_SPAN_COUNT = {
    "catalog.calls": "catalog.call",
    "txnlog.commits": "txnlog.commit",
    "streaming.epochs": "streaming.process_batch",
}

#: job metrics: metric → (enclosing span prefixes, job field)
_JOB = {
    "analytics.jobs": (("analytics.",), None),
    "analytics.stages": (("analytics.",), "stages"),
    "analytics.tasks": (("analytics.",), "tasks"),
    "analytics.shuffle_write_b": (("analytics.",), "shuffle_write_b"),
    "llm.build_jobs": (("llm.build",), None),
    "llm.stages": (("llm.",), "stages"),
    "ingest.infer_jobs": (("ingest.infer",), None),
    "store.write_jobs": (("store.write",), None),
    "store.write_exec_cpu_ms": (("store.write",), "cpu_ms"),
    "users.batch_jobs": (("users.batch",), None),
    "query_service.jobs": (("query_service.execute",), None),
}


def _in_passes(t: float, passes: list[tuple[float, float]]) -> bool:
    return any(s <= t <= e for s, e in passes)


def _enclosing(spans: list[list], main_thread: int) -> list[list[int]]:
    """For each span, the indices of itself and every span enclosing
    it: the same-thread parent chain, and for a span opened on another
    thread (a pool inside the program), the spans whose interval holds
    it."""
    out = []
    for i, s in enumerate(spans):
        chain = [i]
        p = s[4]
        while p is not None:
            chain.append(p)
            p = spans[p][4]
        root = spans[chain[-1]]
        if root[3] != main_thread and root[2] is not None:
            for k, o in enumerate(spans):
                if o[3] != root[3] and o[2] is not None and o[1] <= root[1] and root[2] <= o[2]:
                    chain.append(k)
        out.append(chain)
    return out


def per_layer(tracer, log: dict, passes: list[tuple[float, float]], counts: dict) -> dict:
    spans = tracer.spans
    jobs = log["jobs"]
    attribute_jobs(spans, jobs)
    keep = [i for i, s in enumerate(spans) if s[2] is not None and _in_passes(s[1], passes)]
    encl = _enclosing(spans, tracer.main_thread)
    names = [s[0] for s in spans]
    out: dict[str, tuple[float, str, int]] = {}

    def outermost(i: int) -> bool:
        return all(names[k] != names[i] for k in encl[i][1:])

    for metric, span in _SPAN_MS.items():
        sel = [i for i in keep if names[i] == span and outermost(i)]
        out[metric] = (sum(spans[i][2] - spans[i][1] for i in sel) * 1000.0, "ms", len(sel))
    for metric, span in _SPAN_COUNT.items():
        sel = [i for i in keep if names[i] == span and outermost(i)]
        out[metric] = (len(sel), "count", len(sel))
    out["txnlog.commit_conflicts"] = (
        sum(1 for i in keep if names[i] == "txnlog.commit" and spans[i][5] == "CommitConflict"),
        "count",
        1,
    )
    batches = [i for i in keep if names[i] == "streaming.process_batch"]
    out["streaming.self_ms"] = (sum(self_time(spans, i) for i in batches) * 1000.0, "ms", len(batches))
    waits = sum(spans[i][2] - spans[i][1] for i in keep if names[i] == "streaming.await")
    out["streaming.trigger_overhead_ms"] = (
        (waits - sum(spans[i][2] - spans[i][1] for i in batches)) * 1000.0 if waits else 0.0,
        "ms",
        len(batches),
    )

    timed = [j for j in jobs.values() if _in_passes(j["submit"], passes)]
    for metric, (prefixes, field) in _JOB.items():
        sel = [
            j
            for j in timed
            if j["span"] is not None and any(names[k].startswith(prefixes) for k in encl[j["span"]])
        ]
        value = len(sel) if field is None else sum(j[field] for j in sel)
        out[metric] = (value, dict(PER_LAYER)[metric], len(sel))

    busy = sum(
        union_len([(max(s, j["submit"]), min(e, j["end"] or e)) for j in timed if s <= j["submit"] <= e])
        for s, e in passes
    )
    wall = sum(e - s for s, e in passes)
    out["spark.driver_ms"] = ((wall - busy) * 1000.0, "ms", len(timed))
    for metric, field in (
        ("spark.exec_run_ms", "run_ms"),
        ("spark.exec_cpu_ms", "cpu_ms"),
        ("spark.gc_ms", "gc_ms"),
        ("spark.shuffle_read_b", "shuffle_read_b"),
        ("spark.shuffle_write_b", "shuffle_write_b"),
        ("spark.spill_b", "spill_b"),
    ):
        out[metric] = (sum(j[field] for j in timed), dict(PER_LAYER)[metric], len(timed))

    units = dict(PER_LAYER)
    for metric, value in counts.items():
        out[metric] = (value, units[metric], 1)
    return {m: out.get(m, (0, u, 0)) for m, u in PER_LAYER if not m.startswith("trace.")}
