"""The benchmark workloads.  Each is a closed loop with one
client: the next operation starts when the previous one returned.

Every workload has the same shape:

- ``min_warm``: how many warm passes a run makes at least;
- ``prepare(ctx)`` builds the program objects;
- ``prepare_pass(ctx, i)`` makes the inputs of pass ``i``, untimed,
  just before it runs (each call is one set-up round);
- ``run_pass(ctx, i)`` does one timed pass and returns the latencies of
  its operations, in seconds;
- ``check(ctx)`` compares the program's outputs with what the client
  expects, outside the timed region, and returns how many operations
  gave a wrong output;
- ``layer_counts(ctx)`` returns counts read from the program's outputs
  at the end (files, rows, ratios) for the traced run.

``ctx`` is ``run.Context``; sizes come from ``SIZES`` so the smoke test
runs the same code on tiny inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import gen

SIZES = {
    "full": {
        "live_events": 1_000,
        "live_user_ops": 200,
    },
    "tiny": {
        "live_events": 60,
        "live_user_ops": 20,
    },
}

#: the report tables: the repo's sf0.01 test tables (the scale its
#: DuckDB correctness gate uses), kept beside the benchmark
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# The report mix: the per-session-memo target of ROADMAP item 2 that
# is also a headline query (``llm``), and the cheapest headline
# relational query (``analytics``); see README "Time budget".
REPORT_MIX = (
    "dedup_minhash_lsh",
    "q6_forecast_revenue",
)


def _parquet_bytes(root: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``root``."""
    files = size = 0
    for d, dirs, fs in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


# --------------------------------------------------------------------------
# reports: the report mix over fresh copies of the report tables


def pass_order(seed: int, i: int) -> list[str]:
    """The report mix in the seeded order of pass ``i``."""
    order = list(REPORT_MIX)
    random.Random(f"{seed}-{i}").shuffle(order)
    return order


class Reports:
    # the first warm pass is still slower than the later ones, so a
    # median of one would swing with how many passes fit
    min_warm = 2

    def prepare(self, ctx) -> None:
        import __spark_entry__ as entry

        self.builders = entry.queries()
        self.oracles = entry.oracle_sql()
        self.layer = {
            n: "llm" if self.builders[n].__module__.startswith("rakam_api_spark.llm") else "analytics"
            for n in REPORT_MIX
        }
        self.dirs: list[str] = []
        self.results: list[list] = []

    def prepare_pass(self, ctx, i: int) -> None:
        # a fresh copy a pass: no per-session memo keyed on the data
        # directory can serve a pass the output of an earlier one
        self.dirs.append(shutil.copytree(DATA, os.path.join(ctx.work, f"tables{i}")))

    def run_pass(self, ctx, i: int) -> list[float]:
        lat, out = [], []
        for name in pass_order(ctx.seed, i):
            layer = self.layer[name]
            t0 = time.perf_counter()
            df = ctx.span(f"{layer}.build", self.builders[name], ctx.spark, self.dirs[i])
            rows = ctx.span(f"{layer}.collect", df.collect)
            lat.append(time.perf_counter() - t0)
            out.append((name, df.columns, rows))
            ctx.ops += 1
        self.results.append(out)
        return lat

    def check(self, ctx) -> int:
        from check_correctness import compare, duck_connection

        wrong = 0
        for i, out in enumerate(self.results):
            con = duck_connection(self.dirs[i])
            for name, cols, rows in out:
                rel = con.execute(self.oracles[name])
                problems = compare(
                    name, [tuple(r) for r in rows], rel.fetchall(), cols, [d[0] for d in rel.description]
                )
                if problems:
                    wrong += 1
                    ctx.log(f"wrong output: {name} in pass {i}: {problems[:2]}")
            con.close()
        return wrong

    def layer_counts(self, ctx) -> dict:
        return {}


# --------------------------------------------------------------------------
# live: a stream of events beside profile updates and dashboard reads


class Live:
    # a warm step is longer than --seconds; steps after the cold one
    # show no falling trend (the stream wait stays flat, the reads grow
    # with the log)
    min_warm = 1
    project = "live"
    topic = "events"
    measures = {"n": "CAST(COUNT(*) AS BIGINT)", "amount_sum": "SUM(amount)"}
    view = "buyer_totals"

    def prepare(self, ctx) -> None:
        from rakam_api_spark.api import EventCollector, default_pipeline
        from rakam_api_spark.catalog import Metastore
        from rakam_api_spark.matview import MaterializedViewService
        from rakam_api_spark.query_service import QueryService
        from rakam_api_spark.streaming import StreamingIngest
        from rakam_api_spark.streaming.localbus import LocalBusProducer
        from rakam_api_spark.users import UserStorage

        self.warehouse = os.path.join(ctx.work, "warehouse")
        self.ms = Metastore(self.warehouse)
        self.collector = EventCollector(ctx.spark, self.ms, pipeline=default_pipeline())
        self.store = self.collector.store
        self.users = UserStorage(ctx.spark, self.ms)
        self.qs = QueryService(ctx.spark, self.store, users=self.users)
        self.mv = MaterializedViewService(ctx.spark, self.store)
        self.producer = LocalBusProducer(os.path.join(ctx.work, "bus"))
        self.steps = []
        self.ms.create_project(self.project)
        os.makedirs(os.path.join(self.warehouse, self.project), exist_ok=True)
        for c in gen.LIVE_COLLECTIONS:
            self.store.enable_txn(self.project, c)
        self.ingest = StreamingIngest(
            self.collector,
            self.project,
            rollup_specs={"purchase": {"dims": ("event_type",), "measures": self.measures}},
        )
        self.query = self.ingest.start_local_bus_stream(
            os.path.join(ctx.work, "bus"), self.topic, os.path.join(ctx.work, "checkpoint")
        )
        ctx.on_exit(self.stop)
        # client-side truth: distinct events per collection, profiles
        self.events: dict[str, list[dict]] = {c: [] for c in gen.LIVE_COLLECTIONS}
        self.profiles: dict[int, dict] = {}
        self.sent = self.dup_sent = 0
        self.read_results: list[tuple[str, object, object]] = []
        self.routes: list[str] = []
        self.fresh_s: list[float] = []
        self.view_made = False

    def stop(self) -> None:
        self.query.stop()

    def prepare_pass(self, ctx, i: int) -> None:
        s = ctx.sizes
        self.steps.append(gen.live_step(ctx.seed, i, s["live_events"], s["live_user_ops"]))

    def _send(self, ctx, step: dict) -> None:
        from rakam_api_spark.streaming.job import to_kafka_envelopes

        for key, value in to_kafka_envelopes(step["events"] + step["duplicates"], self.project):
            self.producer.send(self.topic, key, value)
        self.producer.flush()
        self.sent += len(step["events"]) + len(step["duplicates"])
        self.dup_sent += len(step["duplicates"])
        for e in step["events"]:
            self.events[e["collection"]].append(e["properties"])

    def _apply_profiles(self, ctx, ops) -> None:
        from rakam_api_spark.users import UserOp

        self.users.batch(self.project, [UserOp(u, kind, dict(p)) for u, kind, p in ops])
        for u, kind, props in ops:
            prof = self.profiles.setdefault(u, {})
            for k, v in props.items():
                if kind == "set" or kind == "unset":
                    prof[k] = v
                elif kind == "set_once":
                    if prof.get(k) is None:
                        prof[k] = v
                else:
                    prof[k] = (prof.get(k) or 0) + v

    def _read_round(self, ctx) -> list[float]:
        t0 = time.perf_counter()
        res = self.qs.execute(
            self.project,
            "SELECT COUNT(*) AS n FROM (SELECT v._user FROM "
            "(SELECT _user, MIN(_time) AS t FROM pageview GROUP BY _user) v JOIN "
            "(SELECT _user, MAX(_time) AS t FROM purchase GROUP BY _user) p "
            "ON v._user = p._user WHERE p.t >= v.t)",
        )
        lat = [time.perf_counter() - t0]
        self.read_results.append(("funnel", None if res.failed else [list(r) for r in res.result], self._truth("funnel")))
        t0 = time.perf_counter()
        if not self.view_made:
            # made at the first read, once ``purchase`` has a schema
            self.mv.create(
                self.project,
                self.view,
                "SELECT _user, COUNT(*) AS n, SUM(amount) AS total FROM purchase GROUP BY _user",
            )
            self.view_made = True
        self.mv.refresh(self.project, self.view)
        rows = self.mv.table(self.project, self.view).collect()
        lat.append(time.perf_counter() - t0)
        got = [[sum(r["n"] for r in rows), sum(r["total"] for r in rows)]]
        self.read_results.append(("matview", got, self._truth("purchase_totals")))
        ctx.ops += len(lat)
        return lat

    def _truth(self, name: str):
        pv, pu = self.events["pageview"], self.events["purchase"]
        if name == "funnel":
            first = {}
            for e in pv:
                first[e["_user"]] = min(first.get(e["_user"], e["_time"]), e["_time"])
            last = {}
            for e in pu:
                last[e["_user"]] = max(last.get(e["_user"], e["_time"]), e["_time"])
            return [[sum(1 for u, t in last.items() if u in first and t >= first[u])]]
        return [[len(pu), float(sum(e["amount"] for e in pu))]]

    def run_pass(self, ctx, i: int) -> list[float]:
        """One step: send, wait until the events are queryable (their
        freshness), apply a profile batch, run a read round.  Returns
        the latency of each of these operations."""
        step = self.steps[i]
        t0 = time.perf_counter()
        self._send(ctx, step)
        ctx.span("streaming.await", self.query.processAllAvailable)
        t1 = time.perf_counter()
        self.fresh_s.append(t1 - t0)
        self._apply_profiles(ctx, step["user_ops"])
        ctx.ops += 2
        return [t1 - t0, time.perf_counter() - t1] + self._read_round(ctx)

    def _final_reads(self, ctx) -> None:
        """The reads the time budget leaves out of a step: the routed
        rollup report and profile lookups, made once at the end."""
        routed = self.store.route_report(self.project, "purchase", ("event_type",), self.measures, grain="total")
        self.routes.append(routed.route)
        rows = routed.df.collect()
        self.read_results.append(("route_report", [[r["n"], r["amount_sum"]] for r in rows], self._truth("purchase_totals")))
        users = sorted(self.profiles)[:2]
        for u in users:
            row = self.users.get_user(self.project, u)
            self.read_results.append(
                ("get_user", row and {k: row.get(k) for k in self.profiles[u]}, dict(self.profiles[u]))
            )
        ctx.ops += 1 + len(users)

    def check(self, ctx) -> int:
        wrong = 0
        self.query.processAllAvailable()
        if self.query.exception() is not None:
            wrong += 1
            ctx.log(f"stream failed: {self.query.exception()}")
        self._final_reads(ctx)
        self.stored = {}
        for c, evs in self.events.items():
            n = self.store.read(self.project, c).count()
            self.stored[c] = n
            if n != len(evs):
                wrong += 1
                ctx.log(f"{c}: {n} rows stored, {len(evs)} distinct events sent")
        for name, got, want in self.read_results:
            if not _same(got, want):
                wrong += 1
                ctx.log(f"{name}: got {got}, expected {want}")
        return wrong

    def layer_counts(self, ctx) -> dict:
        files, size = _parquet_bytes(os.path.join(self.warehouse, self.project), skip=("_matviews", "_users"))
        n_events = sum(self.stored.values())
        live = sum(len(self.store.txn_table(self.project, c).live_files()) for c in gen.LIVE_COLLECTIONS)
        timed = self.fresh_s[1:]
        return {
            "store.files_written": files,
            "store.bytes_per_event": size / max(1, n_events),
            "store.route_rollup_ratio": self.routes.count("rollup") / max(1, len(self.routes)),
            "txnlog.live_files": live,
            "matview.fragments": self.mv.fragmentation(self.project, self.view),
            "streaming.dup_drop_ratio": (self.sent - n_events) / max(1, self.dup_sent),
            "streaming.eps": ctx.sizes["live_events"] * len(timed) / max(1e-9, sum(timed)),
        }


def _same(got, want) -> bool:
    if isinstance(want, dict):
        return isinstance(got, dict) and all(_same(got.get(k), v) for k, v in want.items())
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(_same(a, b) for a, b in zip(got, want))
    if isinstance(want, (int, float)) and not isinstance(want, bool):
        return isinstance(got, (int, float)) and abs(got - want) <= 1e-9 * max(1.0, abs(want))
    return got == want


WORKLOADS = {"reports": Reports, "live": Live}
