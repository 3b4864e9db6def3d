"""Benchmark of rakam_api_spark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload reports|live --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run it from the root of a checkout.  It builds nothing: the program is
the Python package beside this directory.  The run

1. sets up: starts Spark on ``local[min(4, cpus)]`` and builds the
   program objects;
2. runs passes in a closed loop with one client.  Each pass's inputs
   are made just before it, untimed (one set-up round each).  The first
   pass is cold, the process's first use of the code path, and counts
   as set-up.  Timed warm passes follow, at least the workload's
   ``min_warm``, and more while the next one, as long as the last, still
   ends within ``--seconds`` of the first warm pass;
3. checks every output against what the client expects, outside the
   timed region;
4. stops Spark, waits for its processes and deletes its work directory.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
it wraps each layer's public calls in spans, records Spark's event log,
and prints the per-layer metrics instead (with ``trace.pass_s``, the
traced run's own ``pass_s``, to set against an untraced run for the
tracing overhead).  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Every file the run writes stays under ``.perfbench_work/`` in the
checkout, and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc.  Each
    process counts its proportional set size, so pages that forked
    workers share with their parent are counted once, not once a
    process."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_ev = threading.Event()

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()
        self.peak = max(self.peak, self.sample())


class Context:
    """What a workload sees of the run: the session, its seed and
    sizes, a private work directory, and the run's bookkeeping."""

    def __init__(self, spark, seed: int, sizes: dict, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.work = work
        self.tracer = tracer
        self.setup_rounds: list[float] = []
        self.ops = 0
        self._exit: list = []

    def setup_round(self, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.setup_rounds.append(time.perf_counter() - t0)

    def span(self, name: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(name, True, fn, *args)

    def on_exit(self, fn) -> None:
        self._exit.append(fn)

    def close(self) -> None:
        for fn in reversed(self._exit):
            try:
                fn()
            except Exception:  # noqa: BLE001 - keep closing the rest
                traceback.print_exc()

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _environment(work: str, trace: bool) -> None:
    """Point every writer of the run at ``work`` and make the program
    importable by Spark's Python workers."""
    for d in ("tmp", "local", "eventlog", "sql-warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_GRAFT_CPUS"] = str(min(4, len(os.sched_getaffinity(0))))
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # every JVM, the launcher's too: temp files in ``work``, no
    # hsperfdata file in the system temp directory
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "sql-warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still uses it


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    t_start = process_start_time()
    if not os.path.isdir(os.path.join(ROOT, "rakam_api_spark")):
        raise SystemExit(f"perfbench: no rakam_api_spark package beside {HERE}")
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, trace)
    sampler = RssSampler()
    sampler.start()
    spark = ctx = tracer = None
    setup_s = 0.0
    passes: list[tuple[float, float]] = []  # (start, end) wall clock
    walls: list[float] = []
    failed = wrong = 0
    try:
        from rakam_api_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        if trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracing.install(tracer)
        ctx = Context(spark, args.seed, workloads.SIZES[args.size], work, tracer)
        wl = workloads.WORKLOADS[args.workload]()
        wl.prepare(ctx)
        # the cold pass, then at least ``min_warm`` warm passes, and more
        # while the next, as long as the last, still ends within
        # --seconds of the first warm one
        while len(passes) <= wl.min_warm or time.time() - passes[1][0] + walls[-1] <= args.seconds:
            i = len(passes)
            ctx.setup_round(lambda: wl.prepare_pass(ctx, i))
            t0 = time.time()
            try:
                ops = wl.run_pass(ctx, i)
            except Exception:  # noqa: BLE001 - a failed op ends the run, counted
                traceback.print_exc()
                failed += 1
                break
            passes.append((t0, time.time()))
            walls.append(passes[-1][1] - t0)
            ctx.log(f"pass {i}: {walls[-1]:.2f} s, ops {' '.join(f'{x:.2f}' for x in ops)}")
        if len(passes) > 1:
            # set-up: everything before the first warm pass, the cold
            # pass included, with the per-pass input rounds counted at
            # their median
            setup_s = passes[1][0] - t_start - sum(ctx.setup_rounds[:2]) + _median(ctx.setup_rounds)
        if not failed:
            wrong = wl.check(ctx)
        counts = wl.layer_counts(ctx) if trace and not failed else {}
    finally:
        if ctx is not None:
            ctx.close()
        if tracer is not None:
            tracer.unwrap()
        if spark is not None:
            _stop_spark(spark)
        sampler.stop()
        # a traced run reads its event log below, after Spark stopped
        if not trace or sys.exc_info()[0] is not None:
            _remove(work)

    e2e = {
        "setup_s": (setup_s, "s", len(ctx.setup_rounds)),
        "pass_s": (_median(walls[1:]), "s", len(walls[1:])),
        "peak_rss_mb": (sampler.peak / 2**20, "MB", 1),
    }
    if trace:
        import tracing

        metrics = layers.per_layer(tracer, tracing.read_event_log(os.path.join(work, "eventlog")), passes, counts)
        metrics["trace.pass_s"] = (e2e["pass_s"][0], "s", e2e["pass_s"][2])
        _remove(work)
    else:
        metrics = e2e
    attempted = max(1, ctx.ops if ctx else 0)
    bad = failed + wrong
    for name, (value, unit, n) in metrics.items():
        print(f"{args.workload:8s} {name:34s} {value:16.4f} {unit:9s} n={n}")
    print(f"{args.workload:8s} {'error_rate':34s} {bad / attempted:16.4f} {'ratio':9s} n={attempted}")
    return {
        "correct": bad == 0,
        "attempted": attempted,
        "failed": bad,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
