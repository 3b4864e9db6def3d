"""Tests of the benchmark itself (not of the program under test).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark once per workload at the ``tiny`` size and
take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_report_order_same_seed_same_order():
    assert workloads.pass_order(5, 2) == workloads.pass_order(5, 2)
    assert sorted(workloads.pass_order(5, 2)) == sorted(workloads.REPORT_MIX)
    assert [workloads.pass_order(5, i) for i in range(6)] != [workloads.pass_order(6, i) for i in range(6)]


def test_live_steps_same_seed_same_bytes():
    def step_bytes(seed: int) -> bytes:
        return json.dumps(gen.live_step(seed, 3, 100, 20), sort_keys=True).encode()

    assert step_bytes(5) == step_bytes(5)
    assert step_bytes(5) != step_bytes(6)


def test_benchmark_json_lists_every_per_layer_metric():
    names = [m["name"] for m in _bench()["per_layer"]]
    assert names == [n for n, _ in layers.PER_LAYER]


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["reports", "live"])
def test_smoke_run_is_correct_and_prints_known_metrics(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in _bench()["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _run("live", 1)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    assert out["metrics"]["store.write_ms"]["value"] > 0
    assert out["metrics"]["streaming.epochs"]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast
    and prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "live", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
