"""Smoke test of the benchmark at a small input size.

Both workloads, untraced and traced: every metric BENCHMARK.json names
is printed with its unit, no op fails, and the traced calls reconcile
with the op wall. Also checks that the benchmark refuses to run without
the engine next to it. About five minutes on 4 cores:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.2"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert {w["name"] for w in spec["workloads"]} == {"build", "refresh"}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["build", "refresh"])
def test_smoke(workload, trace):
    out = _bench(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = run.per_layer_metrics() if trace else [(n, u) for n, u, _ in run.END_TO_END]
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == expected
    values = {n: m["value"] for n, m in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    calls = run.FULL_CALLS + run.LIGHT_CALLS
    summed = sum(values[f"{c}.wall_s"] for c in calls)
    assert summed == pytest.approx(values["op.wall_s"], rel=0.10)


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(str(tmp_path), "build", 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
