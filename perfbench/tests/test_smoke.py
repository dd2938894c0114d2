"""Smoke self-test of the benchmark at a tiny input size: every workload
emits every named metric with its unit, and a planted defect (a committed
output damaged before its check) fails the gate and raises the error rate.

Runs the benchmark as a subprocess, like any user would; takes ~10 minutes
on 4 cores:

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ("batch_sql", "near_dup", "stream_tail")


def run(workload: str, *flags: str) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--size", "tiny", *flags],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def expected_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer"] if trace else spec["end_to_end"]
    return {m["name"]: m["unit"] for m in names}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_gate(workload):
    out = run(workload, "--trace", "0")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: m["unit"] for k, m in out["metrics"].items()} == expected_metrics(False)
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_defect_fails_the_gate(workload):
    out = run(workload, "--trace", "0", "--plant-defect")
    assert not out["correct"]
    assert out["failed"] >= 1 and out["failed"] / out["attempted"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_metric(workload):
    out = run(workload, "--trace", "1")
    assert out["correct"]
    metrics = out["metrics"]
    assert {k: m["unit"] for k, m in metrics.items()} == expected_metrics(True)
    assert 0.9 <= metrics["trace.completeness"]["value"] <= 1.1
    # the near-dup operators are traced on near_dup and along stream_tail
    traced_functions = workload != "batch_sql"
    assert (metrics["functions.jaccard_pairs.task_s"]["value"] > 0) == traced_functions
    if workload == "stream_tail":
        assert metrics["streaming.batches"]["value"] > 0
        for layer in ("parse.mask", "parse.apply", "enrich", "route"):
            assert metrics[f"{layer}.wall_s"]["value"] > 0
