"""Self-check of the benchmark at the tiny input size.

    python3 -m pytest perfbench/tests -q

Runs every workload once untraced and once traced and checks that every
metric ``BENCHMARK.json`` names is printed with its unit; then checks that
a corrupted output (one gold row dropped before the publish) is counted
as a failed op.  Each run starts its own Spark session (about a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import workloads  # noqa: E402
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """(result, detail) lines of one tiny run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def assert_metrics(result: dict, declared: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_prints_every_end_to_end_metric(workload):
    result, detail = run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert_metrics(result, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert detail["failed_op_share"] == 0
    assert detail["figures"] and detail["context"]["nproc"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_prints_every_per_layer_metric(workload):
    result, _ = run(workload, 1)
    assert result["correct"]
    assert_metrics(result, BENCH["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    walls = [m[f"{layer}.wall_s"] for layer in workloads.WORKLOADS[workload].LAYERS]
    assert all(w > 0 for w in walls)
    # The calls account for the cycle: the client's own time is small.
    assert m["client.cycle.self_s"] < 0.05 * sum(walls)


def test_dropped_gold_row_is_a_failed_op():
    result, detail = run("medallion_daily", 0, "--corrupt")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert detail["failed_op_share"] > 0
