"""Smoke test of the benchmark itself, on sf0.001 inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced and checks that each
metric BENCHMARK.json names is emitted with its unit, that every output
agreed with its DuckDB oracle (exit code 0, no failed op), and that a
deliberately corrupted result is counted as a failed op (exit code 1).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, corrupt: int = 0) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.001",
         "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert lines, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_its_unit(workload, trace):
    rc, res = _run(workload, trace)
    assert rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    values = [v["value"] for v in res["metrics"].values()]
    assert all(isinstance(v, (int, float)) for v in values)
    if not trace:
        assert all(v > 0 for v in values)


def test_corrupted_result_counts_as_failed_op():
    rc, res = _run("serving_analytics", 0, corrupt=1)
    assert rc == 1
    assert not res["correct"] and res["failed"] == 1 and res["attempted"] >= 56  # one whole pass
