"""Smoke test of the benchmark itself, at the shortest run length.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload in BENCHMARK.json it runs the command untraced and traced
and checks that each declared metric comes out by name with its unit, that
outputs were correct, and that the traced layer self times plus the reported
unexplained remainder add up to the traced wall time. Takes a few minutes:
each run starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report_path = lines[-2].split("perfbench report: ", 1)[1]
    with open(os.path.join(ROOT, report_path)) as f:
        return result, json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_emitted_with_unit(workload, trace):
    result, report = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, report["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        assert report["warmup"]["count"] >= 1 and report["op_wall_ref"]["n"] >= 1
        return
    # traced: layer self times reconcile with wall time
    assert report["reconcile"], "no traced operation completed"
    for rec in report["reconcile"]:
        total = sum(rec["self_s"].values()) + rec["unexplained_s"]
        assert math.isclose(total, rec["wall_s"], rel_tol=1e-9, abs_tol=1e-9)
    assert any(s["name"] == "session.start" for s in report["spans"])


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([*BENCH["command"], "--workload", BENCH["workloads"][0]["name"],
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
