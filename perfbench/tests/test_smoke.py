"""Shortened smoke runs of every workload at a small data scale.

    python3 -m pytest perfbench/tests -q

Each run is a real subprocess of ``perfbench/run.py`` (its own Spark
JVM), so the module takes a few minutes. Checks: the last stdout line
is the result object, every metric that BENCHMARK.json names is printed
with its unit and better-direction, and nothing failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import harness  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run_bench(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(proc: subprocess.CompletedProcess, metrics: dict[str, tuple[str, str]]) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(metrics)
    table = {line.split()[0]: line.split() for line in proc.stderr.splitlines() if line.startswith("  ")}
    for name, (unit, better) in metrics.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], float)
        assert table[name][2:4] == [unit, better], table.get(name)
    return result


def test_benchmark_json_matches_harness():
    assert {w["name"] for w in SPEC["workloads"]} <= set(
        __import__("workloads").WORKLOADS
    )
    for m in SPEC["end_to_end"]:
        assert harness.END_TO_END[m["name"]] == (m["unit"], m["better"])
    for m in SPEC["per_layer"]:
        assert harness.PER_LAYER[m["name"]][:2] == (m["unit"], m["better"])
    assert {m["name"] for m in SPEC["per_layer"]} == set(harness.PER_LAYER)


@pytest.mark.parametrize("workload", ["dml_churn", "lake_scan", "operator_battery"])
def test_smoke_untraced(workload):
    proc = run_bench(["--workload", workload, "--seed", "3", "--seconds", "1",
                      "--trace", "0", "--scale", "0.001"])
    metrics = {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]}
    check_result(proc, metrics)


@pytest.mark.parametrize("workload", ["dml_churn", "operator_battery"])
def test_smoke_traced(workload):
    proc = run_bench(["--workload", workload, "--seed", "4", "--seconds", "1",
                      "--trace", "1", "--scale", "0.001"])
    metrics = {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]}
    result = check_result(proc, metrics)
    assert result["metrics"]["fail_ratio"]["value"] == 0.0
    assert "spans:" in proc.stderr


def test_refuses_tree_without_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_bench(["--workload", "dml_churn", "--seed", "1", "--seconds", "1"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
