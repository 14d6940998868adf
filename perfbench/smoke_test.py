"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/smoke_test.py -q

from the root of a checkout (a few minutes: each case starts its own Spark).
It checks that every end-to-end metric of BENCHMARK.json prints with its unit
on every workload, that a traced run prints every per-layer metric, that a
deliberately broken check shows in the failure count, and that the benchmark
fails without printing a result when the engine is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
# validate_full is runnable by name but not listed in BENCHMARK.json
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["validate_full"]


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[dict]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", "--size", "tiny", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = []
    for line in proc.stdout.splitlines():
        try:
            lines.append(json.loads(line))
        except ValueError:
            pass
    return proc.returncode, lines


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print(workload):
    code, lines = bench("--workload", workload, "--trace", "0")
    assert code == 0
    report, result = lines[-2]["report"], lines[-1]
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert report["failed_ops_ratio"] == {"value": 0.0, "unit": "ratio"}
    assert report["op_s.tail"]["samples"] == result["attempted"] == len(report["op_s"])
    assert report["rows_per_s"]["unit"] == "1/s" and report["rows_per_s"]["value"] > 0
    assert report["op_s.p50"]["unit"] == "s" and report["op_s.p50"]["value"] > 0
    assert {"loadavg", "burn_s"} <= set(report["contention"]["before"])


def test_traced_run_prints_per_layer_metrics():
    code, lines = bench("--workload", "discover_json", "--trace", "1")
    assert code == 0
    result = lines[-1]
    _assert_metrics(result, SPEC["per_layer"])
    assert result["metrics"]["discovery.docs"]["value"] > 0
    trace = os.path.join(ROOT, lines[-2]["report"]["trace_file"])
    with open(trace) as f:
        spans = json.load(f)["spans"]
    assert {"op", "discovery.discover_s"} <= {s["name"] for s in spans}


def test_broken_check_counts_as_failed():
    code, lines = bench("--workload", "validate_batch", "--trace", "0", "--break-check")
    assert code == 0
    report, result = lines[-2]["report"], lines[-1]
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert report["failed_ops_ratio"]["value"] == 1.0


def test_fails_without_the_engine():
    bare = os.path.join(ROOT, ".bench_runs", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench("--workload", "discover_json", "--trace", "0", cwd=bare)
        assert code != 0
        assert not lines
    finally:
        shutil.rmtree(bare, ignore_errors=True)
