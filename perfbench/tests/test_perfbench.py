"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

Tiny-size runs of every workload must print every metric BENCHMARK.json
names, with its unit; a corrupted output row must come back as a failure;
and a directory holding only the benchmark (no engine) must fail loudly.
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

from workloads import digest_rows, rows_match  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = "0.1"


def run_bench(cwd: str, workload: str, *extra: str, timeout: int = 600) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "5", "--seconds", "0", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,kind", [("0", "end_to_end"), ("1", "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace, kind):
    res = result_of(run_bench(ROOT, workload, "--trace", trace, "--scale", TINY))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if kind == "end_to_end":
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_row_is_a_failure(workload):
    res = result_of(run_bench(ROOT, workload, "--trace", "0", "--scale", TINY, "--corrupt"))
    assert res["correct"] is False
    assert res["failed"] >= 1
    assert res["metrics"]["ok_frac"]["value"] < 1.0


def test_benchmark_alone_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(str(tmp_path), WORKLOADS[0], "--trace", "0", timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_row_comparison_catches_one_changed_value():
    cols = ["doc_a", "doc_b", "sim"]
    rows = [(1, 2, 0.5), (3, 4, 0.75)]
    assert rows_match(cols, rows, cols[::-1], [r[::-1] for r in reversed(rows)])
    assert rows_match(cols, rows, cols, [(1, 2, 0.5 + 1e-9), (3, 4, 0.75)])
    assert not rows_match(cols, rows, cols, [(1, 2, 0.5), (3, 5, 0.75)])
    assert not rows_match(cols, rows, cols, rows[:1])


def test_digest_ignores_order_and_sees_changes():
    rows = [(1, "a", [1.0, 2.0]), (2, "b", [3.0])]
    assert digest_rows(rows) == digest_rows(rows[::-1])
    assert digest_rows(rows) != digest_rows([(1, "a", [1.0, 2.0]), (2, "c", [3.0])])
