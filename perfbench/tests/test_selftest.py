"""Self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

Drives every workload of BENCHMARK.json end to end, untraced and traced
(twice, to check that the counters repeat), in the benchmark's own
configuration with a one-second window, and checks the printed result
against BENCHMARK.json. Takes six to seven minutes: each run starts its
own Spark session and runs its warm-up ops.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable, os.path.join(cwd, "perfbench", "run.py"),
            "--workload", workload, "--seed", str(SEED), "--seconds", "1",
            "--trace", str(trace),
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 2
    return result


def units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


def test_metric_tables_match_benchmark_json():
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS as IMPLEMENTED

    assert [m["name"] for m in SPEC["end_to_end"]] == list(END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert [m["name"] for m in SPEC["per_layer"]] == list(PER_LAYER)
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} == PER_LAYER
    assert WORKLOADS == list(IMPLEMENTED)
    for w in SPEC["workloads"]:
        assert f"{IMPLEMENTED[w['name']].warmup_ops} warm-up op" in w["why"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_end_to_end_metrics(workload):
    result = result_of(run_bench(workload, 0))
    assert units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for name, m in result["metrics"].items():
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_runs_print_per_layer_metrics_and_repeat(workload):
    from compare_traces import compare

    artifact = os.path.join(BENCH, "traces", f"{workload}-seed{SEED}.json")
    copies = []
    try:
        for i in range(2):
            result = result_of(run_bench(workload, 1))
            assert units(result) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
            copies.append(f"{artifact}.{i}")
            os.replace(artifact, copies[-1])
        assert compare(*copies) == []
    finally:
        for path in copies:
            os.remove(path)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(
        "__pycache__", "traces"))
    proc = run_bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
