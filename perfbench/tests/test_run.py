"""The benchmark's contract: metric names, BENCHMARK.json, the failure
mode outside a checkout, and a tiny run of every workload."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
from stats import METRIC_NAME

ROOT = run.ROOT
RUN_PY = os.path.join(run.HERE, "run.py")


def test_metric_names_are_well_formed():
    for table in (run.END_TO_END, run.PER_LAYER, run.BOARD_METRICS):
        for name, unit in table.items():
            assert METRIC_NAME.match(name), name
            assert unit and len(unit) <= 16, (name, unit)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tail", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, RUN_PY, "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("tail", 0), ("catchup", 1), ("board", 0)])
def test_smoke_run(workload, trace):
    result = smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else (run.BOARD_METRICS if workload == "board" else run.END_TO_END)
    assert set(result["metrics"]) == set(want)
    for name, metric in result["metrics"].items():
        assert metric["unit"] == want[name]
        assert isinstance(metric["value"], (int, float)), name
