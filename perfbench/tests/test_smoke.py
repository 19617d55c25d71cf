"""Smoke runs of every workload at sf0.001, untraced and traced, plus
the refusal to run without the package."""

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
sys.path.insert(0, BENCH)

from run import CURATE_LAYER, END_TO_END, PER_LAYER  # noqa: E402


def _run(cwd: str, workload: str, trace: int, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["serve", "ingest", "curate"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, lines[-2][-3000:]
    assert out["attempted"] >= 1
    names = END_TO_END
    if trace:
        names = PER_LAYER | (CURATE_LAYER if workload == "curate" else {})
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    env = json.loads(lines[-2])["env"]
    assert env["master"].startswith("local[") and env["nproc"] >= 1


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"serve", "ingest"}


def test_refuses_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(str(tmp_path), "serve", 0, timeout=170)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
