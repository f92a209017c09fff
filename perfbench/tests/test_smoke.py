"""Smoke test of the benchmark at a tiny size.

Run from the repository root:

    python -m pytest perfbench/tests -q

Each case runs ``perfbench/run.py --scale tiny`` in a subprocess (about
half a minute each) and checks the contract of its last output line:
every metric ``BENCHMARK.json`` names is emitted with its unit, and a
deliberately corrupted ground truth is counted as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
IDLE_ON_QUERY_SUITE = ("pipeline.", "payload.", "pdfmini.", "kernel.")


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, spec: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_corrupted_truth_counts_as_failed(workload):
    res = result(run(ROOT, "--workload", workload, "--trace", "0",
                     "--corrupt-expected", "2"))
    assert_metrics(res, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]
    assert res["failed"] == 2
    assert res["correct"] is False


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    res = result(run(ROOT, "--workload", workload, "--trace", "1"))
    assert_metrics(res, SPEC["per_layer"])
    assert res["correct"] is True and res["failed"] == 0
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "query_suite":
        for name, v in values.items():
            if name.startswith(IDLE_ON_QUERY_SUITE):
                assert v == 0, name
        assert any(v > 0 for k, v in values.items() if k.startswith("operators."))
    else:
        for name, v in values.items():
            if name.startswith("operators."):
                assert v == 0, name
        assert values["kernel.extract_ms_p50"] > 0
        assert values["pdfmini.parse_ms_p50"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(str(tmp_path), "--workload", WORKLOADS[0], "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
