"""Smoke test of the benchmark at tiny input sizes (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Every metric named in BENCHMARK.json is emitted with its unit, a tampered
expected state hash is reported as a failed operation rather than a
crash, and the benchmark refuses to run without the program next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [
            sys.executable,
            os.path.join(cwd, "perfbench", "run.py"),
            "--workload",
            workload,
            "--seed",
            "3",
            "--seconds",
            "1",
            "--trace",
            str(trace),
            "--size",
            "tiny",
            *extra,
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    return res


def _check_metrics(res: dict, declared: list) -> None:
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    res = _result(_run(workload, 1))
    assert res["correct"] and res["failed"] == 0
    _check_metrics(res, BENCH["per_layer"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tampered_expected_hash_is_a_failed_operation(workload):
    res = _result(_run(workload, 0, "--tamper-expected"))
    assert not res["correct"]
    assert 1 <= res["failed"] <= res["attempted"]
    _check_metrics(res, BENCH["end_to_end"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE,
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
