"""Self-test of the benchmark at tiny input sizes (about a minute per run):

    python3 -m pytest perfbench/test_perfbench.py -q

For every workload: the untraced run prints every end-to-end metric of
``BENCHMARK.json`` with its unit, the traced run every per-layer metric,
and a deliberately wrong expected count turns the result into a reported
failure with no numbers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ojolgen  # noqa: E402
from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
TINY = "0.02"


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", TINY, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2].removeprefix("report "))
    return proc.returncode, report, json.loads(lines[-1])


def test_generator_reproduces_reference_shape():
    ojolgen.self_test()


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload, trace, key):
    code, report, result = _run(workload, trace)
    assert code == 0, report["failures"]
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    named = report["named_layers" if trace else "named"]
    assert all(isinstance(unit, str) for _, unit in named.values())
    assert report["host"]["nproc"] >= 1 and report["calibration_s"]["after"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_count_reports_failure(workload):
    code, report, result = _run(workload, 0, "--skew-expected")
    assert code == 1
    assert result["correct"] is False and result["failed"] >= 1
    assert result["metrics"] == {}
    assert report["failures"]
