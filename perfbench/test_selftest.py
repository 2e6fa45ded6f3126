"""Self-test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_selftest.py -q      # ~5 min, 4 cores

For every workload: a traced run prints every per-layer metric of
BENCHMARK.json with its unit and passes its checks, and an untraced run
whose outputs are deliberately corrupted prints every end-to-end metric
with its unit and reports the failed laps. Without the program next to
it, the benchmark exits non-zero and prints no result.
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
sys.path.insert(0, HERE)
from run import SIZES  # noqa: E402


def _spec(key: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[key]


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         *args], cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    return out


def _assert_metrics(out: dict, spec: list[dict]) -> None:
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_traced_run_prints_every_layer_metric(workload):
    out = _result(_run("--workload", workload, "--trace", "1",
                       "--size", "tiny"))
    _assert_metrics(out, _spec("per_layer"))
    assert out["correct"] and out["failed"] == 0


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_corrupted_output_trips_the_check(workload):
    out = _result(_run("--workload", workload, "--trace", "0",
                       "--size", "tiny", "--corrupt"))
    _assert_metrics(out, _spec("end_to_end"))
    assert not out["correct"] and out["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work",
                                                  "__pycache__"))
    proc = _run("--workload", "crawl_dense", "--trace", "0",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
