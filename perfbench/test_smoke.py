"""Smoke tests of the benchmark itself (not of the program).

Each case runs ``perfbench/run.py --smoke`` at a tiny input size. run.py
exits non-zero when a metric of BENCHMARK.json is missing or an output
check never ran, so a passing case means every metric was emitted and
every check ran. About a minute per case:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["build_fused", "read_decode"])
def test_smoke_emits_every_metric(workload: str, trace: str) -> None:
    proc = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", trace, "--smoke")
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, detail_line, result_line = proc.stdout.strip().splitlines()
    result, detail = json.loads(result_line), json.loads(detail_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        spec = json.load(handle)
    kind = "per_layer" if trace == "1" else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in spec[kind]}
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["failed_ops"] == 0 and detail["storage_blocks_leaked"] >= 0


def test_fails_without_the_program(tmp_path) -> None:
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "build_fused", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_describe_names_every_metric() -> None:
    proc = _run(ROOT, "--describe")
    assert proc.returncode == 0, proc.stderr
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        spec = json.load(handle)
    for metric in spec["end_to_end"] + spec["per_layer"]:
        assert metric["name"] in proc.stdout
