"""Smoke test of the benchmark itself.

Each workload runs at a tiny size, traced and untraced. Every declared
metric must be printed with its unit and the output checks must pass.

    python3 -m pytest perfbench/test_smoke.py -q
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

import run  # noqa: E402


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_prints_every_metric(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], p.stdout.strip().splitlines()[-2]
    assert result["failed"] == 0 and result["attempted"] >= 1
    if trace:
        want = run.PER_LAYER
    else:
        want = {name: unit for name, (unit, _, _) in run.END_TO_END.items()}
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert {name: m["unit"] for name, m in result["metrics"].items()} == want


def test_manifest_is_current():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == run.manifest()


def test_fails_without_the_program(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the run must
    fail without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(str(tmp_path), "--workload", "dns_backlog", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
