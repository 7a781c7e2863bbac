"""Smoke runs of the benchmark: every workload, both modes, shortest run.

Each run is one warm-up pass plus one timed pass (``--seconds 0``), so
the whole file takes a few minutes. Run with
``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_appears_with_its_unit(workload, trace):
    p = bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "0", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= len(WORKLOADS[workload].ops)
    expected = PER_LAYER if trace == "1" else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if m["unit"] in ("s", "ms", "ops/s", "MB"):
            assert m["value"] > 0, name


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = bench(str(tmp_path), "--workload", sorted(WORKLOADS)[0], "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "the engine package is not in this checkout" in p.stderr
    assert '"metrics"' not in p.stdout
