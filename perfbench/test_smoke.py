"""Smoke test of the benchmark itself: every workload at the small
"smoke" size, untraced and traced. Each run must report every metric
with its unit and a finite value, pass every output check, and log no
ERROR lines. Takes several minutes (eight Spark sessions in turn).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.run import END_TO_END, ROOT, SIZES
from perfbench.tracing import UNITS


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SIZES))
def test_workload_reports_every_metric(workload, trace):
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    record = json.loads(lines[-2].removeprefix("record "))
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, record["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert record["log_error_lines"] == 0, record["log_error_sample"]
    expected = UNITS if trace else END_TO_END
    assert set(result["metrics"]) == set(expected)
    for name, m in result["metrics"].items():
        assert m["unit"] == expected[name], name
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name
    if trace:
        layers = result["metrics"]
        assert layers["log.error_lines"]["value"] == 0
        if workload == "flagship":
            assert layers["prefix.plan_matches"]["value"] == 1.0
            per_code = record["inputs"]["injected_per_code"]
            for code, n in per_code.items():
                assert layers[f"quality.rows.{code}"]["value"] == n
        else:
            assert layers["stream.rows_dropped_by_watermark"]["value"] == 0
    else:
        for name in END_TO_END:
            assert result["metrics"][name]["value"] > 0, name


def test_refuses_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails without printing a result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_bench(str(tmp_path), "flagship", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
