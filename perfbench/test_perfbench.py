"""Tiny-input tests of the benchmark: sf0.001 events, one-second runs.

    python -m pytest perfbench/test_perfbench.py -q

Each test starts the benchmark with BENCHMARK.json's command, in its own process,
and checks the result line against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = os.path.expanduser("~/testdata/sf0.001")


def _run(workload: str, trace: int, seconds: int = 1, cwd: Path = ROOT, extra=()):
    argv = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
            "--seconds", str(seconds), "--trace", str(trace), *extra]
    return subprocess.run(argv, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.skipif(not os.path.isdir(TINY), reason="sf0.001 testdata not present")
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_reports_every_metric(workload, trace):
    out = _run(workload, trace, extra=("--sf-dir", TINY))
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        # build and fetch are remainders, so this catches only stamps out of order
        assert res["metrics"]["trace.spans_ok_frac"]["value"] == 1.0
    else:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)


def test_fails_without_the_library(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(BENCH["workloads"][0]["name"], 0, cwd=tmp_path)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
