"""bench.py smoke: the driver runs `python bench.py` per round and a
broken bench (import error, renamed registry key, bad JSON) would cost
the round's perf artifact. Run the real script end-to-end at sf0.001
with one rep and the three heavy sections off, and require the two
parseable JSON lines with the contract fields and every other section
of bench.SECTIONS, in order."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench


def test_bench_script_emits_contract_json():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_SKEW="0",
        SPARK_GRAFT_ANN_SCALE="0",
        # the scaling section generates a 16M-row input — covered by
        # its own direct test below at a small row count
        SPARK_GRAFT_SCALING="0",
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    json_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith('{"metric"')
    ]
    # r9 contract: full record + compact final line (a tail-capped
    # consumer keeps the end of stdout, so the LAST line must be the
    # intact headline)
    assert len(json_lines) == 2, proc.stdout[-2000:]
    full = json.loads(json_lines[0])
    out = json.loads(json_lines[1])
    assert out["metric"] == "headline_suite_wall_sec"
    assert out["unit"] == "sec" and out["value"] > 0
    assert len(out["queries"]) >= 18
    assert all(v >= 0 for v in out["queries"].values())
    assert out["calibration_sec"] > 0
    assert out["value"] == full["value"]
    # r11 lesson: if the calibration gate fires, its warning must ride
    # the COMPACT line too — the full record gets tail-capped away.
    assert ("calibration_warning" in out) == ("calibration_warning" in full)
    assert len(json_lines[1]) < 1024  # survives a 1 KiB tail cap
    header = {"metric", "value", "unit", "sf", "calibration_sec",
              "calibration_warning"}
    assert [k for k in full if k not in header] == [
        s for s in bench.SECTIONS if s not in {"skew", "ann_scale", "scaling"}
    ]
    # a failed section records {"error": ...} and the script still
    # exits 0: a JVM that died mid-run (ConnectionRefusedError in every
    # later section) must fail here, not pass as a complete record
    errors = {k: v["error"] for k, v in full.items() if isinstance(v, dict) and "error" in v}
    assert errors == {}, errors
    out = full  # aux sections live on the full record
    # the r6/r7 sections ride along even in smoke mode
    assert set(out.get("pipeline_r6", {})) >= {
        "repetition_signals",
        "contamination_check",
        "token_budget_select",
        "substring_dup_pairs",
    }
    assert set(out.get("pipeline_r7", {})) >= {
        "retention_cull",
        "retention_cap",
        "pack_sequences",
        "mixture_select",
        "dedup_clusters",
        "lm_perplexity",
        "dsir_weights",
    }


def test_scaling_bench_section_runs_small(spark):
    """The r16 scaling section: generates its own multi-file input in
    a temp dir (removed afterwards), times the aggregate with the
    noop sink, and reports the contract fields."""
    from openset_spark.pipeline.scaling_bench import run_scaling_bench

    rec = run_scaling_bench(spark, n_rows=50_000, n_files=8, reps=1)
    assert rec["n_rows"] == 50_000
    assert rec["n_files"] == 8
    assert rec["agg_noop_sec"] > 0
    assert len(rec["agg_noop_all"]) == 1
