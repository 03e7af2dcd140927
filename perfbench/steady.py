"""Steadiness check for the benchmark itself.

    python3 perfbench/steady.py [--runs 10] [--workloads a b] [--traced]

Runs each workload ``--runs`` times, each with another seed, exactly as
``BENCHMARK.json`` runs it, and prints for every end-to-end metric its
median and quartiles over the runs and the spread (the distance between
the quartiles as a share of the median) against the metric's bound. A
metric is steady when its spread is below a third of its bound; the
spread of ``setup_s`` is reported but not held to that. With
``--traced`` it also makes one traced run per workload and prints the
tracing overhead: traced minus untraced median latency.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(command: list[str], workload: str, seed: int, seconds: int, trace: int):
    """One run of BENCHMARK.json's command: (result line, full record)."""
    argv = command + ["--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for i in range(args.runs):
            res, rec = run_once(bench["command"], wl, args.seed_base + i, bench["run_seconds"], 0)
            ok &= res["correct"] and res["failed"] == 0
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            extra = {k: round(v["value"], 4) for k, v in res["metrics"].items() if k not in bounds}
            print(json.dumps({
                "workload": wl, "seed": args.seed_base + i, "correct": res["correct"],
                **{m: round(v[-1], 4) for m, v in values.items()}, **extra,
                "calibration_s": round(rec["conditions"]["calibration_s"], 4),
                "steal_s": round(rec["conditions"]["steal_s"], 2),
                "window_steal_frac": rec["window_steal_frac"],
                "latency_p50_s": round(rec["latency_p50_s"], 4),
                "warmup_s": round(rec["warmup_s"], 2), "passes": rec["passes"],
                "process_wall_s": round(rec["process_wall_s"], 1),
                "per_key_latency_s": {k: round(v, 3) for k, v in rec["per_key_latency_s"].items()},
            }), flush=True)
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            steady = spread < bounds[m] / 3 or m == "setup_s"
            ok &= steady
            print(f"{wl:18s} {m:16s} median {med:9.4f}  q1 {q1:9.4f}  q3 {q3:9.4f}  "
                  f"spread {spread:6.3f}  bound {bounds[m]:.2f}  {'steady' if steady else 'NOT STEADY'}")
        if args.traced:
            res, _ = run_once(bench["command"], wl, args.seed_base, bench["run_seconds"], 1)
            traced = res["metrics"]["trace.latency_mean_s"]["value"]
            untraced = statistics.median(values["latency_mean_s"])
            print(f"{wl:18s} tracing overhead: traced - untraced latency_mean_s = "
                  f"{traced - untraced:+.4f} s ({traced:.4f} vs {untraced:.4f}); "
                  f"bookkeeping outside requests {res['metrics']['trace.overhead_s']['value']:.4f} s/unit; "
                  f"spans within tolerance {res['metrics']['trace.spans_ok_frac']['value']:.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
