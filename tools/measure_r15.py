#!/usr/bin/env python
"""Round-15 optimization harness: time individual queries and capture
their physical plans (guide §1 — measure first).

Usage:
    python tools/measure_r15.py --queries tpch_q1,ann_topk --reps 3 \
        [--plans plans/r15 --tag before] [--sink noop|count]

- Timing methodology matches bench.py (fresh DataFrame per rep,
  median of reps, .count() action) by default so numbers are directly
  comparable with BENCH_r*.json. ``--sink noop`` instead times
  ``df.write.format('noop')`` which materializes EVERY column (guide
  §1.4) — use it to see compute the count() path lets Spark prune.
- ``--plans DIR --tag T`` writes DIR/<query>_T.txt with
  explain('formatted') output for each query.
- ``--queries headline`` times bench.py's headline entries (their
  production builders for dedup_minhash / ann_lsh / ann_ivf); named
  keys time the registry builders from ``queries()``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402
from openset_spark import get_spark  # noqa: E402
from openset_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True,
                    help="comma list, or 'headline'")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sink", choices=["count", "noop"], default="count")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("openset-spark-measure-r15")
    spark.sparkContext.setLogLevel("ERROR")
    if args.queries == "headline":
        qs = {name: builder for name, builder, *_ in bench.SECTIONS["queries"]}
    else:
        registry = entry_mod.queries()
        qs = {n.strip(): registry[n.strip()]
              for n in args.queries.split(",") if n.strip()}

    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings"):
        load_table(spark, sf_dir, t).count()

    out: dict[str, float] = {}
    for name in qs:
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, sf_dir)
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"),
                      "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"r15:{name}")
            # build INSIDE the timed region, exactly like bench.py —
            # queries with eager driver-path work (dup_clusters'
            # union-find short-circuit, eager localCheckpoints) do
            # real computation at build time
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if args.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(statistics.median(samples), 3)
        print(f"{name}\t{out[name]}\t(all: {[round(s, 3) for s in samples]})",
              flush=True)

    print(json.dumps(out))
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
