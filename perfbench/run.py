"""One benchmark run: one workload, one seed, one process.

    python3 perfbench/run.py --workload interactive_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Spark runs on ``local[nproc]`` with a
driver memory sized to the host; every file the run writes (inputs,
Spark's local and temporary directories, checkpoints, the trace) goes
under ``.perfbench/`` in the checkout, and all but the trace is removed
at the end.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the full record: run conditions, calibration ruler, per-key
timings. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("interactive_sf01", "stream_ingest")
DEFAULT_SF_DIR = os.path.expanduser("~/testdata/sf0.1")
# set-up (session start, input generation, table open) runs this many
# times per run; setup_s is the median
SETUP_ROUNDS = 11


def pin_conditions(work: Path) -> dict:
    """Fix the run conditions through the library's own environment
    variables, before pyspark is imported: all cores of this host, a
    driver memory that fits it, and scratch space inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_mb = min(4096, mem_kb // 1024 // 4)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # Python workers import the library and the segment predicates
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "driver_memory_mb": driver_mb,
        "host_memory_mb": mem_kb // 1024,
    }


class Context:
    def __init__(self, args, work: Path, conditions: dict):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = str(work)
        self.cpus = conditions["cpus"]
        self.spark = None
        self.launch_s = 0.0

    def start_spark(self):
        from openset_spark import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop Spark and the JVM this process launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def jvm_gc_s(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def peak_rss_mb(self) -> float:
        import resource

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024


def make_workload(name: str, sf_dir: str):
    if name == "stream_ingest":
        from perfbench.stream import StreamIngest

        return StreamIngest()
    from perfbench.queries import Interactive

    return Interactive(sf_dir)


def end_to_end(result: dict, setup_s: float) -> dict:
    from perfbench.layers import units

    lat = [r["latency_s"] for r in result["requests"] if r["error"] is None]
    values = {
        "queries_per_s": len(lat) / result["wall_s"],
        "latency_mean_s": statistics.fmean(lat) if lat else float("nan"),
        "setup_s": setup_s,
    }
    return {k: {"value": values[k], "unit": u} for k, u in units("end_to_end").items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR,
                    help="directory of the source tables (default: %(default)s)")
    args = ap.parse_args(argv)

    # the program under test must be here; without it there is no result
    sys.path.insert(0, str(ROOT))
    try:
        import __spark_entry__  # noqa: F401
        import openset_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "interactive_sf01" and not os.path.isfile(
        os.path.join(args.sf_dir, "events.parquet")
    ):
        print(f"perfbench: no events table under {args.sf_dir}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path) -> int:
    conditions = pin_conditions(work)
    from bench import _calibration
    from perfbench.host import cpu_steal_s
    from perfbench.tracing import NullTracer, Tracer

    ctx = Context(args, work, conditions)
    workload = make_workload(args.workload, args.sf_dir)
    setups = []
    try:
        spark = ctx.start_spark()
        ctx.launch_s = launch_s = time.perf_counter() - T_PROCESS
        workload.prepare(spark, ctx)
        setups.append(time.perf_counter() - T_PROCESS)
        for _ in range(SETUP_ROUNDS - 1):
            spark.stop()
            t0 = time.perf_counter()
            spark = ctx.start_spark()
            workload.prepare(spark, ctx)
            setups.append(time.perf_counter() - t0)
        cal = _calibration(reps=1)
        steal0 = cpu_steal_s()

        tracer = Tracer(spark) if args.trace else NullTracer()
        tracer.install()
        try:
            result = workload.run(spark, ctx, args.seconds, tracer)
        finally:
            tracer.uninstall()
        peak_rss = ctx.peak_rss_mb()
        steal = cpu_steal_s() - steal0
    finally:
        ctx.stop()

    setup_s = statistics.median(setups)
    attempted = len(result["requests"])
    failed = sum(r["error"] is not None for r in result["requests"])
    correct = not result["errors"] and attempted > 0
    if args.trace:
        from perfbench.layers import per_layer

        metrics = per_layer(tracer, result, ctx, peak_rss)
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(result, setup_s)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "conditions": {**conditions, "calibration_s": cal, "steal_s": steal, "sf_dir": args.sf_dir},
        "setup_rounds_s": setups,
        "launch_s": launch_s,
        "process_wall_s": time.perf_counter() - T_PROCESS,
        "warmup_s": result["warmup_s"],
        "passes": result["passes"],
        "measured_wall_s": result["wall_s"],
        "window_steal_frac": result["steal_frac"],
        "input_rows": result["input_rows"],
        "errors": result["errors"][:20],
        "latency_p50_s": _median([r["latency_s"] for r in result["requests"] if r["error"] is None]),
        "per_key_latency_s": _per_key(result["requests"]),
    }
    print(json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def _per_key(reqs: list[dict]) -> dict:
    by: dict[str, list[float]] = {}
    for r in reqs:
        if r["error"] is None:
            by.setdefault(r["key"], []).append(r["latency_s"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


if __name__ == "__main__":
    sys.exit(main())
