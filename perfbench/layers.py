"""The per-layer table of a traced run.

Query workloads report each layer per request (the mean over the
measured requests); the stream workload reports per micro-batch. A
layer a workload does not exercise reads 0. Counters are read where the
work happens: the library calls the benchmark wraps, the Spark status
store (jobs, stages, tasks), the executed plan's SQL metrics (scans,
exchanges, Python workers) and the streaming queries' progress reports.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from perfbench.tracing import SPAN_TOLERANCE_FRAC, request_layers, spans_ok

ROOT = Path(__file__).resolve().parent.parent


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit, for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json names them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _stage_sum(jobs: list[dict], field: str) -> float:
    return sum(s[field] for j in jobs for s in j["stages"])


def per_layer(tracer, result: dict, ctx, peak_rss_mb: float) -> dict:
    unit = units("per_layer")
    m = dict.fromkeys(unit, 0.0)
    if "progress" in result:
        n = _stream(tracer, result, ctx, m)
    else:
        n = _queries(tracer, result, ctx, m)
    n = max(n, 1)
    m["spark.gc_s"] = result["gc_s"] / n
    m["driver.python_cpu_s"] = result["python_cpu_s"] / n
    m["driver.peak_rss_mb"] = peak_rss_mb
    m["driver.warmup_s"] = result["warmup_s"]
    m["driver.launch_s"] = ctx.launch_s
    # bookkeeping per traced request (warm-up ones included), or per batch
    m["trace.overhead_s"] = tracer.overhead_s / (tracer.actions or n)
    return {k: {"value": v, "unit": unit[k]} for k, v in m.items()}


def _queries(tracer, result: dict, ctx, m: dict) -> int:
    reqs = [r for r in result["requests"] if r["error"] is None]
    if not reqs:
        return 0
    start, end = reqs[0]["wall"][0], reqs[-1]["wall"][2]
    root = tracer.span("run", start, end, None)
    wl = tracer.span("workload", start, end, root, workload=result["workload"])
    parts_all, gaps, ok = [], [], 0
    for r in reqs:
        rec, (w_send, w_built, w_done) = r["trace"], r["wall"]
        parts = request_layers(rec, w_send, w_built, w_done)
        parts_all.append(parts)
        wall = r["latency_s"]
        gaps.append(abs(sum(parts.values()) - wall) / wall)
        ok += spans_ok(parts, wall)
        tracer.requests.append({"id": r["id"], "key": r["key"], "wall_s": wall, **parts,
                                "jobs": len(rec["jobs"]), **rec["plan"]})
        sid = tracer.span("request", w_send, w_done, wl, key=r["key"], request=r["id"])
        # the key's DataFrame-building call; its self time is operators.build_s
        bid = tracer.span("build", w_send, w_built, sid)
        for a, b in rec["load"]:
            tracer.span("load", a, b, bid)
        for a, b in rec["compile"]:
            tracer.span("compile", a, b, bid)
        t = w_built
        for name in ("plan", "execute", "fetch"):
            tracer.span(name, t, t + parts[name], sid)
            t += parts[name]
    n = len(reqs)

    def mean_part(name):
        return _mean(p[name] for p in parts_all)

    def phase_s(rec, name):
        p = rec["phases"][name]
        return (p[1] - p[0]) / 1e3 if p is not None else 0.0

    recs = [r["trace"] for r in reqs]
    m["sources.load_s"] = mean_part("load")
    m["sources.load_calls"] = _mean(len(rec["load"]) for rec in recs)
    m["sources.load_jobs"] = _mean(
        sum(
            any(a - 0.002 <= j["submitted_ms"] / 1e3 <= b for a, b in rec["load"])
            for j in rec["jobs"] if j["submitted_ms"] is not None
        )
        for rec in recs
    )
    m["operators.build_s"] = mean_part("build")
    m["osl.compile_s"] = mean_part("compile")
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.{ph}_s"] = _mean(phase_s(rec, ph) for rec in recs)
    _job_counters(m, [j for rec in recs for j in rec["jobs"]], n)
    m["spark.exec_s"] = mean_part("execute")
    m["spark.fetch_s"] = mean_part("fetch")
    busy = sum(_stage_sum(rec["jobs"], "run_s") for rec in recs)
    m["spark.task_busy_frac"] = busy / max(sum(p["execute"] for p in parts_all) * ctx.cpus, 1e-9)
    for name in ("scan_rows", "scan_bytes", "exchanges"):
        m[f"spark.{name}"] = _mean(rec["plan"][name] for rec in recs)
    for name in ("python_rows", "python_bytes"):
        m[f"pipeline.{name}"] = _mean(rec["plan"][name] for rec in recs)
    m["trace.latency_mean_s"] = statistics.fmean(r["latency_s"] for r in reqs)
    m["trace.span_gap_frac"] = statistics.median(gaps)
    m["trace.spans_ok_frac"] = ok / n
    return n


def _job_counters(m: dict, jobs: list[dict], units: int) -> None:
    """Scheduler and executor counters of ``jobs``, per unit of work."""
    m["spark.jobs"] = len(jobs) / units
    m["spark.stages"] = sum(len(j["stages"]) for j in jobs) / units
    for key, field in (
        ("spark.tasks", "tasks"), ("spark.stage_wait_s", "wait_s"),
        ("spark.task_run_s", "run_s"), ("spark.task_cpu_s", "cpu_s"),
        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
        ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
        ("spark.spill_bytes", "spill_bytes"),
    ):
        m[key] = _stage_sum(jobs, field) / units


def _stream(tracer, result: dict, ctx, m: dict) -> int:
    from datetime import datetime

    w0, w1 = result["window"]
    root = tracer.span("run", w0, w1, None)
    wl = tracer.span("workload", w0, w1, root, workload=result["workload"])
    batches, gaps = [], []
    for query, progress in result["progress"].items():
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            if start < w0 or p["numInputRows"] == 0:
                continue
            d = p["durationMs"]
            total = d.get("triggerExecution", 0) / 1e3
            bid = tracer.span("batch", start, start + total, wl, query=query, batch=p["batchId"])
            for name, ms in d.items():
                if name != "triggerExecution":
                    tracer.span(name, start, start + ms / 1e3, bid)
            parts = sum(ms for k, ms in d.items() if k != "triggerExecution") / 1e3
            gaps.append(abs(parts - total) / total if total else 0.0)
            batches.append((query, start, p))
            tracer.requests.append({"query": query, "batch": p["batchId"], "start": start,
                                    "durationMs": d, "numInputRows": p["numInputRows"]})
    n = len(batches)
    if not n:
        return 0
    m["streaming.batches"] = n
    m["streaming.batch_s"] = _mean(p["durationMs"].get("triggerExecution", 0) / 1e3 for _, _, p in batches)
    m["streaming.add_batch_s"] = _mean(p["durationMs"].get("addBatch", 0) / 1e3 for _, _, p in batches)
    m["streaming.plan_s"] = _mean(p["durationMs"].get("queryPlanning", 0) / 1e3 for _, _, p in batches)
    m["streaming.commit_s"] = _mean(
        (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1e3
        for _, _, p in batches
    )
    m["streaming.input_rows"] = _mean(p["numInputRows"] for _, _, p in batches)
    for query, progress in result["progress"].items():
        last = progress[-1] if progress else {}
        for op in last.get("stateOperators", []):
            m["streaming.state_rows"] += op.get("numRowsTotal", 0)
            m["streaming.state_bytes"] += op.get("memoryUsedBytes", 0)
    # files written but not yet taken by a batch, when each batch starts
    sched = result["schedule"]
    backlog = []
    for query, start, p in batches:
        taken = result["file_batches"][query]
        backlog.append(sum(1 for f, due in sched.items() if due <= start and taken.get(f, -1) >= p["batchId"]))
    m["streaming.backlog_files"] = _mean(backlog)
    m["generator.late_s"] = result["generator_late_s"]
    jobs = [j for j in result.get("jobs", []) if j["submitted_ms"] is not None and j["submitted_ms"] / 1e3 >= w0]
    _job_counters(m, jobs, n)
    execs = [(j["completed_ms"] - j["submitted_ms"]) / 1e3 for j in jobs if j["completed_ms"] is not None]
    m["spark.exec_s"] = sum(execs) / n
    m["spark.task_busy_frac"] = _stage_sum(jobs, "run_s") / max(sum(execs) * ctx.cpus, 1e-9)
    # plan counters: each query's last micro-batch, averaged over the queries
    plans = result.get("plans", [])
    for name in ("scan_rows", "scan_bytes", "exchanges"):
        m[f"spark.{name}"] = _mean(p[name] for p in plans)
    for name in ("python_rows", "python_bytes"):
        m[f"pipeline.{name}"] = _mean(p[name] for p in plans)
    lat = [r["latency_s"] for r in result["requests"] if r["error"] is None]
    m["trace.latency_mean_s"] = statistics.fmean(lat) if lat else 0.0
    m["trace.span_gap_frac"] = statistics.median(gaps)
    m["trace.spans_ok_frac"] = sum(g <= SPAN_TOLERANCE_FRAC for g in gaps) / n
    return n
