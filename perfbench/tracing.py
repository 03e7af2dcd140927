"""Per-layer tracing for the traced run (``--trace 1``).

Everything here observes the library from outside:

* ``load_table`` and the OSL compile entry points are wrapped in
  place, so a request's DataFrame-building call splits into load,
  compile and its own time;
* each request runs under a Spark job group named after the request,
  so its jobs and stages can be read back from the application status
  store;
* the action's Catalyst phases come from the query execution's
  planning tracker, and scan, exchange and Python-worker counters from
  the SQL metrics of the executed plan.

Spans are kept in memory and written once at the end of the run.
``NullTracer`` is what the untraced run uses: it does nothing.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager

# A request's layer spans (load + compile + build + plan + execute +
# fetch) must add up to its measured wall time within this tolerance.
# Build and fetch are remainders (see request_layers), so the spans
# cover the request by construction: the check only catches stamps out
# of order across the two clocks (the Python client's, and the JVM's in
# milliseconds), such as a job that ended before planning did.
SPAN_TOLERANCE_FRAC = 0.05
SPAN_TOLERANCE_S = 0.02

_OSL_COMPILERS = ("compile_osl", "compile_osl_segments", "compile_osl_histogram")


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


class NullTracer:
    enabled = False

    @contextmanager
    def request(self, req_id: str, key: str):
        yield None

    def action(self, rec, df, t_built_wall: float, t_done_wall: float) -> None:
        pass

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self.requests: list[dict] = []
        self.overhead_s = 0.0
        self.actions = 0
        self._current: dict | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0

    # -- spans -------------------------------------------------------
    def span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self._next_id += 1
        self.spans.append(
            {"id": self._next_id, "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return self._next_id

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "requests": self.requests}, f)

    # -- wrapping library entry points --------------------------------
    def _wrap(self, fn, kind: str):
        tracer = self

        def wrapped(*args, **kwargs):
            rec = tracer._current
            if rec is None:
                return fn(*args, **kwargs)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                rec[kind].append((t0, t1))

        wrapped.__wrapped__ = fn
        return wrapped

    def _patch_everywhere(self, original, kind: str) -> None:
        wrapped = self._wrap(original, kind)
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d:
                continue
            for name, val in list(d.items()):
                if val is original:
                    self._patched.append((mod, name, original))
                    setattr(mod, name, wrapped)

    def install(self) -> None:
        import openset_spark.osl as osl
        from openset_spark.osl import lang
        from openset_spark.sources import tables

        self._patch_everywhere(tables.load_table, "load")
        for name in _OSL_COMPILERS:
            self._patch_everywhere(getattr(osl, name), "compile")
        # a ScriptRunner parses and compiles its script when constructed
        init = lang.ScriptRunner.__init__
        self._patched.append((lang.ScriptRunner, "__init__", init))
        lang.ScriptRunner.__init__ = self._wrap(init, "compile")

    def uninstall(self) -> None:
        for obj, name, original in reversed(self._patched):
            setattr(obj, name, original)
        self._patched.clear()

    # -- one request ---------------------------------------------------
    @contextmanager
    def request(self, req_id: str, key: str):
        rec = {"id": req_id, "key": key, "load": [], "compile": []}
        self._current = rec
        sc = self.spark.sparkContext
        sc.setJobGroup(req_id, key)
        try:
            yield rec
        finally:
            self._current = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def action(self, rec, df, t_built_wall: float, t_done_wall: float) -> None:
        """Called after the request's result is at the client, outside
        its timed span: reads Spark's view of the request."""
        t0 = time.perf_counter()
        self.jsc.listenerBus().waitUntilEmpty()
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()

        def phase(name):
            opt = phases.get(name)
            if not opt.isDefined():
                return None
            p = opt.get()
            return float(p.startTimeMs()), float(p.endTimeMs())

        rec["phases"] = {n: phase(n) for n in ("analysis", "optimization", "planning")}
        rec["jobs"] = self._jobs(rec["id"])
        rec["plan"] = plan_counters(qe.executedPlan())
        rec["t_built"] = t_built_wall
        rec["t_done"] = t_done_wall
        self.actions += 1
        self.overhead_s += time.perf_counter() - t0

    def _jobs(self, group: str) -> list[dict]:
        store = self.jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        jobs = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = store.job(jid)
            stages = []
            for sid in _seq(jd.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # a stage that never ran has no data
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                stages.append(stage_counters(sd))
            jobs.append(
                {
                    "id": jid,
                    "submitted_ms": _opt_ms(jd.submissionTime()),
                    "completed_ms": _opt_ms(jd.completionTime()),
                    "stages": stages,
                }
            )
        return jobs

    def stream_jobs(self, run_ids: list[str]) -> list[dict]:
        """Jobs of the streaming queries (each runs under its run id)."""
        t0 = time.perf_counter()
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = [j for rid in run_ids for j in self._jobs(rid)]
        self.overhead_s += time.perf_counter() - t0
        return jobs


def stage_counters(sd) -> dict:
    sub, first = _opt_ms(sd.submissionTime()), _opt_ms(sd.firstTaskLaunchedTime())
    return {
        "tasks": int(sd.numTasks()),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "wait_s": (first - sub) / 1e3 if sub is not None and first is not None else 0.0,
        "shuffle_read_bytes": int(sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()),
        "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
        "spill_bytes": int(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
    }


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_counters(plan) -> dict:
    """Walk an executed physical plan, adaptive stages and subqueries
    included, and sum the SQL metrics of its scans, exchanges and
    Python-worker operators. A reused exchange is counted once."""
    out = {"scan_rows": 0, "scan_bytes": 0, "exchanges": 0,
           "python_rows": 0, "python_bytes": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            out["exchanges"] += 1
        if cls == "FileSourceScanExec":
            out["scan_rows"] += _metric(node, "numOutputRows")
            out["scan_bytes"] += _metric(node, "filesSize")
        if node.metrics().contains("pythonDataSent"):
            out["python_rows"] += _metric(node, "pythonNumRowsReceived")
            out["python_bytes"] += _metric(node, "pythonDataSent") + _metric(
                node, "pythonDataReceived"
            )
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def request_layers(rec: dict, t_send: float, t_built: float, t_done: float) -> dict:
    """Split one traced request (wall-clock seconds since the epoch)
    into its layer spans. Load, compile and the DataFrame-building call
    are timed in Python; build is that call minus its loads and
    compiles. Plan runs from the action call to the end of Catalyst's
    physical planning, as the planning tracker stamps it. Execute runs
    from there to the end of the request's last job; fetch is the rest
    of the action, the result's transfer to the client. Build and fetch
    are remainders, not measured on their own, so the parts add up to
    the wall time unless a stamp is out of order."""
    load = sum(b - a for a, b in rec["load"])
    comp = sum(b - a for a, b in rec["compile"])
    build = (t_built - t_send) - load - comp
    planning = rec["phases"]["planning"]
    plan_end = max(planning[1] / 1e3, t_built) if planning is not None else t_built
    ends = [
        j["completed_ms"] / 1e3 for j in rec["jobs"]
        if j["completed_ms"] is not None and j["submitted_ms"] is not None
        and j["submitted_ms"] / 1e3 >= t_built - 0.002
    ]
    exec_end = max(ends) if ends else plan_end
    return {
        "load": load, "compile": comp, "build": build,
        "plan": plan_end - t_built,
        "execute": max(0.0, exec_end - plan_end),
        "fetch": max(0.0, t_done - exec_end),
    }


def spans_ok(parts: dict, wall: float) -> bool:
    gap = abs(sum(parts.values()) - wall)
    return gap <= max(SPAN_TOLERANCE_FRAC * wall, SPAN_TOLERANCE_S)
