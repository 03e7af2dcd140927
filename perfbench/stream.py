"""The write-path workload: an open-loop generator thread writes seeded
JSON-lines event files into a directory at a fixed rate, and two
streaming queries read them with ``read_event_stream`` and maintain
sessions (``stream_sessionize``) and segment membership
(``stream_segment_transitions``) in Spark's state store.

A file is one request. Its latency is its freshness: the time from the
file's scheduled write to the commit of the last of the two queries'
micro-batches that hold it, read from the queries' checkpoint logs.

Both queries run on a processing-time trigger every TRIGGER_S seconds.
With Spark's default trigger the sessions query, whose state has
processing-time timeouts, runs micro-batches back to back even without
new files, so a file's wait depended on where in a running batch it
landed. Spark starts processing-time triggers at multiples of the
interval since the epoch; the generator is timed so that its last file
goes OFFSET_S before one of them, so the wait for the next trigger is
the same in every run and the spread of the freshness is that of the
micro-batches.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import threading
import time
from datetime import datetime, timedelta

from perfbench.host import cpu_steal_s

# The offered load. One file holds EVENTS_PER_FILE events of USERS
# customers and spans FILE_SPAN_S of event time, so a customer's
# sessions (30-minute gap) close every few files.
RATE_FILES_PER_S = 2.0
EVENTS_PER_FILE = 250
USERS = 400
FILE_SPAN_S = 20 * 60
WARMUP_FILES = 4
# A micro-batch takes about 3.6 s on 4 cores. A batch that overran the
# trigger would delay the next one too, so the trigger leaves room for a
# host twice as slow. TRIGGER_S is a multiple of the file interval, so
# every file is OFFSET_S clear of a trigger's listing.
TRIGGER_S = 8.0
OFFSET_S = 0.25
# After the warm-up files, micro-batches still got faster for a few
# triggers (on 4 cores, the later of the two queries took 5.1, 4.5, 4.0
# and then 3.9-4.3 s). The generator therefore runs LEAD_S at the
# offered rate before the measured files. One trigger of lead skips the
# steepest part; more cost 8 s a run each and did not narrow the spread
# between runs.
LEAD_S = TRIGGER_S
GAP_US = 30 * 60 * 1_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_TYPES = ("signup", "view", "click", "purchase", "error")
DRAIN_TIMEOUT_S = 60.0
_EPOCH = datetime(1970, 1, 1)


def is_purchase(pdf):
    return pdf["event_type"] == "purchase"


def is_view(pdf):
    return pdf["event_type"] == "view"


def is_error(pdf):
    return pdf["event_type"] == "error"


def make_files(seed: int, n_files: int) -> list[list[dict]]:
    """Deterministic event files: file i covers event time
    [i, i+1) * FILE_SPAN_S, so a customer's events arrive in time order."""
    rng = random.Random(seed)
    files, eid = [], 0
    for i in range(n_files):
        lo = T0_US + i * FILE_SPAN_S * 1_000_000
        stamps = sorted(rng.randrange(lo, lo + FILE_SPAN_S * 1_000_000) for _ in range(EVENTS_PER_FILE))
        events = []
        for ts in stamps:
            events.append(
                {
                    "event_id": eid,
                    "ts": (_EPOCH + timedelta(microseconds=ts)).strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "user_id": rng.randrange(USERS),
                    "event_type": rng.choice(_TYPES),
                    "value": round(rng.uniform(0, 200), 2),
                    "props": json.dumps({"k": rng.randrange(100)}),
                    "_ts_us": ts,
                }
            )
            eid += 1
        files.append(events)
    return files


def expected_outputs(files: list[list[dict]]):
    """What both queries must have emitted once every file is in:
    every closed session (all but each customer's last, still open),
    and one transition per customer and segment whose predicate held."""
    by_user: dict[int, list[int]] = {}
    seen: dict[int, set[str]] = {}
    for events in files:
        for e in events:
            by_user.setdefault(e["user_id"], []).append(e["_ts_us"])
            seen.setdefault(e["user_id"], set()).add(e["event_type"])
    sessions = set()
    for uid, stamps in by_user.items():
        stamps.sort()
        start, last, n = stamps[0], stamps[0], 0
        for t in stamps:
            if n > 0 and t - last > GAP_US:
                sessions.add((uid, start, last, n))
                start, n = t, 0
            last = max(last, t)
            n += 1
    transitions = set()
    for uid, types in seen.items():
        if "purchase" in types:
            transitions.add((uid, "purchasers", "enter"))
        if "view" in types:
            transitions.add((uid, "viewers", "enter"))
        if "error" in types:
            transitions.add((uid, "clean", "exit"))
    return sessions, transitions


def _write(path: str, name: str, events: list[dict]) -> None:
    # written under a name the file source ignores, then renamed in, so
    # a micro-batch never sees a half-written file
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_ts_us"}) + "\n")
    os.rename(tmp, os.path.join(path, name))


def _numbered(path: str):
    """(number, lines) of a checkpoint log's entries, compacted ones included."""
    for name in os.listdir(path) if os.path.isdir(path) else ():
        num = name.split(".")[0]
        if num.isdigit():
            with open(os.path.join(path, name)) as f:
                yield int(num), f.read().splitlines()


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> the micro-batch that read it. The file source logs
    each file under its own offset; the offsets log gives the source
    offset each micro-batch read up to. The two numberings differ once
    the query runs a batch without new files."""
    file_offset: dict[str, int] = {}
    for _, lines in _numbered(os.path.join(ckpt, "sources", "0")):
        for line in lines:
            if line.startswith("{"):
                entry = json.loads(line)
                file_offset[os.path.basename(entry["path"])] = entry["batchId"]
    ends = sorted(
        (json.loads(lines[2])["logOffset"], batch)
        for batch, lines in _numbered(os.path.join(ckpt, "offsets"))
        if len(lines) > 2
    )
    out = {}
    for name, off in file_offset.items():
        batch = next((b for end, b in ends if end >= off), None)
        if batch is not None:
            out[name] = batch
    return out


def _commit_wall(ckpt: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime
    except FileNotFoundError:
        return None


class StreamIngest:
    name = "stream_ingest"

    def __init__(self):
        self.dir: str | None = None
        self._made = 0
        self.files: list[list[dict]] = []
        self.input_rows = 0

    def prepare(self, spark, ctx) -> None:
        """Set-up: a fresh input directory and checkpoints, and the seeded
        files. An earlier round's directory is removed first; the last
        one goes with the run's scratch space."""
        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)
        self._made += 1
        self.dir = os.path.join(ctx.work, f"stream-{self._made}")
        for sub in ("in", "ckpt-sessions", "ckpt-segments"):
            os.makedirs(os.path.join(self.dir, sub))
        n = WARMUP_FILES + round(LEAD_S * RATE_FILES_PER_S) + math.ceil(ctx.seconds * RATE_FILES_PER_S)
        self.files = make_files(ctx.seed, n)
        self.input_rows = n * EVENTS_PER_FILE

    def run(self, spark, ctx, seconds: float, tracer) -> dict:
        from openset_spark.streaming.ingest import read_event_stream
        from openset_spark.streaming.segments_stream import (
            StreamSegment,
            stream_segment_transitions,
        )
        from openset_spark.streaming.sessions import stream_sessionize

        from perfbench.tracing import plan_counters

        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        in_dir = os.path.join(self.dir, "in")
        segs = [
            StreamSegment("purchasers", is_purchase),
            StreamSegment("viewers", is_view),
            StreamSegment("clean", is_error, mode="never"),
        ]
        tag = f"{os.getpid()}_{self._made}"
        ckpts = {
            "sessions": os.path.join(self.dir, "ckpt-sessions"),
            "segments": os.path.join(self.dir, "ckpt-segments"),
        }
        frames = {
            "sessions": stream_sessionize(read_event_stream(spark, in_dir)),
            "segments": stream_segment_transitions(read_event_stream(spark, in_dir), segs),
        }
        names = {k: f"perfbench_{k}_{tag}" for k in frames}
        queries = {}
        for k, df in frames.items():
            queries[k] = (
                df.writeStream.format("memory")
                .queryName(names[k])
                .outputMode("append")
                .option("checkpointLocation", ckpts[k])
                .trigger(processingTime=f"{TRIGGER_S} seconds")
                .start()
            )
        file_names = [f"events-{i:05d}.json" for i in range(len(self.files))]
        errors: list[str] = []
        try:
            t0 = time.time()
            for i in range(WARMUP_FILES):
                _write(in_dir, file_names[i], self.files[i])
            self._wait(queries, ckpts, file_names[:WARMUP_FILES], errors)

            sched: dict[str, float] = {}
            late: list[float] = []
            generated = file_names[WARMUP_FILES:]
            lead = round(LEAD_S * RATE_FILES_PER_S)
            measured = generated[lead:]

            # the last file goes OFFSET_S before a trigger
            span = (len(generated) - 1) / RATE_FILES_PER_S + OFFSET_S
            start = math.ceil((time.time() + span) / TRIGGER_S) * TRIGGER_S - span

            def generate():
                try:
                    for j, name in enumerate(generated):
                        due = start + j / RATE_FILES_PER_S
                        pause = due - time.time()
                        if pause > 0:
                            time.sleep(pause)
                        _write(in_dir, name, self.files[WARMUP_FILES + j])
                        sched[name] = due
                        late.append(max(0.0, time.time() - due))
                except OSError as e:
                    errors.append(f"generator: {e}")

            gen = threading.Thread(target=generate, name="perfbench-generator")
            gen.start()
            w0 = start + lead / RATE_FILES_PER_S
            time.sleep(max(0.0, w0 - time.time()))
            # the warm-up files, the lead and the waits for triggers
            warmup_s = w0 - t0
            cpu0 = time.process_time()
            gc0 = ctx.jvm_gc_s()
            steal0 = cpu_steal_s()
            gen.join()
            self._wait(queries, ckpts, file_names, errors)
            steal_frac = (cpu_steal_s() - steal0) / ((time.time() - w0) * ctx.cpus)
            cpu = time.process_time() - cpu0
            gc = ctx.jvm_gc_s() - gc0
            progress = {
                k: [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
                for k, q in queries.items()
            }
            run_ids = [str(q.runId) for q in queries.values()]
            plans = []
            if tracer.enabled:
                plans = [
                    plan_counters(q._jsq.streamingQuery().lastExecution().executedPlan())
                    for q in queries.values()
                ]
        finally:
            for q in queries.values():
                q.stop()

        batches = {k: _file_batches(c) for k, c in ckpts.items()}
        reqs = []
        for name in measured:
            commits = []
            for k, c in ckpts.items():
                b = batches[k].get(name)
                commits.append(None if b is None else _commit_wall(c, b))
            if None in commits:
                reqs.append({"key": "file", "id": name, "error": "file never committed"})
                continue
            reqs.append({"key": "file", "id": name, "error": None,
                         "latency_s": max(commits) - sched[name],
                         "scheduled": sched[name], "committed": max(commits)})
        done = [r["committed"] for r in reqs if r["error"] is None]
        wall = (max(done) if done else time.time()) - w0

        errors += self._verify(spark, names)
        for r in reqs:
            if r["error"] is not None:
                errors.append(f"{r['id']}: {r['error']}")
        out = {
            "workload": self.name,
            "requests": reqs,
            "passes": 1,
            "wall_s": wall,
            "steal_frac": steal_frac,
            "warmup_s": warmup_s,
            "python_cpu_s": cpu,
            "gc_s": gc,
            "errors": errors,
            "input_rows": self.input_rows,
            "generator_late_s": max(late) if late else 0.0,
            "window": (w0, w0 + wall),
            "progress": progress,
            "file_batches": batches,
            "schedule": sched,
            "plans": plans,
        }
        if tracer.enabled:
            out["jobs"] = tracer.stream_jobs(run_ids)
        for name in names.values():
            spark.catalog.dropTempView(name)
        return out

    def _wait(self, queries, ckpts, names: list[str], errors: list[str]) -> None:
        """Wait until both queries have committed every named file."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            for k, q in queries.items():
                if q.exception() is not None:
                    raise RuntimeError(f"{k} query failed: {q.exception()}")
            ok = True
            for c in ckpts.values():
                fb = _file_batches(c)
                if any(n not in fb or _commit_wall(c, fb[n]) is None for n in names):
                    ok = False
                    break
            if ok:
                return
            time.sleep(0.05)
        errors.append(f"files not committed within {DRAIN_TIMEOUT_S:.0f} s")

    def _verify(self, spark, names: dict[str, str]) -> list[str]:
        import pandas as pd

        want_sessions, want_transitions = expected_outputs(self.files)
        s = spark.sql(f"select * from {names['sessions']}").toPandas()
        got_sessions = {
            (int(r.user_id), pd.Timestamp(r.session_start).value // 1000,
             pd.Timestamp(r.session_end).value // 1000, int(r.n_events))
            for r in s.itertuples(index=False)
        }
        t = spark.sql(f"select * from {names['segments']}").toPandas()
        got_transitions = [
            (int(r.user_id), r.segment, r.transition) for r in t.itertuples(index=False)
        ]
        errors = []
        if len(s) != len(got_sessions) or got_sessions != want_sessions:
            errors.append(
                f"sessions differ from the reference: {len(s)} rows, "
                f"missing {sorted(want_sessions - got_sessions)[:3]}, "
                f"unexpected {sorted(got_sessions - want_sessions)[:3]}"
            )
        if len(got_transitions) != len(set(got_transitions)) or set(got_transitions) != want_transitions:
            errors.append(
                f"segment transitions differ from the reference: {len(got_transitions)} rows, "
                f"missing {sorted(want_transitions - set(got_transitions))[:3]}, "
                f"unexpected {sorted(set(got_transitions) - want_transitions)[:3]}"
            )
        return errors
