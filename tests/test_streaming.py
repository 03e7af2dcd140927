"""Streaming coverage: JSON ingest, stateful sessionization, segment
enter/exit transitions — driven with file sources + availableNow
triggers into memory sinks."""

from __future__ import annotations

import json
import shutil
import tempfile
import time
import uuid

import pytest

from openset_spark.streaming.ingest import read_event_stream
from openset_spark.streaming.segments_stream import (
    StreamSegment,
    stream_segment_transitions,
)
from openset_spark.streaming.sessions import stream_sessionize


def _write_events(path, events):
    with open(f"{path}/batch-{uuid.uuid4().hex}.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _run_available(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="oss-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk_events(n_per_user):
    out = []
    eid = 0
    for uid, stamps in n_per_user.items():
        for s in stamps:
            out.append(
                {
                    "event_id": eid,
                    "ts": s,
                    "user_id": uid,
                    "event_type": "purchase" if eid % 3 == 0 else "view",
                    "value": float(eid),
                    "props": "{}",
                }
            )
            eid += 1
    return out


def test_stream_ingest_parses_schema(spark, tmpdir):
    _write_events(
        tmpdir,
        _mk_events({1: ["2024-01-01T00:00:00", "2024-01-01T00:10:00"]}),
    )
    stream = read_event_stream(spark, tmpdir)
    assert stream.isStreaming
    name = f"ingest_{uuid.uuid4().hex[:8]}"
    _run_available(stream, name)
    rows = spark.sql(f"select * from {name}").collect()
    assert len(rows) == 2
    assert {f.name for f in stream.schema.fields} == {
        "event_id", "ts", "user_id", "event_type", "value", "props",
    }


def test_stream_sessionize_closes_on_gap(spark, tmpdir):
    # user 1: two bursts separated by > 30min in the SAME batch ->
    # first session closes immediately.
    _write_events(
        tmpdir,
        _mk_events(
            {
                1: [
                    "2024-01-01T00:00:00",
                    "2024-01-01T00:05:00",
                    "2024-01-01T02:00:00",  # gap -> closes session 1
                ],
                2: ["2024-01-01T00:00:00"],
            }
        ),
    )
    stream = read_event_stream(spark, tmpdir)
    sessions = stream_sessionize(stream)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_available(sessions, name)
    rows = spark.sql(f"select * from {name}").collect()
    closed = {(r.user_id, r.n_events) for r in rows}
    assert (1, 2) in closed  # first burst: 2 events, closed by the gap
    # user 2's session and user 1's second session stay open (no
    # further data / no timeout elapsed in availableNow mode).
    assert not any(r.user_id == 2 for r in rows)


class _FakeState:
    hasTimedOut = False
    value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def setTimeoutDuration(self, ms):
        pass


def test_close_sessions_matches_the_per_event_timestamp_loop():
    """The state function's vectorized µs conversion gives the sessions
    the per-event ``pd.Timestamp`` loop gave, for each timestamp dtype
    Arrow may hand over and for unsorted, split input."""
    import numpy as np
    import pandas as pd

    from openset_spark.streaming.sessions import _close_sessions

    gap_ms = 60_000
    rng = np.random.default_rng(7)
    us = 1_704_067_200_000_000 + np.cumsum(rng.integers(1, 3 * gap_ms * 1000, 200))
    rng.shuffle(us)
    ts = pd.Series(pd.to_datetime(us, unit="us"))
    for dtype in ("datetime64[ns]", "datetime64[us]", "datetime64[ns, UTC]"):
        col = ts.dt.tz_localize("UTC") if "UTC" in dtype else ts.astype(dtype)
        pdfs = [pd.DataFrame({"ts": col[:70]}), pd.DataFrame({"ts": col[70:]})]

        ref = sorted(int(t.value // 1000) for pdf in pdfs for t in pdf["ts"])
        want, start, last, n = [], ref[0], ref[0], 0
        for t in ref:
            if n > 0 and t - last > gap_ms * 1000:
                want.append((start, last, n))
                start, n = t, 0
            last = max(last, t)
            n += 1

        state = _FakeState()
        (out,) = _close_sessions((1,), pdfs, state, gap_ms)
        got = [
            (s.value // 1000, e.value // 1000, int(c))
            for s, e, c in zip(out["session_start"], out["session_end"], out["n_events"])
        ]
        assert len(want) > 10
        assert got == want, dtype
        assert state.value == (start, last, n), dtype


def test_stream_segment_transitions(spark, tmpdir):
    _write_events(
        tmpdir,
        _mk_events({1: ["2024-01-01T00:00:00"], 2: ["2024-01-01T00:01:00"]}),
    )
    stream = read_event_stream(spark, tmpdir)
    segs = [
        StreamSegment("purchasers", lambda pdf: pdf["event_type"] == "purchase"),
        StreamSegment("viewers", lambda pdf: pdf["event_type"] == "view"),
    ]
    out = stream_segment_transitions(stream, segs)
    name = f"segs_{uuid.uuid4().hex[:8]}"
    _run_available(out, name)
    rows = {
        (r.user_id, r.segment, r.transition)
        for r in spark.sql(f"select * from {name}").collect()
    }
    # event_id 0 (user 1) is a purchase; event_id 1 (user 2) is a view
    assert (1, "purchasers", "enter") in rows
    assert (2, "viewers", "enter") in rows
    assert (2, "purchasers", "enter") not in rows


def test_stream_segment_state_across_batches(spark, tmpdir):
    # second batch should NOT re-emit an enter for an existing member.
    # parquet sink: the memory sink can't recover from a checkpoint, so
    # restarting the query across batches requires a durable sink.
    _write_events(tmpdir, _mk_events({1: ["2024-01-01T00:00:00"]}))
    stream = read_event_stream(spark, tmpdir)
    segs = [StreamSegment("purchasers", lambda pdf: pdf["event_type"] == "purchase")]
    out = stream_segment_transitions(stream, segs)
    ckpt = tempfile.mkdtemp(prefix="oss-ckpt-")
    sink = tempfile.mkdtemp(prefix="oss-sink-")

    def _run_once():
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).count()

    try:
        n1 = _run_once()
        # second batch: another purchase by user 1 -> no new transition
        _write_events(tmpdir, _mk_events({1: ["2024-01-01T00:20:00"]}))
        n2 = _run_once()
        assert n1 == 1 and n2 == n1, (n1, n2)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_stream_windowed_event_counts(spark, tmpdir):
    from openset_spark.streaming.aggregate import windowed_event_counts

    _write_events(
        tmpdir,
        _mk_events(
            {
                1: ["2024-01-01T00:10:00", "2024-01-01T00:20:00",
                    "2024-01-01T01:10:00"],
                2: ["2024-01-01T00:40:00",
                    # far-ahead event moves the 1h ingest watermark past
                    # hour-0/hour-1 so those windows close and emit
                    "2024-01-01T05:00:00"],
            }
        ),
    )
    stream = read_event_stream(spark, tmpdir)
    agg = windowed_event_counts(stream, "1 hour")
    name = f"winagg_{uuid.uuid4().hex[:8]}"
    _run_available(agg, name)
    rows = {
        (r.window_start.isoformat(), r.events, r.people)
        for r in spark.sql(f"select * from {name}").collect()
    }
    # hour 0: 3 events from 2 users; hour 1: 1 event from 1 user.
    assert ("2024-01-01T00:00:00", 3, 2) in rows
    assert ("2024-01-01T01:00:00", 1, 1) in rows
    # the 05:00 window is still open (watermark == max ts - 1h) -> not emitted
    assert not any(s.startswith("2024-01-01T05") for s, _, _ in rows)


def test_stream_funnel_advances_across_batches(spark, tmpdir):
    from openset_spark.streaming.funnel import stream_funnel

    def _purchase_events(objs):
        # _mk_events assigns event types by id; build explicit ones here
        return [
            {"event_id": i, "ts": ts, "user_id": uid, "event_type": et,
             "value": 0.0, "props": "{}"}
            for i, (uid, ts, et) in enumerate(objs)
        ]

    ckpt = tempfile.mkdtemp(prefix="oss-ckpt-")
    sink = tempfile.mkdtemp(prefix="oss-sink-")
    stream = read_event_stream(spark, tmpdir)
    out = stream_funnel(stream, ["signup", "purchase"])

    def _run_once():
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.user_id, r.step) for r in spark.read.parquet(sink).collect()
        }

    try:
        # batch 1: u1 signs up; u2 purchases without signup (no match)
        with open(f"{tmpdir}/b1.json", "w") as f:
            for e in _purchase_events(
                [(1, "2024-01-01T00:00:00", "signup"),
                 (2, "2024-01-01T00:00:00", "purchase")]
            ):
                f.write(json.dumps(e) + "\n")
        got1 = _run_once()
        assert got1 == {(1, 1)}
        # batch 2: u1 purchases (completes); u2 signs up (step 1)
        with open(f"{tmpdir}/b2.json", "w") as f:
            for e in _purchase_events(
                [(1, "2024-01-01T00:10:00", "purchase"),
                 (2, "2024-01-01T00:10:00", "signup")]
            ):
                f.write(json.dumps(e) + "\n")
        got2 = _run_once()
        assert got2 == {(1, 1), (1, 2), (2, 1)}
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_stream_exact_dedup_drops_repeats(spark, tmpdir):
    from openset_spark.streaming.dedup import stream_exact_dedup

    from pyspark.sql import functions as F

    # reuse the events reader as a "doc stream": event_type plays the
    # text column, so repeated types are duplicate docs
    _write_events(tmpdir, _mk_events({1: ["2024-01-01T00:00:00"] * 3,
                                      2: ["2024-01-01T00:01:00"]}))
    stream = read_event_stream(spark, tmpdir).select(
        "ts", F.col("event_type").alias("text")
    )
    out = stream_exact_dedup(stream)  # ingest's 1h watermark applies
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_available(out, name)
    texts = [r.text for r in spark.sql(f"select * from {name}").collect()]
    assert sorted(set(texts)) == sorted(texts), texts  # no dup texts
    assert set(texts) == {"purchase", "view"}


def test_stream_property_counts_complete_mode(spark, tmpdir):
    from openset_spark.streaming.aggregate import stream_property_counts

    _write_events(
        tmpdir,
        _mk_events({1: ["2024-01-01T00:00:00", "2024-01-01T00:05:00"],
                    2: ["2024-01-01T00:01:00"]}),
    )
    stream = read_event_stream(spark, tmpdir)
    counts = stream_property_counts(stream)
    name = f"pc_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.value: (r.people, r.events)
        for r in spark.sql(f"select * from {name}").collect()
    }
    # event ids 0..2: purchase, view, view (per _mk_events kind rule)
    assert got["purchase"] == (1, 1)
    assert got["view"][1] == 2 and got["view"][0] == 2  # 2 users, 2 views


def test_subscription_registry_feed(spark, tmpdir):
    # docs/rest/README.md:160-212: PUT -> insert -> poll returns the
    # retained enter/exit messages; each subscriber gets its OWN feed
    from openset_spark.streaming.subscriptions import SubscriptionBroker

    _write_events(
        tmpdir,
        _mk_events({1: ["2024-01-01T00:00:00"], 2: ["2024-01-01T00:01:00"]}),
    )
    stream = read_event_stream(spark, tmpdir)
    segs = [
        StreamSegment("purchasers", lambda pdf: pdf["event_type"] == "purchase"),
        StreamSegment("viewers", lambda pdf: pdf["event_type"] == "view"),
    ]
    broker = SubscriptionBroker()
    broker.create("purchasers", "sub1")
    broker.create("purchasers", "sub2")  # independent feed, same segment
    broker.create("viewers", "sub3")
    ckpt = tempfile.mkdtemp(prefix="oss-ckpt-")
    try:
        q = broker.attach(
            stream_segment_transitions(stream, segs), ckpt, availableNow=True
        )
        q.awaitTermination(120)
        # poll with an explicit now inside the retention window of the
        # event-time stamps (real wall-clock would trim 2024 messages)
        now = 1704067200000 + 60_000
        p1 = broker.get("purchasers", "sub1").poll(now_ms=now)
        assert p1["segment"] == "purchasers" and p1["subscriber"] == "sub1"
        assert p1["count"] == 1 and p1["remaining"] == 0
        msg = p1["messages"][0]
        assert msg["uid"] == 1 and msg["state"] == "entered"
        assert msg["stamp"] == 1704067200000  # 2024-01-01T00:00:00Z
        assert msg["stamp_iso"].startswith("2024-01-01T00:00:00")
        # sub2's feed is untouched by sub1's poll
        p2 = broker.get("purchasers", "sub2").poll(limit=0, now_ms=now)
        assert p2["count"] == 0 and p2["remaining"] == 1
        assert broker.get("purchasers", "sub2").poll(now_ms=now)["count"] == 1
        # viewers feed saw only user 2
        p3 = broker.get("viewers", "sub3").poll(now_ms=now)
        assert [m["uid"] for m in p3["messages"]] == [2]
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_subscription_delete_and_retention():
    from openset_spark.streaming.subscriptions import SubscriptionBroker

    broker = SubscriptionBroker()
    sub = broker.create("s", "a", retention_ms=1000)
    with pytest.raises(ValueError):
        broker.create("s", "a")
    sub.push(1_000, 7, "entered")
    sub.push(5_000, 8, "entered")
    # at t=6s the first message (age 5s) is past the 1s retention
    got = sub.poll(now_ms=6_000)
    assert [m["uid"] for m in got["messages"]] == [8]
    broker.delete("s", "a")
    with pytest.raises(KeyError):
        broker.delete("s", "a")
    assert broker.list() == []
