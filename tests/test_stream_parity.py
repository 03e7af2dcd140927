"""Batch <-> stream parity (the round-4 verification gap): each
stateful streaming operator must agree with the oracle-checked batch
operator it mirrors, on the SAME real events, processed across
MULTIPLE micro-batches. Reference analog: on-insert re-evaluation
produces the same memberships/sessions a query-time scan would
(src/oloop_seg_refresh.cpp semantics).

The input is the sf0.001 events table itself (not synthetic rows):
events for a user subset are re-serialized as time-ordered JSON files
and streamed with maxFilesPerTrigger=1, so state genuinely crosses
micro-batch boundaries; the batch side reads the exact same files.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from openset_spark.operators.funnel import funnel_user_steps
from openset_spark.operators.sessionize import session_stats
from openset_spark.pipeline.dedup import exact_dedup
from openset_spark.sources.tables import load_table
from openset_spark.streaming.ingest import EVENT_SCHEMA, read_event_stream


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="oss-parity-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


N_FILES = 3


def _spill_events(spark, sf_dir, outdir, n_users=40):
    """Re-serialize real events (user subset, ts-ordered) into N_FILES
    JSON-lines files stamped so the file source replays them in time
    order, one micro-batch each."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < n_users)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .orderBy("ts", "event_id")
    )
    rows = [r.asDict() for r in ev.collect()]
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    import json

    for i in range(N_FILES):
        with open(f"{outdir}/batch-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(outdir, "batch-*.json")
    return len(rows)


def _batch_frame(spark, path):
    """The batch-side read of the SAME files the stream consumed."""
    return spark.read.schema(EVENT_SCHEMA).json(path)


def _run_available(stream_df, name):
    """Start an availableNow query into a memory sink and wait until
    ALL available data is processed (see _wait_drained)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return _wait_drained(q)


def _wait_drained(q):
    """Wait until an availableNow query has processed ALL available
    data. Termination alone is the wrong wait: an operator with
    PENDING PROCESSING-TIME TIMEOUTS (stream_sessionize sets a 30-min
    gap timeout) can hold the query open long after the sink is
    complete — so wait for drain (no data available, no trigger
    active, last batch empty), then stop. An expired wait must FAIL,
    not fall through: a partial sink makes a baffling parity diff."""
    import time

    deadline = time.time() + 600
    while time.time() < deadline:
        if not q.isActive:
            return q  # terminated on its own
        st = q.status
        progs = q.recentProgress
        # Drained when either (a) the source is exhausted with no
        # batch in flight, or (b) a COMPLETED batch consumed zero
        # rows — the file source plans its data batches up front, so
        # an empty batch can only be timeout bookkeeping after every
        # file was processed. (b) matters under load: a 30-min
        # processing-time timeout makes Spark churn no-data batches
        # back-to-back, so a poll may never catch an idle instant.
        drained = (
            not st["isDataAvailable"] and not st["isTriggerActive"] and progs
        ) or any(p["numInputRows"] == 0 for p in progs)
        if drained:
            q.stop()
            q.awaitTermination(60)
            return q
        time.sleep(0.5)
    q.stop()
    raise AssertionError("stream did not drain in 600s")


def _stamp_ordered(tmpdir, pattern="docs-*.json"):
    """Pin STRICTLY INCREASING mtimes (seconds apart) on the stream
    files: Spark's FileStreamSource orders files by modification
    time, and three writes landing in the same clock tick (or
    reordered under host load) tie — arbitrary arrival order then
    breaks the IN-ORDER parity contracts (mixture admission, shard
    writer) with a baffling cum-restart signature. Order-free
    surfaces (reservoir, keeper, set-union) don't need this."""
    import glob as _glob
    import time as _time

    base = _time.time() - 1000
    for k, path in enumerate(sorted(_glob.glob(f"{tmpdir}/{pattern}"))):
        os.utime(path, (base + 10 * k, base + 10 * k))


def test_stream_ingest_matches_batch_parse(spark, sf_dir, tmpdir):
    """Parity for the ingest surface itself (the one streaming op with
    no stateful logic — the parse must still agree row-for-row):

    1. `read_event_stream` across micro-batches == the batch read of
       the same files with the same schema, as exact row multisets —
       including a malformed line both sides must null out identically.
    2. Cross-format: the SAME underlying events re-serialized in the
       reference wire format ({"uuid","stamp","event",...},
       src/rpc_insert.cpp) and parsed by batch `parse_events` yield
       the identical typed rows — the streaming testdata parse and the
       reference-wire parse describe one event stream."""
    import json

    from openset_spark.sources.catalog import EVENTS_TABLE
    from openset_spark.sources.json_events import parse_events

    _spill_events(spark, sf_dir, tmpdir)
    # a malformed line: from_json must yield a null row on BOTH sides
    with open(f"{tmpdir}/batch-000.json", "a") as f:
        f.write("{not json at all\n")

    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    name = f"parity_ing_{uuid.uuid4().hex[:8]}"
    _run_available(stream, name)

    def keyset(rows):
        out = []
        for r in rows:
            out.append((r.event_id, r.ts, r.user_id, r.event_type, r.value, r.props))
        return sorted(out, key=repr)

    streamed = keyset(spark.sql(f"select * from {name}").collect())
    batch = keyset(_batch_frame(spark, tmpdir).collect())
    assert len(streamed) > 100
    assert streamed == batch

    # wire-format re-serialization of the same events
    wire_dir = tempfile.mkdtemp(prefix="oss-wire-")
    try:
        good = [r for r in streamed if r[0] is not None]
        with open(f"{wire_dir}/inserts.json", "w") as f:
            for event_id, ts, user_id, event_type, value, props in good:
                f.write(
                    json.dumps(
                        {
                            "uuid": user_id,
                            "stamp": int(ts.timestamp() * 1000),
                            "event": event_type,
                            "event_id": event_id,
                            "value": value,
                            "props": props,
                        }
                    )
                    + "\n"
                )
        wire = parse_events(spark.read.text(wire_dir), EVENTS_TABLE)
        wired = keyset(
            wire.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ).collect()
        )
        # the reference wire format carries ms-epoch stamps
        # (src/rpc_insert.cpp), so parity is at millisecond resolution
        ms = lambda t: (t[0], t[1].replace(microsecond=t[1].microsecond // 1000 * 1000), *t[2:])  # noqa: E731
        assert wired == [ms(t) for t in good]
    finally:
        shutil.rmtree(wire_dir, ignore_errors=True)


def test_subscription_broker_end_to_end_matches_batch(spark, sf_dir, tmpdir):
    """The full reference notification path — stream -> stateful
    segment flips -> broker fan-out -> poll payloads — replayed over
    real events across micro-batches must equal batch-recomputed
    membership: every subscriber on a segment receives exactly the
    flip set (uid + state), independent feeds don't interfere, and
    payload bookkeeping (count/remaining) is consistent."""
    from openset_spark.operators.segments import Segment, membership
    from openset_spark.streaming.segments_stream import (
        StreamSegment,
        stream_segment_transitions,
    )
    from openset_spark.streaming.subscriptions import SubscriptionBroker

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    segs = [
        StreamSegment(
            "big_spenders",
            lambda pdf: (pdf["event_type"] == "purchase") & (pdf["value"] > 150),
        ),
        StreamSegment("error_free", lambda pdf: pdf["event_type"] == "error", mode="never"),
    ]
    broker = SubscriptionBroker()
    broker.create("big_spenders", "hook_a", retention_ms=10**15)
    broker.create("big_spenders", "hook_b", retention_ms=10**15)
    broker.create("error_free", "hook_c", retention_ms=10**15)

    ckpt = tempfile.mkdtemp(prefix="oss-ckpt-")
    try:
        q = broker.attach(
            stream_segment_transitions(stream, segs), ckpt, availableNow=True
        )
        _wait_drained(q)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    # batch truth on the same files
    m = membership(
        _batch_frame(spark, tmpdir),
        [
            Segment(
                "big_spenders",
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
            ),
            Segment("error_free", F.col("event_type") == "error", mode="never"),
        ],
    ).collect()
    batch_in = {r.user_id for r in m if r.big_spenders}
    batch_exited = {r.user_id for r in m if not r.error_free}
    assert len(batch_in) > 3 and len(batch_exited) > 3

    pa = broker.get("big_spenders", "hook_a").poll(now_ms=0)
    pb = broker.get("big_spenders", "hook_b").poll(now_ms=0)
    pc = broker.get("error_free", "hook_c").poll(now_ms=0)

    # both big_spenders feeds saw the identical payload, independently
    assert pa["messages"] == pb["messages"]
    assert pa["count"] == len(batch_in) and pa["remaining"] == 0
    assert {msg["uid"] for msg in pa["messages"]} == batch_in
    assert all(msg["state"] == "entered" for msg in pa["messages"])

    assert {msg["uid"] for msg in pc["messages"]} == batch_exited
    assert all(msg["state"] == "exited" for msg in pc["messages"])

    # each user flipped exactly once per segment across all batches
    assert pc["count"] == len(batch_exited)
    # a second poll finds the feeds drained
    assert broker.get("big_spenders", "hook_a").poll(now_ms=0)["count"] == 0


def test_stream_sessionize_matches_batch_with_session(spark, sf_dir, tmpdir):
    """Closed streaming sessions == batch session_stats minus each
    user's final (still-open) session: identical (user, start, end,
    n_events) tuples."""
    from openset_spark.streaming.sessions import stream_sessionize

    n = _spill_events(spark, sf_dir, tmpdir)
    assert n > 0
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    name = f"parity_sess_{uuid.uuid4().hex[:8]}"
    _run_available(stream_sessionize(stream), name)
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql(f"select * from {name}").collect()
    }

    batch = session_stats(_batch_frame(spark, tmpdir))
    last = batch.groupBy("user_id").agg(F.max("session").alias("_last"))
    closed = batch.join(last, "user_id").filter(F.col("session") < F.col("_last"))
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in closed.collect()
    }
    assert len(expected) > 10  # real multi-session data, not a vacuous pass
    assert streamed == expected


def test_stream_sessionize_restarts_from_an_unprojected_checkpoint(spark, sf_dir, tmpdir):
    """Restart across the input projection: k micro-batches under the
    earlier plan (every event column into the state function), then
    ``stream_sessionize`` (``user_id`` and ``ts`` only) on the same
    checkpoint. The emitted sessions equal an uninterrupted run's, and
    some session open at the stop is closed after the restart."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from openset_spark.streaming.sessions import (
        SESSION_OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _close_sessions,
        stream_sessionize,
    )

    def unprojected_sessionize(events):
        return events.groupBy("user_id").applyInPandasWithState(
            _close_sessions,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )

    staging = os.path.join(tmpdir, "staging")
    feed = os.path.join(tmpdir, "feed")
    os.makedirs(staging)
    os.makedirs(feed)
    assert _spill_events(spark, sf_dir, staging) > 0
    files = sorted(os.listdir(staging))
    k = N_FILES - 1

    def arrive(names):
        import time

        base = time.time() - 1000
        for name in names:
            shutil.copy(os.path.join(staging, name), feed)
            i = files.index(name)
            os.utime(os.path.join(feed, name), (base + 10 * i, base + 10 * i))

    def run(build, leg, names):
        # The 30-min processing-time timeout keeps Spark running no-data
        # batches, so neither availableNow termination nor
        # processAllAvailable() marks the end; a restart may also first
        # redo an interrupted no-data batch. Stop once this leg's rows
        # are committed.
        import time

        stream = read_event_stream(spark, feed, max_files_per_trigger=1)
        q = (
            build(stream).writeStream.format("parquet")
            .option("path", os.path.join(tmpdir, f"sink-{leg}"))
            .option("checkpointLocation", os.path.join(tmpdir, f"ckpt-{leg}"))
            .outputMode("append")
            .start()
        )
        want = sum(sum(1 for _ in open(os.path.join(staging, n))) for n in names)
        rows: dict[int, int] = {}
        deadline = time.time() + 600
        while sum(rows.values()) < want and time.time() < deadline:
            rows.update((p["batchId"], p["numInputRows"]) for p in q.recentProgress)
            time.sleep(0.2)
        q.stop()
        assert sum(rows.values()) == want, (leg, rows, want)
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(os.path.join(tmpdir, f"sink-{leg}")).collect()
        }

    arrive(files[:k])
    before_stop = run(unprojected_sessionize, "restarted", files[:k])
    arrive(files[k:])
    restarted = run(stream_sessionize, "restarted", files[k:])
    uninterrupted = run(stream_sessionize, "uninterrupted", files)

    assert len(uninterrupted) > 10
    assert restarted == uninterrupted
    after_restart = restarted - before_stop
    first_new = _batch_frame(spark, os.path.join(staging, files[k])).agg(F.min("ts")).first()[0]
    assert any(start < first_new for _, start, _, _ in after_restart)


def test_stream_funnel_matches_batch_funnel(spark, sf_dir, tmpdir):
    """Streaming funnel advances == the batch min-ts chain: for every
    user, the set of completed steps and their completion stamps."""
    from openset_spark.streaming.funnel import stream_funnel

    _spill_events(spark, sf_dir, tmpdir)
    steps = ["signup", "purchase"]
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    name = f"parity_fun_{uuid.uuid4().hex[:8]}"
    _run_available(stream_funnel(stream, steps), name)
    streamed = {
        (r.user_id, r.step, r.ts)
        for r in spark.sql(f"select * from {name}").collect()
    }

    per_user = funnel_user_steps(
        _batch_frame(spark, tmpdir),
        [F.col("event_type") == s for s in steps],
    )
    expected = set()
    for r in per_user.collect():
        if r.step_1 is not None:
            expected.add((r.user_id, 1, r.step_1))
        if r.step_2 is not None:
            expected.add((r.user_id, 2, r.step_2))
    assert any(s == 2 for _, s, _ in expected)  # funnel completions exist
    assert streamed == expected


def test_stream_dedup_matches_batch_exact_dedup(spark, sf_dir, tmpdir):
    """Streaming first-seen dedup == batch exact_dedup on the same
    corpus: one survivor per normalized text, same content set. (The
    surviving REPRESENTATIVE may differ — batch keeps min doc_id, the
    stream keeps arrival-first — so parity is on the deduped content,
    which is what downstream training-data consumers see.)"""
    from openset_spark.functions.text import normalize
    from openset_spark.streaming.dedup import stream_exact_dedup

    _spill_events(spark, sf_dir, tmpdir)
    # event_type plays the doc text (real column, heavy duplication);
    # a 30-day watermark >> the data span, so stream state never
    # evicts and global parity is well-defined.
    doc_stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
        .select(F.col("event_id").alias("doc_id"), "ts", F.col("event_type").alias("text"))
    )
    name = f"parity_dedup_{uuid.uuid4().hex[:8]}"
    _run_available(stream_exact_dedup(doc_stream, watermark="30 days"), name)
    survivors = spark.sql(f"select * from {name}").collect()

    batch_docs = _batch_frame(spark, tmpdir).select(
        F.col("event_id").alias("doc_id"), "ts", F.col("event_type").alias("text")
    )
    expected_texts = {
        r.n for r in batch_docs.select(normalize(F.col("text")).alias("n")).distinct().collect()
    }
    batch_survivors = exact_dedup(batch_docs).count()

    got_texts = [r.text.strip().lower() for r in survivors]
    assert sorted(set(got_texts)) == sorted(expected_texts)
    assert len(got_texts) == len(set(got_texts)) == batch_survivors


def test_subscription_poll_is_cappable(spark):
    """An oversized retained feed pages out under poll(limit=) — the
    REST analog never ships an unbounded body (VERDICT r4 ask #6)."""
    from openset_spark.streaming.subscriptions import Subscription

    sub = Subscription("seg", "sub", retention_ms=10**12)
    for i in range(1000):
        sub.push(stamp=i, uid=i, state="entered")
    page = sub.poll(limit=100, now_ms=10**9)
    assert page["count"] == 100
    assert page["remaining"] == 900
    assert [m["uid"] for m in page["messages"]] == list(range(100))
    page2 = sub.poll(limit=100, now_ms=10**9)
    assert [m["uid"] for m in page2["messages"]] == list(range(100, 200))
    assert page2["remaining"] == 800


def test_stream_segments_match_batch_membership(spark, sf_dir, tmpdir):
    """After the full replay, the users that emitted an ever-segment
    'enter' (and never-segment 'exit') == batch membership on the same
    files — the reference's on_insert-equals-query-time property."""
    from openset_spark.operators.segments import Segment, membership
    from openset_spark.streaming.segments_stream import (
        StreamSegment,
        stream_segment_transitions,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    segs = [
        StreamSegment("big_spenders", lambda pdf: (pdf["event_type"] == "purchase") & (pdf["value"] > 150)),
        StreamSegment("error_free", lambda pdf: pdf["event_type"] == "error", mode="never"),
    ]
    name = f"parity_seg_{uuid.uuid4().hex[:8]}"
    _run_available(stream_segment_transitions(stream, segs), name)
    flips = spark.sql(f"select * from {name}").collect()
    entered = {r.user_id for r in flips if r.segment == "big_spenders"}
    exited = {r.user_id for r in flips if r.segment == "error_free"}
    assert all(
        r.transition == ("enter" if r.segment == "big_spenders" else "exit")
        for r in flips
    )
    # each user flips each segment AT MOST once across all batches
    assert len(flips) == len(entered) + len(exited)

    m = membership(
        _batch_frame(spark, tmpdir),
        [
            Segment("big_spenders", (F.col("event_type") == "purchase") & (F.col("value") > 150)),
            Segment("error_free", F.col("event_type") == "error", mode="never"),
        ],
    ).collect()
    batch_in = {r.user_id for r in m if r.big_spenders}
    batch_not_error_free = {r.user_id for r in m if not r.error_free}
    assert entered == batch_in and len(batch_in) > 3
    assert exited == batch_not_error_free and len(batch_not_error_free) > 3


def test_stream_property_counts_match_batch(spark, sf_dir, tmpdir):
    """Complete-mode live property counts == the batch property-count
    aggregate on the same files (identical HLL people estimates: the
    sketch merge is order-insensitive, so stream and batch agree
    exactly, not approximately)."""
    from openset_spark.streaming.aggregate import stream_property_counts

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    name = f"parity_pc_{uuid.uuid4().hex[:8]}"
    q = (
        stream_property_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "complete-mode stream did not finish"
    streamed = {
        r.value: (r.people, r.events)
        for r in spark.sql(f"select * from {name}").collect()
    }

    batch = (
        _batch_frame(spark, tmpdir)
        .groupBy(F.col("event_type").alias("value"))
        .agg(
            F.approx_count_distinct("user_id").alias("people"),
            F.count(F.lit(1)).alias("events"),
        )
    )
    expected = {r.value: (r.people, r.events) for r in batch.collect()}
    assert streamed == expected and len(expected) >= 5


def test_stream_windowed_counts_match_batch(spark, sf_dir, tmpdir):
    """Append-mode tumbling windows: every window the stream emitted
    must equal the batch aggregate for that window, and every window
    safely behind the final watermark must have been emitted."""
    from openset_spark.streaming.aggregate import windowed_event_counts

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    name = f"parity_win_{uuid.uuid4().hex[:8]}"
    _run_available(windowed_event_counts(stream, "6 hours"), name)
    streamed = {
        r.window_start: (r.window_end, r.events, r.people)
        for r in spark.sql(f"select * from {name}").collect()
    }

    bf = _batch_frame(spark, tmpdir)
    batch = (
        bf.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.approx_count_distinct("user_id").alias("people"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "events",
            "people",
        )
    )
    expected = {
        r.window_start: (r.window_end, r.events, r.people)
        for r in batch.collect()
    }
    # emitted windows carry exactly the batch numbers
    for ws, row in streamed.items():
        assert expected[ws] == row
    # and nothing safely closed (2h behind the 1h ingest watermark at
    # end-of-stream) was withheld
    max_ts = bf.agg(F.max("ts")).first()[0]
    import datetime as _dt

    must_have = {
        ws for ws, (we, _, _) in expected.items()
        if we < max_ts - _dt.timedelta(hours=2)
    }
    assert must_have <= set(streamed) and len(must_have) > 20


def test_stream_decontaminate_matches_batch(spark, sf_dir, tmpdir):
    """Ingest-time streaming decontamination == batch decontaminate
    with max_overlap=0 on the same documents: identical surviving doc
    sets, across micro-batches. The streaming side is a pure
    expression (benchmark n-gram hashes as an array literal), so no
    state crosses batches — parity proves the expression reproduces
    the join-based batch semantics, including hash/tokenization
    agreement and the fewer-than-n-tokens passthrough."""
    import json

    from openset_spark.pipeline.decontam import (
        decontaminate,
        stream_decontaminate,
    )
    from openset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    rest = docs.filter(F.col("doc_id") % 50 != 0)

    # spill the corpus as JSON files (plus a sub-n-token doc that must
    # always survive), one micro-batch each
    rows = [
        {"doc_id": r.doc_id, "text": r.text}
        for r in rest.select("doc_id", "text").collect()
    ]
    rows.append({"doc_id": 999999, "text": "tiny doc"})
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_decon_{uuid.uuid4().hex[:8]}"
    _run_available(stream_decontaminate(stream, bench, n=5), name)
    streamed = {r.doc_id for r in spark.sql(f"select doc_id from {name}").collect()}

    batch_docs = spark.read.schema(schema).json(tmpdir)
    expected = {
        r.doc_id
        for r in decontaminate(batch_docs, bench, n=5, max_overlap=0.0)
        .select("doc_id")
        .collect()
    }
    # the short doc survives on both sides; some doc was dropped
    assert 999999 in streamed
    assert streamed == expected
    assert len(streamed) < len(rows)

    # --- large-benchmark fallback (VERDICT r6 ask #3): a synthetic
    # 10^6-gram benchmark must RUN (the literal path would build a
    # million-element expression) and produce the SAME parity result.
    # Filler hashes outside xxhash64's realized values for this corpus
    # pad the real set past the threshold; the probe is exact (a
    # frozenset in the pandas-UDF closure), so no false positives.
    from openset_spark.pipeline.decontam import (
        MAX_LITERAL_HASHES,
        benchmark_ngram_hashes,
    )

    real = benchmark_ngram_hashes(bench, n=5)
    big = real + [10**17 + i for i in range(1_000_000)]
    assert len(big) > MAX_LITERAL_HASHES
    name2 = f"parity_decon_big_{uuid.uuid4().hex[:8]}"
    _run_available(
        stream_decontaminate(stream, bench, n=5, bench_hashes=big), name2
    )
    streamed_big = {
        r.doc_id for r in spark.sql(f"select doc_id from {name2}").collect()
    }
    assert streamed_big == expected


def test_stream_near_dedup_matches_batch(spark, sf_dir, tmpdir):
    """Ingest-time MinHash/LSH near-dedup against a static corpus
    index == the batch `near_dup_against` on the same documents: the
    10th parity-locked streaming surface. The stream computes band
    keys as pure projections (value-identical to `minhash_bands`,
    unit-tested), probes the static bucket index with a
    stream-static join, and verdicts per-doc through a
    watermark-bounded windowed aggregate; a far-future sentinel doc
    closes every real window so append mode emits them all."""
    import json

    from openset_spark.pipeline.dedup import minhash_bands, near_dup_against
    from openset_spark.streaming.dedup import stream_near_dedup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    rest = docs.filter(F.col("doc_id") % 3 != 0)

    base = 1_700_000_000
    rows = [
        {"doc_id": r.doc_id, "text": r.text,
         "ts": f"2023-11-14T22:{13 + i // 60:02d}:{i % 60:02d}.000000"}
        for i, r in enumerate(rest.select("doc_id", "text").collect())
    ]
    # guaranteed near-dups: corpus texts with a tiny tail edit
    for j, r in enumerate(corpus.select("text").limit(5).collect()):
        rows.append(
            {"doc_id": 500_000 + j, "text": r.text + " tail",
             "ts": "2023-11-14T22:30:00.000000"}
        )
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    # sentinel file LAST: advances the watermark 2 days so every real
    # window flushes before the availableNow query drains
    sentinel = {"doc_id": 999_999, "text": "sentinel flush doc",
                "ts": "2023-11-16T23:00:00.000000"}
    with open(f"{tmpdir}/docs-zz-flush.json", "w") as f:
        f.write(json.dumps(sentinel) + "\n")

    index = (
        minhash_bands(corpus).select("band_idx", "band_hash").distinct().cache()
    )
    index.count()
    schema = "doc_id long, ts timestamp, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_neardedup_{uuid.uuid4().hex[:8]}"
    _run_available(
        stream_near_dedup(stream, index, window="10 seconds",
                          watermark="5 seconds"),
        name,
    )
    streamed = {
        r.doc_id for r in spark.sql(f"select doc_id from {name}").collect()
    } - {sentinel["doc_id"]}

    batch_docs = spark.read.schema(schema).json(tmpdir).filter(
        F.col("doc_id") != sentinel["doc_id"]
    )
    expected = {
        r.doc_id
        for r in near_dup_against(batch_docs, corpus).select("doc_id").collect()
    }
    # the injected edits MUST be dropped on both sides; plenty survive
    assert not any(d >= 500_000 for d in expected)
    assert streamed == expected
    assert 0 < len(streamed) < len(rows)
    index.unpersist()


def test_stream_sample_per_stratum_matches_batch(spark, sf_dir, tmpdir):
    """11th parity surface: the streaming per-stratum reservoir
    (admits minus evicts) must equal the batch sample_per_stratum of
    the SAME documents — exactly, because the draw is the
    deterministic portable-hash top-k, independent of arrival order
    and micro-batch splits. Also replays out-of-order arrival: the
    files are written in REVERSE id order."""
    import json

    from openset_spark.pipeline.sampling import sample_per_stratum
    from openset_spark.streaming.sampling_stream import (
        stream_sample_per_stratum,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = [
        {"doc_id": r.doc_id, "lang": r.lang, "source": r.source}
        for r in docs.select("doc_id", "lang", "source").collect()
    ]
    rows.sort(key=lambda r: -r["doc_id"])  # adversarial arrival order
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")

    schema = "doc_id long, lang string, source string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_sample_{uuid.uuid4().hex[:8]}"
    _run_available(
        stream_sample_per_stratum(stream, ["lang", "source"], k=3), name
    )
    log = spark.sql(
        f"select lang, source, doc_id, action from {name}"
    ).collect()
    live: set[tuple] = set()
    admits = [r for r in log if r.action == "admit"]
    evicts = [r for r in log if r.action == "evict"]
    for r in admits:
        live.add((r.lang, r.source, r.doc_id))
    for r in evicts:
        live.discard((r.lang, r.source, r.doc_id))

    batch_docs = spark.read.schema(schema).json(tmpdir)
    expected = {
        (r.lang, r.source, r.doc_id)
        for r in sample_per_stratum(
            batch_docs, ["lang", "source"], k=3
        ).collect()
    }
    assert live == expected
    # the reservoir genuinely churned across batches (not single-shot)
    assert evicts, "expected at least one eviction across micro-batches"


def test_stream_mixture_admit_matches_batch(spark, sf_dir, tmpdir):
    """12th parity surface: ingest-time mixture-budget admission.
    For a stream arriving in the batch sort order (quality DESC,
    doc_id ASC — "the upstream scorer emits ranked docs"), the
    admitted rows INCLUDING their cum_tokens must equal
    mixture_select of the batch union row-for-row, however the
    stream is split into micro-batches. The state accumulates
    REJECTED docs' tokens too — the batch rule filters the inclusive
    cumsum over every candidate, and that is exactly what makes the
    parity exact rather than approximate."""
    import json

    from openset_spark.pipeline.sampling import mixture_select
    from openset_spark.pipeline.textstats import quality_score
    from openset_spark.streaming.sampling_stream import stream_mixture_admit

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).join(docs.select("doc_id", "lang"), "doc_id")
    rows = [
        {
            "doc_id": r.doc_id,
            "lang": r.lang,
            "n_tokens": r.n_tokens,
            "quality": r.quality,
        }
        for r in scored.select(
            "doc_id", "lang", "n_tokens", "quality"
        ).collect()
    ]
    rows.sort(key=lambda r: (-r["quality"], r["doc_id"]))  # ranked stream
    totals: dict[str, int] = {}
    for r in rows:
        totals[r["lang"]] = totals.get(r["lang"], 0) + r["n_tokens"]
    # half of each domain's mass => every budgeted domain both admits
    # and rejects; one domain gets NO budget and must vanish
    budgets = {lang: t // 2 for lang, t in totals.items() if lang != "zh"}
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)

    schema = "doc_id long, lang string, n_tokens long, quality double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_mixadmit_{uuid.uuid4().hex[:8]}"
    _run_available(stream_mixture_admit(stream, budgets), name)
    streamed = {
        (r.lang, r.doc_id, r.n_tokens, r.cum_tokens)
        for r in spark.sql(
            f"select lang, doc_id, n_tokens, cum_tokens from {name}"
        ).collect()
    }

    batch = spark.read.schema(schema).json(tmpdir)
    expected = {
        (r.lang, r.doc_id, r.n_tokens, r.cum_tokens)
        for r in mixture_select(batch, budgets, domain_col="lang")
        .select("lang", "doc_id", "n_tokens", "cum_tokens")
        .collect()
    }
    assert streamed == expected
    assert 0 < len(streamed) < len(rows)
    # admission genuinely crossed micro-batch boundaries
    assert len(streamed) > chunk / 2
    # un-budgeted domain dropped before the stateful stage
    assert not any(lang == "zh" for lang, *_ in streamed)


def test_stream_ngram_coverage_matches_batch(spark, sf_dir, tmpdir):
    """13th parity surface: streaming benchmark n-gram coverage. The
    statistic is a set union, so the final per-benchmark-doc counts
    must EXACTLY equal the batch ngram_coverage of the same files —
    independent of arrival order (files written in reverse id order)
    and micro-batch splits."""
    import json

    from openset_spark.pipeline.decontam import ngram_coverage
    from openset_spark.streaming.coverage import (
        benchmark_gram_index,
        stream_ngram_coverage,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus_rows = [
        {"doc_id": r.doc_id, "text": r.text}
        for r in docs.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id", "text")
        .collect()
    ]
    corpus_rows.sort(key=lambda r: -r["doc_id"])  # adversarial order
    chunk = (len(corpus_rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in corpus_rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    index = benchmark_gram_index(bench, n=5)
    name = f"parity_coverage_{uuid.uuid4().hex[:8]}"
    _run_available(stream_ngram_coverage(stream, index, n=5), name)
    snaps = spark.sql(
        f"select doc_id, n_grams, n_covered from {name}"
    ).collect()
    # latest (= max, counts are monotone) snapshot per benchmark doc
    live: dict[int, tuple[int, int]] = {}
    for r in snaps:
        cur = live.get(r.doc_id, (0, 0))
        live[r.doc_id] = (r.n_grams, max(cur[1], r.n_covered))

    corpus_batch = spark.read.schema(schema).json(tmpdir)
    expected = {
        r.doc_id: (r.n_grams, r.n_covered)
        for r in ngram_coverage(corpus_batch, bench, n=5).collect()
    }
    for doc_id, (n_grams, n_covered) in expected.items():
        if n_covered == 0:
            assert doc_id not in live  # never emitted: no coverage
        else:
            assert live[doc_id] == (n_grams, n_covered), doc_id
    assert set(live) <= set(expected)

    # incrementality: a benchmark doc whose grams arrive in separate
    # micro-batches emits a RISING snapshot per batch (the sf corpus
    # is template-heavy enough that one batch often saturates a doc,
    # so the accumulation property needs a controlled stream)
    inc_dir = f"{tmpdir}/inc"
    import os

    os.makedirs(inc_dir)
    b2 = spark.createDataFrame(
        [(7, "g1 g2 g3 g4 g5 g6 x1 x2 x3 x4 y1 y2 y3 y4 y5 y6")],
        "doc_id long, text string",
    )
    with open(f"{inc_dir}/a.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "g1 g2 g3 g4 g5 g6"}))
    with open(f"{inc_dir}/b.json", "w") as f:
        f.write(json.dumps({"doc_id": 2, "text": "y1 y2 y3 y4 y5 y6"}))
    s2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(inc_dir)
    )
    name2 = f"parity_coverage_inc_{uuid.uuid4().hex[:8]}"
    _run_available(
        stream_ngram_coverage(s2, benchmark_gram_index(b2, n=5), n=5),
        name2,
    )
    rises = sorted(
        r.n_covered
        for r in spark.sql(f"select n_covered from {name2}").collect()
    )
    assert rises == [2, 4]  # two snapshots, strictly rising


def test_stream_keeper_dedup_matches_batch(spark, sf_dir, tmpdir):
    """14th parity surface: the live keeper stream (admits minus
    evicts) must equal exact_dedup_clusters' (text_hash, keeper) of
    everything that arrived — EXACTLY, for any arrival order and any
    micro-batch split, because the keeper is the order-free min id.
    Arrival is adversarial: ids DESCEND (every multi-doc hash
    dethrones its keeper at least once), plus injected high-id
    duplicates arriving first so evictions are guaranteed even if
    the corpus had no exact dups."""
    import json

    from openset_spark.pipeline.dedup import exact_dedup_clusters
    from openset_spark.streaming.dedup import stream_keeper_dedup

    docs = load_table(spark, sf_dir, "documents")
    rows = [
        {"doc_id": r.doc_id, "text": r.text}
        for r in docs.select("doc_id", "text").collect()
    ]
    for j, r in enumerate(rows[:5]):
        rows.append({"doc_id": 500_000 + j, "text": r["text"]})
    rows.sort(key=lambda r: -r["doc_id"])  # dup'd high ids arrive first
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_keeper_{uuid.uuid4().hex[:8]}"
    _run_available(stream_keeper_dedup(stream), name)
    log = spark.sql(
        f"select text_hash, doc_id, action from {name}"
    ).collect()
    live: set[tuple] = set()
    n_evicts = 0
    for r in log:
        if r.action == "admit":
            live.add((r.text_hash, r.doc_id))
        else:
            live.discard((r.text_hash, r.doc_id))
            n_evicts += 1
    assert n_evicts >= 5  # the injected dups all got dethroned

    batch_docs = spark.read.schema(schema).json(tmpdir)
    expected = {
        (r.text_hash, r.keeper_doc_id)
        for r in exact_dedup_clusters(batch_docs).collect()
    }
    assert live == expected


def test_stream_shard_manifest_matches_batch(spark, sf_dir, tmpdir):
    """15th parity surface: folding the live shard stream by
    shard_id must equal the batch shard_manifest of the same docs —
    exactly, for any micro-batch split of an in-id-order stream
    (the cut is a pure function of the running token total)."""
    import json

    from openset_spark.functions.text import token_count
    from openset_spark.pipeline.packing import shard_manifest
    from openset_spark.streaming.sampling_stream import (
        stream_shard_manifest,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = [
        {"doc_id": r.doc_id, "n_tokens": r.n_tokens}
        for r in docs.select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")
        ).collect()
    ]
    rows.sort(key=lambda r: r["doc_id"])  # in-order arrival contract
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)

    schema = "doc_id long, n_tokens long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_shard_{uuid.uuid4().hex[:8]}"
    _run_available(stream_shard_manifest(stream, budget=2048), name)
    live = {
        r.shard_id: (r.n_docs, r.n_tokens, r.first_doc, r.last_doc)
        for r in spark.sql(
            f"select shard_id, count(*) as n_docs, sum(n_tokens) as "
            f"n_tokens, min(doc_id) as first_doc, max(doc_id) as "
            f"last_doc from {name} group by shard_id"
        ).collect()
    }
    batch = {
        r.shard_id: (r.n_docs, r.n_tokens, r.first_doc, r.last_doc)
        for r in shard_manifest(
            spark.read.schema(schema).json(tmpdir), budget=2048
        ).collect()
    }
    assert live == batch
    assert len(live) > 2


def test_stream_embedding_drift_matches_batch(spark, sf_dir, tmpdir):
    """16th parity surface: the online embedding-drift monitor. For an
    in-id-order vector stream, every emitted (label, vec_id, n_prior,
    d2) — the squared distance to the PREFIX centroid of the label —
    must equal the batch operator's running-window frame EXACTLY
    (bit-identical doubles: both sides left-fold the same values in
    the same id order and reduce across dims sequentially, and both
    round through Spark's HALF_UP path). New state TYPE for the
    surface matrix: running vector moments (count + per-dim sum)."""
    import json

    from openset_spark.pipeline.similarity import embedding_drift
    from openset_spark.streaming.drift import stream_embedding_drift

    embs = load_table(spark, sf_dir, "embeddings")
    rows = [
        {
            "vec_id": r.vec_id,
            "label": r.label,
            "embedding": [float(x) for x in r.embedding],
        }
        for r in embs.filter("vec_id < 120")
        .select("vec_id", "label", "embedding")
        .collect()
    ]
    rows.sort(key=lambda r: r["vec_id"])  # in-id-order stream
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)

    schema = "vec_id long, label int, embedding array<double>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_drift_{uuid.uuid4().hex[:8]}"
    _run_available(stream_embedding_drift(stream), name)
    streamed = {
        (r.label, r.vec_id, r.n_prior, r.d2)
        for r in spark.sql(
            f"select label, vec_id, n_prior, d2 from {name}"
        ).collect()
    }

    batch = spark.read.schema(schema).json(tmpdir)
    expected = {
        (r.label, r.vec_id, r.n_prior, r.d2)
        for r in embedding_drift(batch).collect()
    }
    assert streamed == expected
    # every label's first arrival is silent; everything else emits
    n_labels = len({r["label"] for r in rows})
    assert len(streamed) == len(rows) - n_labels
    # prefix state genuinely crossed micro-batch boundaries: some
    # label accumulated more priors than one file can hold of it
    assert max(np for _, _, np, _ in streamed) > chunk / n_labels


def test_stream_ivfpq_encode_matches_batch(spark, sf_dir, tmpdir):
    """17th parity surface: the live IVF-PQ index writer. New vectors
    streaming in after a batch index build receive (list_id, codes)
    IDENTICAL to re-running the batch encode over the same rows —
    stateless pure projections (JVM normalize + coarse argmax + numpy
    residual encode share every tie-break with the build), so the
    parity is bit-exact for any arrival order or micro-batch split."""
    import json

    from openset_spark.pipeline.pq import ivfpq_build, ivfpq_encode_frame
    from openset_spark.streaming.drift import stream_ivfpq_encode

    embs = load_table(spark, sf_dir, "embeddings")
    # the "nightly build" trains on the first half of the corpus...
    built = embs.filter("vec_id < 250")
    cents, books, _ = ivfpq_build(
        built, n_lists=8, m=8, ksub=8, coarse_refine=1, pq_refine=1
    )
    # ...and the second half ARRIVES as a stream
    rows = [
        {
            "vec_id": r.vec_id,
            "embedding": [float(x) for x in r.embedding],
        }
        for r in embs.filter("vec_id >= 250 and vec_id < 370")
        .select("vec_id", "embedding")
        .collect()
    ]
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")

    schema = "vec_id long, embedding array<double>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_ivfpq_{uuid.uuid4().hex[:8]}"
    _run_available(stream_ivfpq_encode(stream, cents, books), name)
    streamed = {
        (r.vec_id, r.list_id, tuple(r.codes))
        for r in spark.sql(
            f"select vec_id, list_id, codes from {name}"
        ).collect()
    }

    batch = spark.read.schema(schema).json(tmpdir)
    expected = {
        (r.vec_id, r.list_id, tuple(r.codes))
        for r in ivfpq_encode_frame(batch, cents, books).collect()
    }
    assert streamed == expected
    assert len(streamed) == len(rows)
    # the stream genuinely fans across lists (not one degenerate bucket)
    assert len({lid for _, lid, _ in streamed}) >= 2


def test_stream_keep_best_matches_batch(spark, sf_dir, tmpdir):
    """19th parity surface: folding the live quality-keeper stream
    (admits minus evicts) must equal dedup_keep_best's keep=True set
    over everything that arrived, with exact-text duplicate pairs —
    EXACTLY, for adversarial arrival (scores ASCEND across files so
    every multi-doc text dethrones its keeper; a same-score twin
    with a LOWER id arrives last to exercise the tie rule)."""
    import json

    from openset_spark.pipeline.dedup import _bucket_pairs, dedup_keep_best
    from openset_spark.functions.text import normalize
    from openset_spark.streaming.dedup import stream_keep_best

    docs = load_table(spark, sf_dir, "documents")
    base = [
        {"doc_id": r.doc_id, "text": r.text}
        for r in docs.select("doc_id", "text").limit(120).collect()
    ]
    originals = [
        {**r, "quality": float((r["doc_id"] * 37) % 100) / 10.0}
        for r in base
    ]
    # duplicates of the first 6 docs with HIGHER scores and high ids
    dups = [
        {"doc_id": 600_000 + j, "text": r["text"], "quality": 11.0 + j}
        for j, r in enumerate(base[:6])
    ]
    # same-score twin with a LOWER id than its dup (tie -> lower id);
    # 599_999 is outside the corpus id range (no collision with a
    # real doc's own text cluster)
    tie = [{"doc_id": 599_999, "text": base[0]["text"], "quality": 11.0}]
    # files ARE the micro-batches (maxFilesPerTrigger=1): originals
    # first, then the dethroning dups, then the tie twin — every
    # injected row is guaranteed to arrive in a LATER batch than the
    # keeper it dethrones
    for i, batch_rows in enumerate((originals, dups, tie)):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in batch_rows:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)  # FileStreamSource orders by mtime

    schema = "doc_id long, text string, quality double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_keepbest_{uuid.uuid4().hex[:8]}"
    _run_available(stream_keep_best(stream), name)
    log = spark.sql(
        f"select text_hash, doc_id, action from {name}"
    ).collect()
    live: set[tuple] = set()
    n_evicts = 0
    for r in log:
        if r.action == "admit":
            live.add((r.text_hash, r.doc_id))
        else:
            live.discard((r.text_hash, r.doc_id))
            n_evicts += 1
    assert n_evicts >= 6  # every injected better-score dup dethroned

    batch_docs = spark.read.schema(schema).json(tmpdir)
    hashed = batch_docs.select(
        "doc_id", F.md5(normalize(F.col("text"))).alias("text_hash")
    )
    pairs = _bucket_pairs(hashed, ["text_hash"], "doc_id")
    kept = {
        r.doc_id
        for r in dedup_keep_best(
            batch_docs.select("doc_id", "quality"), pairs
        ).collect()
        if r.keep
    }
    assert {i for _h, i in live} == kept
    # the tie rule resolved to the LOWER id at equal score 11.0:
    # doc 599_999 (score 11.0) beats 600_000 (score 11.0)
    assert 599_999 in kept and 600_000 not in kept


def test_stream_asof_enrich_matches_batch_asof_join(spark, tmpdir):
    """21st parity surface: the live as-of enrichment (state = latest
    snapshot per key) over an in-order mixed stream equals the batch
    asof_join of the split sides EXACTLY, across micro-batch
    boundaries — including an event whose matching snapshot arrived
    in an EARLIER batch (the state carry) and events before any
    snapshot (NULL payload both sides)."""
    import json

    from openset_spark.operators.asof import asof_join
    from openset_spark.streaming.enrich import stream_asof_enrich

    base = "2024-01-01T00:"
    rows = [
        # user 1: snapshot @00, events @01 (match 00), snapshot @02
        # in the NEXT batch, events @03/@05 (match 02), equal-ts
        # event @02 (snapshot sorts first -> matches 02)
        {"user_id": 1, "ts": base + "00:00", "side": "snapshot",
         "price": 10.0, "event_id": 0},
        {"user_id": 1, "ts": base + "01:00", "side": "event",
         "price": None, "event_id": 101},
        {"user_id": 2, "ts": base + "00:30", "side": "event",
         "price": None, "event_id": 201},  # before any snapshot
        {"user_id": 1, "ts": base + "02:00", "side": "snapshot",
         "price": 20.0, "event_id": 0},
        {"user_id": 1, "ts": base + "02:00", "side": "event",
         "price": None, "event_id": 102},
        {"user_id": 2, "ts": base + "03:00", "side": "snapshot",
         "price": 99.0, "event_id": 0},
        {"user_id": 1, "ts": base + "03:00", "side": "event",
         "price": None, "event_id": 103},
        {"user_id": 1, "ts": base + "05:00", "side": "event",
         "price": None, "event_id": 104},
        {"user_id": 2, "ts": base + "06:00", "side": "event",
         "price": None, "event_id": 202},
    ]
    chunks = [rows[:3], rows[3:6], rows[6:]]
    for i, ch in enumerate(chunks):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in ch:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)

    schema = ("user_id long, ts timestamp, side string, price double,"
              " event_id long")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_asof_{uuid.uuid4().hex[:8]}"
    _run_available(stream_asof_enrich(stream), name)
    streamed = {
        (r.event_id, r.ts_asof, r.price_asof)
        for r in spark.sql(f"select * from {name}").collect()
    }

    batch = spark.read.schema(schema).json(tmpdir)
    left = batch.filter("side = 'event'").select("event_id", "user_id", "ts")
    right = batch.filter("side = 'snapshot'").select(
        "user_id", "ts", "price"
    )
    expected = {
        (r.event_id, r.ts_asof, r.price_asof)
        for r in asof_join(left, right, values=("price",)).collect()
    }
    assert streamed == expected and len(streamed) == 6
    by_id = {e: (t, p) for e, t, p in streamed}
    assert by_id[201] == (None, None)       # no snapshot yet
    assert by_id[102][1] == 20.0            # equal-ts inclusive match
    assert by_id[104][1] == 20.0            # state carried across batches
    assert by_id[202][1] == 99.0


def test_stream_time_rollup_fold_matches_batch(spark, sf_dir, tmpdir):
    """22nd parity surface: time_rollup's incremental-refresh twin.
    The stream maintains only the FINEST granularity (hour) in append
    mode; fold_rollup reconstructs every level from the emitted
    partials — and on fully-closed days the folded table must equal
    the batch time_rollup over the same events, row for row. Aggs are
    integer-exact (sum of a long, max of a double) so the partial
    fold cannot diverge by float association."""
    import datetime as _dt

    from openset_spark.operators.events import time_rollup
    from openset_spark.streaming.aggregate import (
        fold_rollup,
        stream_time_rollup_finest,
    )

    _spill_events(spark, sf_dir, tmpdir)
    grans = ("day", "hour")
    aggs = (("sum", "event_id", "sum_eid"), ("max", "value", "max_value"))
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    name = f"parity_rollup_{uuid.uuid4().hex[:8]}"
    _run_available(
        stream_time_rollup_finest(stream, granularities=grans, aggs=aggs),
        name,
    )
    finest = spark.sql(f"select * from {name}")
    assert finest.count() > 0

    bf = _batch_frame(spark, tmpdir)
    max_ts = bf.agg(F.max("ts")).first()[0]
    cutoff = max_ts - _dt.timedelta(hours=2)
    closed_day = F.col("bucket_day") + F.expr("INTERVAL 1 DAY") < F.lit(
        cutoff
    )

    folded = fold_rollup(finest, granularities=grans, aggs=aggs).filter(
        closed_day
    )
    batch = time_rollup(bf, granularities=grans, aggs=aggs).filter(
        closed_day
    )

    def key(r):
        return (r.granularity, r.event_type, r.bucket_day, r.bucket_hour)

    got = {key(r): (r.n, r.sum_eid, r.max_value) for r in folded.collect()}
    want = {key(r): (r.n, r.sum_eid, r.max_value) for r in batch.collect()}
    assert got == want
    assert len(want) > 20
    assert any(k[0] == "hour" for k in want) and any(
        k[0] == "day" for k in want
    )


def test_stream_interval_tag_matches_batch_interval_join(
    spark, sf_dir, tmpdir
):
    """23rd parity surface: live point-in-interval tagging — real
    events streamed in micro-batches, stream-static joined to a
    static interval table through the SAME bucketized inner path the
    batch operator plans — must equal batch interval_join on the
    identical inputs, including intervals that span many buckets and
    overlapping windows that each emit a row."""
    from openset_spark.operators.asof import interval_join
    from openset_spark.streaming.enrich import stream_interval_tag

    _spill_events(spark, sf_dir, tmpdir)
    bf = _batch_frame(spark, tmpdir)
    # purchase windows [ts-30min, ts+2h): multi-bucket at 45min
    intervals = (
        bf.filter("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("iv_id"),
            "user_id",
            (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias(
                "valid_from"
            ),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("valid_to"),
        )
    )
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    tagged = stream_interval_tag(
        stream.select("event_id", "user_id", "ts"),
        intervals,
        bucket_ms=2_700_000,
    )
    name = f"parity_ivtag_{uuid.uuid4().hex[:8]}"
    _run_available(tagged, name)
    streamed = {
        (r.event_id, r.iv_id)
        for r in spark.sql(f"select * from {name}").collect()
    }
    expected = {
        (r.event_id, r.iv_id)
        for r in interval_join(
            bf.select("event_id", "user_id", "ts"),
            intervals,
            bucket_ms=2_700_000,
        ).collect()
    }
    assert streamed == expected
    assert len(expected) > 50


def test_stream_nb_quality_matches_batch(spark, sf_dir, tmpdir):
    """24th parity surface: the live NB quality gate over a streamed
    document corpus equals batch nb_quality_scores doc for doc. The
    model is trained batch-side (src0-src3 as reference) and frozen;
    tokenization runs JVM-side on both twins; scores compare at the
    operator's own ROUND(,4) output."""
    import json

    from openset_spark.pipeline.classify import (
        nb_quality_model,
        nb_quality_scores,
    )
    from openset_spark.sources.tables import load_table
    from openset_spark.streaming.quality import stream_nb_quality

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    ref = F.col("source").isin("src0", "src1", "src2", "src3")
    pos, neg = docs.filter(ref), docs.filter(~ref)
    wdf, oov = nb_quality_model(pos, neg)
    weights = {r.token: r.weight for r in wdf.collect()}

    rows = [r.asDict() for r in docs.select("doc_id", "text").collect()]
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_nbq_{uuid.uuid4().hex[:8]}"
    _run_available(stream_nb_quality(stream, weights, oov), name)
    streamed = {
        r.doc_id: (r.n_tokens, r.score)
        for r in spark.sql(f"select * from {name}").collect()
    }
    expected = {
        r.doc_id: (r.n_tokens, r.score)
        for r in nb_quality_scores(docs, pos, neg).collect()
    }
    assert streamed == expected
    assert len(expected) > 50


def test_stream_hll_observations_fold_matches_batch(spark, sf_dir, tmpdir):
    """26th parity surface: live distinct-user sketching. The stream
    emits per-row register observations (pure projection, no state);
    folding them yields EXACTLY the registers — and therefore exactly
    the estimate — of a direct batch build, for any micro-batch
    split, because register max is commutative and idempotent. This
    is the property Spark's own DataSketches HIP estimator lacks
    (order-dependent estimates, measured in pipeline/hll.py)."""
    from openset_spark.pipeline.hll import (
        hll_estimate,
        hll_fold,
        hll_observations,
        hll_partials,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    obs = hll_observations(stream, "user_id", ("event_type",))
    name = f"parity_hll_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    folded = hll_fold(
        spark.sql(f"select * from {name}"), ("event_type",)
    )

    bf = _batch_frame(spark, tmpdir)
    direct = hll_partials(bf, "user_id", ("event_type",))
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, direct.collect())
    )
    got = {
        r.event_type: r.approx_distinct
        for r in hll_estimate(folded, ("event_type",)).collect()
    }
    want = {
        r.event_type: r.approx_distinct
        for r in hll_estimate(direct, ("event_type",)).collect()
    }
    assert got == want and len(want) >= 5


def test_stream_edit1_screen_matches_batch(spark, sf_dir, tmpdir):
    """27th parity surface: ingest-time typo screening. edit1_against
    is projections + one stream-static equijoin (the trailing
    distinct keeps only the matched-pair set as state), so the
    emitted (doc, corpus, dist) pairs equal the batch run exactly
    for any micro-batch split."""
    import json

    from openset_spark.pipeline.dedup import edit1_against
    from openset_spark.sources.tables import load_table
    from pyspark.sql import functions as FF

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        FF.substring(
            FF.trim(
                FF.regexp_replace(FF.lower(FF.col("text")), r"\s+", " ")
            ),
            1,
            24,
        ).alias("title"),
    )
    corpus = docs.filter("doc_id % 3 = 0")
    arrivals = docs.filter("doc_id % 3 <> 0")

    rows = [r.asDict() for r in arrivals.collect()]
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, title string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_typo_{uuid.uuid4().hex[:8]}"
    _run_available(edit1_against(stream, corpus, "title"), name)
    streamed = {
        (r.doc_id, r.corpus_id, r.dist)
        for r in spark.sql(f"select * from {name}").collect()
    }
    expected = {
        (r.doc_id, r.corpus_id, r.dist)
        for r in edit1_against(arrivals, corpus, "title").collect()
    }
    assert streamed == expected
    assert len(expected) > 0


def test_rollup_twins_reject_non_foldable_aggs(spark):
    from openset_spark.streaming.aggregate import (
        fold_rollup,
        stream_time_rollup_finest,
    )

    df = spark.range(1).selectExpr(
        "current_timestamp() AS ts", "'x' AS event_type", "id AS n"
    )
    with pytest.raises(ValueError, match="fold-decomposable"):
        stream_time_rollup_finest(df, aggs=(("dcount", "ts", "d"),))
    with pytest.raises(ValueError, match="fold-decomposable"):
        fold_rollup(df, aggs=(("avg", "n", "a"),))


def test_stream_cms_observations_fold_matches_batch(spark, sf_dir, tmpdir):
    """28th parity surface: live frequency sketching. The stream
    emits per-row Count-Min bucket observations (pure projection, no
    state); summing them yields EXACTLY the counter grid — and
    therefore exactly every min-over-depth estimate — of a direct
    batch build, for any micro-batch split, because the grid is a
    plain integer SUM (pipeline/cms.py's fold law)."""
    from openset_spark.pipeline.cms import (
        cms_estimate,
        cms_fold,
        cms_observations,
        cms_partials,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    obs = cms_observations(stream, "user_id", ("event_type",), 3, 256)
    name = f"parity_cms_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    folded = cms_fold(
        spark.sql(f"select * from {name}"), ("event_type",)
    )

    bf = _batch_frame(spark, tmpdir)
    direct = cms_partials(bf, "user_id", ("event_type",), 3, 256)
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, direct.collect())
    )
    probes = bf.select("event_type", "user_id").distinct()
    got = sorted(
        map(
            tuple,
            cms_estimate(
                folded, probes, "user_id", ("event_type",), 3, 256
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            cms_estimate(
                direct, probes, "user_id", ("event_type",), 3, 256
            ).collect(),
        )
    )
    assert got == want and len(want) >= 20


def test_stream_hdr_observations_fold_matches_batch(spark, sf_dir, tmpdir):
    """29th parity surface: live quantile sketching. The stream emits
    per-row log-linear bucket observations (pure integer projection,
    no state); summing them yields EXACTLY the bucket table — and
    therefore exactly every quantile — of a direct batch build, for
    any micro-batch split (pipeline/hdrhist.py's fold law)."""
    from openset_spark.pipeline.hdrhist import (
        hdr_fold,
        hdr_observations,
        hdr_partials,
        hdr_quantiles,
    )
    from pyspark.sql import functions as FF

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1).select(
        "event_type", FF.abs(FF.col("user_id")).alias("uid")
    )
    obs = hdr_observations(stream, "uid", ("event_type",))
    name = f"parity_hdr_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    folded = hdr_fold(spark.sql(f"select * from {name}"), ("event_type",))

    bf = _batch_frame(spark, tmpdir).select(
        "event_type", FF.abs(FF.col("user_id")).alias("uid")
    )
    direct = hdr_partials(bf, "uid", ("event_type",))
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, direct.collect())
    )
    got = sorted(
        map(tuple, hdr_quantiles(folded, (0.5, 0.95), ("event_type",)).collect())
    )
    want = sorted(
        map(tuple, hdr_quantiles(direct, (0.5, 0.95), ("event_type",)).collect())
    )
    assert got == want and len(want) >= 10


def test_stream_bloom_prune_matches_batch(spark, sf_dir, tmpdir):
    """30th parity surface: ingest-time bloom pruning. The bitmap
    (built once over a static key set) rides the same broadcast
    cross join on a STREAM — stateless, so the surviving rows equal
    the batch prune exactly for any micro-batch split, and the
    downstream exact semijoin semantics are unchanged (the filter
    only ever removes definite non-members)."""
    from openset_spark.pipeline.bloom import bloom_filter, bloom_words
    from pyspark.sql import functions as FF

    _spill_events(spark, sf_dir, tmpdir)
    batch = _batch_frame(spark, tmpdir)
    # freeze a bitmap over the users seen purchasing
    build = batch.filter(FF.col("event_type") == "purchase").select(
        "user_id"
    )
    words = bloom_words(build, "user_id").localCheckpoint()

    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    pruned = bloom_filter(
        stream.select("event_id", "user_id"), "user_id", words
    )
    name = f"parity_bloom_{uuid.uuid4().hex[:8]}"
    _run_available(pruned, name)
    streamed = {
        (r.event_id, r.user_id)
        for r in spark.sql(f"select * from {name}").collect()
    }
    expected = {
        (r.event_id, r.user_id)
        for r in bloom_filter(
            batch.select("event_id", "user_id"), "user_id", words
        ).collect()
    }
    assert streamed == expected and len(expected) > 0
    # no false negatives: every true member survived the stream prune
    members = {
        r.user_id for r in build.distinct().collect()
    }
    survived_users = {u for _, u in streamed}
    assert members <= survived_users


def test_stream_kmv_observations_fold_matches_batch(spark, sf_dir, tmpdir):
    """31st parity surface: live audience sketching. The stream
    emits per-row KMV hash observations (pure projection, no
    state); folding them (k smallest distinct) yields EXACTLY the
    batch sketch — min order statistics compose — and therefore
    exactly the distinct estimate, for any micro-batch split."""
    from openset_spark.pipeline.kmv import (
        kmv_distinct_estimate,
        kmv_fold,
        kmv_observations,
        kmv_partials,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    obs = kmv_observations(stream, "user_id", ("event_type",))
    name = f"parity_kmv_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    folded = kmv_fold(
        spark.sql(f"select * from {name}"), ("event_type",), 64
    )
    bf = _batch_frame(spark, tmpdir)
    direct = kmv_partials(bf, "user_id", ("event_type",), 64)
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, direct.collect())
    )
    got = sorted(
        map(
            tuple,
            kmv_distinct_estimate(folded, ("event_type",), 64).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            kmv_distinct_estimate(direct, ("event_type",), 64).collect(),
        )
    )
    assert got == want and len(want) >= 5


def test_stream_fold_feeds_sliding_distinct(spark, sf_dir, tmpdir):
    """32nd parity surface: live trailing-window distincts. The
    streamed per-hour register observations (26th surface) fold to
    exactly the batch per-hour partials, so the range-framed
    sliding fold built on them yields EXACTLY the batch
    hll_sliding_distinct at every bucket — the live 24h-actives
    dashboard with no approximation drift, ever."""
    from pyspark.sql import functions as FF

    from openset_spark.pipeline.hll import (
        hll_fold,
        hll_observations,
        hll_sliding_distinct,
        hll_sliding_from_partials,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    obs = hll_observations(
        stream.withColumn("_b", FF.date_trunc("hour", FF.col("ts"))),
        "user_id",
        ("_b",),
    )
    name = f"parity_slide_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    parts = hll_fold(
        spark.sql(f"select * from {name}"), ("_b",)
    ).localCheckpoint()

    # sliding estimate over the STREAM-folded partials, through the
    # SAME code path the batch op runs (r12: was an inline
    # re-implementation, which silently diverged when the batch op
    # densified its spine over gap hours)
    got = {
        r.bucket: r.approx_distinct
        for r in hll_sliding_from_partials(parts, "hour", 6).collect()
    }

    batch = _batch_frame(spark, tmpdir)
    want = {
        r.bucket: r.approx_distinct
        for r in hll_sliding_distinct(
            batch, "user_id", "ts", "hour", 6
        ).collect()
    }
    assert got == want and len(want) >= 5


def test_stream_fold_feeds_sliding_quantiles(spark, sf_dir, tmpdir):
    """33rd parity surface: live trailing-window percentiles. The
    streamed per-hour HDR bucket observations (29th surface) fold to
    exactly the batch per-hour partials (sum composes), so
    hdr_sliding_from_partials over the stream-folded table yields
    EXACTLY the batch hdr_sliding_quantiles at every (bucket, q) —
    the live p95 dashboard with no approximation drift, ever."""
    from pyspark.sql import functions as FF

    from openset_spark.pipeline.hdrhist import (
        hdr_fold,
        hdr_observations,
        hdr_sliding_from_partials,
        hdr_sliding_quantiles,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    obs = hdr_observations(
        stream.withColumn(
            "cents", FF.floor(FF.col("value") * 100 + 0.5).cast("long")
        ).withColumn("_tb", FF.date_trunc("hour", FF.col("ts"))),
        "cents",
        ("_tb",),
    )
    name = f"parity_slideq_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    parts = hdr_fold(
        spark.sql(f"select * from {name}"), ("_tb",)
    ).localCheckpoint()

    got = {
        (r.bucket, r.q): r.est
        for r in hdr_sliding_from_partials(parts, "hour", 6).collect()
    }
    batch = _batch_frame(spark, tmpdir).withColumn(
        "cents", FF.floor(FF.col("value") * 100 + 0.5).cast("long")
    )
    want = {
        (r.bucket, r.q): r.est
        for r in hdr_sliding_quantiles(
            batch, "cents", "ts", "hour", 6
        ).collect()
    }
    assert got == want and len(want) >= 10


def test_stream_fold_feeds_sliding_rates(spark, sf_dir, tmpdir):
    """34th parity surface: live trailing-window rates for a watched
    probe set. The streamed per-hour CMS bucket observations (28th
    surface) fold to exactly the batch per-hour grids (sum composes),
    so cms_sliding_from_partials over the stream-folded table yields
    EXACTLY the batch cms_sliding_estimate at every (bucket, probe)
    — the live rate monitor with no approximation drift, ever."""
    from pyspark.sql import functions as FF

    from openset_spark.pipeline.cms import (
        cms_fold,
        cms_observations,
        cms_sliding_estimate,
        cms_sliding_from_partials,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    obs = cms_observations(
        stream.withColumn("_tb", FF.date_trunc("hour", FF.col("ts"))),
        "user_id",
        ("_tb",),
    )
    name = f"parity_slider_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    parts = cms_fold(
        spark.sql(f"select * from {name}"), ("_tb",)
    ).localCheckpoint()

    batch = _batch_frame(spark, tmpdir)
    probes = (
        batch.select("user_id").filter(FF.col("user_id") % 5 == 0).distinct()
    ).localCheckpoint()
    got = {
        (r.bucket, r.user_id): r.est
        for r in cms_sliding_from_partials(
            parts, "user_id", probes, "hour", 6
        ).collect()
    }
    want = {
        (r.bucket, r.user_id): r.est
        for r in cms_sliding_estimate(
            batch, "user_id", probes, "ts", "hour", 6
        ).collect()
    }
    assert got == want and len(want) >= 10


def test_stream_fold_feeds_sliding_jaccard(spark, sf_dir, tmpdir):
    """35th parity surface: live trailing-window audience overlap.
    The streamed per-(hour, side) KMV hash observations (31st
    surface) fold to exactly the batch per-hour sketches (k-min of a
    union composes), so kmv_sliding_from_partials over the
    stream-folded table yields EXACTLY the batch kmv_sliding_jaccard
    at every bucket."""
    from pyspark.sql import functions as FF

    from openset_spark.pipeline.kmv import (
        kmv_fold,
        kmv_observations,
        kmv_sliding_from_partials,
        kmv_sliding_jaccard,
    )

    _spill_events(spark, sf_dir, tmpdir)
    stream = read_event_stream(spark, tmpdir, max_files_per_trigger=1)
    pre = stream.withColumn("_tb", FF.date_trunc("hour", FF.col("ts")))
    obs = kmv_observations(
        pre.filter(FF.col("event_type") == "view"), "user_id", ("_tb",)
    ).withColumn("_side", FF.lit("a")).unionByName(
        kmv_observations(
            pre.filter(FF.col("event_type") == "purchase"),
            "user_id",
            ("_tb",),
        ).withColumn("_side", FF.lit("b"))
    )
    name = f"parity_slidej_{uuid.uuid4().hex[:8]}"
    _run_available(obs, name)
    parts = kmv_fold(
        spark.sql(f"select * from {name}"), ("_tb", "_side"), 32
    ).localCheckpoint()

    got = {
        (r.bucket, r.jaccard, r.approx_intersection)
        for r in kmv_sliding_from_partials(parts, "hour", 6, 32).collect()
    }
    batch = _batch_frame(spark, tmpdir)
    want = {
        (r.bucket, r.jaccard, r.approx_intersection)
        for r in kmv_sliding_jaccard(
            batch,
            "user_id",
            FF.col("event_type") == "view",
            FF.col("event_type") == "purchase",
            window=6,
            k=32,
        ).collect()
    }
    assert got == want and len(want) >= 5


def test_stream_lang_id_matches_batch(spark, sf_dir, tmpdir):
    """36th parity surface: the live NB language router over a
    streamed document corpus equals batch nb_lang_scores doc for
    doc — per-language scores, gram counts AND the argmax guess.
    The char-n-gram model is trained batch-side on the labeled
    doc_id%5==0 shard and frozen; gram construction runs JVM-side
    on both twins; the argmax compares the same ROUND(,4) values."""
    import json

    from openset_spark.pipeline.classify import (
        nb_lang_model,
        nb_lang_scores,
    )
    from openset_spark.sources.tables import load_table
    from openset_spark.streaming.quality import stream_lang_id

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    seed = docs.filter(F.col("doc_id") % 5 == 0)
    wdf, langs, oov = nb_lang_model(seed)
    weights = {
        r["gram"]: [r[f"_w_{l}"] for l in langs] for r in wdf.collect()
    }
    oov_vec = [oov[l] for l in langs]

    rows = [r.asDict() for r in docs.select("doc_id", "text").collect()]
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(r) + "\n")
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    name = f"parity_langid_{uuid.uuid4().hex[:8]}"
    _run_available(stream_lang_id(stream, weights, langs, oov_vec), name)
    got = sorted(
        map(tuple, spark.sql(f"select * from {name}").collect())
    )
    want = sorted(map(tuple, nb_lang_scores(docs, seed).collect()))
    assert got == want and len(want) >= 100


def test_stream_cleaners_are_stateless_parity(spark, tmpdir):
    """37th parity surface (stateless pair): mojibake_repair and
    content_blocks are pure projections/explodes, so the SAME
    operator code runs unchanged on a streaming frame and must agree
    with batch row for row across micro-batch splits — planted
    encoding damage and HTML boilerplate included."""
    import json

    from openset_spark.pipeline.cleaning import (
        content_blocks,
        mojibake_repair,
    )

    fixture = [
        (1, "CafÃ© crÃ¨me mojibake"),
        (2, "donâ€™t â€œquote"),
        (3, "clean ascii prose stays"),
        (4, "<nav><a href=x>menu</a></nav><p>kept paragraph with "
            "plenty of words</p>"),
        (5, "<p>short</p><p>another kept block of several words"
            "</p>"),
        (6, "<div><br></div>"),
    ]
    chunk = 2
    for i in range(3):
        with open(f"{tmpdir}/docs-{i:03d}.json", "w") as f:
            for did, text in fixture[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    batch = spark.createDataFrame(fixture, "doc_id long, text string")

    name_m = f"parity_moji_{uuid.uuid4().hex[:8]}"
    _run_available(mojibake_repair(stream), name_m)
    assert sorted(
        map(tuple, spark.sql(f"select * from {name_m}").collect())
    ) == sorted(map(tuple, mojibake_repair(batch).collect()))

    name_b = f"parity_blocks_{uuid.uuid4().hex[:8]}"
    _run_available(content_blocks(stream), name_b)
    assert sorted(
        map(tuple, spark.sql(f"select * from {name_b}").collect())
    ) == sorted(map(tuple, content_blocks(batch).collect()))


def test_stream_url_parse_and_links_stateless_parity(spark, tmpdir):
    """38th parity surface (stateless pair): parse_urls and
    extract_links are pure projections/explodes, so the SAME
    operator code runs unchanged on a streaming frame and must agree
    with batch row for row across micro-batch splits — tracking
    params, default ports, multi-part TLDs and both href quote
    styles included. (domain_links' aggregate is the standard
    complete-mode fold over these stateless stages.)"""
    import json

    from openset_spark.pipeline.urls import extract_links, parse_urls

    fixture = [
        (1, "HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#f",
         '<a href="https://example.com/a">x</a>'),
        (2, "https://user@www.Example.co.uk./p",
         "<A HREF='https://news.site.org/b?fbclid=1'>y</A>"),
        (3, "not a url", '<a href="/rel">r</a>'),
        (4, "https://example.com:8443", "plain text"),
        (5, "ftp://files.example.org:21/pub", ""),
        (6, "https://a.b.github.io/r?z=1&y=2",
         '<a href="https://shop.example.co.uk/i?id=2&ref=t">s</a>'),
    ]
    chunk = 2
    for i in range(3):
        with open(f"{tmpdir}/urls-{i:03d}.json", "w") as f:
            for did, url, text in fixture[i * chunk : (i + 1) * chunk]:
                f.write(
                    json.dumps({"doc_id": did, "url": url, "text": text})
                    + "\n"
                )
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    batch = spark.createDataFrame(
        fixture, "doc_id long, url string, text string"
    )

    name_p = f"parity_urls_{uuid.uuid4().hex[:8]}"
    _run_available(parse_urls(stream), name_p)
    assert sorted(
        map(tuple, spark.sql(f"select * from {name_p}").collect())
    ) == sorted(map(tuple, parse_urls(batch).collect()))

    name_l = f"parity_links_{uuid.uuid4().hex[:8]}"
    _run_available(extract_links(stream), name_l)
    assert sorted(
        map(tuple, spark.sql(f"select * from {name_l}").collect())
    ) == sorted(map(tuple, extract_links(batch).collect()))


def test_stream_markdown_strip_stateless_parity(spark, tmpdir):
    """39th parity surface: markdown_strip is a pure projection
    chain, so the SAME operator code runs unchanged on a streaming
    frame and must agree with batch row for row across micro-batch
    splits — fences, images-before-links and the unterminated-fence
    edge included."""
    import json

    from openset_spark.pipeline.cleaning import markdown_strip

    fixture = [
        (1, "# T\n*b* [l](u) ![i](p)\n```\n# not counted\n```"),
        (2, "plain"),
        (3, "``` open fence\n# counted"),
        (4, "## h ## x\n`c` **bold** > not quote"),
        (5, "> quote\n---\nsnake_case <b>tag</b>"),
        (6, ""),
    ]
    chunk = 2
    for i in range(3):
        with open(f"{tmpdir}/md-{i:03d}.json", "w") as f:
            for did, text in fixture[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    batch = spark.createDataFrame(fixture, "doc_id long, text string")
    name = f"parity_md_{uuid.uuid4().hex[:8]}"
    _run_available(markdown_strip(stream), name)
    assert sorted(
        map(tuple, spark.sql(f"select * from {name}").collect())
    ) == sorted(map(tuple, markdown_strip(batch).collect()))


def test_stream_robots_filter_parity(spark, tmpdir):
    """40th parity surface: robots_filter's post-join plan is a pure
    projection over a stream-static BROADCAST join (rules pack on
    the tiny static side; URL rows never shuffle), so the SAME
    operator code tags a streaming URL feed and must agree with
    batch row for row across micro-batch splits — longest-match,
    tie-to-Allow and no-rule hosts included."""
    import json

    from openset_spark.pipeline.urls import parse_robots, robots_filter

    robots = spark.createDataFrame(
        [(
            "example.com",
            "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n",
        )],
        "host string, text string",
    )
    rules = parse_robots(robots).localCheckpoint()
    fixture = [
        (1, "https://example.com/public/x"),
        (2, "https://example.com/private/secret"),
        (3, "https://example.com/private/ok/page"),
        (4, "https://other.org/anything"),
        (5, "not a url"),
        (6, "https://example.com/private/okay"),
    ]
    chunk = 2
    for i in range(3):
        with open(f"{tmpdir}/rob-{i:03d}.json", "w") as f:
            for did, url in fixture[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps({"doc_id": did, "url": url}) + "\n")
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    batch = spark.createDataFrame(fixture, "doc_id long, url string")
    name = f"parity_rob_{uuid.uuid4().hex[:8]}"
    _run_available(robots_filter(stream, rules), name)
    assert sorted(
        map(tuple, spark.sql(f"select * from {name}").collect())
    ) == sorted(map(tuple, robots_filter(batch, rules).collect()))


def test_stream_script_profile_stateless_parity(spark, tmpdir):
    """41st parity surface: script_profile is one staged projection
    chain (length-difference char-class counts), so it runs
    unchanged on a streaming frame — parity-locked row-for-row over
    mixed-script, empty and tie-case docs across micro-batches."""
    import json

    from openset_spark.pipeline.textstats import script_profile

    fixture = [
        (1, "hello мир 123"),
        (2, "日本語 かな カナ"),
        (3, "   "),
        (4, "abc €€€"),
        (5, "مرحبا world"),
        (6, "한국어 text"),
    ]
    chunk = 2
    for i in range(3):
        with open(f"{tmpdir}/sc-{i:03d}.json", "w") as f:
            for did, text in fixture[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    _stamp_ordered(tmpdir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(tmpdir)
    )
    batch = spark.createDataFrame(fixture, "doc_id long, text string")
    name = f"parity_script_{uuid.uuid4().hex[:8]}"
    _run_available(script_profile(stream), name)
    assert sorted(
        map(tuple, spark.sql(f"select * from {name}").collect())
    ) == sorted(map(tuple, script_profile(batch).collect()))
