"""TIMESTAMP_NTZ regression coverage.

Spark 4 reads tz-less parquet ``timestamp[us]`` as TIMESTAMP_NTZ (NTZ
inference is on by default), and ``unix_micros``/``unix_millis`` reject
NTZ input — this killed every time-arithmetic operator in round 3.
Two defenses, both exercised here:

1. ``load_table`` declares every timestamp column TIMESTAMP_LTZ in the
   read schema it takes from the parquet footer, and pins the session
   to UTC, so nothing downstream ever sees NTZ.
2. ``epoch_us``/``epoch_ms`` cast to ``timestamp_ltz`` first, so
   operators fed a raw NTZ frame (not via the loader) still work.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from openset_spark.functions.time import epoch_ms, epoch_us
from openset_spark.operators.funnel import funnel
from openset_spark.operators.sessionize import session_stats, with_session
from openset_spark.sources.tables import load_table

BASE = dt.datetime(2024, 5, 1, 12, 0, 0)  # naive == NTZ wall-clock


@pytest.fixture(scope="module")
def ntz_dir(tmp_path_factory):
    """A tiny events.parquet with a tz-less timestamp[us] ts column."""
    d = tmp_path_factory.mktemp("ntz_events")
    rows = [
        # user 1: two bursts 2h apart -> 2 sessions @ 30min gap
        (1, 1, "signup", BASE),
        (2, 1, "click", BASE + dt.timedelta(minutes=5)),
        (3, 1, "purchase", BASE + dt.timedelta(minutes=10)),
        (4, 1, "click", BASE + dt.timedelta(hours=2)),
        # user 2: one session, purchase 3h after signup (outside 1h funnel)
        (5, 2, "signup", BASE),
        (6, 2, "purchase", BASE + dt.timedelta(hours=3)),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "ts": pa.array([r[3] for r in rows], pa.timestamp("us")),
        }
    )
    pq.write_table(table, os.path.join(str(d), "events.parquet"))
    return str(d)


def test_raw_read_is_ntz_and_loader_normalizes(spark, ntz_dir):
    raw = spark.read.parquet(os.path.join(ntz_dir, "events.parquet"))
    assert isinstance(raw.schema["ts"].dataType, TimestampNTZType)
    loaded = load_table(spark, ntz_dir, "events")
    assert isinstance(loaded.schema["ts"].dataType, TimestampType)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_epoch_helpers_accept_ntz(spark, ntz_dir):
    raw = spark.read.parquet(os.path.join(ntz_dir, "events.parquet"))
    row = (
        raw.filter(F.col("event_id") == 1)
        .select(epoch_us(F.col("ts")).alias("us"), epoch_ms(F.col("ts")).alias("ms"))
        .first()
    )
    want_ms = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert row.ms == want_ms
    assert row.us == want_ms * 1000


def test_sessionize_on_raw_ntz_frame(spark, ntz_dir):
    raw = spark.read.parquet(os.path.join(ntz_dir, "events.parquet"))
    stats = session_stats(raw, gap_ms=30 * 60 * 1000).orderBy("user_id", "session")
    got = [(r.user_id, r.session, r.n_events) for r in stats.collect()]
    assert got == [(1, 1, 3), (1, 2, 1), (2, 1, 1), (2, 2, 1)]
    spans = {
        (r.user_id, r.session): r.span_sec
        for r in stats.collect()
    }
    assert spans[(1, 1)] == 600.0


def test_funnel_within_on_raw_ntz_frame(spark, ntz_dir):
    raw = spark.read.parquet(os.path.join(ntz_dir, "events.parquet"))
    steps = [F.col("event_type") == "signup", F.col("event_type") == "purchase"]
    # 1h window: only user 1 converts (user 2 purchases 3h later)
    out = funnel(raw, steps, within_ms=60 * 60 * 1000)
    counts = {r.step: r.users for r in out.collect()}
    assert counts[1] == 2 and counts[2] == 1
    # no window: both convert
    out_all = funnel(raw, steps)
    counts_all = {r.step: r.users for r in out_all.collect()}
    assert counts_all[2] == 2


def test_days_between_on_loaded_frame(spark, ntz_dir):
    ev = load_table(spark, ntz_dir, "events")
    agg = (
        ev.groupBy("user_id")
        .agg(
            ((epoch_us(F.max("ts")) - epoch_us(F.min("ts"))) / 3.6e9).alias("span_h")
        )
        .orderBy("user_id")
    )
    got = [r.span_h for r in agg.collect()]
    assert got == [2.0, 3.0]
