"""Streaming sessionization — the reference computes sessions at query
time over each customer's grid (src/grid.cpp); in a streaming engine
the equivalent is per-user session state maintained incrementally.

``applyInPandasWithState`` keyed by user: state holds the open
session's (start, last_ts, n_events); an event past the gap closes
the session (emitted downstream) and opens a new one. State is O(1)
per user — bounded at any scale; a processing-time timeout flushes
idle users so closed sessions are not held hostage by silent users.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

DEFAULT_GAP_MS = 30 * 60 * 1000

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

# state: (start_us, last_us, n_events)
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _close_sessions(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_ms: int = DEFAULT_GAP_MS,
) -> Iterator[pd.DataFrame]:
    gap_us = gap_ms * 1000
    (user_id,) = key

    if state.hasTimedOut:
        if state.exists:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
        return

    ts_us = [pdf["ts"].to_numpy("datetime64[ns]").astype(np.int64) // 1000 for pdf in pdfs]
    ts_list = np.sort(np.concatenate(ts_us)).tolist() if ts_us else []
    if not ts_list:
        return

    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us, last_us, n = ts_list[0], ts_list[0], 0

    closed: list[tuple[int, int, int]] = []
    for t in ts_list:
        if n > 0 and t - last_us > gap_us:
            closed.append((start_us, last_us, n))
            start_us, n = t, 0
        last_us = max(last_us, t)
        n += 1
    state.update((start_us, last_us, n))
    state.setTimeoutDuration(gap_ms)

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                "n_events": [c for _, _, c in closed],
            }
        )


def stream_sessionize(
    events: DataFrame, gap_ms: int = DEFAULT_GAP_MS
) -> DataFrame:
    """events stream -> closed-session stream (append mode).
    ``gap_ms`` mirrors batch ``with_session`` (the reference's
    session_time parameter) so streaming and batch boundaries agree.
    Only ``user_id`` and ``ts`` go to the Python worker: the state
    function reads nothing else."""

    def fn(key, pdfs, state):
        return _close_sessions(key, pdfs, state, gap_ms)

    return events.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
