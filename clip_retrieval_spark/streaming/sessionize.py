"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` — the pattern for operators Structured
Streaming lacks built-in (SURVEY.md §2.9: the reference is batch-only;
this is the engine's streaming-native counterpart of the batch
``events_sessionize`` query, which it must agree with on closed
sessions).

State per user: (session_start, last_ts, n_events). An event more than
``GAP_SECONDS`` after last_ts closes the open session and starts a new
one; watermark-driven timeout flushes sessions for idle users.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

GAP_SECONDS = 1800.0  # the batch events_sessionize query's 30-minute gap
SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.DoubleType()),
        T.StructField("session_end", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_start", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        (start, last, n) = state.get
        state.remove()
        yield pd.DataFrame(
            [(user_id, start, last, n)],
            columns=["user_id", "session_start", "session_end", "n_events"],
        )
        return

    ts = sorted(
        float(t)
        for pdf in pdfs
        for t in pdf["epoch"].tolist()
    )
    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = ts[0], ts[0], 0

    closed = []
    for t in ts:
        if t - last > GAP_SECONDS:
            closed.append((user_id, start, last, n))
            start, n = t, 0
        last = t
        n += 1
    state.update((start, last, n))
    state.setTimeoutTimestamp(int(last * 1000) + int(GAP_SECONDS * 1000))
    if closed:
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events"],
        )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id long, ts timestamp) -> closed sessions.

    Uses event-time timeout so idle users' sessions flush as the
    watermark advances.
    """
    from pyspark.sql import functions as F

    prepared = (
        events.withWatermark("ts", "1 hour")
        .withColumn("epoch", F.col("ts").cast("timestamp").cast("double"))
        .select("user_id", "ts", "epoch")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
