"""Custom stateful streaming operator: event-time sessionization.

``applyInPandasWithState`` keyed by user — the streaming twin of
``operators.counts.sessionize``. Unlike the stateful dedup (one boolean
per key, timeout = eviction), this operator ACCUMULATES state (the open
session's start/end/count) and uses the timeout for EMISSION: a session
closes either when a later event of the same user arrives more than
``gap_seconds`` after it (emitted immediately, in-batch or cross-batch),
or when the event-time watermark passes its end + gap (the user went
quiet — ``EventTimeTimeout`` fires and the open session flushes).

State per user is three longs, so the store is O(active users), bounded
by the watermark exactly like Spark's own ``session_window`` aggregation;
this hand-rolled form exists to carry arbitrary per-session payloads and
custom close rules that the built-in cannot express.

Semantics note (the standard streaming trade-off): events arriving later
than the watermark delay may start a NEW session rather than extending the
already-flushed one. The batch twin (one per-user window over the full
history) is the exact form; cross-checked in tests on in-order data.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.counts import DEFAULT_SESSION_GAP_S
from ..pyworker import forget_zip_importers

OUTPUT_SCHEMA = "user_id long, session_start long, session_end long, n_events long"
STATE_SCHEMA = "start long, end long, n long"


def make_sessionizer(gap_seconds: int = DEFAULT_SESSION_GAP_S):
    """The state-transition function, exposed for stub-GroupState unit
    tests (drain-based integration tests cannot exercise the timeout
    branch: pending timeouts only fire when the watermark advances in a
    LATER batch)."""

    def _sessions(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        (user_id,) = key
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                [{"user_id": user_id, "session_start": start,
                  "session_end": end, "n_events": n}]
            )
            return
        times: list[int] = []
        for pdf in pdfs:
            times.extend(int(t) for t in pdf["tsec"])
        times.sort()
        if not times:
            return
        if state.exists:
            start, end, n = state.get
        else:
            start, end, n = times[0], times[0], 0
        closed = []
        for t in times:
            if n > 0 and t - end > gap_seconds:
                closed.append(
                    {"user_id": user_id, "session_start": start,
                     "session_end": end, "n_events": n}
                )
                start, n = t, 0
            end = t
            n += 1
        state.update((start, end, n))
        # flush the open session once the watermark passes its close edge
        state.setTimeoutTimestamp((end + gap_seconds) * 1000)
        if closed:
            yield pd.DataFrame(closed)

    return _sessions


def stream_sessions(
    events_stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_SESSION_GAP_S,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming events -> streaming closed sessions
    (user_id, session_start, session_end, n_events), epoch seconds."""
    # watermarks require TIMESTAMP (parquet fixtures carry TIMESTAMP_NTZ);
    # the session-tz cast matches the batch sessionizer's epoch semantics
    keyed = (
        events_stream.withColumn("_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("_ts", watermark_delay)
        .select(
            F.col(user_col).alias("user_id"),
            F.col("_ts").alias("ts"),
            F.col("_ts").cast("long").alias("tsec"),
        )
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(gap_seconds),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
