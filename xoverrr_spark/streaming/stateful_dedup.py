"""Custom stateful streaming operator: cross-batch exact dedup.

``applyInPandasWithState`` keyed by content fingerprint — the first row of
a fingerprint group ever seen (across ALL micro-batches) passes; later
arrivals are dropped. State per key is one boolean, so the state store
stays O(distinct fingerprints).

Over an unbounded stream even one boolean per distinct fingerprint grows
without limit, so ``state_ttl_minutes`` arms a per-key processing-time
timeout (``GroupStateTimeout.ProcessingTimeTimeout``): a fingerprint not
re-seen within the TTL has its state evicted — bounding the store to the
fingerprints active inside the window, at the cost that a duplicate
arriving after the TTL is re-admitted (the standard dedup-window
trade-off; Spark's own ``dropDuplicatesWithinWatermark`` makes the same
one).

This is the streaming twin of ``operators.dedup.exact_dedup`` and covers
the "custom stateful operator" axis the stateless pipeline doesn't touch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.tokens import fingerprint
from ..pyworker import forget_zip_importers

OUTPUT_SCHEMA = "image_id string, caption string, text_fp string"
STATE_SCHEMA = "seen boolean"


def _make_first_seen(ttl_ms: int | None):
    def _first_seen(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # TTL eviction: bound the store to active keys
            return
        already_seen = state.exists and state.get[0]
        emitted = False
        for pdf in pdfs:
            if already_seen or emitted or pdf.empty:
                continue
            first = pdf.sort_values("image_id").head(1)
            yield first
            emitted = True
        if emitted or already_seen:
            state.update((True,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

    return _first_seen


def stream_dedup(
    images_stream: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming DataFrame -> deduped streaming DataFrame (first-seen
    representative per caption fingerprint survives, across batches).

    ``state_ttl_minutes``: evict a fingerprint's state after that much
    processing time without re-occurrence (None = remember forever)."""
    keyed = images_stream.select(
        F.col(id_col).alias("image_id"),
        F.col(caption_col).alias("caption"),
        fingerprint(F.col(caption_col)).alias("text_fp"),
    )
    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60_000
    return keyed.groupBy("text_fp").applyInPandasWithState(
        _make_first_seen(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if state_ttl_minutes is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
