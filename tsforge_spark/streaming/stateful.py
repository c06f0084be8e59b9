"""Custom stateful streaming operator: per-conversation live state.

``applyInPandasWithState`` keeps one state row per conversation (turn
count, tool calls, first/last ts) updated as micro-batches arrive, and
emits a finalization record when a conversation goes quiet past the
timeout — the streaming analogue of gap-based sessionization
(operators/sessions.py) and the pattern the task brief names for
operators Structured Streaming lacks natively.

State is bounded: one small tuple per active conversation; quiet
conversations are evicted via processing-time timeout.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "turns LONG, tool_calls LONG, first_us LONG, last_us LONG"

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("event", T.StringType(), False),  # update | finalize
        T.StructField("turns", T.LongType(), False),
        T.StructField("tool_calls", T.LongType(), False),
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)


def _make_track(timeout_ms: int):
    def _track(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        return _track_impl(key, pdfs, state, timeout_ms)

    return _track


def _track_impl(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState, timeout_ms: int
) -> Iterable[pd.DataFrame]:
    (conv_id,) = key
    if state.hasTimedOut:
        turns, tool_calls, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "event": ["finalize"],
                "turns": [turns],
                "tool_calls": [tool_calls],
                "first_ts": pd.to_datetime([first_us], unit="us"),
                "last_ts": pd.to_datetime([last_us], unit="us"),
            }
        )
        return
    turns, tool_calls, first_us, last_us = (
        state.get if state.exists else (0, 0, None, None)
    )
    for pdf in pdfs:
        turns += len(pdf)
        tool_calls += int(pdf["tool"].notna().sum())
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        lo, hi = int(ts_us.min()), int(ts_us.max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((turns, tool_calls, first_us, last_us))
    state.setTimeoutDuration(timeout_ms)
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "event": ["update"],
            "turns": [turns],
            "tool_calls": [tool_calls],
            "first_ts": pd.to_datetime([first_us], unit="us"),
            "last_ts": pd.to_datetime([last_us], unit="us"),
        }
    )


def conversation_tracker(stream: DataFrame, timeout_ms: int = 30_000) -> DataFrame:
    """Attach the stateful tracker to a transcript stream.

    ``timeout_ms`` is the processing-time quiet window after which a
    conversation's state is finalized and evicted; size it well above the
    micro-batch cadence or idle conversations finalize between batches
    (observed with slow local micro-batches at the 30 s default).

    The processing-time timeout makes Spark run a no-data micro-batch on
    every trigger (to fire timeouts), so a query over this frame never
    finishes on its own, even with ``trigger(availableNow=True)``:
    ``awaitTermination()`` waits out its full timeout and
    ``processAllAvailable()`` blocks.  Poll ``query.recentProgress``
    until the summed ``numInputRows`` covers the input, then
    ``query.stop()``."""
    return stream.groupBy("conv_id").applyInPandasWithState(
        _make_track(timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
