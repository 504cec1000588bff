"""Streaming sessionization (P59): the continuous twin of the batch
`q_sessionize` gaps-and-islands query.

`applyInPandasWithState` keeps ONE open session per conv_id.  Within a
micro-batch, arrivals are walked in event-time order and every >GAP_MS
silence closes a session immediately (one output row per CLOSED
session); the still-open session lives in state until the event-time
watermark passes its last activity + gap, at which point the timeout
fires and the final session row emits.  State is one fixed-width tuple
per live conversation inside the watermark horizon — bounded by horizon
x arrival rate, not by stream length, exactly like the dedup and
near-dup state operators.

Correctness horizon: an event that arrives AFTER the watermark passed
its own session's close cannot reopen it (the row would be older than
the watermark); within the horizon, out-of-order arrivals that still
belong to the open session fold into it (start/end stretch to cover
them).  That is the same at-watermark-horizon contract the batch twin
gets for free from total ordering.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from ocr_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
from ocr_spark.streaming.launch import grouped_state, start_stream, stream_op

SESSION_SCHEMA = (
    "conv_id string, sess_idx long, n_turns long, start_ms long, end_ms long"
)
_STATE_SCHEMA = "sess_idx long, n_turns long, start_ms long, last_ms long"

SESSION_GAP_MS = 30 * 60 * 1000  # same 1800 s gap as batch q_sessionize


def _row(key: str, sess_idx: int, n_turns: int, start_ms: int, last_ms: int):
    return {
        "conv_id": key,
        "sess_idx": sess_idx,
        "n_turns": n_turns,
        "start_ms": start_ms,
        "end_ms": last_ms,
    }


def _sessionize(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        sess_idx, n_turns, start_ms, last_ms = state.get
        state.remove()
        yield pd.DataFrame([_row(key[0], sess_idx, n_turns, start_ms, last_ms)])
        return
    ts_ms: list[int] = []
    for pdf in pdfs:
        ts_ms.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
    ts_ms.sort()
    sess_idx, n_turns, start_ms, last_ms = 1, 0, 0, 0
    if state.exists:
        sess_idx, n_turns, start_ms, last_ms = state.get
    closed = []
    for t in ts_ms:
        if n_turns > 0 and t - last_ms > SESSION_GAP_MS:
            closed.append(_row(key[0], sess_idx, n_turns, start_ms, last_ms))
            sess_idx += 1
            n_turns = 0
        if n_turns == 0:
            start_ms = t
        # out-of-order within the open session: stretch, don't split
        start_ms = min(start_ms, t)
        last_ms = max(last_ms, t) if n_turns > 0 else t
        n_turns += 1
    state.update((sess_idx, n_turns, start_ms, last_ms))
    state.setTimeoutTimestamp(last_ms + SESSION_GAP_MS)
    if closed:
        yield pd.DataFrame(closed)
    return
    yield  # pragma: no cover - makes this a generator


@stream_op(TRANSCRIPTS_SCHEMA)
def sessions(turns: DataFrame) -> DataFrame:
    """Per-conversation sessions (see module docstring)."""
    return grouped_state(
        turns, ["conv_id"], _sessionize, SESSION_SCHEMA, _STATE_SCHEMA
    )


def run_sessionize_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the sessionize stream.  Its own entry point, with no
    `max_files_per_trigger`: a bounded drain would advance the watermark
    and the state timeouts between micro-batches and change the output."""
    return start_stream(
        spark, sessions, input_path, output_path, checkpoint_path, available_now
    )
