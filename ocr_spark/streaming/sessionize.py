"""Streaming sessionization (P59): the continuous twin of the batch
`q_sessionize` gaps-and-islands query.

`grouped_state` keeps ONE open session per conv_id.  Within a
micro-batch, arrivals are walked in event-time order and every >GAP_MS
silence closes a session immediately (one output row per CLOSED
session); the still-open session lives in state until the event-time
watermark passes its last activity + gap, at which point the timeout
fires and the final session row emits.  State is one fixed-width tuple
per live conversation inside the watermark horizon — bounded by horizon
x arrival rate, not by stream length, exactly like the dedup and
near-dup state operators.

Session identity: `(conv_id, start_ms)` identifies a session.  `sess_idx`
counts sessions within one state lifetime: a conversation that resumes
after its state timed out starts again at 1, since keeping a
per-conversation counter forever would make state grow with the stream.

Correctness horizon: an event that arrives AFTER the watermark passed
its own session's close cannot reopen it (the row would be older than
the watermark); within the horizon, out-of-order arrivals that still
belong to the open session fold into it (start/end stretch to cover
them).  That is the same at-watermark-horizon contract the batch twin
gets for free from total ordering.

A turn with a null `ts` has no event time, so it belongs to no session:
`grouped_state` drops it before the fold, and it counts in no row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ocr_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
from ocr_spark.streaming.launch import epoch_ms, grouped_state, stream_op

SESSION_SCHEMA = (
    "conv_id string, sess_idx long, n_turns long, start_ms long, end_ms long"
)
_STATE_SCHEMA = "sess_idx long, n_turns long, start_ms long, last_ms long"

SESSION_GAP_MS = 30 * 60 * 1000  # same 1800 s gap as batch q_sessionize


def flush_session(key: tuple, state: tuple) -> list[dict]:
    """The row of the session in `state` (sess_idx, n_turns, start_ms,
    last_ms)."""
    sess_idx, n_turns, start_ms, last_ms = state
    return [
        {
            "conv_id": key[0],
            "sess_idx": sess_idx,
            "n_turns": n_turns,
            "start_ms": start_ms,
            "end_ms": last_ms,
        }
    ]


def fold_session(
    key: tuple, state: tuple | None, turns: pd.DataFrame
) -> tuple[tuple, list[dict]]:
    """Fold a conversation's new turns into its open session; returns the
    new open session and the rows of the sessions a gap closed."""
    sess_idx, n_turns, start_ms, last_ms = state or (1, 0, 0, 0)
    closed = []
    for t in sorted(epoch_ms(turns["ts"]).tolist()):
        if n_turns > 0 and t - last_ms > SESSION_GAP_MS:
            closed += flush_session(key, (sess_idx, n_turns, start_ms, last_ms))
            sess_idx, n_turns = sess_idx + 1, 0
        if n_turns == 0:
            start_ms = last_ms = t
        # out-of-order within the open session: stretch, don't split
        start_ms, last_ms = min(start_ms, t), max(last_ms, t)
        n_turns += 1
    return (sess_idx, n_turns, start_ms, last_ms), closed


@stream_op(TRANSCRIPTS_SCHEMA, bounded=False)
def sessions(turns: DataFrame) -> DataFrame:
    """Per-conversation sessions (see module docstring)."""
    return grouped_state(
        turns, ["conv_id"], fold_session, flush_session, SESSION_SCHEMA,
        _STATE_SCHEMA, SESSION_GAP_MS,
    )
