"""Custom stateful streaming operator: conversation assembly.

`grouped_state` keeps one state cell per conv_id while its turns
stream in; when the event-time watermark passes the conversation's last
activity + idle gap, the state times out and ONE summary row is emitted
(turn counts per role, char volume, observed turn_idx span).  This is the
streaming twin of a per-conversation batch groupBy that can never "end"
on an unbounded stream — the watermark decides when a conversation is
complete.  State is bounded by the number of live conversations inside
the watermark horizon.  A turn with a null `ts` has no event time:
`grouped_state` drops it, so it counts toward no summary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ocr_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
from ocr_spark.streaming.launch import epoch_ms, grouped_state, stream_op

SUMMARY_SCHEMA = (
    "conv_id string, n_turns long, n_user long, n_assistant long, "
    "n_chars long, first_turn_idx int, last_turn_idx int"
)
_STATE_SCHEMA = (
    "n_turns long, n_user long, n_assistant long, n_chars long, "
    "first_turn_idx int, last_turn_idx int, last_ts_ms long"
)
_SUMMARY_COLUMNS = [f.split()[0] for f in SUMMARY_SCHEMA.split(",")]

IDLE_GAP_MS = 30 * 60 * 1000  # conversation considered over after 30 min idle


def fold_summary(
    key: tuple, state: tuple | None, turns: pd.DataFrame
) -> tuple[tuple, list[dict]]:
    """Add a conversation's new turns to its running counts; emits no
    row until the conversation goes idle."""
    n_turns, n_user, n_assistant, n_chars, first_i, last_i, last_ms = (
        state or (0, 0, 0, 0, 2**31 - 1, -1, 0)
    )
    return (
        n_turns + len(turns),
        n_user + int((turns["role"] == "user").sum()),
        n_assistant + int((turns["role"] == "assistant").sum()),
        n_chars + int(turns["text"].str.len().fillna(0).sum()),
        min(first_i, int(turns["turn_idx"].min())),
        max(last_i, int(turns["turn_idx"].max())),
        max(last_ms, int(epoch_ms(turns["ts"]).max())),
    ), []


def flush_summary(key: tuple, state: tuple) -> list[dict]:
    """The conversation's summary row: its counts without the last event
    time."""
    return [dict(zip(_SUMMARY_COLUMNS, (key[0], *state[:-1])))]


@stream_op(TRANSCRIPTS_SCHEMA, bounded=False)
def conversation_summaries(turns: DataFrame) -> DataFrame:
    """One summary row per conversation, when it goes idle (see module
    docstring)."""
    return grouped_state(
        turns, ["conv_id"], fold_summary, flush_summary, SUMMARY_SCHEMA,
        _STATE_SCHEMA, IDLE_GAP_MS,
    )
