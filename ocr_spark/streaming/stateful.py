"""Custom stateful streaming operator: conversation assembly.

`applyInPandasWithState` keeps one state cell per conv_id while its turns
stream in; when the event-time watermark passes the conversation's last
activity + idle gap, the state times out and ONE summary row is emitted
(turn counts per role, char volume, observed turn_idx span).  This is the
streaming twin of a per-conversation batch groupBy that can never "end"
on an unbounded stream — the watermark decides when a conversation is
complete.  State is bounded by the number of live conversations inside
the watermark horizon.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from ocr_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
from ocr_spark.streaming.launch import grouped_state, start_stream, stream_op

SUMMARY_SCHEMA = (
    "conv_id string, n_turns long, n_user long, n_assistant long, "
    "n_chars long, first_turn_idx int, last_turn_idx int"
)
_STATE_SCHEMA = (
    "n_turns long, n_user long, n_assistant long, n_chars long, "
    "first_turn_idx int, last_turn_idx int, last_ts_ms long"
)

IDLE_GAP_MS = 30 * 60 * 1000  # conversation considered over after 30 min idle


def _assemble(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        n_turns, n_user, n_assistant, n_chars, first_i, last_i, _ = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "conv_id": key[0],
                    "n_turns": n_turns,
                    "n_user": n_user,
                    "n_assistant": n_assistant,
                    "n_chars": n_chars,
                    "first_turn_idx": first_i,
                    "last_turn_idx": last_i,
                }
            ]
        )
        return
    n_turns = n_user = n_assistant = n_chars = 0
    first_i, last_i, last_ms = 2**31 - 1, -1, 0
    if state.exists:
        n_turns, n_user, n_assistant, n_chars, first_i, last_i, last_ms = state.get
    for pdf in pdfs:
        n_turns += len(pdf)
        n_user += int((pdf["role"] == "user").sum())
        n_assistant += int((pdf["role"] == "assistant").sum())
        n_chars += int(pdf["text"].str.len().fillna(0).sum())
        first_i = min(first_i, int(pdf["turn_idx"].min()))
        last_i = max(last_i, int(pdf["turn_idx"].max()))
        last_ms = max(last_ms, int(pdf["ts"].max().timestamp() * 1000))
    state.update((n_turns, n_user, n_assistant, n_chars, first_i, last_i, last_ms))
    # complete when the watermark passes last activity + idle gap
    state.setTimeoutTimestamp(last_ms + IDLE_GAP_MS)
    return
    yield  # pragma: no cover - makes this a generator


@stream_op(TRANSCRIPTS_SCHEMA)
def conversation_summaries(turns: DataFrame) -> DataFrame:
    """One summary row per conversation, when it goes idle (see module
    docstring)."""
    return grouped_state(
        turns, ["conv_id"], _assemble, SUMMARY_SCHEMA, _STATE_SCHEMA
    )


def run_conversation_assembly_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the conversation assembly stream.  Its own entry point, with
    no `max_files_per_trigger`: a bounded drain would advance the
    watermark and the state timeouts between micro-batches and change the
    output."""
    return start_stream(
        spark, conversation_summaries, input_path, output_path,
        checkpoint_path, available_now,
    )
