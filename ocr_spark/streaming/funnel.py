"""Streaming conversion funnel (P64): the continuous twin of the batch
windowed funnel (P23, `ocr_spark.queries.analytics.q_funnel`).

`applyInPandasWithState` keeps the events of each live user inside the
watermark horizon; when the event-time watermark passes the user's last
activity + idle gap, the batch funnel rule (first view -> first click
within an hour -> first purchase within an hour of that click) runs
over the accumulated, event-time-sorted events and ONE stage row emits.
Accumulate-then-evaluate (the conversation-assembly pattern) is what
makes the result exactly the batch semantics for all in-horizon data —
a step-machine that advanced eagerly on arrival order would get
out-of-order arrivals wrong (a late-but-earlier view changes which
click window applies).  State is bounded by horizon x per-user rate;
events outside the horizon of an already-emitted user are lost — the
same at-watermark-horizon contract as sessionize/dedup/near-dup.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from ocr_spark.streaming.launch import grouped_state, start_stream, stream_op

EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string"
)
FUNNEL_SCHEMA = "user_id long, stage long, t_view_us long"
_STATE_SCHEMA = "ts_us array<long>, types array<string>, last_ms long"

STEP_US = 3_600_000_000          # 1-hour step window, mirrors batch P23
IDLE_GAP_MS = 2 * 60 * 60 * 1000  # funnel evaluated after 2 h idle


def funnel_stages(events: list[tuple[int, str]]) -> tuple[int, int] | None:
    """The batch funnel rule over (t_us, type) pairs (any order):
    returns (stage 1..3, first-view time) or None if no view.  Kept as a
    pure function so the streaming handler and tests share one
    definition."""
    ev = sorted(events)
    t_view = min((t for t, k in ev if k == "view"), default=None)
    if t_view is None:
        return None
    t_click = min(
        (t for t, k in ev
         if k == "click" and t_view < t <= t_view + STEP_US),
        default=None,
    )
    t_purchase = None
    if t_click is not None:
        t_purchase = min(
            (t for t, k in ev
             if k == "purchase" and t_click < t <= t_click + STEP_US),
            default=None,
        )
    stage = 1 + (t_click is not None) + (t_purchase is not None)
    return stage, t_view


def _funnel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        ts_us, types, _ = state.get
        state.remove()
        res = funnel_stages(list(zip(ts_us, types)))
        if res is not None:
            stage, t_view = res
            yield pd.DataFrame(
                [{"user_id": key[0], "stage": stage, "t_view_us": t_view}]
            )
        return
    ts_us: list[int] = []
    types: list[str] = []
    last_ms = 0
    if state.exists:
        prev_ts, prev_types, last_ms = state.get
        ts_us, types = list(prev_ts), list(prev_types)
    for pdf in pdfs:
        ts_us.extend((pdf["ts"].astype("int64") // 1_000).tolist())
        types.extend(pdf["event_type"].tolist())
        last_ms = max(last_ms, int(pdf["ts"].astype("int64").max() // 1_000_000))
    state.update((ts_us, types, last_ms))
    state.setTimeoutTimestamp(last_ms + IDLE_GAP_MS)
    return
    yield  # pragma: no cover - makes this a generator


@stream_op(EVENTS_STREAM_SCHEMA)
def user_funnels(events: DataFrame) -> DataFrame:
    """One funnel stage row per user, when the user goes idle (see module
    docstring)."""
    return grouped_state(
        events, ["user_id"], _funnel, FUNNEL_SCHEMA, _STATE_SCHEMA
    )


def run_funnel_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the funnel stream.  Its own entry point, with no
    `max_files_per_trigger`: a bounded drain would advance the watermark
    and the state timeouts between micro-batches and change the output."""
    return start_stream(
        spark, user_funnels, input_path, output_path, checkpoint_path, available_now
    )
