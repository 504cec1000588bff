"""Streaming conversion funnel (P64): the continuous twin of the batch
windowed funnel (P23, `ocr_spark.queries.analytics.q_funnel`).

`grouped_state` keeps the events of each live user inside the
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

import pandas as pd
from pyspark.sql import DataFrame

from ocr_spark.streaming.launch import epoch_ms, grouped_state, stream_op

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
    pure function so the streaming flush and tests share one
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


def fold_funnel(
    key: tuple, state: tuple | None, events: pd.DataFrame
) -> tuple[tuple, list[dict]]:
    """Append a user's new events to the ones in state; emits no row
    until the user goes idle."""
    ts_us, types, last_ms = state or ([], [], 0)
    return (
        list(ts_us) + (events["ts"].astype("int64") // 1_000).tolist(),
        list(types) + events["event_type"].tolist(),
        max(last_ms, int(epoch_ms(events["ts"]).max())),
    ), []


def flush_funnel(key: tuple, state: tuple) -> list[dict]:
    """The user's funnel stage row, or none if the user never viewed."""
    ts_us, types, _ = state
    res = funnel_stages(list(zip(ts_us, types)))
    if res is None:
        return []
    return [{"user_id": key[0], "stage": res[0], "t_view_us": res[1]}]


@stream_op(EVENTS_STREAM_SCHEMA, bounded=False)
def user_funnels(events: DataFrame) -> DataFrame:
    """One funnel stage row per user, when the user goes idle (see module
    docstring)."""
    return grouped_state(
        events, ["user_id"], fold_funnel, flush_funnel, FUNNEL_SCHEMA,
        _STATE_SCHEMA, IDLE_GAP_MS,
    )
