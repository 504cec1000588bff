"""The four event-time-state operators as pure fold/flush pairs, driven
directly, without Spark: `grouped_state` (ocr_spark/streaming/launch.py)
is the only part that needs a running query, and tests/test_streaming.py
drives that end to end."""

import datetime as dt
from collections import Counter

import pandas as pd

from ocr_spark.streaming.funnel import flush_funnel, fold_funnel
from ocr_spark.streaming.neardup import _jaccard_fp, flush_bucket, fold_bucket
from ocr_spark.streaming.sessionize import flush_session, fold_session
from ocr_spark.streaming.stateful import flush_summary, fold_summary

BASE_MS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
MIN_MS = 60_000


def _ts(minute):
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)


def _turns(minutes, roles=None, texts=None, idxs=None):
    n = len(minutes)
    return pd.DataFrame({
        "turn_idx": idxs or list(range(n)),
        "role": roles or ["user"] * n,
        "text": texts or ["x"] * n,
        "ts": [_ts(m) for m in minutes],
    })


def _ms(minute):
    return BASE_MS + minute * MIN_MS


# ---------------------------------------------------------------- sessionize

def test_session_gap_inside_one_frame_closes_a_session():
    state, rows = fold_session(("conv-a",), None, _turns([50, 0, 2, 1]))
    assert rows == [{
        "conv_id": "conv-a", "sess_idx": 1, "n_turns": 3,
        "start_ms": _ms(0), "end_ms": _ms(2),
    }]
    assert state == (2, 1, _ms(50), _ms(50))


def test_session_out_of_order_turn_stretches_the_open_session():
    state, rows = fold_session(("conv-a",), (1, 2, _ms(10), _ms(15)), _turns([5]))
    assert rows == []
    assert state == (1, 3, _ms(5), _ms(15))


def test_session_fold_resumes_numbering_from_state():
    state, rows = fold_session(("conv-a",), (3, 1, _ms(0), _ms(0)), _turns([40]))
    assert [r["sess_idx"] for r in rows] == [3]
    assert state == (4, 1, _ms(40), _ms(40))
    assert flush_session(("conv-a",), state)[0]["sess_idx"] == 4


def test_session_numbering_restarts_after_state_times_out():
    """`(conv_id, start_ms)` identifies a session; `sess_idx` counts
    within one state lifetime, so a conversation resuming after its state
    timed out starts again at 1."""
    key = ("conv-a",)
    state, rows = fold_session(key, None, _turns([0, 5]))
    assert rows == []
    rows += flush_session(key, state)
    state, more = fold_session(key, None, _turns([190]))
    rows += more + flush_session(key, state)
    assert [(r["sess_idx"], r["n_turns"]) for r in rows] == [(1, 2), (1, 1)]
    assert rows[0]["start_ms"] == _ms(0) and rows[1]["start_ms"] == _ms(190)


# ------------------------------------------------------------------ assembly

def test_summary_counts_accumulate_across_folds():
    key = ("conv-a",)
    state, rows = fold_summary(
        key, None, _turns([0, 1], ["user", "assistant"], ["hi", "hello"], [0, 1])
    )
    assert rows == []
    state, rows = fold_summary(
        key, state, _turns([7, 3], ["user", "tool"], ["abc", None], [4, 2])
    )
    assert rows == []
    assert flush_summary(key, state) == [{
        "conv_id": "conv-a", "n_turns": 4, "n_user": 2, "n_assistant": 1,
        "n_chars": 10, "first_turn_idx": 0, "last_turn_idx": 4,
    }]
    assert state[-1] == _ms(7)


# -------------------------------------------------------------------- funnel

def _events(rows):
    return pd.DataFrame({
        "ts": [_ts(m) for m, _ in rows],
        "event_type": [k for _, k in rows],
    })


def test_funnel_flush_of_disordered_user_gives_stage_3():
    """test_streaming's user 1: the purchase arrives before its click."""
    key = (1,)
    state, rows = fold_funnel(key, None, _events([(75, "purchase"), (0, "view")]))
    assert rows == []
    state, rows = fold_funnel(key, state, _events([(30, "click")]))
    assert rows == []
    assert flush_funnel(key, state) == [
        {"user_id": 1, "stage": 3, "t_view_us": BASE_MS * 1000}
    ]
    assert state[-1] == _ms(75)


def test_funnel_flush_without_a_view_emits_nothing():
    state, _ = fold_funnel((3,), None, _events([(10, "click")]))
    assert flush_funnel((3,), state) == []


# ------------------------------------------------------------------ near-dup

def _docs(rows):
    return pd.DataFrame({
        "doc_id": [d for d, _, _ in rows],
        "shingles": [sh for _, sh, _ in rows],
        "ts": [_ts(m) for _, _, m in rows],
    })


def test_bucket_pairs_once_and_skips_redelivered_doc():
    a, b = [1, 2, 3, 4], [1, 2, 3, 5]
    key = (0, 11, 22)
    state, rows = fold_bucket(key, None, _docs([(7, a, 4), (3, b, 1)]))
    want = _jaccard_fp(Counter(a), len(a), Counter(b), len(b))
    assert want >= 500_000
    assert rows == [{"doc_a": 3, "doc_b": 7, "jaccard_fp": want}]
    # doc 7 delivered again, later: skipped, and its time is not folded in
    state, rows = fold_bucket(key, state, _docs([(7, a, 30)]))
    assert rows == []
    assert state == ([3, 7], [b, a], _ms(4))
    assert flush_bucket(key, state) == []


def test_bucket_below_threshold_emits_no_pair():
    state, rows = fold_bucket((0, 1, 2), None, _docs([(1, [1, 2], 0), (2, [3, 4], 9)]))
    assert rows == []
    assert state[-1] == _ms(9)


# ----------------------------------------------------------------- all four

def test_state_last_field_is_max_event_time_ms():
    minutes = [12, 3, 40, 7]
    assert fold_session(("c",), None, _turns(minutes))[0][-1] == _ms(40)
    assert fold_summary(("c",), None, _turns(minutes))[0][-1] == _ms(40)
    ev = _events([(m, "view") for m in minutes])
    assert fold_funnel((1,), None, ev)[0][-1] == _ms(40)
    docs = _docs([(i, [i], m) for i, m in enumerate(minutes)])
    assert fold_bucket((0, 0, 0), None, docs)[0][-1] == _ms(40)
