"""Fixture-generator tests: determinism, schema, skew, shuffled order."""

import numpy as np
import pandas as pd

from fixtures.gen import gen_transcripts


def test_deterministic():
    a = gen_transcripts(n_convs=10, seed=7)
    b = gen_transcripts(n_convs=10, seed=7)
    pd.testing.assert_frame_equal(a, b)


def test_schema():
    df = gen_transcripts(n_convs=5)
    assert list(df.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert df["turn_idx"].dtype == np.dtype("int32")
    assert df["ts"].dtype.kind == "M"
    assert (df.loc[df["role"] != "tool", "tool"] == "").all()


def test_turn_idx_contiguous_per_conv():
    df = gen_transcripts(n_convs=10)
    for _, g in df.groupby("conv_id"):
        idx = sorted(g["turn_idx"].tolist())
        assert idx == list(range(len(idx)))


def test_shuffled_emission():
    df = gen_transcripts(n_convs=20)
    ordered = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert not df.equals(ordered)


def test_hot_conversation():
    df = gen_transcripts(n_convs=5, hot_conv_turns=200)
    counts = df.groupby("conv_id").size()
    assert counts["conv-000000"] == 200

