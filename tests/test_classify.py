"""G19-G22 scoring/gating unit tests — one `content_scores` for a
turn-wide split and per-block splits alike; boundary comparators pinned
(SURVEY.md §7.4: the reference mixes >= and >; every gate's comparator is
asserted here at its boundary value)."""

import numpy as np

from ocr_spark.constants import (
    CONFIDENCE_THRESHOLD,
    RESCUE_THRESHOLD,
)
from ocr_spark.extract.classify import accept, content_scores


def test_scores_above_otsu_no_links():
    s = content_scores(np.array([200]), np.array([0.0]), otsu_t=100)
    assert s[0] == 1.0


def test_scores_below_otsu_scaled():
    s = content_scores(np.array([50]), np.array([0.0]), otsu_t=100)
    # 0.6 * 0.5 * 50/101 + 0.4
    assert abs(s[0] - (0.6 * 0.5 * 50 / 101 + 0.4)) < 1e-12


def test_scores_link_penalty_saturates():
    s1 = content_scores(np.array([200]), np.array([0.5]), otsu_t=100)
    s2 = content_scores(np.array([200]), np.array([0.9]), otsu_t=100)
    assert abs(s1[0] - 0.6) < 1e-12  # full penalty at LINK_DENSITY_MAX
    assert abs(s2[0] - 0.6) < 1e-12  # saturated beyond


def test_scores_no_split_all_foreground():
    s = content_scores(np.array([5]), np.array([0.0]), otsu_t=-1)
    assert s[0] == 1.0


def test_scores_no_split_zero_density_is_not_foreground():
    # q is clipped to 0..255, so with no split only q == 0 stays out
    s = content_scores(np.array([0, 1]), np.array([0.0, 0.0]), otsu_t=-1)
    assert s[0] == 0.4 and s[1] == 1.0


def test_scores_per_block_thresholds_match_broadcast():
    # the batched kernel passes one split per block (its turn's); each
    # block scores as if its turn were scored alone
    rng = np.random.default_rng(0)
    q = rng.integers(0, 256, 400)
    link = rng.random(400)
    t = rng.choice([-1, 0, 3, 100, 254], 400)
    got = content_scores(q, link, t)
    for split in np.unique(t):
        at = t == split
        want = content_scores(q[at], link[at], int(split))
        assert np.array_equal(got[at], want), split
    assert content_scores(q[:0], link[:0], t[:0]).dtype == np.float64


def test_gate_boundary_inclusive():
    # G22: probability >= 0.70 accepts (predict.py:275 comparator)
    acc, prob = accept(np.array([CONFIDENCE_THRESHOLD]))
    assert acc[0]
    acc2, _ = accept(np.array([CONFIDENCE_THRESHOLD - 1e-9]))
    assert not acc2[0]


def test_rescue_boundary_inclusive_but_gated():
    # G21: noise-labeled block with score >= 0.15 is rescued (stays in
    # play) but — exactly as in the reference, where second-best prob
    # <= 0.5 < 0.70 — never passes the confidence gate.
    acc, prob = accept(np.array([RESCUE_THRESHOLD]))
    assert not acc[0]
    assert prob[0] == RESCUE_THRESHOLD


def test_below_rescue_dropped():
    acc, _ = accept(np.array([RESCUE_THRESHOLD - 1e-9]))
    assert not acc[0]


def test_vectorized_batch():
    # all blocks of a turn scored as one matrix op (no Python loop)
    scores = np.array([0.9, 0.71, 0.69, 0.3, 0.1])
    acc, _ = accept(scores)
    assert acc.tolist() == [True, True, False, False, False]
