"""G18-G22: per-block scoring, labeling, rescue rule, confidence gate.

Replaces the reference CNN (model.py:17-51) with a deterministic
text-density + link-density heuristic (Readability/Boilerpipe-style block
classification, per BASELINE.json north_star), but keeps the decision
*structure* of predict.py:251-281 exactly:

  score vector -> argmax label -> noise-rescue (>= 0.15) -> accept gate
  (>= 0.70)

All blocks of a turn are scored at once as one NumPy matrix op — never a
Python loop per block (replacing the reference's batch-of-1 model.predict
anti-pattern, predict.py:242-251; SURVEY.md §4.1).
"""

from __future__ import annotations

import numpy as np

from ocr_spark.constants import (
    CONFIDENCE_THRESHOLD,
    LINK_DENSITY_MAX,
    RESCUE_THRESHOLD,
    W_DENSITY,
    W_LINK,
)


def content_scores(
    q: np.ndarray, link_density: np.ndarray, otsu_t: int | np.ndarray
) -> np.ndarray:
    """G15+G18+G19: content score per block, float64 in [0,1].

    `otsu_t` is the Otsu split of the block's turn: one int for every
    block, or one per block (the batched kernel scores the blocks of many
    turns at once).  d_score: 1.0 above the split, else a sub-0.5
    fraction of how close the block sits to it (feature scaling to [0,1],
    G18).  A split of -1 means no usable split (unimodal or degenerate
    histogram) and scores as a split at 0: everything is foreground
    EXCEPT zero-density blocks (no alphanumeric signal at all, q is
    clipped to 0..255), which get 0.0 and can never be content.
    link penalty: linear up to LINK_DENSITY_MAX then saturated.
    """
    t = np.maximum(otsu_t, 0)
    d_score = np.where(q > t, 1.0, 0.5 * q / (t + 1.0))
    link_pen = np.minimum(link_density / LINK_DENSITY_MAX, 1.0)
    score = W_DENSITY * d_score + W_LINK * (1.0 - link_pen)
    return np.clip(score, 0.0, 1.0)


def accept(scores: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """G20/G21/G22: label -> rescue -> gate.  Returns (accepted, prob).

    label        = content iff content_score >= 0.5 (2-class argmax, G20)
    rescue (G21) = noise-labeled block kept in the pipeline iff
                   content_score >= RESCUE_THRESHOLD (else hard-dropped),
                   with prob = content_score — mirroring predict.py:259-269
                   where the second-best class replaces the noise label.
    gate (G22)   = accepted iff prob >= CONFIDENCE_THRESHOLD
                   (predict.py:275; applied after rescue, so rescued
                   blocks — prob < 0.5 — never pass, exactly as in the
                   reference where second-best prob <= 0.5 < 0.70).
    """
    prob = scores.astype(np.float64)
    is_content = prob >= 0.5
    rescued = (~is_content) & (prob >= RESCUE_THRESHOLD)
    in_play = is_content | rescued
    accepted = in_play & (prob >= CONFIDENCE_THRESHOLD)
    return accepted, prob
