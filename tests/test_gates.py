"""G7-G10 gate comparators at their boundaries.

Each case puts one block feature at or just past its threshold, with
every other feature well inside the keep region, and checks the one
gate helper both extraction drivers call (`extractor._gates`).  The
thresholds are written as literals so a changed constant or a flipped
comparator (>= vs >) fails here.
"""

import numpy as np
import pytest

from ocr_spark.extract.extractor import _gates

SAFE = {"vis_chars": 100, "words": 20, "pos_frac": 0.0, "link_density": 0.0}
ABOVE_09 = float(np.nextafter(0.9, 1.0))
ABOVE_05 = float(np.nextafter(0.5, 1.0))


@pytest.mark.parametrize(
    "overrides, kept",
    [
        # G7: visible chars < 10 drops
        ({"vis_chars": 9}, False),
        ({"vis_chars": 10}, True),
        # G10: words < 3 drops
        ({"words": 2}, False),
        ({"words": 3}, True),
        # G8: a block starting past 0.9 of the payload with < 12 words drops
        ({"pos_frac": 0.9, "words": 11}, True),
        ({"pos_frac": ABOVE_09, "words": 11}, False),
        ({"pos_frac": ABOVE_09, "words": 12}, True),
        # G9: link density > 0.5 drops
        ({"link_density": 0.5}, True),
        ({"link_density": ABOVE_05}, False),
    ],
)
def test_gate_boundary(overrides, kept):
    feats = {k: np.array([v]) for k, v in {**SAFE, **overrides}.items()}
    assert _gates(np.array([True]), feats).tolist() == [kept]


def test_gates_keep_only_candidates():
    feats = {k: np.array([v, v]) for k, v in SAFE.items()}
    assert _gates(np.array([True, False]), feats).tolist() == [True, False]
