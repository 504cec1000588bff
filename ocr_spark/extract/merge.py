"""G12/G13: span padding and connected-span grouping.

Generalizes the reference's crop padding (max(15%*min(w,h), 2),
predict.py:142-152) and the overlapping-region merge loop
(predict.py:119-138): accepted spans are padded within their raw segment
bounds, then merged when only whitespace separates them (interval union in
sorted order — the text analogue of horizontal+vertical overlap).
"""

from __future__ import annotations

from ocr_spark.constants import PAD_FRAC, PAD_MIN
from ocr_spark.extract.segment import strip_bounds


def pad_span(
    canon: str, start: int, end: int, raw_start: int, raw_end: int
) -> tuple[int, int]:
    """G13: expand [start,end) by max(PAD_FRAC*len, PAD_MIN) per side.

    Clamped to the raw (pre-strip) segment bounds so padding never crosses
    a structural delimiter (tags stay out of spans), then re-snapped to
    non-whitespace boundaries (the bbox-crop analogue, predict.py:190-203).
    """
    pad = max(int(PAD_FRAC * (end - start)), PAD_MIN)
    lo = max(start - pad, raw_start, 0)
    hi = min(end + pad, raw_end, len(canon))
    return strip_bounds(canon, lo, hi)


def merge_spans(
    canon: str, spans: list[tuple[int, int, float]]
) -> list[tuple[int, int, float]]:
    """G12: merge sorted (start, end, score) spans into maximal runs.

    Two spans merge iff they overlap/touch OR only whitespace separates
    them in the canonical text; merged bounds are (min start, max end)
    (the bbox min/max merge, predict.py:131-135) and the merged score is
    the max of the constituents.  Input must be sorted by start (it is,
    by construction — O3).
    """
    if not spans:
        return []
    out: list[list] = [list(spans[0])]
    for s, e, p in spans[1:]:
        cs, ce, cp = out[-1]
        gap_is_ws = s <= ce or canon[ce:s].strip() == ""
        if gap_is_ws:
            out[-1] = [cs, max(ce, e), max(cp, p)]
        else:
            out.append([s, e, p])
    return [(s, e, p) for s, e, p in out]
