"""G6/G11: structural segmentation + PDF-like layout line-run clustering.

Generalizes connected-component extraction (findContours RETR_EXTERNAL,
/root/reference/handwriting/predict.py:64): the payload is split into
candidate blocks on structural delimiters (block-level HTML tags / blank
lines); multi-line blocks are re-clustered into layout runs mirroring the
reference's line clustering with tolerance 0.15*H (predict.py:93-116).

All offsets index into the canonical text (extract/canon.py).
"""

from __future__ import annotations

import re
from typing import NamedTuple

from ocr_spark.constants import INDENT_TOL, LAYOUT_MIN_LINES


class Block(NamedTuple):
    start: int      # stripped start offset into canon
    end: int        # stripped end offset (exclusive)
    raw_start: int  # pre-strip segment bound (padding clamp, G13)
    raw_end: int


# Block-level delimiters: blank-line runs OR block-level HTML tags.
# (G6: the text analogue of the binarized-image connected components.)
_BLOCK_TAGS = (
    "p|div|li|ul|ol|h[1-6]|br|hr|nav|footer|header|table|thead|tbody|tr|td|th|"
    "section|article|aside|main|body|html|head|blockquote|pre|form|figure"
)
_RE_DELIM = re.compile(
    r"(?:\n[ \n]*\n)|(?:</?(?:%s)\b[^>]*>)" % _BLOCK_TAGS, re.IGNORECASE
)


def strip_bounds(canon: str, lo: int, hi: int) -> tuple[int, int]:
    """Shrink [lo, hi) to non-whitespace boundaries (segment strip, G13
    pad re-snap and the G14 whole-turn block all snap this one way)."""
    while lo < hi and canon[lo].isspace():
        lo += 1
    while hi > lo and canon[hi - 1].isspace():
        hi -= 1
    return lo, hi


def _layout_runs(canon: str, lo: int, hi: int) -> list[tuple[int, int]]:
    """Split a multi-line segment [lo,hi) into layout runs.

    Mirrors the reference's sequential line clustering (predict.py:95-112):
    consecutive non-blank lines whose indent differs from the run head by
    <= INDENT_TOL form one run; a blank line or an indent jump starts a new
    run.  Returns raw (start, end) bounds per run in offset order (O2/O3:
    order is monotone by construction — asserted, not sorted).
    """
    runs: list[tuple[int, int]] = []
    run_start = -1
    run_end = -1
    head_indent = -1
    pos = lo
    for line in canon[lo:hi].split("\n"):
        line_start, line_end = pos, pos + len(line)
        pos = line_end + 1  # skip the \n
        stripped = line.strip()
        if not stripped:
            if run_start >= 0:
                runs.append((run_start, run_end))
                run_start = -1
            continue
        indent = len(line) - len(line.lstrip(" "))
        if run_start < 0:
            run_start, run_end, head_indent = line_start, line_end, indent
        elif abs(indent - head_indent) <= INDENT_TOL:
            run_end = line_end
        else:
            runs.append((run_start, run_end))
            run_start, run_end, head_indent = line_start, line_end, indent
    if run_start >= 0:
        runs.append((run_start, run_end))
    return runs


def segment(canon: str) -> list[Block]:
    """Split canonical text into candidate content blocks (G6 + G11).

    Segments are the gaps between structural delimiters; each segment with
    >= LAYOUT_MIN_LINES lines is re-split into layout runs.  Empty
    (whitespace-only) segments are dropped.  Output is offset-ordered.
    """
    # 1. raw segments between delimiters
    raw: list[tuple[int, int]] = []
    prev = 0
    for m in _RE_DELIM.finditer(canon):
        if m.start() > prev:
            raw.append((prev, m.start()))
        prev = m.end()
    if prev < len(canon):
        raw.append((prev, len(canon)))

    # 2. layout re-segmentation + strip
    blocks: list[Block] = []
    for lo, hi in raw:
        slo, shi = strip_bounds(canon, lo, hi)
        if slo >= shi:
            continue
        n_lines = canon.count("\n", slo, shi) + 1
        if n_lines >= LAYOUT_MIN_LINES:
            # cluster on RAW bounds: the first line's leading indent is
            # layout signal and stripping would erase it
            for rlo, rhi in _layout_runs(canon, lo, hi):
                blo, bhi = strip_bounds(canon, rlo, rhi)
                if blo < bhi:
                    blocks.append(Block(blo, bhi, rlo, rhi))
        else:
            blocks.append(Block(slo, shi, lo, hi))

    # O3: offsets are monotone by construction; guard the invariant.
    for i in range(1, len(blocks)):
        assert blocks[i].start >= blocks[i - 1].end, "segmentation order"
    return blocks
