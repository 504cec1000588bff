"""G1/G17: payload canonicalization.

Generalizes the reference's channel collapse (predict.py:44) and
canonical fixed-form normalization (predict.py:190-207): the turn
payload is normalized to one
canonical character stream that every later stage (offsets, spans,
extracted_text) indexes into.
"""

from __future__ import annotations

import re
import unicodedata

from ocr_spark.constants import MAX_TURN_CHARS

# Precompiled at import time: the per-executor once-per-worker init the
# reference does for its model singleton (predict.py:7,16-29; G27).
# Collapse only INTERNAL space runs (preceded by non-space): leading
# indentation is layout signal for the line-run clustering (G11/O2) and
# must survive canonicalization.
_RE_SPACES = re.compile(r"(?<=\S) {2,}")
_RE_TRAIL = re.compile(r" +\n")
_RE_TAG = re.compile(r"<[^>]*>")


def canonicalize(text: str) -> tuple[str, bool]:
    """Return (canonical_text, truncated).

    Deterministic, locale-independent:
      1. truncate to MAX_TURN_CHARS (F2, mirrors the 16MB upload cap)
      2. unicode NFC normalization (G1: collapse to one intensity signal)
      3. newline normalization: \r\n and \r -> \n
      4. tabs -> single space
      5. collapse runs of spaces to one; strip trailing spaces per line
    """
    truncated = len(text) > MAX_TURN_CHARS
    if truncated:
        text = text[:MAX_TURN_CHARS]
    text = unicodedata.normalize("NFC", text)
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = text.replace("\t", " ")
    # cheap-first: each pattern needs its two-char seed to match at all
    if "  " in text:
        text = _RE_SPACES.sub(" ", text)
    if " \n" in text:
        text = _RE_TRAIL.sub("\n", text)
    return text, truncated


def strip_tags(s: str) -> str:
    """Visible text of a block: markup removed (used for densities)."""
    return _RE_TAG.sub("", s)
