"""G1/G17 canonicalization unit tests."""

from ocr_spark.constants import MAX_TURN_CHARS
from ocr_spark.extract.canon import canonicalize, strip_tags


def test_newlines_and_tabs():
    c, tr = canonicalize("a\r\nb\rc\td")
    assert c == "a\nb\nc d"
    assert tr is False


def test_internal_space_collapse_only():
    c, _ = canonicalize("word1    word2")
    assert c == "word1 word2"


def test_leading_indent_preserved():
    # leading indentation is layout signal (G11) and must survive
    c, _ = canonicalize("    indented line\nplain")
    assert c == "    indented line\nplain"


def test_trailing_spaces_stripped():
    c, _ = canonicalize("line   \nnext")
    assert c == "line\nnext"


def test_nfc_normalization():
    # e + combining acute -> precomposed e-acute
    c, _ = canonicalize("é")
    assert c == "é"


def test_idempotent():
    raw = "  a\r\n\tb   c  \nd́  "
    once, _ = canonicalize(raw)
    twice, _ = canonicalize(once)
    assert once == twice


def test_truncation_flag():
    c, tr = canonicalize("x" * (MAX_TURN_CHARS + 5))
    assert len(c) == MAX_TURN_CHARS
    assert tr is True
    c, tr = canonicalize("x" * MAX_TURN_CHARS)
    assert len(c) == MAX_TURN_CHARS and tr is False


def test_strip_tags():
    assert strip_tags("<p>hi <b>there</b></p>") == "hi there"
