"""Differential parity: the cross-turn batched pipeline inside
extract_frame must be RESULT-IDENTICAL to the scalar per-turn path
(extract_turn), and the batched threshold twins must be bit-identical to
their scalar counterparts.  This is the guard that lets the hot path be
batched without risking the byte-exactness invariant."""

import re

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from fixtures.gen import gen_transcripts
from ocr_spark.extract.canon import canonicalize
from ocr_spark.extract.extractor import (
    _CHUNK_CHARS,
    _batched_block_features,
    _block_features,
    _char_classes,
    extract_frame,
    extract_turn,
)
from ocr_spark.extract.segment import segment
from ocr_spark.extract.threshold import (
    adaptive_candidates,
    adaptive_candidates_batch,
    moving_average,
    moving_average_batch,
    otsu_split,
    otsu_split_batch,
)
from perfbench.inputs import derive_turns, gen_documents


def _assert_frame_matches_scalar(texts):
    pdf = pd.DataFrame(
        {"conv_id": ["c"] * len(texts), "turn_idx": range(len(texts)), "text": texts}
    )
    got = extract_frame(pdf)
    for i, t in enumerate(texts):
        want = extract_turn(t)
        assert got.extracted_text[i] == want["extracted_text"], (i, repr(t)[:200])
        assert got.spans[i] == want["spans"], (i, repr(t)[:200])
        assert got.status[i] == want["status"], (i, repr(t)[:200])
        assert int(got.n_blocks_in[i]) == want["n_blocks_in"]
        assert int(got.n_blocks_kept[i]) == want["n_blocks_kept"]


def test_parity_on_fixture_corpus():
    pdf = gen_transcripts(n_convs=120)
    _assert_frame_matches_scalar(pdf["text"].tolist())


# One payload per reason a turn leaves the batched block features for the
# per-block path: a tag across a block edge, an anchor across a block
# edge, a tag across an anchor's inner edge.
_ROUTED = [
    "Some words before <span\n\nclass=x>and words after the tag here",
    "<b title='<p>'>bold words split by a block tag</b> and more words",
    "<a href='u'>link words in one block\n\nmore link words</a> tail words",
    "<A HREF='u'>inner text with x < y comparison</A> and some tail words",
]


def test_parity_on_torture_payloads():
    texts = [
        None,
        12345,
        "",
        "   \n\t\n  ",
        "<p></p><div></div>",
        "a" * 50,
        "word " * 500,
        '<nav><a href="/x">' + "nav link " * 30 + "</a></nav>",
        "line one with several words here\n" * 40,
        "    indented line with words\n" * 10 + "\n\n" + "flush line with words\n" * 10,
        "<a href='x'>" + "y" * 30,          # unclosed tag
        "text with \x00 control \x1f bytes and words in it here",
        "☃ unicode ❄ content with enough words to pass the gates ☃ ❄ yes",
        '{"status": "ok", "result": "tool payload with many words inside"}',
        "word " * (_CHUNK_CHARS // 5 + 10),  # over the chunk bound
    ] + _ROUTED
    _assert_frame_matches_scalar(texts)


def _batched_features_match(texts):
    """Batched block features == per-block _block_features, block for
    block, over the canonical turns of `texts`; returns the routed mask."""
    canons = [c for c, _ in map(canonicalize, texts) if c.strip()]
    if not canons:
        return np.zeros(0, dtype=bool)
    blocks_l = [segment(c) for c in canons]
    got, routed = _batched_block_features(canons, blocks_l)
    for name, col in got.items():
        want = np.concatenate(
            [_block_features(c, b)[name] for c, b in zip(canons, blocks_l)]
        )
        assert col.dtype == want.dtype, name
        assert np.array_equal(col, want), name
    return routed


def test_batched_features_on_corpora():
    _batched_features_match(gen_transcripts(n_convs=120)["text"].tolist())
    _batched_features_match(
        derive_turns(gen_documents(60, seed=3), 8)["text"].tolist()
    )


def test_batched_features_route_cut_matches():
    for text in _ROUTED:
        assert _batched_features_match([text]).tolist() == [True], text
    # next to unrouted turns, in one joined run
    mixed = ["plain words here", *_ROUTED, "<p>x y</p> \u00a0 é \ud800 words"]
    routed = _batched_features_match(mixed)
    assert routed.tolist() == [False] + [True] * len(_ROUTED) + [False]


def test_char_classes_match_python():
    """The class tables agree with str.isspace(), the regex `\\s` and
    str.split() (the predicates _block_features counts with) and with
    [0-9A-Za-z] on every code point.  Only 'a' and 'A' match a
    case-insensitive 'a', so the '<a'/'<A' test before the anchor regex
    skips no anchor."""
    ws, alnum = _char_classes(np.arange(0x110000, dtype=np.uint32))
    chars = [chr(c) for c in range(0x110000)]
    assert ws.tolist() == [ch.isspace() for ch in chars]
    assert ws.tolist() == [re.match(r"\s", ch) is not None for ch in chars]
    assert ws.tolist() == [len(f"x{ch}x".split()) == 2 for ch in chars]
    assert np.flatnonzero(alnum).tolist() == [
        c for c, ch in enumerate(chars) if re.match(r"[0-9A-Za-z]", ch)
    ]
    assert [c for c, ch in enumerate(chars) if re.match(r"(?i)a", ch)] == [65, 97]
    ascii_ws, ascii_alnum = _char_classes(np.arange(128, dtype=np.uint8))
    assert ascii_ws.tolist() == ws[:128].tolist()
    assert ascii_alnum.tolist() == alnum[:128].tolist()


_TOKENS = st.sampled_from(
    list("abc <>/ap.\n\t0123456789")
    + ["<p>", "</p>", "\n\n", "<a href='u'>", "</a>", "word ", "    "]
    + ["<A HREF='u'>", "</A>", "<abbr>", "<span\n\nclass=x>"]
    + ["\u00a0", "\u2028", "\x1c", "é"]
)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.lists(_TOKENS, max_size=120).map("".join),
        min_size=1,
        max_size=8,
    )
)
def test_parity_hypothesis(texts):
    _assert_frame_matches_scalar(texts)
    _batched_features_match(texts)


# moving_average delegates to moving_average_batch, so scalar-vs-batch is
# equal by construction; the float SEMANTICS are pinned by exact goldens
# (any change to the accumulation order or alignment flips these bits and
# silently shifts the oracle's extraction output).
_MA_GOLDENS = [
    (([10, 200, 30, 0, 255], 3),
     [69.99999999999999, 79.99999999999999, 76.66666666666666, 95.0, 85.0]),
    (([5], 3), [5.0]),
    (([7, 7], 2), [3.5, 7.0]),
    (([0, 0, 45, 0, 0, 45, 0], 3),
     [0.0, 15.0, 15.0, 15.0, 15.0, 15.0, 15.0]),
    ((list(range(0, 250, 10)), 21),
     [26.19047619047619, 31.428571428571427, 37.14285714285714,
      43.33333333333333, 49.99999999999999, 57.14285714285714,
      64.76190476190476, 72.85714285714286, 81.42857142857143,
      90.47619047619048, 100.0, 110.0, 120.0, 130.0, 140.0,
      138.0952380952381, 135.71428571428572, 132.85714285714286,
      129.52380952380952, 125.71428571428572, 121.42857142857142,
      116.66666666666666, 111.42857142857142, 105.71428571428572,
      99.52380952380952]),
]


def test_moving_average_golden_bits():
    for (x, w), want in _MA_GOLDENS:
        got = moving_average(np.array(x, dtype=np.int64), w)
        assert got.tolist() == want, (x, w)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=1, max_size=80), st.sampled_from([1, 2, 3, 5, 21]))
def test_moving_average_multirow_batch_matches_scalar(q, w):
    """A row embedded in a wider zero-padded multi-row batch must produce
    the same bits as the 1-row (scalar-path) call — no cross-row leakage
    and no padded-tail contamination."""
    x = np.array(q, dtype=np.float64)
    n = len(x)
    w_eff = min(w, n)
    other = np.full(n + 13, 77.0)
    width = n + 13
    mat = np.zeros((3, width))
    mat[0, :] = other[:width]
    mat[1, :n] = x
    mat[2, :] = other[:width]
    lengths = np.array([width, n, width])
    got = moving_average_batch(mat, w_eff, lengths)[1][:n]
    ref = moving_average_batch(x[None, :], w_eff, np.array([n]))[0]
    assert np.array_equal(ref, got)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 255), min_size=0, max_size=60),
        min_size=1,
        max_size=10,
    )
)
def test_threshold_batch_bitexact(turns):
    lens = np.array([len(t) for t in turns], dtype=np.int64)
    q_flat = np.array([v for t in turns for v in t], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
    tids = np.repeat(np.arange(len(turns)), lens)
    got_a = adaptive_candidates_batch(q_flat, starts, lens)
    got_o = otsu_split_batch(q_flat, tids, starts, lens, len(turns))
    for i, t in enumerate(turns):
        q = np.array(t, dtype=np.int64)
        s = starts[i]
        assert np.array_equal(adaptive_candidates(q), got_a[s : s + lens[i]])
        assert otsu_split(q) == got_o[i]


def test_no_batch_fallbacks_on_clean_corpus():
    """The batched kernel must handle the whole fixture corpus without
    ever degrading to the scalar loop (BATCH_FALLBACKS == 0), and the
    warn-once fallback hook must never propagate even when warnings are
    escalated to errors (G26)."""
    import warnings

    import ocr_spark.extract.extractor as ex
    from fixtures.gen import gen_transcripts

    before = ex.BATCH_FALLBACKS
    ex.extract_frame(gen_transcripts(n_convs=40, seed=5))
    assert ex.BATCH_FALLBACKS == before, "batched path silently degraded"

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # escalate ALL warnings
        ex.note_batch_fallback(ValueError("synthetic"))  # must not raise
    ex.BATCH_FALLBACKS = before  # restore for other tests
