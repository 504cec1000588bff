"""End-to-end per-turn pipeline tests — each case mirrors a reference test
(/root/reference/tests/test_handwriting.py, see FIXTURES.md §3 mapping)."""

import numpy as np
import pandas as pd

from ocr_spark.extract import extract_frame, extract_turn

NAV = '<nav><a href="/h">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>'
CONTENT = "<p>This paragraph is the genuine main content of the page with plenty of words.</p>"
CONTENT2 = "<p>A second real paragraph follows with even more meaningful words in it.</p>"
FOOTER = '<footer>Copyright <a href="/t">Terms</a> <a href="/p">Privacy</a></footer>'


def test_single_content_block():
    # mirrors the single-digit test (test_handwriting.py:10-36)
    r = extract_turn(NAV + CONTENT + FOOTER)
    assert r["status"] == "ok"
    assert len(r["spans"]) == 1
    assert r["spans"][0]["position"] == 1
    assert "genuine main content" in r["extracted_text"]
    assert "Home" not in r["extracted_text"]
    assert "Copyright" not in r["extracted_text"]


def test_all_boilerplate_empty():
    # mirrors the low-confidence -> empty+message test (:38-57)
    r = extract_turn(NAV + FOOTER)
    assert r["status"] == "empty"
    assert r["extracted_text"] == ""
    assert r["spans"] == []


def test_malformed_payload_error_row():
    # mirrors the model-load-failure -> error envelope test (:59-68)
    for bad in [None, 123, b"bytes", 4.5]:
        r = extract_turn(bad)
        assert r["status"] == "error"
        assert r["extracted_text"] == ""
        assert r["spans"] == []


def test_two_blocks_order_and_concat():
    # mirrors the two-region ordering test (summary=='37', :70-101)
    r = extract_turn(CONTENT + NAV + CONTENT2)
    assert r["status"] == "ok"
    assert len(r["spans"]) == 2
    assert [s["position"] for s in r["spans"]] == [1, 2]
    assert r["spans"][0]["start"] < r["spans"][1]["start"]
    first, second = r["extracted_text"].split("\n")
    assert "genuine main content" in first
    assert "second real paragraph" in second


def test_envelope_fields():
    # mirrors the response-format test (:103-126)
    r = extract_turn(CONTENT)
    assert set(r) == {
        "extracted_text",
        "spans",
        "n_blocks_in",
        "n_blocks_kept",
        "status",
    }
    for s in r["spans"]:
        assert set(s) == {"start", "end", "score", "position"}
        assert isinstance(s["position"], int) and s["position"] >= 1
        assert 0.0 <= s["score"] <= 1.0


def test_degenerate_payloads():
    assert extract_turn("")["status"] == "empty"
    assert extract_turn("   \n \t ")["status"] == "empty"
    # single giant unbroken block -> whole-turn fallback (G14)
    giant = "word " * 500
    r = extract_turn(giant)
    assert r["status"] == "ok"
    assert r["n_blocks_in"] >= 1
    assert r["extracted_text"].startswith("word")


def test_footer_zone_rejected():
    # short trailing block in the last 10% of the payload is dropped (G8)
    body = ("<p>" + "meaningful content words here again and again. " * 20 + "</p>")
    r = extract_turn(body + "<p>tiny footer note</p>")
    assert "tiny footer note" not in r["extracted_text"]


def test_gap_close_rescues_sandwiched_block():
    # a single low-density block between two high-density content blocks
    # becomes a candidate again (G5); it must still pass the later gates
    mid = "<p>short mid block with some words</p>"
    r = extract_turn(CONTENT + mid + CONTENT2)
    assert r["status"] == "ok"


def test_spans_slice_invariant():
    # extracted_text is exactly the '\n'-join of span slices over the
    # canonical text (G24)
    from ocr_spark.extract.canon import canonicalize

    text = CONTENT + NAV + CONTENT2
    r = extract_turn(text)
    canon, _ = canonicalize(text)
    joined = "\n".join(canon[s["start"] : s["end"]] for s in r["spans"])
    assert joined == r["extracted_text"]


def test_extract_frame_batch():
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": np.array([0, 1, 0], dtype="int32"),
            "text": [NAV + CONTENT + FOOTER, "", None],
        }
    )
    out = extract_frame(pdf)
    assert list(out["status"]) == ["ok", "empty", "error"]
    assert out["turn_idx"].dtype == np.dtype("int32")
    assert list(out.columns) == [
        "conv_id",
        "turn_idx",
        "extracted_text",
        "spans",
        "n_blocks_in",
        "n_blocks_kept",
        "status",
    ]


def test_determinism():
    text = CONTENT + NAV + CONTENT2
    assert extract_turn(text) == extract_turn(text)


def test_zero_density_payload_not_content():
    # garbage with no alphanumeric signal must not survive the
    # whole-turn fallback (found by probing: control bytes / bare '<'s)
    for t in ["\x00\x01\x02", "<" * 500, "!!! ??? ... ---"]:
        r = extract_turn(t)
        assert r["status"] == "empty", (t[:20], r)


def _one_span(text, end, score, n_in=1):
    return {
        "extracted_text": text,
        "spans": [{"start": 0, "end": end, "score": score, "position": 1}],
        "n_blocks_in": n_in,
        "n_blocks_kept": 1,
        "status": "ok",
    }


def _no_span(n_in):
    return {
        "extracted_text": "",
        "spans": [],
        "n_blocks_in": n_in,
        "n_blocks_kept": 0,
        "status": "empty",
    }


# Payloads whose gates drop every block, so they take the G14 whole-turn
# fallback, with their envelopes written out literally (extract_turn
# and extract_frame share the fallback, so comparing the two cannot see
# a change in it).  They cover no block at all, accepted and rejected whole turns, a
# link-penalized score and a turn of two blocks.
_G14 = [
    ("<p></p><div></div>", _no_span(0)),
    ("a" * 50, _one_span("a" * 50, 50, 1.0)),
    ('<nav><a href="/x">' + "nav link " * 30 + "</a></nav>", _no_span(1)),
    ("<a href='x'>" + "y" * 30, _one_span("<a href='x'>" + "y" * 30, 42, 1.0)),
    ("x" * 5000, _one_span("x" * 5000, 5000, 1.0)),
    ("\x01\x02 < < <", _no_span(1)),
    (
        "word <a href='u'>link</a>alongword",
        _one_span("word <a href='u'>link</a>alongword", 34, 0.8117647171020508),
    ),
    ("<p>ab</p><p>cd</p>", _one_span("<p>ab</p><p>cd</p>", 18, 1.0, n_in=2)),
]


def test_whole_turn_fallback_literal():
    for text, want in _G14:
        assert extract_turn(text) == want, text[:40]
    # the same payloads inside one batch, between ordinary turns
    texts = [NAV + CONTENT + FOOTER, None]
    for text, _ in _G14:
        texts += [text, CONTENT]
    out = extract_frame(
        pd.DataFrame({"conv_id": "c", "turn_idx": range(len(texts)), "text": texts})
    )
    assert list(out["status"][:2]) == ["ok", "error"]
    for k, (text, want) in enumerate(_G14):
        row = out.iloc[2 + 2 * k]
        got = {name: row[name] for name in want}
        got["n_blocks_in"] = int(got["n_blocks_in"])
        got["n_blocks_kept"] = int(got["n_blocks_kept"])
        assert got == want, text[:40]
        assert out.iloc[3 + 2 * k]["status"] == "ok"
