"""GIF89a codec (ocr_spark/functions/gif.py): LZW round-trips, interlace
reordering, clear-code dictionary resets, and the poison-envelope
contract (malformed streams raise ValueError, never a wrong decode or a
foreign exception class)."""

import numpy as np
import pytest

from ocr_spark.functions.gif import (
    decode_gif,
    encode_gif,
    lzw_decode,
    lzw_encode,
)
from ocr_spark.functions.multimodal import decode_media_real, gif_fixture

_PAL64 = np.arange(64, dtype=np.uint8)[:, None].repeat(3, 1) * 4
_PAL256 = np.arange(256, dtype=np.uint8)[:, None].repeat(3, 1)


def _rand(rng, h, w, n_colors):
    return rng.integers(0, n_colors, size=(h, w)).astype(np.uint8)


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("cap", [4096, 128, 70])
def test_roundtrip_random(interlace, cap):
    rng = np.random.default_rng(11)
    for _ in range(40):
        idx = _rand(rng, int(rng.integers(1, 40)), int(rng.integers(1, 40)), 64)
        got = decode_gif(encode_gif(idx, _PAL64, interlace=interlace,
                                    dict_cap=cap))
        assert np.array_equal(got, _PAL64[idx])


def test_roundtrip_256_colors_and_repetitive_content():
    """256-entry palette drives the 9->12 bit width ladder; repetitive
    content builds deep dictionary chains (the KwKwK special case)."""
    rng = np.random.default_rng(5)
    idx = _rand(rng, 60, 60, 256)
    assert np.array_equal(decode_gif(encode_gif(idx, _PAL256)), _PAL256[idx])
    rep = (np.arange(64 * 64).reshape(64, 64) // 3 % 4).astype(np.uint8)
    pal4 = np.arange(4, dtype=np.uint8)[:, None].repeat(3, 1) * 80
    for inter in (False, True):
        assert np.array_equal(
            decode_gif(encode_gif(rep, pal4, interlace=inter)), pal4[rep]
        )


def test_interlace_actually_reorders_rows():
    """The interlaced byte stream must differ from the sequential one for
    row-distinct content, and both must decode to the same image."""
    idx = (np.arange(8)[:, None] + np.zeros(8, dtype=np.int64)[None, :])
    idx = (idx % 64).astype(np.uint8)
    seq = encode_gif(idx, _PAL64, interlace=False)
    inter = encode_gif(idx, _PAL64, interlace=True)
    assert seq != inter
    assert np.array_equal(decode_gif(seq), decode_gif(inter))


def test_lzw_width_ladder_end_boundary():
    """Regression: streams whose LAST data code lands exactly on a
    width-growth boundary (the decoder inserts an entry for the final
    code; the encoder never does) — growth must key on codes
    written/read, not on insertions."""
    rng = np.random.default_rng(7)
    for n in range(180, 260):
        idx = rng.integers(0, 64, size=n).astype(np.uint8)
        assert np.array_equal(lzw_decode(lzw_encode(idx, 6), 6, n), idx)


def test_synthesized_fixture_matches_closed_form():
    for d in range(24):
        w, h, base = 8 + d % 16, 4 + d % 8, d % 64
        arr = decode_media_real(gif_fixture(d), "image")
        assert arr.shape == (h, w, 3)
        want = 4 * ((base + np.arange(w)[None, :] + 7 * np.arange(h)[:, None])
                    % 64)
        assert np.array_equal(arr[:, :, 0], want.astype(np.uint8))


def test_mutation_fuzz_raises_only_value_errors():
    """P26 envelope contract for GIF: truncations, bit flips, and byte
    stomps anywhere in the stream either decode to SOME image or raise
    ValueError — never a foreign exception class."""
    rng = np.random.default_rng(3)
    idx = _rand(rng, 9, 13, 64)
    clean = encode_gif(idx, _PAL64, interlace=True, dict_cap=128)
    trials = 0
    for cut in range(1, len(clean), 3):          # truncations
        trials += 1
        try:
            decode_gif(clean[:cut])
        except ValueError:
            pass
    for pos in range(0, len(clean), 2):          # byte stomps
        for val in (0x00, 0xFF, 0x2C, 0x21):
            trials += 1
            b = bytearray(clean)
            b[pos] = val
            try:
                decode_gif(bytes(b))
            except ValueError:
                pass
    assert trials > 200


def test_bad_inputs_rejected():
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    with pytest.raises(ValueError, match="palette"):
        encode_gif(np.zeros((2, 2), dtype=np.uint8),
                   np.zeros((3, 3), dtype=np.uint8))
    # index beyond the color table must be rejected, not wrapped
    pal4 = np.arange(4, dtype=np.uint8)[:, None].repeat(3, 1)
    good = encode_gif(np.zeros((2, 2), dtype=np.uint8), pal4)
    bad = bytearray(good)
    # grow the claimed min-code-size so decoded indices can exceed 4
    with pytest.raises(ValueError):
        decode_gif(bytes(bad[:-2]) + b"\x3b")
