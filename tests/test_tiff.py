"""TIFF codec (ocr_spark/functions/tiff.py): tag-directory walk,
PackBits, TIFF LZW (MSB-first, EARLY CHANGE — not GIF's variant),
horizontal-differencing predictor, multi-strip assembly, and the
poison-envelope contract."""

import numpy as np
import pytest

from ocr_spark.functions.multimodal import decode_media_real, tiff_fixture
from ocr_spark.functions.tiff import (
    decode_tiff,
    encode_tiff,
    packbits_decode,
    packbits_encode,
    tiff_lzw_decode,
    tiff_lzw_encode,
)


@pytest.mark.parametrize("comp,pred", [(1, 1), (32773, 1), (5, 1), (5, 2)])
def test_roundtrip_random(comp, pred):
    rng = np.random.default_rng(13)
    for _ in range(25):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        arr = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        rt = decode_tiff(encode_tiff(arr, compression=comp, predictor=pred,
                                     rows_per_strip=int(rng.integers(1, 12))))
        assert np.array_equal(rt, arr)


def test_lzw_early_change_width_ladder():
    """Streams long enough to cross the 9->10->11->12-bit widths and the
    4094-entry clear; and the END-boundary regression class (growth must
    key on codes written/read, with the early-change -1 threshold)."""
    rng = np.random.default_rng(7)
    big = (b"abcabd" * 4000) + bytes(
        rng.integers(0, 256, 5000).astype(np.uint8))
    assert tiff_lzw_decode(tiff_lzw_encode(big), len(big)) == big
    for n in range(240, 300):  # around the first (early) width bump
        data = rng.integers(0, 256, size=n).astype(np.uint8).tobytes()
        assert tiff_lzw_decode(tiff_lzw_encode(data), n) == data


def test_packbits_exact():
    rng = np.random.default_rng(3)
    for n in (0, 1, 2, 3, 127, 128, 129, 300, 4096):
        data = rng.integers(0, 4, size=n).astype(np.uint8).tobytes()
        assert packbits_decode(packbits_encode(data), n) == data
    run = b"\x07" * 1000 + b"xy" + b"\x00" * 300
    assert packbits_decode(packbits_encode(run), len(run)) == run


def test_predictor_differs_on_wire_but_not_decoded():
    arr = (np.arange(16 * 16 * 3).reshape(16, 16, 3) % 256).astype(np.uint8)
    plain = encode_tiff(arr, compression=5, predictor=1)
    pred = encode_tiff(arr, compression=5, predictor=2)
    assert plain != pred
    assert np.array_equal(decode_tiff(plain), decode_tiff(pred))


def test_synthesized_fixture_matches_closed_form():
    for d in range(18):
        w, h, base = 8 + d % 16, 4 + d % 8, d % 200
        arr = decode_media_real(tiff_fixture(d), "image")
        assert arr.shape == (h, w, 3)
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        want = ((base + x + 7 * y + 50 * c) % 256).astype(np.uint8)
        assert np.array_equal(arr, want)


def test_mutation_fuzz_raises_only_value_errors():
    """P26 envelope contract for TIFF: truncations and byte stomps
    anywhere either decode to SOME image or raise ValueError."""
    rng = np.random.default_rng(5)
    arr = rng.integers(0, 256, size=(9, 13, 3)).astype(np.uint8)
    for comp in (1, 32773, 5):
        clean = encode_tiff(arr, compression=comp, rows_per_strip=3)
        for cut in range(1, len(clean), 7):
            try:
                decode_tiff(clean[:cut])
            except ValueError:
                pass
        for pos in range(0, len(clean), 3):
            b = bytearray(clean)
            b[pos] ^= 0xFF
            try:
                decode_tiff(bytes(b))
            except ValueError:
                pass


def test_bad_inputs_rejected():
    with pytest.raises(ValueError, match="signature"):
        decode_tiff(b"MM\x00*" + b"\x00" * 20)   # big-endian unsupported
    with pytest.raises(ValueError):
        decode_tiff(b"II*\x00\xff\xff\xff\xff")  # IFD outside file


def test_lzw_encode_linear_in_strip_length():
    """A 2^18-byte incompressible strip round-trips in seconds.  The
    encoder's bit accumulator must keep only the bits not yet written;
    one that kept every code made the encode quadratic (about 40 s at
    this size on a 4-CPU VM, where GIF's LZW took 0.4 s)."""
    import time

    rng = np.random.default_rng(17)
    data = rng.integers(0, 256, size=1 << 18).astype(np.uint8).tobytes()
    t0 = time.perf_counter()
    assert tiff_lzw_decode(tiff_lzw_encode(data), len(data)) == data
    assert time.perf_counter() - t0 < 15.0
