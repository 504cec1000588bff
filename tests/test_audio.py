"""G.711 and IMA-ADPCM codec tests — pure kernels, no Spark session.

Pins: (1) canonical-table fidelity via 256-code re-encode stability,
(2) full-sweep companding error bounds, (3) lossless decode on the
exactly-representable fixture families the SQL oracles rely on,
(4) per-block independence (the intra-payload parallel-decode claim),
(5) tracking quality on general signals, (6) the honest seam + poison
contract (unsupported codecs raise NotImplementedError, junk raises
ValueError — never anything a task would die on).
"""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.functions.audio import (
    alaw_decode_table,
    alaw_encode,
    ima_adpcm_decode_block,
    ima_adpcm_encode_block,
    ulaw_decode_table,
    ulaw_encode,
)
from ocr_spark.functions.multimodal import (
    _decode_wav,
    adpcm_fixture,
    encode_wav_adpcm,
    encode_wav_g711,
    g711_fixture,
)

EXACT_DELTAS = np.array([-4, -3, -1, 0, 1, 3, 4], dtype=np.int64)


def test_g711_reencode_stability():
    """encode(decode(code)) == code for every codeword: all 256 A-law
    codes, and all mu-law codes except 0x7F (negative zero, which
    collapses onto positive zero 0xFF — the one non-injective pair in
    the ITU table)."""
    codes = np.arange(256, dtype=np.uint8)
    at = alaw_decode_table()
    assert np.array_equal(alaw_encode(at.astype(np.int16)), codes)
    ut = ulaw_decode_table()
    re_u = ulaw_encode(ut.astype(np.int16))
    mismatch = np.nonzero(re_u != codes)[0]
    assert list(mismatch) == [0x7F] and ut[0x7F] == 0


def test_g711_full_sweep_error_bound():
    """decode(encode(x)) over ALL 65536 int16 values stays within the
    canonical top-segment quantization bounds (measured once from the
    reference formulation and pinned)."""
    x = np.arange(-32768, 32768, dtype=np.int16)
    ut, at = ulaw_decode_table(), alaw_decode_table()
    err_u = np.abs(ut[ulaw_encode(x)].astype(np.int32) - x.astype(np.int32))
    err_a = np.abs(at[alaw_encode(x)].astype(np.int32) - x.astype(np.int32))
    assert err_u.max() <= 644
    assert err_a.max() <= 512


def test_adpcm_exact_family_mono_and_stereo():
    rng = np.random.default_rng(11)
    for ch in (1, 2):
        d = rng.choice(EXACT_DELTAS, size=(97, ch))
        d[0] = 0
        s = (100 + d.cumsum(axis=0)).astype(np.int16)
        dec = ima_adpcm_decode_block(ima_adpcm_encode_block(s), ch)
        assert np.array_equal(dec, s)


def test_adpcm_blocks_decode_independently():
    """A multi-block stream decoded block-by-block equals the full
    container decode — each block's header predictor/index makes it a
    self-contained parallel unit (like JPEG restart segments)."""
    rng = np.random.default_rng(12)
    d = rng.choice(EXACT_DELTAS, size=(195, 2))
    d[0] = 0
    s = (-40 + d.cumsum(axis=0)).astype(np.int16)
    payload = encode_wav_adpcm(s, 11025, 65)
    full, rate = _decode_wav(payload)
    assert rate == 11025 and np.array_equal(full, s)
    parts = [
        ima_adpcm_decode_block(ima_adpcm_encode_block(s[p : p + 65]), 2)
        for p in range(0, 195, 65)
    ]
    assert np.array_equal(np.concatenate(parts, axis=0), full)


def test_adpcm_tracks_general_signal():
    """On an arbitrary smooth signal the adaptive predictor is lossy
    but must track: after the classic attack transient (the step table
    walking up from index 0) the steady-state RMS error stays under
    1.5% of RMS amplitude, and even transient-inclusive under 4%."""
    t = np.arange(1 + 8 * 200)
    s = (8000 * np.sin(t / 9.0)).astype(np.int16).reshape(-1, 1)
    dec = ima_adpcm_decode_block(ima_adpcm_encode_block(s), 1)
    err = (dec.astype(np.float64) - s.astype(np.float64)).ravel()
    rms_sig = float(np.sqrt((s.astype(np.float64) ** 2).mean()))
    assert float(np.sqrt((err**2).mean())) < 0.04 * rms_sig
    assert float(np.sqrt((err[50:] ** 2).mean())) < 0.015 * rms_sig


def test_g711_container_roundtrip_exact_on_codewords():
    ut, at = ulaw_decode_table(), alaw_decode_table()
    for law, table in (("ulaw", ut), ("alaw", at)):
        s = table[np.arange(0, 256, 2)].reshape(-1, 2).astype(np.int16)
        if law == "ulaw":                # drop the negative-zero ambiguity
            s = s[np.all(s != 0, axis=1)]
        dec, rate = _decode_wav(encode_wav_g711(s, 8000, law))
        assert rate == 8000 and np.array_equal(dec, s)


def test_wav_codec_routing_and_honest_seam():
    """PCM16 still routes; float (fmt 3) and MP3-in-WAV (fmt 0x55)
    raise NotImplementedError (the honest seam); structurally broken
    ADPCM raises ValueError."""
    from ocr_spark.functions.multimodal import _riff_wave, encode_wav

    s = np.arange(-8, 8, dtype=np.int16).reshape(-1, 2)
    dec, _ = _decode_wav(encode_wav(s, 8000))
    assert np.array_equal(dec, s)
    for fmt_code, bits in ((3, 32), (0x55, 0)):
        bad = _riff_wave(fmt_code, 1, 8000, 4, bits, b"", b"\x00" * 64)
        with pytest.raises(NotImplementedError):
            _decode_wav(bad)
    # step index byte > 88 in the block header
    blk = bytearray(ima_adpcm_encode_block(np.zeros((9, 1), dtype=np.int16)))
    blk[2] = 99
    with pytest.raises(ValueError):
        ima_adpcm_decode_block(bytes(blk), 1)
    # block_align smaller than the per-channel header
    bad = _riff_wave(0x11, 2, 8000, 8, 4, b"", b"\x00" * 32)
    with pytest.raises(ValueError):
        _decode_wav(bad)


def test_audio_poison_fuzz_exception_envelope():
    """Mutation fuzz over both compressed fixtures: every mutated
    payload either decodes or raises exactly (ValueError,
    NotImplementedError) — the P26 poison contract extended to the
    audio tier."""
    payloads = [g711_fixture(3), g711_fixture(4),
                adpcm_fixture(3), adpcm_fixture(4)]
    rng = np.random.default_rng(13)
    trials = 0
    for payload in payloads:
        raw = np.frombuffer(payload, dtype=np.uint8).copy()
        for _ in range(150):
            mut = raw.copy()
            kind = rng.integers(0, 3)
            if kind == 0:               # flip random bytes
                idx = rng.integers(0, len(mut), size=rng.integers(1, 8))
                mut[idx] = rng.integers(0, 256, size=len(idx))
            elif kind == 1:             # truncate
                mut = mut[: rng.integers(0, len(mut))]
            else:                       # corrupt a declared chunk length
                idx = rng.integers(4, min(len(mut), 48))
                mut[idx] ^= 0xFF
            try:
                _decode_wav(mut.tobytes())
            except (ValueError, NotImplementedError):
                pass
            trials += 1
    assert trials == 600


def test_g711_fixture_matches_closed_form():
    """The synthesized fixture really is codeword-exact: decoding the
    payload reproduces the closed-form sample values the SQL oracle
    computes."""
    for d in (6, 7):                    # one alaw doc, one ulaw doc
        dec, rate = _decode_wav(g711_fixture(d))
        n = 300 + d % 50
        t = np.arange(n, dtype=np.int64)
        m = (13 * d + 7 * t) % 16
        e = (5 * d + 3 * t) % 8
        sgn = np.where((d + t) % 2 == 0, 1, -1)
        if d % 2 == 0:
            val = ((m * 8 + 132) << e) - 132
        else:
            val = np.where(e == 0, m * 16 + 8,
                           (m * 16 + 264) << np.maximum(e - 1, 0))
        assert rate == 8000 and np.array_equal(dec.ravel(), sgn * val)
