"""MPEG-1 Layer III bitstream-layer tests (ocr_spark/functions/mp3.py).

Pins: closed-form fixture geometry, bit-reservoir reconstruction, CRC
validation, scfsi scalefactor sharing, exact-zero PCM through the full
requantize/alias/IMDCT/synthesis chain, transform cross-checks against
direct formula evaluation, and the poison-envelope contract (mutation
fuzz: every malformed payload raises the catchable error classes,
never a crash or silent wrong output).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from ocr_spark.functions.bits import MsbWriter as _BitWriter
from ocr_spark.functions.mp3 import (
    SLEN1,
    SLEN2,
    Mp3Error,
    _alias_reduce,
    _BitReader,
    _imdct_long,
    _read_side_info_mono,
    _synthesis_matrix,
    _write_side_info_mono,
    crc16_mp3,
    decode_mp3,
    encode_mp3_silence,
)


def _expected(d: int) -> dict:
    F = 3 + d % 3
    scf = 0
    for i in range(F):
        for g in range(2):
            c = (d + i + g) % 16
            for b in range(21):
                sl = SLEN1[c] if b <= 10 else SLEN2[c]
                scf += (d + 3 * i + 5 * g + 7 * b) % (1 << sl) if sl else 0
    return {
        "n_frames": F,
        "sample_rate": [44100, 48000, 32000][d % 3],
        "bitrate_kbps_sum": sum(
            [128, 160, 192, 224, 256][(d + i) % 5] for i in range(F)
        ),
        "n_samples": F * 1152,
        "crc_frames": F if d % 2 == 0 else 0,
        "resv_sum": sum((7 * d + 13 * i) % 32 for i in range(1, F)),
        "scf_sum": scf,
    }


def test_closed_form_geometry_and_scalefactors():
    for d in range(40):
        r = decode_mp3(encode_mp3_silence(d))
        exp = _expected(d)
        for k, v in exp.items():
            assert r[k] == v, (d, k, r[k], v)


def test_reservoir_actually_exercised():
    """Fixtures for every doc with >= 2 frames place main data back in
    the previous frames' pool — the decoder result above would be wrong
    if reconstruction failed; here pin that the layout is non-trivial."""
    assert any(_expected(d)["resv_sum"] > 0 for d in range(10))


def test_zero_pcm_exact_through_full_chain():
    for d in (0, 1, 5, 17):
        pcm = decode_mp3(encode_mp3_silence(d))["pcm"]
        assert pcm.dtype == np.float64
        assert pcm.shape[0] == _expected(d)["n_samples"]
        assert np.all(pcm == 0.0)


def test_crc_corruption_detected():
    b = bytearray(encode_mp3_silence(2))          # even doc: CRC present
    b[8] ^= 0x40                                  # flip a side-info bit
    with pytest.raises(Mp3Error, match="CRC"):
        decode_mp3(bytes(b))


def test_scfsi_sharing_long_blocks():
    """Granule 1 with scfsi groups 0 and 2 set must REUSE granule 0's
    scalefactors for bands 0-5 / 11-15 and read only the others."""
    compress = 10                                  # slen1=2, slen2=3
    s1, s2 = SLEN1[compress], SLEN2[compress]
    scfsi = [1, 0, 1, 0]
    g0 = [(3 + 5 * b) % (1 << (s1 if b <= 10 else s2)) for b in range(21)]
    g1_read = {b: (7 + 11 * b) % (1 << (s1 if b <= 10 else s2))
               for b in range(6, 11)} | {
        b: (7 + 11 * b) % (1 << s2) for b in range(16, 21)}

    md = _BitWriter()
    for b in range(21):
        md.write(g0[b], s1 if b <= 10 else s2)
    for b in range(6, 11):
        md.write(g1_read[b], s1)
    for b in range(16, 21):
        md.write(g1_read[b], s2)
    p0 = 11 * s1 + 10 * s2
    p1 = 5 * s1 + 5 * s2
    md_bytes = md.to_bytes()

    def gran(p23):
        return {
            "part2_3_length": p23, "big_values": 0, "global_gain": 100,
            "scalefac_compress": compress, "windows_switching": 0,
            "table_select": [0, 0, 0], "region0_count": 0,
            "region1_count": 0, "preflag": 0, "scalefac_scale": 0,
            "count1table_select": 0,
        }

    bw = _BitWriter()
    _write_side_info_mono(bw, 0, scfsi, [gran(p0), gran(p1)])
    side = bw.to_bytes()
    kbps, sr = 128, 44100
    frame_len = 144 * kbps * 1000 // sr
    area = frame_len - 4 - 17
    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) | (9 << 12) \
        | (0 << 10) | (0 << 9) | (3 << 6)
    frame = h.to_bytes(4, "big") + side + md_bytes \
        + b"\x00" * (area - len(md_bytes))
    r = decode_mp3(frame)
    shared = sum(g0[b] for b in range(6)) + sum(g0[b] for b in range(11, 16))
    expected = sum(g0) + shared + sum(g1_read.values())
    assert r["scf_sum"] == expected


def test_side_info_roundtrip_short_blocks():
    """Short-block (windows_switching) side-info layout survives a
    write/read round trip bit-exactly."""
    g = {
        "part2_3_length": 123, "big_values": 0, "global_gain": 42,
        "scalefac_compress": 7, "windows_switching": 1, "block_type": 2,
        "mixed_block": 0, "table_select": [0, 0], "subblock_gain": [1, 2, 3],
        "preflag": 0, "scalefac_scale": 1, "count1table_select": 0,
    }
    bw = _BitWriter()
    _write_side_info_mono(bw, 77, [0, 1, 0, 1], [g, g])
    br = _BitReader(bw.to_bytes())
    mdb, _priv, scfsi, grans = _read_side_info_mono(br)
    assert mdb == 77 and scfsi == [0, 1, 0, 1]
    for gi in grans:
        assert gi.part2_3_length == 123 and gi.block_type == 2
        assert gi.subblock_gain == [1, 2, 3] and gi.scalefac_scale == 1


def test_window_switching_region_counts():
    """Under window switching the side info carries no region counts:
    region0 is 8 bands for pure short blocks and 7 otherwise, and region1
    runs to the end of big_values (count 36, past the last long band),
    leaving region2 empty."""
    def gran(block_type, mixed):
        return {
            "part2_3_length": 0, "big_values": 10, "global_gain": 42,
            "scalefac_compress": 0, "windows_switching": 1,
            "block_type": block_type, "mixed_block": mixed,
            "table_select": [0, 0], "subblock_gain": [0, 0, 0],
        }

    for block_type, mixed, region0 in ((2, 0, 8), (2, 1, 7), (1, 0, 7), (3, 0, 7)):
        bw = _BitWriter()
        _write_side_info_mono(bw, 0, [0, 0, 0, 0], [gran(block_type, mixed)] * 2)
        _mdb, _priv, _scfsi, grans = _read_side_info_mono(_BitReader(bw.to_bytes()))
        for gi in grans:
            assert (gi.block_type, gi.big_values) == (block_type, 10)
            assert (gi.region0_count, gi.region1_count) == (region0, 36)


def test_imdct_matches_direct_formula():
    rng = np.random.default_rng(7)
    X = rng.standard_normal(18)
    got = _imdct_long(X)
    direct = np.empty(36)
    for i in range(36):
        acc = 0.0
        for k in range(18):
            acc += X[k] * np.cos(np.pi / 72.0 * (2 * i + 1 + 18) * (2 * k + 1))
        direct[i] = acc * np.sin(np.pi / 36.0 * (i + 0.5))
    assert np.allclose(got, direct, atol=1e-12)


def test_alias_reduction_is_norm_preserving():
    """Each butterfly is a rotation (cs^2 + ca^2 = 1), so the 576-point
    vector norm is invariant — a coefficient typo breaks this."""
    rng = np.random.default_rng(11)
    xr = rng.standard_normal(576)
    out = _alias_reduce(xr)
    assert np.isclose(np.linalg.norm(out), np.linalg.norm(xr), rtol=1e-12)
    assert not np.allclose(out, xr)           # it must actually do work


def test_synthesis_matrix_direct():
    N = _synthesis_matrix()
    assert N.shape == (64, 32)
    assert np.isclose(N[0, 0], np.cos(16 * np.pi / 64.0))
    assert np.isclose(N[63, 31], np.cos(79 * 63 * np.pi / 64.0))


def test_crc16_known_vector():
    # poly 0x8005 init 0xFFFF over ASCII "123456789" -> 0xAEE7 (CRC-16/
    # CMS, the mp3 protection variant: no reflection, no final xor)
    assert crc16_mp3(b"123456789") == 0xAEE7


def test_mutation_fuzz_error_envelope():
    """P26's contract extended to mp3: ANY mutated/truncated payload
    either still decodes or raises the catchable classes — never an
    unhandled exception type, never a segfault-shaped crash."""
    rng = random.Random(1234)
    base = [bytearray(encode_mp3_silence(d)) for d in range(6)]
    trials = 0
    for payload in base:
        for _ in range(400):
            mut = bytearray(payload)
            op = rng.randrange(3)
            if op == 0:
                mut[rng.randrange(len(mut))] ^= 1 << rng.randrange(8)
            elif op == 1:
                mut = mut[: rng.randrange(len(mut))]
            else:
                for _ in range(rng.randrange(1, 8)):
                    mut[rng.randrange(len(mut))] = rng.randrange(256)
            try:
                decode_mp3(bytes(mut))
            except (Mp3Error, NotImplementedError):
                pass
            trials += 1
    assert trials == 2400
