"""Ogg container-layer tests (ocr_spark/functions/ogg.py).

Pins: closed-form fixture geometry (page counts, spanning packets,
byte sums), RFC 3533 CRC-32 correctness (direct/non-reflected — a
zlib.crc32 substitution must fail), lacing reassembly incl. the
0-lacing multiple-of-255 terminator and cross-page continuation, the
continuation-flag handshake in both directions, multi-packet pages
(legal Ogg the fixture encoder never emits), Vorbis ident/comment
header parsing, the documented spectral seam, and the poison-envelope
contract (mutation fuzz: every malformed payload raises the catchable
OggError/ValueError classes, never a crash or silent wrong output).
"""

from __future__ import annotations

import random
import struct
import zlib

import pytest

from ocr_spark.functions.ogg import (
    OggError,
    _emit_page,
    _lacing,
    decode_ogg_stream,
    decode_vorbis_audio,
    encode_ogg,
    encode_ogg_vorbis_fixture,
    ogg_crc,
    parse_vorbis_comment,
    parse_vorbis_ident,
    read_packets,
)

_RATES = [8000, 11025, 16000, 22050, 44100, 48000]


def _expected(d: int) -> dict:
    m = 3 + d % 3
    c = d % 4
    ls = 600 + 100 * (d % 5)
    p = 2 + d % 3
    lens = [30, 37 + 12 * c, ls] + [300 + (13 * d + 17 * j) % 600
                                    for j in range(p)]

    def pages(length: int) -> int:
        lc = length // 255 + 1
        return (lc + m - 1) // m

    return {
        "n_pages": sum(pages(x) for x in lens),
        "n_packets": 3 + p,
        "spanning_packets": sum(1 for x in lens if pages(x) > 1),
        "serial": 21360 + d,
        "channels": 1 + d % 2,
        "sample_rate": _RATES[d % 6],
        "bitrate_nominal": 64000 + 1000 * (d % 32),
        "vendor_len": 21,
        "n_comments": c,
        "comment_bytes": 8 * c,
        "setup_bytes": ls,
        "n_audio_packets": p,
        "audio_bytes_sum": sum(
            (d + 31 * j + i) % 251
            for j in range(p)
            for i in range(300 + (13 * d + 17 * j) % 600)
        ),
        "granule_last": 1024 * p,
    }


def test_closed_form_geometry_round_trip():
    for d in list(range(40)) + [127, 499, 3210]:
        assert decode_ogg_stream(encode_ogg_vorbis_fixture(d)) == _expected(d)


def test_cross_page_continuation_actually_exercised():
    # at least one fixture doc must have a page-spanning packet, else
    # the continuation path is dead code in the hash gate
    assert any(_expected(d)["spanning_packets"] > 0 for d in range(10))
    # and a tight lacing cap forces a 600-byte packet across 3 pages
    pkt = bytes(i % 251 for i in range(600))
    ident = encode_ogg_vorbis_fixture(0)  # steal valid headers
    pkts, stats = read_packets(ident)
    stream = encode_ogg([pkts[0], pkts[1], pkts[2], pkt],
                        serial=7, granules=[0, 0, 0, 1024], max_segs=1)
    got, st = read_packets(stream)
    assert got[3] == pkt
    assert st["spanning_packets"] >= 1


def test_zero_lacing_terminator_multiple_of_255():
    assert _lacing(510) == [255, 255, 0]
    assert _lacing(0) == [0]
    pkt = bytes(range(255)) * 2  # 510 bytes
    hdr = encode_ogg_vorbis_fixture(1)
    pkts, _ = read_packets(hdr)
    stream = encode_ogg([pkts[0], pkts[1], pkts[2], pkt],
                        serial=9, granules=[0, 0, 0, 1024])
    got, _ = read_packets(stream)
    assert got[3] == pkt


def test_multi_packet_page_decodes():
    # two packets sharing one page: lacing [3, 4], both completing
    page = _emit_page(0x02 | 0x04, 0, 11, 0, [3, 4], b"abcdefg")
    pkts, stats = read_packets(page)
    assert pkts == [b"abc", b"defg"]
    assert stats["n_pages"] == 1 and stats["spanning_packets"] == 0


def test_crc_is_rfc3533_not_zlib():
    data = b"OggS fixture page bytes"
    assert ogg_crc(data) != zlib.crc32(data)
    # direct-algorithm property: crc of b"\x00" is table[0] == 0
    assert ogg_crc(b"\x00") == 0
    assert ogg_crc(b"\x01") == 0x04C11DB7


def test_crc_corruption_detected():
    b = bytearray(encode_ogg_vorbis_fixture(5))
    b[60] ^= 0x10
    with pytest.raises(OggError):
        decode_ogg_stream(bytes(b))


def test_continuation_flag_handshake_enforced():
    # a mid-stream page falsely claiming continuation must be rejected
    good = encode_ogg_vorbis_fixture(3)
    pkts, _ = read_packets(good)
    p0 = _emit_page(0x02, 0, 4, 0, _lacing(len(pkts[0])), pkts[0])
    p1 = _emit_page(0x01 | 0x04, 0, 4, 1, _lacing(len(pkts[1])), pkts[1])
    with pytest.raises(OggError, match="continuation"):
        read_packets(p0 + p1)


def test_bos_flag_after_first_page_rejected():
    # BOS marks only a stream's first page; a repeat on page 2 is malformed
    p0 = _emit_page(0x02, 0, 4, 0, [3], b"abc")
    p1 = _emit_page(0x02 | 0x04, 0, 4, 1, [4], b"defg")
    with pytest.raises(OggError, match="BOS"):
        read_packets(p0 + p1)
    # the same stream without the repeated BOS decodes
    ok = p0 + _emit_page(0x04, 0, 4, 1, [4], b"defg")
    assert read_packets(ok)[0] == [b"abc", b"defg"]


def test_vorbis_header_parsers():
    pkts, _ = read_packets(encode_ogg_vorbis_fixture(17))
    ident = parse_vorbis_ident(pkts[0])
    assert ident["channels"] == 2 and ident["sample_rate"] == _RATES[5]
    assert ident["blocksize_0"] == 256 and ident["blocksize_1"] == 2048
    comm = parse_vorbis_comment(pkts[1])
    assert comm["vendor"] == "ocr-spark-ogg-fixture"
    assert comm["comments"] == [f"tag0=v{(17 * 7) % 100:02d}"]


def test_spectral_seam_is_marked():
    pkts, _ = read_packets(encode_ogg_vorbis_fixture(2))
    with pytest.raises(NotImplementedError):
        decode_vorbis_audio(pkts[2], pkts[3:])


def test_mutation_fuzz_error_envelope():
    # poison contract: mutated payloads either decode to SOMETHING or
    # raise the catchable envelope classes — never crash, never hang
    rng = random.Random(0x066)
    base = encode_ogg_vorbis_fixture(12)
    for trial in range(400):
        b = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            op = rng.randrange(3)
            if op == 0 and len(b) > 1:
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif op == 1 and len(b) > 30:
                del b[rng.randrange(len(b) - 8):][:rng.randint(1, 8)]
            else:
                b[rng.randrange(len(b)):rng.randrange(len(b))] = bytes(
                    rng.randrange(256) for _ in range(rng.randint(1, 6)))
        try:
            decode_ogg_stream(bytes(b))
        except (OggError, ValueError, UnicodeDecodeError, struct.error):
            pass


def test_truncation_and_garbage_rejected():
    good = encode_ogg_vorbis_fixture(8)
    with pytest.raises(OggError):
        decode_ogg_stream(good[:-3])      # EOS page CRC broken
    with pytest.raises(OggError):
        decode_ogg_stream(b"NotAnOggStream" * 4)
    with pytest.raises(OggError):
        decode_ogg_stream(good + good)    # page after EOS
