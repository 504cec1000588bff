"""Ogg container layer (RFC 3533) + Vorbis I header parse, pure
Python — narrowing the remaining perceptual-audio seam (mp3.py narrowed
mp3 to its spectral tables in round 5; this does the same for ogg).

What is REAL and verifiable here (hash-gated by q_ogg_decode):

- page framing: 'OggS' capture walk, version-0 check, header-type
  flags (continuation / BOS / EOS), granule position, serial, page
  sequence continuity;
- CRC-32 per RFC 3533: polynomial 0x04c11db7, DIRECT (non-reflected)
  algorithm, init 0, no final xor, computed over the whole page with
  the checksum field zeroed — validated on every page, not skipped;
- lacing-value packet reassembly: 255-run continuation, the explicit
  0-lacing terminator for packets whose length is a multiple of 255,
  and CROSS-PAGE packet continuation (continuation flag handshake both
  ways: set on a page that resumes a packet, an error otherwise);
- Vorbis I identification header (packet type 1): version, channels,
  sample rate, bitrate triple, blocksize exponents, framing bit;
- Vorbis comment header (packet type 3): vendor string + user-comment
  list, both little-endian length-prefixed.

The documented SEAM (NotImplementedError, never wrong output): the
Vorbis setup header's codebook decode and the audio-packet spectral
path (floor/residue/MDCT driven by those codebooks — large numeric
structures with no reference decoder in this sandbox to verify
against).  The container layer still reassembles setup and audio
packets byte-exactly; only their INTERPRETATION is the seam.

Scale note (the mirror image of mp3's bit reservoir): an Ogg page is
self-delimiting — capture pattern + own CRC + own lacing table — so a
100-TB ingest CAN split an ogg payload at any page boundary and decode
segments independently (packets spanning the cut are recovered by the
neighbour via the continuation flag).  mp3's main_data_begin makes the
opposite true there.  q_ogg_decode's fixtures force cross-page packets
so this machinery is exercised, not just the happy path.

Reference parity note: the reference app (kingsleyesisi/OCR) has no
audio path; this tier exists for the training-data-pipeline mandate
(SURVEY.md §2.12a P13), like the image codecs.
"""

from __future__ import annotations

import struct

from ocr_spark.functions.bits import crc_msb


class OggError(ValueError):
    """Malformed ogg payload (poison-envelope class: always catchable)."""


# ---------------------------------------------------------------------------
# CRC-32/OGG (RFC 3533 §6: 0x04c11db7, direct/non-reflected, init 0,
# no final xor — deliberately NOT zlib.crc32, which is the reflected
# 0xEDB88320 variant with init/xor 0xFFFFFFFF)
# ---------------------------------------------------------------------------

def ogg_crc(data: bytes) -> int:
    return crc_msb(data, 32, 0x04C11DB7, 0)


# ---------------------------------------------------------------------------
# page write / packet paging
# ---------------------------------------------------------------------------

def _lacing(length: int) -> list[int]:
    """Lacing values for one packet: floor(L/255) 255s + the remainder
    (a 0 remainder IS emitted — the multiple-of-255 terminator rule)."""
    return [255] * (length // 255) + [length % 255]


def _emit_page(flags: int, granule: int, serial: int, seq: int,
               lacing: list[int], payload: bytes) -> bytes:
    if len(lacing) > 255:
        raise OggError("page segment table overflow")
    gran = granule & 0xFFFFFFFFFFFFFFFF  # -1 encodes as all-ones per spec
    head = (b"OggS" + bytes([0, flags])
            + struct.pack("<QIII", gran, serial, seq, 0)
            + bytes([len(lacing)]) + bytes(lacing))
    crc = ogg_crc(head + payload)
    head = head[:22] + struct.pack("<I", crc) + head[26:]
    return head + payload


def encode_ogg(packets: list[bytes], serial: int, granules: list[int],
               max_segs: int = 255) -> bytes:
    """Page a logical stream: each packet starts a new page (the fixture
    layout rule the SQL oracle mirrors); a packet needing more than
    `max_segs` lacing values spills onto continuation pages (flag 0x01).
    `granules[i]` is the granule position stamped on the page where
    packet i COMPLETES; pages that complete no packet carry -1 per
    RFC 3533.  First page gets BOS (0x02), last gets EOS (0x04)."""
    out = []
    seq = 0
    for idx, (pkt, gran) in enumerate(zip(packets, granules)):
        lac = _lacing(len(pkt))
        off = 0
        first_chunk = True
        while lac:
            seg, lac = lac[:max_segs], lac[max_segs:]
            nbytes = sum(seg)
            flags = 0
            if not first_chunk:
                flags |= 0x01
            if idx == 0 and first_chunk:
                flags |= 0x02
            if idx == len(packets) - 1 and not lac:
                flags |= 0x04
            g = gran if not lac else -1
            out.append(_emit_page(flags, g, serial, seq,
                                  seg, pkt[off:off + nbytes]))
            off += nbytes
            seq += 1
            first_chunk = False
    return b"".join(out)


# ---------------------------------------------------------------------------
# page walk / packet reassembly
# ---------------------------------------------------------------------------

def read_pages(data: bytes):
    """Validated page walk: yields dicts with flags/granule/serial/seq/
    lacing/payload.  Raises OggError on bad capture, version, CRC, or
    truncation — every page's CRC is recomputed and checked."""
    pos = 0
    while pos < len(data):
        if data[pos:pos + 4] != b"OggS":
            raise OggError(f"bad capture pattern at byte {pos}")
        if pos + 27 > len(data):
            raise OggError("truncated page header")
        version, flags = data[pos + 4], data[pos + 5]
        if version != 0:
            raise OggError(f"unsupported ogg version {version}")
        gran, serial, seq, crc = struct.unpack_from("<QIII", data, pos + 6)
        nsegs = data[pos + 26]
        lace_end = pos + 27 + nsegs
        if lace_end > len(data):
            raise OggError("truncated segment table")
        lacing = list(data[pos + 27:lace_end])
        body_len = sum(lacing)
        page_end = lace_end + body_len
        if page_end > len(data):
            raise OggError("truncated page body")
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            raise OggError(f"CRC mismatch on page seq {seq}")
        yield {
            "flags": flags,
            "granule": gran if gran != 0xFFFFFFFFFFFFFFFF else -1,
            "serial": serial,
            "seq": seq,
            "lacing": lacing,
            "payload": data[lace_end:page_end],
        }
        pos = page_end


def read_packets(data: bytes):
    """Reassemble logical packets from the page stream.  Returns
    (packets, stats) where stats carries the container-layer counters
    q_ogg_decode emits: page count, spanning-packet count, last granule,
    serial.  Enforces sequence continuity, single-serial streams, the
    continuation-flag handshake, and BOS/EOS placement."""
    packets: list[bytes] = []
    partial = bytearray()
    mid_packet = False
    n_pages = 0
    spanning = 0
    serial = None
    last_granule = -1
    expect_seq = 0
    saw_eos = False
    for pg in read_pages(data):
        if saw_eos:
            raise OggError("page after EOS")
        if serial is None:
            serial = pg["serial"]
            if not pg["flags"] & 0x02:
                raise OggError("first page missing BOS flag")
        elif pg["serial"] != serial:
            raise OggError("multiplexed streams not supported")
        elif pg["flags"] & 0x02:
            raise OggError("BOS flag on a page after the first")
        if pg["seq"] != expect_seq:
            raise OggError(f"page sequence gap: {expect_seq} -> {pg['seq']}")
        expect_seq += 1
        n_pages += 1
        cont = bool(pg["flags"] & 0x01)
        if cont != mid_packet:
            raise OggError("continuation flag / packet state mismatch")
        if pg["flags"] & 0x04:
            saw_eos = True
        if pg["granule"] >= 0:
            last_granule = pg["granule"]
        off = 0
        for lace in pg["lacing"]:
            partial += pg["payload"][off:off + lace]
            off += lace
            if lace < 255:
                packets.append(bytes(partial))
                if mid_packet:
                    spanning += 1
                partial.clear()
                mid_packet = False
        if off != len(pg["payload"]):
            raise OggError("lacing table does not cover page body")
        if partial or (pg["lacing"] and pg["lacing"][-1] == 255):
            mid_packet = True
            # a packet that continues past this page will count as
            # spanning when it completes
    if mid_packet:
        raise OggError("stream ends mid-packet")
    if not saw_eos:
        raise OggError("stream missing EOS flag")
    return packets, {
        "n_pages": n_pages,
        "spanning_packets": spanning,
        "serial": serial,
        "last_granule": last_granule,
    }


# ---------------------------------------------------------------------------
# Vorbis I headers (spec §4.2; the spectral path past them is the seam)
# ---------------------------------------------------------------------------

def parse_vorbis_ident(pkt: bytes) -> dict:
    if len(pkt) != 30 or pkt[0] != 1 or pkt[1:7] != b"vorbis":
        raise OggError("not a vorbis identification header")
    version, channels = struct.unpack_from("<IB", pkt, 7)
    rate, br_max, br_nom, br_min = struct.unpack_from("<IiIi", pkt, 12)
    if version != 0:
        raise OggError(f"unsupported vorbis version {version}")
    if channels == 0 or rate == 0:
        raise OggError("zero channels or sample rate")
    bs = pkt[28]
    bs0, bs1 = 1 << (bs & 0x0F), 1 << (bs >> 4)
    if bs0 > bs1:
        raise OggError("blocksize_0 > blocksize_1")
    if not pkt[29] & 0x01:
        raise OggError("ident framing bit unset")
    return {"channels": channels, "sample_rate": rate,
            "bitrate_nominal": br_nom, "blocksize_0": bs0,
            "blocksize_1": bs1}


def parse_vorbis_comment(pkt: bytes) -> dict:
    if len(pkt) < 7 or pkt[0] != 3 or pkt[1:7] != b"vorbis":
        raise OggError("not a vorbis comment header")
    pos = 7

    def take_u32() -> int:
        nonlocal pos
        if pos + 4 > len(pkt):
            raise OggError("truncated comment header")
        v = struct.unpack_from("<I", pkt, pos)[0]
        pos += 4
        return v

    def take_str(what: str) -> str:
        nonlocal pos
        n = take_u32()
        if pos + n > len(pkt):
            raise OggError(f"truncated {what}")
        pos += n
        return pkt[pos - n:pos].decode("utf-8", "strict")

    vendor = take_str("vendor string")
    comments = [take_str("user comment") for _ in range(take_u32())]
    if pos >= len(pkt) or not pkt[pos] & 0x01:
        raise OggError("comment framing bit unset")
    return {"vendor": vendor, "comments": comments}


def decode_vorbis_audio(setup_pkt: bytes, audio_pkts: list[bytes]):
    """SEAM: Vorbis spectral decode (setup-header codebooks, floor1 /
    residue2 partitions, the coupled MDCT path).  The codebook format
    is public (Vorbis I spec §3) but its decode cannot be cross-checked
    against any reference decoder in this sandbox, and shipping an
    unverifiable transform would be worse than an honest seam — the
    same call made for mp3's Huffman tables (functions/mp3.py) and
    h264/vp9 (multimodal.py)."""
    raise NotImplementedError(
        "vorbis spectral decode (codebooks/floor/residue) is the "
        "documented seam; the container layer above it is real")


# ---------------------------------------------------------------------------
# deterministic fixture + full container decode (q_ogg_decode)
# ---------------------------------------------------------------------------

_VENDOR = b"ocr-spark-ogg-fixture"
_RATES = [8000, 11025, 16000, 22050, 44100, 48000]


def encode_ogg_vorbis_fixture(doc_id: int) -> bytes:
    """Closed-form Vorbis-framed ogg stream for doc_id (the SQL oracle
    recomputes every emitted counter from these formulas):

    - serial = 21360 + doc_id
    - ident: channels 1 + d%2, rate _RATES[d%6], nominal bitrate
      64000 + 1000*(d%32), blocksizes 256/2048
    - comment: vendor (21 bytes), C = d%4 comments 'tagJ=vNN' (8 bytes)
    - setup (opaque seam content): 600 + 100*(d%5) bytes, byte i =
      (d + 7*i) % 256
    - audio packets: P = 2 + d%3, packet j has 300 + (13*d + 17*j) % 600
      bytes, byte i = (d + 31*j + i) % 251; granule after packet j
      completes = 1024*(j+1)
    - paging: max_segs = 3 + d%3 lacing values per page (forces real
      cross-page continuation for most docs)
    """
    d = int(doc_id)
    ident = (bytes([1]) + b"vorbis"
             + struct.pack("<IB", 0, 1 + d % 2)
             + struct.pack("<IiIi", _RATES[d % 6], 0,
                           64000 + 1000 * (d % 32), 0)
             + bytes([(11 << 4) | 8])     # blocksizes 2^8 / 2^11
             + bytes([1]))
    comments = [f"tag{j}=v{(d * 7 + j) % 100:02d}".encode()
                for j in range(d % 4)]
    comment = bytearray(bytes([3]) + b"vorbis")
    comment += struct.pack("<I", len(_VENDOR)) + _VENDOR
    comment += struct.pack("<I", len(comments))
    for c in comments:
        comment += struct.pack("<I", len(c)) + c
    comment += bytes([1])
    setup_len = 600 + 100 * (d % 5)
    setup = bytes(((d + 7 * i) % 256 for i in range(setup_len)))
    audio = []
    for j in range(2 + d % 3):
        n = 300 + (13 * d + 17 * j) % 600
        audio.append(bytes(((d + 31 * j + i) % 251 for i in range(n))))
    packets = [bytes(ident), bytes(comment), setup] + audio
    granules = [0, 0, 0] + [1024 * (j + 1) for j in range(len(audio))]
    return encode_ogg(packets, serial=21360 + d, granules=granules,
                      max_segs=3 + d % 3)


def decode_ogg_stream(data: bytes) -> dict:
    """Full container-layer decode: validated page walk (CRC on every
    page), packet reassembly, Vorbis ident + comment parse, opaque
    accounting of the seam packets (setup byte length, audio byte sum
    over the REASSEMBLED packet bytes — any lacing/continuation bug
    changes it)."""
    packets, stats = read_packets(data)
    if len(packets) < 3:
        raise OggError("fewer than 3 header packets")
    ident = parse_vorbis_ident(packets[0])
    comm = parse_vorbis_comment(packets[1])
    audio = packets[3:]
    return {
        "n_pages": stats["n_pages"],
        "n_packets": len(packets),
        "spanning_packets": stats["spanning_packets"],
        "serial": stats["serial"],
        "channels": ident["channels"],
        "sample_rate": ident["sample_rate"],
        "bitrate_nominal": ident["bitrate_nominal"],
        "vendor_len": len(comm["vendor"]),
        "n_comments": len(comm["comments"]),
        "comment_bytes": sum(len(c) for c in comm["comments"]),
        "setup_bytes": len(packets[2]),
        "n_audio_packets": len(audio),
        "audio_bytes_sum": sum(sum(p) for p in audio),
        "granule_last": stats["last_granule"],
    }
