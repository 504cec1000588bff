"""Pure-NumPy/stdlib baseline TIFF codec — no codec libraries.

Container: little-endian TIFF 6.0 tag directory (IFD) walk — a third
container idiom beside the RIFF chunk tree (WAV/AVI) and the PNG/GIF
block streams.  Compression: none (1), PackBits (32773), and TIFF LZW
(5) — which is NOT the GIF LZW: codes are packed MSB-first, the table
starts at 9 bits above a 256-symbol alphabet, and the width grows one
code EARLY ("early change", the documented TIFF quirk that GIF does
not share); both variants run through the one LZW coder in bits.py,
with their own arguments.  Horizontal-differencing predictor (tag
317 = 2) is supported for LZW strips.  Encoder twins emit all three compressions
for deterministic fixtures; TIFF is lossless so round-trips are
pixel-exact.

Layout follows the public TIFF 6.0 specification (Adobe, 1992),
sections 2-4 and 14 (Differencing Predictor); the LZW bit-packing and
early-change behavior per spec section 13.
"""

from __future__ import annotations

import struct

import numpy as np

from ocr_spark.functions import bits

TIFF_MAGIC_LE = b"II*\x00"

_T_WIDTH, _T_HEIGHT = 256, 257
_T_BPS, _T_COMPRESSION, _T_PHOTO = 258, 259, 262
_T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = 273, 277, 278, 279
_T_PREDICTOR = 317

_C_NONE, _C_LZW, _C_PACKBITS = 1, 5, 32773


# ---------------------------------------------------------------------------
# PackBits (spec section 9)
# ---------------------------------------------------------------------------

def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find a run
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        if j > i:                      # run of (j - i + 1) identical bytes
            out.append(257 - (j - i + 1) & 0xFF)
            out.append(data[i])
            i = j + 1
            continue
        # literal stretch until the next run of >= 3
        j = i
        while (
            j + 2 < n
            and not (data[j + 1] == data[j + 2] == data[j])
            and j - i < 127
        ):
            j += 1
        j = min(j, i + 127, n - 1)
        out.append(j - i)
        out.extend(data[i:j + 1])
        i = j + 1
    return bytes(out)


def packbits_decode(data: bytes, n_expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while len(out) < n_expected:
        if i >= n:
            raise ValueError("TIFF: PackBits stream truncated")
        c = data[i]
        i += 1
        if c < 128:                    # literal c+1 bytes
            if i + c + 1 > n:
                raise ValueError("TIFF: PackBits literal overruns stream")
            out.extend(data[i:i + c + 1])
            i += c + 1
        elif c > 128:                  # repeat next byte 257-c times
            if i >= n:
                raise ValueError("TIFF: PackBits run overruns stream")
            out.extend(bytes([data[i]]) * (257 - c))
            i += 1
        # c == 128: no-op per spec
    if len(out) != n_expected:
        raise ValueError("TIFF: PackBits produced wrong byte count")
    return bytes(out)


# ---------------------------------------------------------------------------
# TIFF LZW (spec section 13): MSB-first, 256-symbol alphabet, EARLY CHANGE
# ---------------------------------------------------------------------------

def tiff_lzw_encode(data: bytes) -> bytes:
    # spec: the width bumps one code early, and the encoder clears
    # before the table fills
    return bits.lzw_encode(data, bits.MsbWriter(), 8, 1, 4094)


def tiff_lzw_decode(data: bytes, n_expected: int) -> bytes:
    return bytes(bits.lzw_decode(bits.MsbReader(data), 8, 1, n_expected,
                                 "TIFF"))


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

def encode_tiff(arr: np.ndarray, compression: int = _C_NONE,
                predictor: int = 1, rows_per_strip: int = 8) -> bytes:
    """Little-endian single-IFD RGB TIFF from an (H, W, 3) uint8 array."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_tiff expects (H, W, 3) uint8")
    if predictor == 2 and compression != _C_LZW:
        raise ValueError("predictor 2 only with LZW here")
    h, w, _ = arr.shape
    strips = []
    for y0 in range(0, h, rows_per_strip):
        rows = arr[y0:y0 + rows_per_strip]
        if predictor == 2:
            rows = rows.astype(np.int16)
            rows = np.concatenate(
                [rows[:, :1], np.diff(rows, axis=1)], axis=1
            ).astype(np.uint8)  # mod-256 horizontal differencing
        raw = rows.tobytes()
        if compression == _C_NONE:
            strips.append(raw)
        elif compression == _C_PACKBITS:
            strips.append(packbits_encode(raw))
        elif compression == _C_LZW:
            strips.append(tiff_lzw_encode(raw))
        else:
            raise ValueError(f"unsupported compression {compression}")
    n_strips = len(strips)
    # layout: header(8) | strip data | offsets arr | counts arr | IFD
    data_start = 8
    offsets = []
    pos = data_start
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    off_offsets = pos
    pos += 4 * n_strips
    off_counts = pos
    pos += 4 * n_strips
    ifd_off = pos

    def entry(tag, typ, count, value):
        return struct.pack("<HHI4s", tag, typ, count, value)

    def long_val(v):
        return struct.pack("<I", v)

    def short_val(v):
        return struct.pack("<HH", v, 0)

    entries = [
        entry(_T_WIDTH, 4, 1, long_val(w)),
        entry(_T_HEIGHT, 4, 1, long_val(h)),
        entry(_T_BPS, 3, 3, long_val(ifd_off + 2 + 12 * 10 + 4)),
        entry(_T_COMPRESSION, 3, 1, short_val(compression)),
        entry(_T_PHOTO, 3, 1, short_val(2)),       # RGB
        entry(_T_STRIP_OFFSETS, 4, n_strips,
              long_val(off_offsets if n_strips > 1 else offsets[0])),
        entry(_T_SPP, 3, 1, short_val(3)),
        entry(_T_ROWS_PER_STRIP, 4, 1, long_val(rows_per_strip)),
        entry(_T_STRIP_COUNTS, 4, n_strips,
              long_val(off_counts if n_strips > 1 else len(strips[0]))),
        entry(_T_PREDICTOR, 3, 1, short_val(predictor)),
    ]
    ifd = struct.pack("<H", len(entries)) + b"".join(entries) + b"\x00" * 4
    bps_arr = struct.pack("<HHH", 8, 8, 8)
    out = bytearray(TIFF_MAGIC_LE + struct.pack("<I", ifd_off))
    for s in strips:
        out += s
    out += b"".join(struct.pack("<I", o) for o in offsets)
    out += b"".join(struct.pack("<I", len(s)) for s in strips)
    out += ifd
    out += bps_arr
    return bytes(out)


def _read_values(b: bytes, typ: int, count: int, raw: bytes) -> list[int]:
    size = {3: 2, 4: 4}.get(typ)
    if size is None:
        raise ValueError(f"TIFF: unsupported field type {typ}")
    total = size * count
    if total <= 4:
        buf = raw[:total]
    else:
        (off,) = struct.unpack("<I", raw)
        if off + total > len(b):
            raise ValueError("TIFF: value array outside file")
        buf = b[off:off + total]
    fmt = "<" + ("H" if typ == 3 else "I") * count
    return list(struct.unpack(fmt, buf))


def decode_tiff(b: bytes) -> np.ndarray:
    """First IFD of a little-endian TIFF -> (H, W, 3) uint8 RGB."""
    if len(b) < 8 or b[:4] != TIFF_MAGIC_LE:
        raise ValueError("TIFF: bad signature (only little-endian supported)")
    (ifd_off,) = struct.unpack_from("<I", b, 4)
    if ifd_off + 2 > len(b):
        raise ValueError("TIFF: IFD offset outside file")
    (n_entries,) = struct.unpack_from("<H", b, ifd_off)
    tags: dict[int, tuple[int, int, bytes]] = {}
    pos = ifd_off + 2
    for _ in range(n_entries):
        if pos + 12 > len(b):
            raise ValueError("TIFF: truncated IFD")
        tag, typ, count = struct.unpack_from("<HHI", b, pos)
        tags[tag] = (typ, count, b[pos + 8:pos + 12])
        pos += 12

    def vals(tag, default=None):
        if tag not in tags:
            if default is not None:
                return default
            raise ValueError(f"TIFF: missing required tag {tag}")
        typ, count, raw = tags[tag]
        return _read_values(b, typ, count, raw)

    w = vals(_T_WIDTH)[0]
    h = vals(_T_HEIGHT)[0]
    comp = vals(_T_COMPRESSION, [1])[0]
    spp = vals(_T_SPP, [1])[0]
    bps = vals(_T_BPS, [8])
    predictor = vals(_T_PREDICTOR, [1])[0]
    rps = vals(_T_ROWS_PER_STRIP, [h])[0]
    offsets = vals(_T_STRIP_OFFSETS)
    counts = vals(_T_STRIP_COUNTS)
    if w == 0 or h == 0 or spp not in (1, 3) or any(x != 8 for x in bps):
        raise ValueError("TIFF: unsupported geometry or bit depth")
    if len(offsets) != len(counts):
        raise ValueError("TIFF: strip offset/count mismatch")
    if comp not in (_C_NONE, _C_LZW, _C_PACKBITS):
        raise ValueError(f"TIFF: unsupported compression {comp}")
    if predictor not in (1, 2):
        raise ValueError(f"TIFF: unsupported predictor {predictor}")
    rows = []
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(b):
            raise ValueError("TIFF: strip outside file")
        n_rows = min(rps, h - i * rps)
        if n_rows <= 0:
            raise ValueError("TIFF: more strips than rows")
        raw_len = n_rows * w * spp
        strip = b[off:off + cnt]
        if comp == _C_NONE:
            if len(strip) != raw_len:
                raise ValueError("TIFF: uncompressed strip size mismatch")
            raw = strip
        elif comp == _C_PACKBITS:
            raw = packbits_decode(strip, raw_len)
        else:
            raw = tiff_lzw_decode(strip, raw_len)
        block = np.frombuffer(raw, dtype=np.uint8).reshape(n_rows, w, spp)
        if predictor == 2:
            block = np.cumsum(block.astype(np.int64), axis=1).astype(np.uint8)
        rows.append(block)
    img = np.concatenate(rows, axis=0)
    if img.shape[0] != h:
        raise ValueError("TIFF: assembled rows != height")
    if spp == 1:
        img = np.repeat(img, 3, axis=2)
    return img
