"""Pure-NumPy/stdlib GIF89a codec — no codec libraries.

Decoder: header + logical screen descriptor walk, global/local color
tables, extension-block skipping, REAL LZW decompression (variable code
width 3..12 bits, LSB-first bit packing, clear-code dictionary resets,
the deferred +1 code-width growth rule), and 4-pass interlace
reordering.  Encoder twin emits genuinely compressed LZW streams
(greedy longest-match dictionary, configurable reset cap so fixtures
exercise the clear-code path) for deterministic fixtures; round-trips
are pixel-exact because GIF is lossless.

Reference parity note: the reference app decodes its uploads via PIL
(`handwriting/api.py:20`) which accepts GIF among PNG/JPEG; this module
is the in-sandbox stand-in for that codec surface, same as
ocr_spark/functions/jpeg.py for JPEG.  Format layout follows the public
GIF89a specification (CompuServe, 1990) and the LZW variant described
in it.
"""

from __future__ import annotations

import struct

import numpy as np

from ocr_spark.functions import bits

GIF_MAGIC = b"GIF89a"

# 4-pass interlace row schedule: (first row, stride) per pass
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlaced_row_order(h: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


# ---------------------------------------------------------------------------
# LZW (GIF variant): LSB-first codes, no early change
# ---------------------------------------------------------------------------

def lzw_encode(indices: np.ndarray, min_code_size: int,
               dict_cap: int = 4096) -> bytes:
    """GIF LZW of an index array: codes LSB-first at a width that grows
    with the dictionary; a CLEAR code is emitted when the dictionary
    reaches `dict_cap` (fixtures use a small cap so decoders must
    exercise the reset path)."""
    return bits.lzw_encode(indices.ravel().tolist(), bits.LsbWriter(),
                           min_code_size, 0, min(dict_cap, 4096))


def lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    """Inverse of lzw_encode; raises ValueError on malformed streams
    (bad code, missing END, output overrun) — the poison-envelope
    contract (P26)."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"GIF: bad LZW min code size {min_code_size}")
    out = bits.lzw_decode(bits.LsbReader(data), min_code_size, 0,
                          n_expected, "GIF")
    return np.asarray(out, dtype=np.uint8)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

def _sub_blocks(data: bytes) -> bytes:
    """Split a byte string into <=255-byte GIF sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    return bytes(out)


def _read_sub_blocks(b: bytes, pos: int, what: str) -> tuple[bytes, int]:
    """The joined sub-blocks starting at `pos`, and the position after
    their terminator."""
    data = bytearray()
    while True:
        if pos >= len(b):
            raise ValueError(f"GIF: truncated {what}")
        ln = b[pos]
        data += b[pos + 1:pos + 1 + ln]
        pos += 1 + ln
        if ln == 0:
            return bytes(data), pos
        if pos > len(b):
            raise ValueError(f"GIF: truncated {what} sub-block")


def _color_table(b: bytes, pos: int, packed: int, what: str):
    """The (N, 3) color table that the flags byte `packed` announces at
    `pos` (None when its flag is clear), and the position after it."""
    if not packed & 0x80:
        return None, pos
    n = 2 << (packed & 0x07)
    if pos + 3 * n > len(b):
        raise ValueError(f"GIF: truncated {what} color table")
    table = np.frombuffer(b[pos:pos + 3 * n], dtype=np.uint8).reshape(n, 3)
    return table, pos + 3 * n


def encode_gif(indices: np.ndarray, palette: np.ndarray,
               interlace: bool = False, dict_cap: int = 4096) -> bytes:
    """Single-frame GIF89a from an (H, W) uint8 index array and an
    (N, 3) uint8 palette (N a power of two, 2..256)."""
    h, w = indices.shape
    n_colors = len(palette)
    size_bits = max(1, int(n_colors - 1).bit_length())
    if 1 << size_bits != n_colors:
        raise ValueError("palette size must be a power of two")
    out = bytearray(GIF_MAGIC)
    out += struct.pack("<HH", w, h)
    out.append(0x80 | ((size_bits - 1) & 0x07))  # GCT present, size bits
    out += b"\x00\x00"                           # bg index, aspect
    out += palette.astype(np.uint8).tobytes()
    # a comment extension so decoders must walk extension blocks
    out += b"\x21\xfe" + _sub_blocks(b"ocr_spark fixture")
    out.append(0x2C)                             # image descriptor
    out += struct.pack("<HHHH", 0, 0, w, h)
    out.append(0x40 if interlace else 0x00)
    rows = indices
    if interlace:
        rows = indices[_interlaced_row_order(h)]
    min_code = max(2, size_bits)
    out.append(min_code)
    out += _sub_blocks(lzw_encode(rows, min_code, dict_cap))
    out.append(0x3B)                             # trailer
    return bytes(out)


def decode_gif(b: bytes) -> np.ndarray:
    """First image frame of a GIF87a/89a stream -> (H, W, 3) uint8 RGB."""
    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        raise ValueError("GIF: bad signature")
    sw, sh = struct.unpack_from("<HH", b, 6)
    gct, pos = _color_table(b, 13, b[10], "global")
    while True:
        if pos >= len(b):
            raise ValueError("GIF: missing trailer")
        block = b[pos]
        pos += 1
        if block == 0x3B:                        # trailer before any image
            raise ValueError("GIF: no image descriptor")
        if block == 0x21:                        # extension: skip sub-blocks
            _, pos = _read_sub_blocks(b, pos + 1, "extension")  # past label
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")
        break
    if pos + 9 > len(b):
        raise ValueError("GIF: truncated image descriptor")
    left, top, w, h = struct.unpack_from("<HHHH", b, pos)
    ipacked = b[pos + 8]
    pos += 9
    if w == 0 or h == 0 or left + w > sw or top + h > sh:
        raise ValueError("GIF: image geometry outside logical screen")
    lct, pos = _color_table(b, pos, ipacked, "local")
    table = gct if lct is None else lct
    if table is None:
        raise ValueError("GIF: no color table")
    if pos >= len(b):
        raise ValueError("GIF: missing LZW code size")
    data, _ = _read_sub_blocks(b, pos + 1, "image data")
    idx = lzw_decode(data, b[pos], w * h).reshape(h, w)
    if int(idx.max(initial=0)) >= len(table):
        raise ValueError("GIF: pixel index outside color table")
    if ipacked & 0x40:                           # deinterlace
        order = _interlaced_row_order(h)
        out = np.empty_like(idx)
        out[order] = idx
        idx = out
    return table[idx]
