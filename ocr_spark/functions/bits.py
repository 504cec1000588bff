"""Bit packing shared by the media codecs, and the one LZW coder GIF and
TIFF build on.

One writer and one reader per bit order: `LsbWriter`/`LsbReader` (GIF
LZW codes) and `MsbWriter`/`MsbReader` (TIFF LZW codes, mp3 side info
and main data).  The writers keep only the bits not yet written in
their accumulator, so packing is linear in the output length.  JPEG
keeps its own writer and reader: 0xFF byte stuffing and 1-bit padding
are JPEG rules.  `crc_msb` is the one table-driven MSB-first
(non-reflected) CRC, for mp3's CRC-16 and Ogg's CRC-32.

The LZW coder is the GIF89a / TIFF 6.0 section 13 variable-width
dictionary coder.  What the two formats disagree on arrives as
arguments, never as a branch: the literal width (GIF's min code size,
TIFF's 8), the bit order (the writer or reader object), "early change"
(TIFF bumps the code width one code early: 1, GIF: 0) and the table
size at which the encoder emits CLEAR.
"""

from __future__ import annotations

from functools import cache

MAX_CODE_WIDTH = 12


@cache
def _crc_table(width: int, poly: int) -> list[int]:
    top, mask = 1 << (width - 1), (1 << width) - 1
    table = []
    for i in range(256):
        r = i << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
        table.append(r)
    return table


def crc_msb(data: bytes, width: int, poly: int, init: int) -> int:
    """`width`-bit CRC of `data`, bits taken most-significant first (no
    input or output reflection), register preset to `init`, no final
    xor."""
    table = _crc_table(width, poly)
    mask, shift = (1 << width) - 1, width - 8
    r = init
    for b in data:
        r = ((r << 8) & mask) ^ table[((r >> shift) & 0xFF) ^ b]
    return r


class _Writer:
    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0                    # the `nbits` bits not yet written
        self.nbits = 0


class LsbWriter(_Writer):
    """Codes packed least-significant bit first."""

    def write(self, code: int, width: int) -> None:
        self.cur |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.cur & 0xFF)
            self.cur >>= 8
            self.nbits -= 8

    def to_bytes(self) -> bytes:
        """The packed bytes, the last one zero-padded."""
        if self.nbits:
            self.out.append(self.cur & 0xFF)
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


class MsbWriter(_Writer):
    """Values packed most-significant bit first; a value that does not
    fit its width raises ValueError."""

    def write(self, value: int, width: int) -> None:
        if not 0 <= value < (1 << width):
            raise ValueError(f"value {value} does not fit {width} bits")
        self.cur = (self.cur << width) | value
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append(self.cur >> self.nbits)
            self.cur &= (1 << self.nbits) - 1

    def to_bytes(self) -> bytes:
        """The packed bytes, the last one zero-padded."""
        if self.nbits:
            self.out.append(self.cur << (8 - self.nbits))
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


class _Reader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos                  # in bits


class LsbReader(_Reader):
    """Reads codes packed least-significant bit first."""

    def read(self, width: int) -> int:
        """The next `width`-bit code, or -1 when the data ends first."""
        end = self.pos + width
        if end > 8 * len(self.data):
            return -1
        chunk = int.from_bytes(self.data[self.pos >> 3:(end + 7) >> 3], "little")
        code = (chunk >> (self.pos & 7)) & ((1 << width) - 1)
        self.pos = end
        return code


class MsbReader(_Reader):
    """Reads values packed most-significant bit first."""

    def read(self, width: int) -> int:
        """The next `width`-bit value, or -1 when the data ends first."""
        end = self.pos + width
        if end > 8 * len(self.data):
            return -1
        last = (end + 7) >> 3
        chunk = int.from_bytes(self.data[self.pos >> 3:last], "big")
        code = (chunk >> (8 * last - end)) & ((1 << width) - 1)
        self.pos = end
        return code


def lzw_encode(symbols, writer, literal_width: int, early: int,
               table_cap: int) -> bytes:
    """Greedy longest-match LZW over a prefix dictionary: CLEAR first,
    then one code per longest known prefix, then END.  CLEAR is
    `1 << literal_width` and END the code after it.  The encoder emits
    CLEAR and starts a fresh dictionary once it holds `table_cap` codes.

    Width growth follows the canonical giflib rule: the check runs after
    EVERY code written, against the next free slot BEFORE the insertion
    that follows, at the threshold `(1 << width) - early`.  Keying growth
    on insertions instead desyncs from the decoder at the END-code
    boundary (the decoder inserts an entry for the final data code; the
    encoder never does)."""
    clear = 1 << literal_width
    end = clear + 1
    table: dict = {}
    next_code = 0
    width = 0

    def out(code: int) -> None:
        nonlocal width
        writer.write(code, width)
        if next_code >= (1 << width) - early and width < MAX_CODE_WIDTH:
            width += 1

    def fresh() -> None:
        nonlocal table, next_code, width
        table = {(i,): i for i in range(clear)}
        next_code = end + 1
        width = literal_width + 1

    fresh()
    out(clear)
    seq: tuple = ()
    for v in symbols:
        cand = seq + (v,)
        if cand in table:
            seq = cand
            continue
        out(table[seq])
        table[cand] = next_code
        next_code += 1
        if next_code >= table_cap:
            out(clear)
            fresh()
        seq = (v,)
    if seq:
        out(table[seq])
    out(end)
    return writer.to_bytes()


def lzw_decode(reader, literal_width: int, early: int, n_expected: int,
               label: str) -> list[int]:
    """Inverse of lzw_encode: exactly `n_expected` symbols.  A malformed
    stream (a first code that is not a literal, a code beyond the table,
    a missing END, too many or too few symbols) raises ValueError whose
    message starts with `label` — the poison-envelope contract (P26)."""
    clear = 1 << literal_width
    end = clear + 1
    out: list[int] = []
    table: list[tuple] = []
    width = 0
    prev: tuple | None = None
    counter = 0  # giflib RunningCode: counts code READS since reset

    def reset() -> None:
        nonlocal table, width, prev, counter
        table = [(i,) for i in range(clear)] + [(), ()]
        width = literal_width + 1
        prev = None
        counter = end + 1

    reset()
    while True:
        code = reader.read(width)
        if code < 0:
            raise ValueError(f"{label}: LZW stream truncated before END code")
        # growth keyed on codes READ, not on table insertions (see
        # lzw_encode)
        counter += 1
        if counter > (1 << width) - early and width < MAX_CODE_WIDTH:
            width += 1
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"{label}: first LZW code {code} not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError(f"{label}: LZW code {code} beyond table {len(table)}")
        out.extend(entry)
        if len(out) > n_expected:
            raise ValueError(f"{label}: LZW output exceeds {n_expected} symbols")
        prev = entry
    if len(out) != n_expected:
        raise ValueError(f"{label}: LZW produced {len(out)} of {n_expected} symbols")
    return out
