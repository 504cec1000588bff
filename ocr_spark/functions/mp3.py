"""MPEG-1 Audio Layer III (mp3) bitstream layer, from the public spec
(ISO/IEC 11172-3), pure Python/NumPy — narrowing the perceptual-audio
seam left by round 4 (`audio.py` header note).

What is REAL and verifiable here (and hash-gated by q_mp3_decode):

- frame walking: 11-bit sync, version/layer/bitrate-index/sample-rate/
  padding header fields, per-frame length `144*bitrate/samplerate+pad`;
- CRC-16 (poly 0x8005, init 0xFFFF) over header bits 16-31 + side info
  when the protection bit is 0 — validated, not skipped;
- the BIT RESERVOIR: `main_data_begin` back-references into previous
  frames' main-data pool, reconstructed exactly (the part of mp3
  framing that breaks naive per-frame splitters — and the reason an
  mp3 payload is NOT splittable mid-stream without walking headers,
  which is precisely what a 100-TB ingest needs to know);
- side info (mono, 17 bytes): both granules, long and short block
  variants, scfsi;
- scalefactor decode incl. slen1/slen2 packing and scfsi sharing —
  scalefactors are raw fixed-width fields (no Huffman), so fixture
  streams carry closed-form integer scalefactors that the DuckDB
  oracle recomputes exactly;
- part2_3_length accounting: the Huffman region length is checked
  bit-exactly against what was consumed.

The documented SEAMS (NotImplementedError, never wrong output):

- spectral Huffman code tables (ISO 11172-3 Annex B tables B.7): large
  numeric tables that cannot be cross-verified against any reference
  decoder in this sandbox — shipping unverifiable constants would be
  worse than an honest seam.  Table 0 (the all-zero table, which codes
  (0,0) in zero bits) IS implemented, so silent granules — exactly the
  construction every closed-form fixture uses — decode for real.
- the synthesis window D (Annex B table B.3, a numerically-designed
  prototype filter): matrixing runs for real; the windowed sum is only
  evaluated when the subband signal is non-zero (a linear filter of an
  all-zero signal is exactly zero — no table needed for the zero path,
  and that zero is mathematically exact, not a stub).

The transform chain between those seams — requantization, alias
reduction (the 8 ci butterflies), 36/12-point IMDCT with the spec's
closed-form sine windows, overlap-add, frequency inversion, polyphase
matrixing cos((16+i)(2k+1)pi/64) — is implemented from the spec's
equations and cross-checked against direct-formula evaluation in
tests/test_mp3.py.

Reference parity note: the reference app (kingsleyesisi/OCR) has no
audio path; this tier exists for the training-data-pipeline mandate
(SURVEY.md §2.12a P13), like the image codecs.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.functions.bits import MsbReader, MsbWriter, crc_msb

# ---------------------------------------------------------------------------
# constants (MPEG-1 Layer III)
# ---------------------------------------------------------------------------

BITRATES_KBPS = [0, 32, 40, 48, 56, 64, 80, 96, 112,
                 128, 160, 192, 224, 256, 320, 0]   # index 0/15 invalid
SAMPLE_RATES = [44100, 48000, 32000, 0]             # index 3 invalid
SAMPLES_PER_FRAME = 1152                            # 2 granules x 576

SLEN1 = [0, 0, 0, 0, 3, 1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4]
SLEN2 = [0, 1, 2, 3, 0, 1, 2, 3, 1, 2, 3, 1, 2, 3, 2, 3]

# long-block scalefactor-band boundaries per sample rate (23 edges)
SFB_LONG = {
    44100: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
            134, 162, 196, 238, 288, 342, 418, 576],
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
            128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
            156, 194, 240, 296, 364, 448, 550, 576],
}
PRETAB = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0]

# alias-reduction butterfly coefficients (spec 2.4.3.4.10.1)
_CI = np.array([-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142,
                -0.0037])
_CS = 1.0 / np.sqrt(1.0 + _CI * _CI)
_CA = _CI / np.sqrt(1.0 + _CI * _CI)


class Mp3Error(ValueError):
    """Malformed mp3 payload (poison-envelope class: always catchable)."""


# ---------------------------------------------------------------------------
# bit IO
# ---------------------------------------------------------------------------

class _BitReader(MsbReader):
    """MsbReader whose underrun raises Mp3Error; `pos` counts bits."""

    def read(self, n: int) -> int:
        v = super().read(n)
        if v < 0:
            raise Mp3Error("bitstream underrun")
        return v


def crc16_mp3(data: bytes) -> int:
    """CRC-16 with polynomial 0x8005, initial value 0xFFFF (the mp3
    protection word; covers header bytes 2-3 + the side info)."""
    return crc_msb(data, 16, 0x8005, 0xFFFF)


# ---------------------------------------------------------------------------
# side info model (mono)
# ---------------------------------------------------------------------------

class GranuleInfo:
    __slots__ = ("part2_3_length", "big_values", "global_gain",
                 "scalefac_compress", "windows_switching", "block_type",
                 "mixed_block", "table_select", "subblock_gain",
                 "region0_count", "region1_count", "preflag",
                 "scalefac_scale", "count1table_select")


def _read_side_info_mono(br: _BitReader) -> tuple[int, int, list[int], list[GranuleInfo]]:
    main_data_begin = br.read(9)
    private = br.read(5)
    scfsi = [br.read(1) for _ in range(4)]
    grans = []
    for _g in range(2):
        gi = GranuleInfo()
        gi.part2_3_length = br.read(12)
        gi.big_values = br.read(9)
        if gi.big_values > 288:
            raise Mp3Error(f"big_values {gi.big_values} > 288")
        gi.global_gain = br.read(8)
        gi.scalefac_compress = br.read(4)
        gi.windows_switching = br.read(1)
        if gi.windows_switching:
            gi.block_type = br.read(2)
            if gi.block_type == 0:
                raise Mp3Error("block_type 0 with windows_switching set")
            gi.mixed_block = br.read(1)
            gi.table_select = [br.read(5) for _ in range(2)]
            gi.subblock_gain = [br.read(3) for _ in range(3)]
            gi.region0_count = 7 if gi.block_type != 2 or gi.mixed_block else 8
            # ISO 11172-3: region1 runs to the end of big_values and
            # region2 is empty; 36 is past the last long scalefactor band
            # (libmad's encoding of that boundary)
            gi.region1_count = 36
        else:
            gi.block_type = 0
            gi.mixed_block = 0
            gi.table_select = [br.read(5) for _ in range(3)]
            gi.subblock_gain = [0, 0, 0]
            gi.region0_count = br.read(4)
            gi.region1_count = br.read(3)
        gi.preflag = br.read(1)
        gi.scalefac_scale = br.read(1)
        gi.count1table_select = br.read(1)
        grans.append(gi)
    return main_data_begin, private, scfsi, grans


def _write_side_info_mono(bw: MsbWriter, main_data_begin: int,
                          scfsi: list[int], grans: list[dict]) -> None:
    bw.write(main_data_begin, 9)
    bw.write(0, 5)
    for s in scfsi:
        bw.write(s, 1)
    for g in grans:
        bw.write(g["part2_3_length"], 12)
        bw.write(g["big_values"], 9)
        bw.write(g["global_gain"], 8)
        bw.write(g["scalefac_compress"], 4)
        bw.write(g.get("windows_switching", 0), 1)
        if g.get("windows_switching", 0):
            bw.write(g["block_type"], 2)
            bw.write(g.get("mixed_block", 0), 1)
            for t in g["table_select"][:2]:
                bw.write(t, 5)
            for sb in g.get("subblock_gain", [0, 0, 0]):
                bw.write(sb, 3)
        else:
            for t in g["table_select"][:3]:
                bw.write(t, 5)
            bw.write(g.get("region0_count", 0), 4)
            bw.write(g.get("region1_count", 0), 3)
        bw.write(g.get("preflag", 0), 1)
        bw.write(g.get("scalefac_scale", 0), 1)
        bw.write(g.get("count1table_select", 0), 1)


# ---------------------------------------------------------------------------
# scalefactors (long/short), Huffman region (table 0 only), requantize
# ---------------------------------------------------------------------------

def _read_scalefactors(br: _BitReader, gi: GranuleInfo, scfsi: list[int],
                       granule: int, prev_long: list[int] | None) -> list[int]:
    """Returns the 21 long-block scalefactors (or 3x12 short flattened).
    scfsi sharing (granule 1 reuses granule 0's group) applies to long
    blocks only, per the spec."""
    s1, s2 = SLEN1[gi.scalefac_compress], SLEN2[gi.scalefac_compress]
    if gi.block_type == 2 and gi.windows_switching:
        out = []
        for band in range(6):
            for _w in range(3):
                out.append(br.read(s1))
        for band in range(6, 12):
            for _w in range(3):
                out.append(br.read(s2))
        return out
    groups = [(0, 6, s1), (6, 11, s1), (11, 16, s2), (16, 21, s2)]
    out = [0] * 21
    for (lo, hi, sl), share in zip(groups, scfsi):
        if granule == 1 and share:
            if prev_long is None:
                raise Mp3Error("scfsi set but granule 0 was short")
            out[lo:hi] = prev_long[lo:hi]
        else:
            for b in range(lo, hi):
                out[b] = br.read(sl)
    return out


def _read_spectrum(br: _BitReader, gi: GranuleInfo, part2_bits: int,
                   start_bits: int) -> np.ndarray:
    """Huffman region.  Table 0 codes the (0,0) pair in ZERO bits, so a
    silent granule's big_values region consumes nothing; any other table
    with big_values > 0, or leftover count1 bits, is the documented
    spectral-Huffman seam."""
    is_ = np.zeros(576, dtype=np.int64)
    if gi.big_values > 0 and any(t != 0 for t in gi.table_select):
        raise NotImplementedError(
            "mp3 spectral Huffman tables beyond table 0 (ISO 11172-3 "
            "Annex B) are a documented seam"
        )
    consumed = (br.pos - start_bits) + 0  # scalefactor bits incl.
    remaining = gi.part2_3_length - consumed
    if remaining < 0:
        raise Mp3Error("part2_3_length smaller than scalefactor bits")
    if remaining > 0:
        raise NotImplementedError(
            "mp3 count1-region Huffman decode is a documented seam"
        )
    return is_


def _requantize_long(is_: np.ndarray, gi: GranuleInfo,
                     scalefac: list[int], sr: int) -> np.ndarray:
    """xr[i] = sign * |is|^(4/3) * 2^((gain-210)/4) * 2^(-step*(sf+pre))
    with step = (scalefac_scale+1)/2 — the spec's closed-form power law."""
    gain = 2.0 ** ((gi.global_gain - 210) / 4.0)
    step = 0.5 * (gi.scalefac_scale + 1)
    xr = np.sign(is_) * np.abs(is_).astype(np.float64) ** (4.0 / 3.0) * gain
    edges = SFB_LONG[sr]
    for b in range(21):
        sf = scalefac[b] + (PRETAB[b] if gi.preflag else 0)
        xr[edges[b]:edges[b + 1]] *= 2.0 ** (-step * sf)
    return xr


def _alias_reduce(xr: np.ndarray) -> np.ndarray:
    """Butterflies across every subband boundary, fully vectorized (the
    index sets above/below each boundary are disjoint, so the fancy-
    indexed writes are race-free)."""
    out = xr.astype(np.float64).copy()
    lo = np.arange(1, 32)[:, None] * 18
    i = np.arange(8)[None, :]
    ai, bi = lo - 1 - i, lo + i
    a, b = out[ai], out[bi]
    out[ai] = a * _CS - b * _CA
    out[bi] = b * _CS + a * _CA
    return out


def _imdct_basis() -> tuple[np.ndarray, np.ndarray]:
    i = np.arange(36)[:, None]
    k = np.arange(18)[None, :]
    mat = np.cos(np.pi / 72.0 * (2 * i + 1 + 18) * (2 * k + 1))
    win = np.sin(np.pi / 36.0 * (np.arange(36) + 0.5))
    return mat, win


_IMDCT_MAT, _IMDCT_WIN = _imdct_basis()


def _imdct_long(X: np.ndarray) -> np.ndarray:
    """36-point IMDCT + long sine window (spec 2.4.3.4.12):
    x_i = sum_k X_k cos(pi/72 (2i+1+18)(2k+1)),  w_i = sin(pi/36 (i+.5))."""
    return (_IMDCT_MAT @ X) * _IMDCT_WIN


def _imdct_granule(xr: np.ndarray) -> np.ndarray:
    """All 32 subbands in one matmul: (32,18) spectrum -> (32,36)."""
    return (xr.reshape(32, 18) @ _IMDCT_MAT.T) * _IMDCT_WIN[None, :]


def _synthesis_matrix() -> np.ndarray:
    i = np.arange(64)[:, None]
    k = np.arange(32)[None, :]
    return np.cos((16 + i) * (2 * k + 1) * np.pi / 64.0)


_SYN_N = None


def _synthesize(subbands: np.ndarray) -> np.ndarray:
    """Polyphase synthesis.  Matrixing runs for real; the D-window
    convolution needs the Annex B prototype table, which is the
    documented seam — except on an all-zero V buffer, where the filter
    output is exactly zero with no table required."""
    global _SYN_N
    if _SYN_N is None:
        _SYN_N = _synthesis_matrix()
    n_blocks = subbands.shape[0]
    V = subbands @ _SYN_N.T
    if not np.any(V):
        return np.zeros(n_blocks * 32)
    raise NotImplementedError(
        "mp3 synthesis window D (ISO 11172-3 Table B.3) is a documented "
        "seam; only the exact zero path is decodable without it"
    )


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def decode_mp3(b: bytes) -> dict:
    """Walk and decode an MPEG-1 Layer III mono stream.  Returns
    measured geometry + scalefactor/reservoir accounting + exact PCM
    (zero-spectrum path).  Raises Mp3Error for malformed payloads and
    NotImplementedError at the documented spectral seams."""
    if not isinstance(b, (bytes, bytearray)) or len(b) < 4:
        raise Mp3Error("payload too short for an mp3 header")
    pos = 0
    n_frames = 0
    sample_rate = None
    bitrate_sum = 0
    crc_frames = 0
    resv_sum = 0
    scf_sum = 0
    pool = bytearray()          # bit-reservoir main-data pool
    pending: list[tuple[int, int, list[int], list[GranuleInfo], int]] = []
    pcm_chunks: list[np.ndarray] = []
    prev_block = np.zeros((32, 18))

    while pos < len(b):
        if pos + 4 > len(b):
            raise Mp3Error("trailing bytes do not fit a frame header")
        h = int.from_bytes(b[pos:pos + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            raise Mp3Error(f"lost sync at byte {pos}")
        version = (h >> 19) & 3
        layer = (h >> 17) & 3
        if version != 3 or layer != 1:
            raise Mp3Error("not MPEG-1 Layer III")
        protection = (h >> 16) & 1
        bitrate_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 3
        padding = (h >> 9) & 1
        mode = (h >> 6) & 3
        if bitrate_idx in (0, 15) or sr_idx == 3:
            raise Mp3Error("invalid bitrate/samplerate index")
        if mode != 3:
            raise Mp3Error("only mono streams supported by this decoder")
        kbps = BITRATES_KBPS[bitrate_idx]
        sr = SAMPLE_RATES[sr_idx]
        if sample_rate is None:
            sample_rate = sr
        elif sr != sample_rate:
            raise Mp3Error("sample rate changed mid-stream")
        frame_len = 144 * kbps * 1000 // sr + padding
        if pos + frame_len > len(b):
            raise Mp3Error("truncated frame")
        frame = b[pos:pos + frame_len]
        off = 4
        if protection == 0:
            if frame_len < 4 + 2 + 17:
                raise Mp3Error("frame too short for CRC + side info")
            crc_stored = int.from_bytes(frame[4:6], "big")
            off = 6
            crc_calc = crc16_mp3(frame[2:4] + frame[off:off + 17])
            if crc_stored != crc_calc:
                raise Mp3Error("side-info CRC mismatch")
            crc_frames += 1
        if frame_len < off + 17:
            raise Mp3Error("frame too short for side info")
        br = _BitReader(frame[off:off + 17])
        mdb, _priv, scfsi, grans = _read_side_info_mono(br)
        main_area = frame[off + 17:]
        pending.append((mdb, len(pool), scfsi, grans, sr))
        pool.extend(main_area)
        resv_sum += mdb
        bitrate_sum += kbps
        n_frames += 1
        pos += frame_len

    if n_frames == 0:
        raise Mp3Error("no frames")

    # second pass: decode main data out of the reconstructed pool
    for mdb, pool_len_before, scfsi, grans, sr in pending:
        start_byte = pool_len_before - mdb
        if start_byte < 0:
            raise Mp3Error("main_data_begin reaches before the stream")
        br = _BitReader(bytes(pool), start_byte * 8)
        prev_long: list[int] | None = None
        for g_idx, gi in enumerate(grans):
            start_bits = br.pos
            scf = _read_scalefactors(br, gi, scfsi, g_idx, prev_long)
            if gi.block_type != 2:
                prev_long = scf
            scf_sum += sum(scf)
            is_ = _read_spectrum(br, gi, br.pos - start_bits, start_bits)
            if gi.block_type == 2 and gi.windows_switching:
                if np.any(is_):
                    raise NotImplementedError(
                        "short-block requantize/reorder beyond the zero "
                        "path is a documented seam"
                    )
                xr = np.zeros(576)
            else:
                xr = _requantize_long(is_, gi, scf, sr)
            xr = _alias_reduce(xr)
            # IMDCT (all 32 subbands in one matmul) + overlap-add with
            # the previous granule
            x = _imdct_granule(xr)
            sub_out = x[:, :18] + prev_block
            prev_block = x[:, 18:].copy()
            # frequency inversion: odd samples of odd subbands
            sub_out[1::2, 1::2] *= -1.0
            pcm_chunks.append(_synthesize(sub_out.T))

    pcm = np.concatenate(pcm_chunks) if pcm_chunks else np.zeros(0)
    return {
        "n_frames": n_frames,
        "sample_rate": sample_rate,
        "bitrate_kbps_sum": bitrate_sum,
        "n_samples": n_frames * SAMPLES_PER_FRAME,
        "crc_frames": crc_frames,
        "resv_sum": resv_sum,
        "scf_sum": scf_sum,
        "pcm": pcm,
    }


# ---------------------------------------------------------------------------
# encoder (fixture synthesis — silent granules, real framing/reservoir)
# ---------------------------------------------------------------------------

def encode_mp3_silence(doc_id: int) -> bytes:
    """Deterministic MPEG-1 Layer III mono stream for doc_id:
    F = 3 + d%3 frames, sample rate [44100,48000,32000][d%3], per-frame
    bitrate index 9+((d+i)%5) (128..256 kbps), padding bit (d+i)%2, CRC
    present on even d.  Each frame carries two silent long-block
    granules whose 21 scalefactors are (d + 3i + 5g + 7b) mod 2^slen —
    raw fixed-width fields, so the decoded scf_sum has a closed-form SQL
    twin.  part2_3_length equals the scalefactor bits exactly (table-0
    big_values region = zero bits).  Frames i >= 1 place their main data
    (7d+13i) mod 32 bytes back into the previous frames' pool — a REAL
    bit-reservoir layout the decoder must reconstruct."""
    d = int(doc_id)
    n_frames = 3 + d % 3
    sr = SAMPLE_RATES[d % 3]
    protected = d % 2 == 0

    frames_meta = []
    for i in range(n_frames):
        bitrate_idx = 9 + (d + i) % 5
        kbps = BITRATES_KBPS[bitrate_idx]
        padding = (d + i) % 2
        frame_len = 144 * kbps * 1000 // sr + padding
        area = frame_len - 4 - (2 if protected else 0) - 17

        grans = []
        md = MsbWriter()
        for g in range(2):
            compress = (d + i + g) % 16
            s1, s2 = SLEN1[compress], SLEN2[compress]
            scf_bits = 11 * s1 + 10 * s2
            for b in range(21):
                sl = s1 if b <= 10 else s2
                md.write((d + 3 * i + 5 * g + 7 * b) % (1 << sl) if sl else 0,
                         sl)
            grans.append({
                "part2_3_length": scf_bits,
                "big_values": 0,
                "global_gain": (d + i + g) % 256,
                "scalefac_compress": compress,
                "windows_switching": 0,
                "table_select": [0, 0, 0],
                "region0_count": 0,
                "region1_count": 0,
                "preflag": (d + g) % 2,
                "scalefac_scale": (d + i) % 2,
                "count1table_select": 0,
            })
        md_bytes = md.to_bytes()
        frames_meta.append((bitrate_idx, padding, frame_len, area, grans,
                            md_bytes))

    # reservoir layout: frame i's main data starts mdb_i bytes before the
    # end of the pool written by frames 0..i-1
    areas = [m[3] for m in frames_meta]
    mds = [m[5] for m in frames_meta]
    mdbs = [0]
    for i in range(1, n_frames):
        want = (7 * d + 13 * i) % 32
        avail = sum(areas[:i]) - (sum(areas[: i - 1]) + (len(mds[i - 1])
                    - mdbs[i - 1]))
        mdbs.append(min(want, max(avail, 0), 511))
    pool = bytearray(sum(areas))
    for i in range(n_frames):
        start = sum(areas[:i]) - mdbs[i]
        if start < 0 or start + len(mds[i]) > sum(areas[: i + 1]):
            raise ValueError("fixture reservoir layout does not fit")
        pool[start:start + len(mds[i])] = mds[i]

    out = bytearray()
    pool_pos = 0
    for i, (bitrate_idx, padding, frame_len, area, grans, _md) in enumerate(
            frames_meta):
        h = (0x7FF << 21) | (3 << 19) | (1 << 17) \
            | ((0 if protected else 1) << 16) | (bitrate_idx << 12) \
            | ((d % 3) << 10) | (padding << 9) | (3 << 6)
        bw = MsbWriter()
        _write_side_info_mono(bw, mdbs[i], [0, 0, 0, 0], grans)
        side = bw.to_bytes()
        assert len(side) == 17
        frame = bytearray(h.to_bytes(4, "big"))
        if protected:
            frame += crc16_mp3(h.to_bytes(4, "big")[2:4] + side).to_bytes(
                2, "big")
        frame += side
        frame += pool[pool_pos:pool_pos + area]
        pool_pos += area
        assert len(frame) == frame_len
        out += frame
    return bytes(out)
