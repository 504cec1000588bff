"""Compressed-audio codecs implemented from the public specs, pure
NumPy — narrowing the WAV seam from "PCM16 only" to the three
compressed formats that are actually parseable without codec
libraries:

- G.711 mu-law (WAV fmt tag 7) and A-law (fmt tag 6): the ITU-T G.711
  logarithmic companding used by every telephony corpus.  Decode is a
  256-entry LUT (fully vectorized); encode follows the canonical
  segment-search formulation (Sun Microsystems' public-domain g711.c,
  the de-facto reference implementation of the ITU tables).
- IMA/DVI ADPCM (fmt tag 0x11): 4-bit adaptive differential PCM per
  the IMA Digital Audio Compatibility recommendation.  Each WAV block
  carries its own (predictor, step-index) header, so blocks are
  INDEPENDENTLY decodable — the intra-payload parallel-decode unit at
  100 TB, exactly like JPEG restart segments.

Perceptual codecs inside a WAV container remain the honest
NotImplementedError seam in multimodal._decode_wav.  As standalone
payloads, round 5 narrowed both majors to their spectral tables only:
mp3's bitstream/side-info/reservoir layer is real (functions/mp3.py)
and ogg's container/CRC/lacing/Vorbis-header layer is real
(functions/ogg.py); flac stays a full seam.  Reference parity note: the reference app (kingsleyesisi/OCR)
has no audio path at all; this tier exists for the training-data
pipeline mandate, same as the image codecs.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# G.711 (mu-law / A-law)
# ---------------------------------------------------------------------------

_SEG_UEND = np.array([0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF],
                     dtype=np.int32)
_SEG_AEND = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF],
                     dtype=np.int32)
_ULAW_BIAS = 0x84
_ULAW_CLIP = 8159                       # on the >>2 (14-bit) scale


def ulaw_decode_table() -> np.ndarray:
    """256-entry code -> int16 LUT (ITU-T G.711 mu-law expansion)."""
    u = (~np.arange(256, dtype=np.int64)) & 0xFF
    t = ((u & 0x0F) << 3) + _ULAW_BIAS
    t = t << ((u & 0x70) >> 4)
    return np.where(u & 0x80, _ULAW_BIAS - t, t - _ULAW_BIAS).astype(np.int16)


def alaw_decode_table() -> np.ndarray:
    """256-entry code -> int16 LUT (ITU-T G.711 A-law expansion)."""
    a = np.arange(256, dtype=np.int64) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def ulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 samples -> uint8 mu-law codes (canonical segment search)."""
    v = x.astype(np.int32) >> 2
    mask = np.where(v < 0, 0x7F, 0xFF)
    mag = np.minimum(np.abs(v), _ULAW_CLIP) + (_ULAW_BIAS >> 2)
    seg = np.searchsorted(_SEG_UEND, mag)
    code = np.where(
        seg >= 8,
        0x7F,
        (np.minimum(seg, 7) << 4)
        | ((mag >> (np.minimum(seg, 7) + 1)) & 0x0F),
    )
    return ((code ^ mask) & 0xFF).astype(np.uint8)


def alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 samples -> uint8 A-law codes (canonical segment search)."""
    v = x.astype(np.int32) >> 3
    mask = np.where(v >= 0, 0xD5, 0x55)
    mag = np.where(v >= 0, v, -v - 1)
    seg = np.searchsorted(_SEG_AEND, mag)
    segc = np.minimum(seg, 7)
    mant = np.where(segc < 2, (mag >> 1), (mag >> segc)) & 0x0F
    code = np.where(seg >= 8, 0x7F, (segc << 4) | mant)
    return ((code ^ mask) & 0xFF).astype(np.uint8)


def g711_decode(codes: np.ndarray, law: str) -> np.ndarray:
    table = ulaw_decode_table() if law == "ulaw" else alaw_decode_table()
    return table[np.asarray(codes, dtype=np.uint8)]


def g711_encode(samples: np.ndarray, law: str) -> np.ndarray:
    return ulaw_encode(samples) if law == "ulaw" else alaw_encode(samples)


# ---------------------------------------------------------------------------
# IMA / DVI ADPCM (WAV fmt 0x11)
# ---------------------------------------------------------------------------

IMA_STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
IMA_INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_decode_nibble(nibble: int, predictor: int, index: int) -> tuple[int, int]:
    step = int(IMA_STEP_TABLE[index])
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    predictor = predictor - diff if nibble & 8 else predictor + diff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + int(IMA_INDEX_TABLE[nibble & 7])))
    return predictor, index


def _ima_encode_sample(sample: int, predictor: int, index: int) -> tuple[int, int, int]:
    """Encode one sample against (predictor, index); returns
    (nibble, new_predictor, new_index) with the decoder-mirrored
    predictor update (so encoder and decoder never drift)."""
    step = int(IMA_STEP_TABLE[index])
    diff = sample - predictor
    nibble = 0
    if diff < 0:
        nibble = 8
        diff = -diff
    if diff >= step:
        nibble |= 4
        diff -= step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nibble |= 1
    predictor, index = _ima_decode_nibble(nibble, predictor, index)
    return nibble, predictor, index


def ima_adpcm_decode_block(block: bytes, n_channels: int) -> np.ndarray:
    """Decode ONE self-contained IMA-ADPCM WAV block -> (n, ch) int16.
    Block layout per the IMA recommendation: a 4-byte header per
    channel (predictor int16 LE, step index uint8, reserved), then
    4-byte-per-channel interleaved nibble groups (8 samples/channel
    each, low nibble first)."""
    hdr = 4 * n_channels
    if len(block) < hdr or (len(block) - hdr) % (4 * n_channels) != 0:
        raise ValueError("ADPCM block size does not fit the channel layout")
    preds, idxs, outs = [], [], []
    for c in range(n_channels):
        p = int.from_bytes(block[4 * c: 4 * c + 2], "little", signed=True)
        ix = block[4 * c + 2]
        if ix > 88:
            raise ValueError(f"ADPCM step index {ix} out of range")
        preds.append(p)
        idxs.append(ix)
        outs.append([p])                 # header predictor IS sample 0
    pos = hdr
    while pos < len(block):
        for c in range(n_channels):
            group = block[pos: pos + 4]
            for byte in group:
                for nibble in (byte & 0x0F, byte >> 4):
                    preds[c], idxs[c] = _ima_decode_nibble(
                        nibble, preds[c], idxs[c]
                    )
                    outs[c].append(preds[c])
            pos += 4
    n = min(len(o) for o in outs)
    return np.stack(
        [np.asarray(o[:n], dtype=np.int16) for o in outs], axis=1
    )


def ima_adpcm_encode_block(samples: np.ndarray) -> bytes:
    """Encode an (n, ch) int16 array as ONE IMA-ADPCM WAV block, every
    channel starting at step index 0; (n-1) must be a multiple of 8 per
    channel group layout."""
    n, ch = samples.shape
    if (n - 1) % 8 != 0:
        raise ValueError("ADPCM block needs n = 1 + 8k samples")
    out = bytearray()
    preds, idxs = [], []
    for c in range(ch):
        p = int(samples[0, c])
        out += p.to_bytes(2, "little", signed=True)
        out += bytes([0, 0])
        preds.append(p)
        idxs.append(0)
    for g in range(1, n, 8):
        for c in range(ch):
            nibbles = []
            for t in range(g, g + 8):
                nib, preds[c], idxs[c] = _ima_encode_sample(
                    int(samples[t, c]), preds[c], idxs[c]
                )
                nibbles.append(nib)
            for i in range(0, 8, 2):
                out.append(nibbles[i] | (nibbles[i + 1] << 4))
    return bytes(out)
