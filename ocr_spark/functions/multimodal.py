"""Multimodal (image/audio/video) column plumbing (training-data ops).

Media payloads are opaque `binary` columns with typed metadata, processed
with Arrow-vectorized `mapInPandas` — the same distribution pattern as
the text extractor (ocr_spark/operators/extract_op.py).

Decode (the sandbox has no PIL/librosa/pyav, so every codec is pure
NumPy/stdlib):
  - `decode_media_real` routes a payload by magic bytes to a real
    decoder: BMP, PPM, PNG, GIF, TIFF, baseline and progressive JPEG,
    RIFF/WAVE (PCM16, G.711, IMA-ADPCM) and MJPEG AVI.  Perceptual
    audio spectra and inter-coded video stay the marked seam
    (NotImplementedError).
  - `DECODE_TIERS` pairs one closed-form per-doc fixture with one
    measure per codec family; `decode_tier` runs any tier as a narrow
    mapInPandas op, and each driver query checks it against a SQL oracle.
  - `decode_binary_images` is the production error envelope over a real
    binary column; `decode_media_features` provides deterministic
    byte-level features for the plumbing query.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ocr_spark.functions.audio import (
    g711_decode,
    g711_encode,
    ima_adpcm_decode_block,
    ima_adpcm_encode_block,
)
from ocr_spark.functions.gif import decode_gif, encode_gif
from ocr_spark.functions.jpeg import (
    decode_baseline,
    encode_baseline,
    encode_progressive,
)
from ocr_spark.functions.mp3 import decode_mp3, encode_mp3_silence
from ocr_spark.functions.ogg import decode_ogg_stream, encode_ogg_vorbis_fixture
from ocr_spark.functions.tiff import decode_tiff, encode_tiff

MEDIA_SCHEMA_DDL = (
    "doc_id bigint, media_type string, n_bytes int, magic string, "
    "fake_width int, fake_height int, fake_duration_ms int, checksum bigint"
)

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"\x1aE\xdf\xa3": "mkv",
}


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Derive a deterministic multimodal table from a (doc_id, text)
    DataFrame: payload = utf-8 bytes of the text (stand-in for real media
    bytes), media_type cycled by doc_id.  Pure built-in expressions."""
    media_type = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    return df.select(
        "doc_id",
        media_type.alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.length(F.col("text")).alias("n_chars"),
            F.lit("fixture").alias("origin"),
        ).alias("meta"),
    )


def encode_bmp(arr: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding) — the fixture
    writer for the real-decode path."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    img_size = (row_bytes + pad) * h
    header = bytearray(54)
    header[0:2] = b"BM"
    header[2:6] = (54 + img_size).to_bytes(4, "little")
    header[10:14] = (54).to_bytes(4, "little")       # pixel-data offset
    header[14:18] = (40).to_bytes(4, "little")       # BITMAPINFOHEADER
    header[18:22] = int(w).to_bytes(4, "little", signed=True)
    header[22:26] = int(h).to_bytes(4, "little", signed=True)  # bottom-up
    header[26:28] = (1).to_bytes(2, "little")        # planes
    header[28:30] = (24).to_bytes(2, "little")       # bpp
    header[30:34] = (0).to_bytes(4, "little")        # BI_RGB
    header[34:38] = img_size.to_bytes(4, "little")
    body = bytearray()
    bgr = arr[:, :, ::-1]                            # BMP stores BGR
    zeros = bytes(pad)
    for y in range(h - 1, -1, -1):                   # bottom-up
        body += bgr[y].tobytes() + zeros
    return bytes(header) + bytes(body)


def _decode_bmp(b: bytes) -> np.ndarray:
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    data = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    rows = data.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()                   # BGR -> RGB


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big")
        + tag
        + body
        + zlib.crc32(tag + body).to_bytes(4, "big")
    )


def _paeth(left: np.ndarray, up: np.ndarray, upleft: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec §9.4), vectorized over a pixel row."""
    l_ = left.astype(np.int32)
    u = up.astype(np.int32)
    ul = upleft.astype(np.int32)
    p = l_ + u - ul
    pa, pb, pc = np.abs(p - l_), np.abs(p - u), np.abs(p - ul)
    out = np.where((pa <= pb) & (pa <= pc), l_, np.where(pb <= pc, u, ul))
    return out.astype(np.uint8)


def encode_png(arr: np.ndarray, filters: str = "cycle") -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an 8-bit truecolor PNG
    (stdlib zlib deflate, no codec libraries).  `filters` picks the
    per-row filter type: 'cycle' walks 0..4 by row index so a round-trip
    exercises every unfilter path (None/Sub/Up/Average/Paeth); an
    integer string like '0' pins one type."""
    import zlib

    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    bpp = 3
    raw = arr.reshape(h, w * bpp).astype(np.uint8)
    out = bytearray()
    prior = np.zeros(w * bpp, dtype=np.uint8)
    for r in range(h):
        row = raw[r]
        ft = r % 5 if filters == "cycle" else int(filters)
        left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.uint8), prior[:-bpp]])
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = row - left
        elif ft == 2:
            filt = row - prior
        elif ft == 3:
            filt = row - (
                (left.astype(np.int32) + prior.astype(np.int32)) // 2
            ).astype(np.uint8)
        else:
            filt = row - _paeth(left, prior, upleft)
        out += bytes([ft]) + filt.astype(np.uint8).tobytes()
        prior = row
    ihdr = (
        int(w).to_bytes(4, "big")
        + int(h).to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # bitdepth 8, truecolor, no interlace
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(b: bytes) -> np.ndarray:
    """Pure-NumPy PNG decode for 8-bit truecolor, non-interlaced images:
    stdlib zlib inflate + per-row unfiltering (None/Sub/Up/Average/
    Paeth).  Sub/Average/Paeth reconstruction is sequential in the left
    neighbor, so those rows loop over pixels — fine for the metadata-
    sized fixtures this seam decodes; a production decoder for large
    rasters plugs in here (same signature)."""
    import zlib

    if b[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        tag = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            bitdepth, colortype, _, _, interlace = body[8:13]
            if bitdepth != 8 or colortype != 2 or interlace != 0:
                raise NotImplementedError(
                    "only 8-bit truecolor non-interlaced PNG supported"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln  # len + tag + body + crc
    if w is None:
        raise ValueError("PNG missing IHDR")
    bpp = 3
    stride = w * bpp
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as ex:            # poison-payload hardening: a
        # corrupt deflate stream is a malformed payload, not a crash
        raise ValueError(f"PNG IDAT inflate failed: {ex}") from ex
    data = np.frombuffer(raw, dtype=np.uint8)
    if len(data) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    data = data.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ft = int(data[r, 0])
        row = data[r, 1:].copy()
        if ft == 0:
            rec = row
        elif ft == 2:
            rec = row + prior
        elif ft == 1:
            rec = row
            for i in range(bpp, stride):
                rec[i] = (int(rec[i]) + int(rec[i - bpp])) & 0xFF
        elif ft == 3:
            rec = row
            for i in range(stride):
                left = int(rec[i - bpp]) if i >= bpp else 0
                rec[i] = (int(rec[i]) + (left + int(prior[i])) // 2) & 0xFF
        elif ft == 4:
            rec = row
            for i in range(stride):
                left = int(rec[i - bpp]) if i >= bpp else 0
                upleft = int(prior[i - bpp]) if i >= bpp else 0
                rec[i] = (
                    int(rec[i])
                    + int(_paeth(
                        np.uint8(left), prior[i], np.uint8(upleft)
                    ))
                ) & 0xFF
            rec = rec.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[r] = rec
        prior = out[r]
    return out.reshape(h, w, 3).copy()


def _decode_ppm(b: bytes) -> np.ndarray:
    if b[:2] != b"P6":
        raise ValueError("not a binary PPM payload")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens (comments unsupported — fixture-grade parser), then one
    # whitespace byte, then raw RGB
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1                                         # single ws after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("only maxval=255 PPM supported")
    data = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
    return data.reshape(h, w, 3).copy()


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    """One RIFF chunk: tag, little-endian body length, body, and the pad
    byte that word-aligns the next chunk."""
    return tag + len(body).to_bytes(4, "little") + body + b"\x00" * (len(body) & 1)


def _riff_chunks(data: bytes, pos: int = 0) -> Iterator[tuple[bytes, bytes]]:
    """(tag, body) of each RIFF chunk from `pos` on, skipping the pad
    bytes that word-align them."""
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
        yield data[pos : pos + 4], data[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode an (n_samples, n_channels) int16 array as a RIFF/WAVE
    PCM16 file — the fixture writer for the real audio-decode path."""
    assert samples.dtype == np.int16 and samples.ndim == 2
    ch = samples.shape[1]
    # interleaved little-endian PCM16: even-length, so no pad byte
    return _riff_wave(1, ch, sample_rate, 2 * ch, 16, b"", samples.tobytes())


def _riff_wave(fmt_code: int, ch: int, sample_rate: int, block_align: int,
               bits: int, fmt_extra: bytes, data: bytes) -> bytes:
    byte_rate = sample_rate * block_align
    fmt = (
        fmt_code.to_bytes(2, "little")
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
        + fmt_extra
    )
    return _riff_chunk(
        b"RIFF",
        b"WAVE" + _riff_chunk(b"fmt ", fmt) + _riff_chunk(b"data", data))


def encode_wav_g711(samples: np.ndarray, sample_rate: int, law: str) -> bytes:
    """Encode an (n, ch) int16 array as a G.711-companded RIFF/WAVE
    file (fmt 7 = mu-law, fmt 6 = A-law) — the fixture twin for the
    compressed-audio decode path."""
    assert samples.dtype == np.int16 and samples.ndim == 2
    n, ch = samples.shape
    codes = g711_encode(samples.reshape(-1), law)
    fmt_code = 7 if law == "ulaw" else 6
    # cbSize=0 extension field, as real telephony WAVs carry
    return _riff_wave(fmt_code, ch, sample_rate, ch, 8,
                      (0).to_bytes(2, "little"), codes.tobytes())


def encode_wav_adpcm(samples: np.ndarray, sample_rate: int,
                     samples_per_block: int) -> bytes:
    """Encode an (n, ch) int16 array as an IMA-ADPCM RIFF/WAVE file
    (fmt 0x11).  n must be an exact multiple of samples_per_block and
    samples_per_block = 1 + 8k; each block carries its own
    predictor/index header and is independently decodable — the
    intra-payload parallel unit."""
    assert samples.dtype == np.int16 and samples.ndim == 2
    n, ch = samples.shape
    if n % samples_per_block != 0:
        raise ValueError("sample count must be a multiple of samples_per_block")
    block_align = 4 * ch + ((samples_per_block - 1) // 2) * ch
    data = b"".join(
        ima_adpcm_encode_block(samples[p : p + samples_per_block])
        for p in range(0, n, samples_per_block)
    )
    extra = (2).to_bytes(2, "little") + samples_per_block.to_bytes(2, "little")
    return _riff_wave(0x11, ch, sample_rate, block_align, 4, extra, data)


def _decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """(samples (n, ch) int16, sample_rate) of a RIFF/WAVE payload."""
    _, samples, sample_rate = _decode_wav_fmt(b)
    return samples, sample_rate


def _decode_wav_fmt(b: bytes) -> tuple[int, np.ndarray, int]:
    """Pure-NumPy RIFF/WAVE decode: walk the chunk list (skipping
    unknown chunks by their declared size, with word alignment), parse
    fmt, return (fmt code, samples (n, ch) int16, sample_rate).  Supported
    codecs: PCM16 (fmt 1), G.711 mu-law (fmt 7) / A-law (fmt 6), and
    IMA/DVI ADPCM (fmt 0x11) — see ocr_spark/functions/audio.py.
    Float/24-bit/perceptual (mp3/ogg) streams raise
    NotImplementedError — the same honest-seam convention as the image
    decoders."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    sample_rate = n_channels = fmt_code = bits = None
    block_align = 0
    data = None
    for tag, body in _riff_chunks(b, 12):
        if tag == b"fmt ":
            fmt_code = int.from_bytes(body[0:2], "little")
            n_channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            block_align = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif tag == b"data":
            data = body
    if sample_rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if n_channels < 1:
        raise ValueError("WAV declares zero channels")
    if fmt_code == 1 and bits == 16:
        samples = np.frombuffer(
            data, dtype="<i2",
            count=(len(data) // (2 * n_channels)) * n_channels,
        ).reshape(-1, n_channels)
        return fmt_code, samples, sample_rate
    if fmt_code in (6, 7) and bits == 8:
        law = "ulaw" if fmt_code == 7 else "alaw"
        codes = np.frombuffer(
            data, dtype=np.uint8,
            count=(len(data) // n_channels) * n_channels,
        )
        return fmt_code, g711_decode(codes, law).reshape(-1, n_channels), sample_rate
    if fmt_code == 0x11 and bits == 4:
        if block_align <= 4 * n_channels:
            raise ValueError("ADPCM block_align too small for header")
        chunks = [
            ima_adpcm_decode_block(data[p : p + block_align], n_channels)
            for p in range(0, len(data), block_align)
        ]
        return fmt_code, np.concatenate(chunks, axis=0), sample_rate
    raise NotImplementedError(
        f"unsupported WAV codec (fmt={fmt_code}, bits={bits}); "
        "PCM16, G.711 ulaw/alaw, and IMA ADPCM are implemented — "
        "perceptual codecs (mp3/ogg) need a codec library"
    )


def _decode_jpeg_rgb(b: bytes) -> np.ndarray:
    """A JPEG as (H, W, 3) RGB, grayscale repeated across channels."""
    arr = decode_baseline(b)
    return np.repeat(arr[:, :, None], 3, axis=2) if arr.ndim == 2 else arr


def decode_media_real(payload: bytes, media_type: str) -> np.ndarray:
    """Real decode for raster images (pure NumPy, no codec libraries):
    24-bit BMP, binary PPM, 8-bit truecolor PNG (stdlib zlib inflate +
    NumPy unfiltering), and JPEG — baseline sequential DCT (grayscale,
    4:4:4 as in the reference's own test_image.jpg, 4:2:0, 4:2:2) AND
    progressive SOF2 (spectral selection + successive approximation;
    see ocr_spark/functions/jpeg.py) — routed by magic bytes.
    Compressed audio and inter-coded video remain the single marked
    seam where librosa/pyav would plug in — the distributed plumbing
    around this function is identical either way."""
    if media_type == "image":
        if payload[:2] == b"BM":
            return _decode_bmp(payload)
        if payload[:2] == b"P6":
            return _decode_ppm(payload)
        if payload[:8] == _PNG_MAGIC:
            return _decode_png(payload)
        if payload[:4] == b"GIF8":
            return decode_gif(payload)
        if payload[:4] == b"II*\x00":
            return decode_tiff(payload)
        if payload[:3] == b"\xff\xd8\xff":
            return _decode_jpeg_rgb(payload)
    if media_type == "audio" and payload[:4] == b"RIFF":
        return _decode_wav(payload)[0]
    if (
        media_type == "video"
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"AVI "
    ):
        return _decode_mjpeg_avi(payload)
    raise NotImplementedError(
        f"no in-sandbox codec for media_type={media_type!r} "
        f"magic={payload[:4]!r}; compressed audio and inter-coded "
        "video decode needs librosa/pyav "
        "(deterministic stub path: decode_media_features)"
    )


def _decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    payloads = pdf["payload"]
    n_bytes = payloads.map(len).astype("int32")
    magic = payloads.map(_sniff_magic)
    # Deterministic fake decode from header bytes (stub for real codecs;
    # keeps batch shapes/types exactly as a real decoder would produce).
    b0 = payloads.map(lambda b: b[0] if len(b) > 0 else 0).astype("int64")
    b1 = payloads.map(lambda b: b[1] if len(b) > 1 else 0).astype("int64")
    checksum = payloads.map(_checksum).astype("int64")
    is_img = (pdf["media_type"] == "image").to_numpy()
    width = np.where(is_img, (b0 % 64 + 1) * 16, 0).astype("int32")
    height = np.where(is_img, (b1 % 64 + 1) * 16, 0).astype("int32")
    duration = np.where(is_img, 0, (checksum % 10_000) + 1).astype("int32")
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].astype("int64"),
            "media_type": pdf["media_type"],
            "n_bytes": n_bytes,
            "magic": magic,
            "fake_width": width,
            "fake_height": height,
            "fake_duration_ms": duration,
            "checksum": checksum,
        }
    )


def _sniff_magic(b: bytes) -> str:
    for prefix, name in _MAGIC.items():
        if b.startswith(prefix):
            return name
    return "unknown"


def _checksum(b: bytes) -> int:
    if len(b) == 0:
        return 0
    arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    # positional rolling checksum, exact in int64 for payloads << 2^44
    return int((arr * (np.arange(len(arr)) % 1009 + 1)).sum())


def encode_mjpeg_avi(frames: list[bytes], fps: int, w: int, h: int) -> bytes:
    """Encode JPEG frame payloads as an MJPEG AVI (RIFF 'AVI ' with
    hdrl/movi/idx1 — the public AVI 1.0 layout): avih + one 'vids'
    stream with MJPG handler, frames as 00dc chunks.  The fixture
    writer for the real video-decode path."""
    n = len(frames)
    avih = b"".join(
        v.to_bytes(4, "little")
        for v in [
            1_000_000 // max(fps, 1),   # dwMicroSecPerFrame
            0, 0, 0x10,                 # maxbytes, padding, AVIF_HASINDEX
            n, 0, 1,                    # totalframes, initial, streams
            0, w, h, 0, 0, 0, 0,        # sugbuf, width, height, reserved
        ]
    )
    strh = (
        b"vids" + b"MJPG"
        + b"".join(
            v.to_bytes(4, "little")
            for v in [0, 0, 0, 1, fps, 0, n, 0, 0xFFFFFFFF, 0]
        )                               # flags, prio, init, scale, rate,
                                        # start, length, sugbuf, quality, ssize
        + b"\x00" * 8                   # rcFrame
    )
    strf = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"MJPG"
        + (w * h * 3).to_bytes(4, "little")
        + b"\x00" * 16
    )
    strl = _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
    hdrl = _riff_chunk(
        b"LIST",
        b"hdrl" + _riff_chunk(b"avih", avih) + _riff_chunk(b"LIST", b"strl" + strl),
    )
    movi_chunks = [_riff_chunk(b"00dc", f) for f in frames]
    movi = _riff_chunk(b"LIST", b"movi" + b"".join(movi_chunks))
    # idx1: one entry per frame, offsets relative to start of movi data
    idx = bytearray()
    off = 4                             # past the 'movi' list-type fourcc
    for f, chunk in zip(frames, movi_chunks):
        idx += b"00dc" + (0x10).to_bytes(4, "little")
        idx += off.to_bytes(4, "little") + len(f).to_bytes(4, "little")
        off += len(chunk)
    return _riff_chunk(
        b"RIFF", b"AVI " + hdrl + movi + _riff_chunk(b"idx1", bytes(idx)))


def _decode_mjpeg_avi(b: bytes) -> np.ndarray:
    """Pure-NumPy MJPEG AVI decode: walk the RIFF tree to the movi
    LIST, decode every 00dc/00db frame with the baseline JPEG decoder
    (ocr_spark/functions/jpeg.py), return frames stacked as
    (n_frames, H, W, 3) uint8.  Non-MJPEG streams inside an AVI fall
    through to the JPEG decoder's own errors; other containers are the
    codec seam."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    frames: list[np.ndarray] = []

    def walk(data: bytes) -> None:
        for tag, body in _riff_chunks(data):
            if tag == b"LIST":
                if body[:4] in (b"movi", b"hdrl", b"strl", b"rec "):
                    walk(body[4:])
            elif tag[2:4] in (b"dc", b"db") and body[:3] == b"\xff\xd8\xff":
                frames.append(_decode_jpeg_rgb(body))

    walk(b[12:])
    if not frames:
        raise ValueError("AVI contains no decodable MJPEG frames")
    return np.stack(frames)


# ---------------------------------------------------------------------------
# Decode tiers: one closed-form fixture per doc_id, one measure per codec
# family, and one mapInPandas operator (`decode_tier`) that runs any pair.
# Each fixture is constructed so a SQL oracle can recompute the measured
# columns from doc_id alone; the fixture encode stands in for a binary
# scan column at production scale.
# ---------------------------------------------------------------------------

IMAGE_DECODE_SCHEMA_DDL = (
    "doc_id bigint, width bigint, height bigint, n_px bigint, px_sum bigint"
)

GIF_DECODE_SCHEMA_DDL = (
    "doc_id bigint, width bigint, height bigint, n_px bigint, "
    "px_sum bigint, pos_sum bigint"
)

AUDIO_DECODE_SCHEMA_DDL = (
    "doc_id bigint, n_samples bigint, sample_rate bigint, "
    "n_channels bigint, amp_sum bigint, amp_max bigint"
)

G711_DECODE_SCHEMA_DDL = (
    "doc_id bigint, fmt_code bigint, n_samples bigint, sample_rate bigint, "
    "n_channels bigint, val_sum bigint, amp_sum bigint, amp_max bigint"
)

MP3_DECODE_SCHEMA_DDL = (
    "doc_id bigint, n_frames bigint, sample_rate bigint, "
    "bitrate_kbps_sum bigint, n_samples bigint, crc_frames bigint, "
    "resv_sum bigint, scf_sum bigint, pcm_abs_q bigint"
)

OGG_DECODE_SCHEMA_DDL = (
    "doc_id bigint, n_pages bigint, n_packets bigint, "
    "spanning_packets bigint, serial bigint, channels bigint, "
    "sample_rate bigint, bitrate_nominal bigint, vendor_len bigint, "
    "n_comments bigint, comment_bytes bigint, setup_bytes bigint, "
    "n_audio_packets bigint, audio_bytes_sum bigint, granule_last bigint"
)

VIDEO_DECODE_SCHEMA_DDL = (
    "doc_id bigint, n_frames bigint, width bigint, height bigint, "
    "px_sum_all bigint"
)


def _columns(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(",")]


def _flat_tiles(tx: int, ty: int, base: int) -> np.ndarray:
    """(8*ty, 8*tx) int64 grid of flat 8x8 tiles, tile (bx, by) value
    base + 5*bx + 11*by — the exactly-round-tripping JPEG fixture body."""
    bx = np.arange(tx, dtype=np.int64)
    by = np.arange(ty, dtype=np.int64)
    tiles = base + 5 * bx[None, :] + 11 * by[:, None]
    return np.kron(tiles, np.ones((8, 8), dtype=np.int64))


def bmp_fixture(d: int) -> bytes:
    """Deterministic BMP fixture per doc_id: width = 8 + doc_id % 16,
    height = 4 + doc_id % 8, uniform gray fill = doc_id % 256.  Closed
    form by construction, so a SQL oracle can verify the decoded
    geometry AND the full pixel payload (px_sum)."""
    return encode_bmp(np.full((4 + d % 8, 8 + d % 16, 3), d % 256, dtype=np.uint8))


def png_fixture(d: int) -> bytes:
    """Deterministic PNG fixture per doc_id: width = 8 + doc_id % 16,
    height = 4 + doc_id % 8, per-channel pixel value = (doc_id % 200) + x
    (a horizontal gradient — base + x <= 221, no uint8 wrap), row filter
    type cycling 0..4 so every unfilter path runs.  px_sum has the
    closed form 3 * h * (w*base + w*(w-1)/2) a SQL oracle can verify."""
    w, h, base = 8 + d % 16, 4 + d % 8, d % 200
    row = (base + np.arange(w, dtype=np.int64)) % 256
    arr = np.repeat(row[None, :, None], h, axis=0).repeat(3, axis=2)
    return encode_png(arr.astype(np.uint8), filters="cycle")


def gif_fixture(d: int) -> bytes:
    """Deterministic GIF fixture per doc_id: w = 8 + doc_id % 16,
    h = 4 + doc_id % 8, 64-entry grayscale palette (4i,4i,4i), pixel
    index (base + x + 7*y) % 64 with base = doc_id % 64 — the 7*y term
    makes rows DIFFER so the position-weighted sum catches interlace
    reordering bugs.  Odd doc_ids are written INTERLACED; doc_id % 3
    == 0 uses a 128-entry dictionary cap so the LZW clear-code reset
    path runs on a third of the corpus."""
    w, h, base = 8 + d % 16, 4 + d % 8, d % 64
    idx = ((base + np.arange(w)[None, :] + 7 * np.arange(h)[:, None])
           % 64).astype(np.uint8)
    pal = np.arange(64, dtype=np.uint8)[:, None].repeat(3, 1) * 4
    return encode_gif(idx, pal, interlace=bool(d % 2),
                      dict_cap=128 if d % 3 == 0 else 4096)


def tiff_fixture(d: int) -> bytes:
    """Deterministic TIFF fixture per doc_id: w = 8 + doc_id % 16,
    h = 4 + doc_id % 8, channel value (base + x + 7*y + 50*c) % 256 —
    row- AND channel-varying so the position-weighted oracle catches
    strip-assembly and predictor bugs.  Compression cycles by doc_id:
    %3==0 uncompressed, %3==1 PackBits, %3==2 LZW; LZW rows with
    doc_id %6==5 additionally use the horizontal-differencing
    predictor.  Strip height 4 forces multi-strip assembly."""
    w, h, base = 8 + d % 16, 4 + d % 8, d % 200
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    arr = ((base + x + 7 * y + 50 * c) % 256).astype(np.uint8)
    comp = {0: 1, 1: 32773, 2: 5}[d % 3]
    pred = 2 if (comp == 5 and d % 6 == 5) else 1
    return encode_tiff(arr, compression=comp, predictor=pred, rows_per_strip=4)


def jpeg_fixture(d: int) -> bytes:
    """Deterministic baseline-JPEG fixture per doc_id: a grid of flat
    8x8 tiles, TX = 1 + doc_id % 3 tiles across, TY = 1 + doc_id % 2
    down, tile (bx, by) value = base + 5*bx + 11*by with
    base = doc_id % 151 (max 171, no uint8 wrap).  With all-ones quant
    tables a flat block round-trips EXACTLY through FDCT->quantize->
    Huffman->dequantize->IDCT (the DC coefficient 8*(v-128) is integral
    and every AC is 0), so px_sum has the closed form
    3 * 64 * sum(tiles) a SQL oracle can verify — while the stream
    itself is a genuine Huffman-coded JPEG exercising DC prediction
    across blocks, EOB, byte stuffing, and marker parsing."""
    return encode_baseline(_flat_tiles(1 + d % 3, 1 + d % 2, d % 151).astype(np.uint8))


def progressive_jpeg_fixture(d: int) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) JPEG fixture per doc_id, with a
    closed-form pixel payload that is exact through the multi-scan
    pipeline.  Tile grid: TX = 1 + doc_id % 4 across, TY = 1 + doc_id % 3
    down; tile (bx, by) carries flat value v = base + 5*bx + 11*by
    (base = 20 + doc_id % 170) PLUS amp * pattern where
    pattern = [1,-1,-1,1,1,-1,-1,1] along columns (amp = 1 + doc_id % 17).
    The pattern is the sign layout of the (u=0, v=4) DCT basis, whose
    rows/columns all have |A| = sqrt(2)/4, so the FDCT of one tile is
    EXACTLY two integer coefficients — DC = 8*(v-128) and AC 8*amp at
    zigzag position 14 — making the successive-approximation +
    spectral-selection round-trip lossless and px_sum independent of
    amp (the pattern sums to zero per row):
    px_sum = 3 * 64 * sum(tiles).  Unlike the flat-tile baseline
    fixture, every payload exercises nonzero-AC band scans, EOB runs,
    and both refinement scan kinds."""
    tx = 1 + d % 4
    pattern = np.array([1, -1, -1, 1, 1, -1, -1, 1], dtype=np.int64)
    arr = _flat_tiles(tx, 1 + d % 3, 20 + d % 170)
    arr = arr + (1 + d % 17) * np.tile(pattern, tx)[None, :]
    return encode_progressive(arr.astype(np.uint8))


def wav_fixture(d: int) -> bytes:
    """Deterministic PCM16 WAV fixture per doc_id: n = 400 + doc_id %
    100 samples, ch = 1 + doc_id % 2 channels, sample_rate = 8000 +
    (doc_id % 5) * 1000, channel-c sample value
    s(t, c) = ((doc_id*13 + 7*t + 31*c) % 201) - 100.  Integer
    arithmetic end to end, so sum(|s|) and max(|s|) have exact SQL twins
    (a lateral range join in the oracle)."""
    t = np.arange(400 + d % 100, dtype=np.int64)[:, None]
    c = np.arange(1 + d % 2, dtype=np.int64)[None, :]
    s = ((d * 13 + 7 * t + 31 * c) % 201) - 100
    return encode_wav(s.astype(np.int16), 8000 + (d % 5) * 1000)


def g711_fixture(d: int) -> bytes:
    """Deterministic G.711 WAV fixture per doc_id (even doc_id mu-law
    fmt 7, odd A-law fmt 6; mono 8 kHz; n = 300 + doc_id % 50).  Every
    sample value is an EXACT G.711 codeword — the decode-table image at
    mantissa m = (13*doc_id + 7t) % 16, segment e = (5*doc_id + 3t) % 8,
    sign (doc_id + t) % 2 — so companding round-trips losslessly and the
    decoded stream has a closed-form SQL twin (ulaw value
    ((8m+132)<<e)-132; alaw 16m+8 at e=0 else (16m+264)<<(e-1))."""
    t = np.arange(300 + d % 50, dtype=np.int64)
    m = (13 * d + 7 * t) % 16
    e = (5 * d + 3 * t) % 8
    sgn = np.where((d + t) % 2 == 0, 1, -1)
    if d % 2 == 0:
        law = "ulaw"
        val = ((m * 8 + 132) << e) - 132
    else:
        law = "alaw"
        val = np.where(e == 0, m * 16 + 8,
                       (m * 16 + 264) << np.maximum(e - 1, 0))
    return encode_wav_g711((sgn * val).astype(np.int16).reshape(-1, 1), 8000, law)


def adpcm_fixture(d: int) -> bytes:
    """Deterministic IMA-ADPCM WAV fixture per doc_id: ch = 1 +
    doc_id % 2 channels, 1 + doc_id % 3 blocks of 65 samples at
    11025 Hz.  Channel-c starts at ((29*doc_id + 41c) % 201) - 100 and
    steps by a delta drawn from {-4,-3,-1,0,1,3,4} via
    (13*doc_id + 7t + 31c) % 7 — exactly the magnitudes representable
    at step-table index 0 (step=7: 0/1/3/4 plus sign), whose codes all
    carry index delta -1 (clamped at 0), so the adaptive predictor
    tracks the waveform EXACTLY and the decode has a closed-form SQL
    twin (base + running delta sum)."""
    deltas = np.array([-4, -3, -1, 0, 1, 3, 4], dtype=np.int64)
    t = np.arange(65 * (1 + d % 3), dtype=np.int64)[:, None]
    c = np.arange(1 + d % 2, dtype=np.int64)[None, :]
    dl = deltas[(13 * d + 7 * t + 31 * c) % 7]
    dl[0, :] = 0                        # t=0 is the base sample
    base = ((29 * d + 41 * c) % 201) - 100
    return encode_wav_adpcm((base + dl.cumsum(axis=0)).astype(np.int16), 11025, 65)


def avi_fixture(d: int) -> bytes:
    """Deterministic MJPEG-AVI fixture per doc_id: F = 1 + doc_id % 4
    flat-tile JPEG frames (same tile grid as the JPEG fixture but
    base = doc_id % 100 and frame f shifts every tile by 17*f; max
    pixel value 99+10+11+51 = 171, no wrap), wrapped in a real AVI
    container with hdrl/movi/idx1.  Each frame round-trips exactly
    (flat blocks + unit quant tables), so the total pixel sum has a
    closed form over (tiles x frames) a SQL oracle can verify."""
    tx, ty = 1 + d % 3, 1 + d % 2
    frames = [encode_baseline(_flat_tiles(tx, ty, d % 100 + 17 * f).astype(np.uint8))
              for f in range(1 + d % 4)]
    return encode_mjpeg_avi(frames, fps=10, w=8 * tx, h=8 * ty)


def mixed_fixture(d: int) -> bytes:
    """Mixed-format, partially-POISONED payload fixture: per doc_id the
    format cycles BMP / PNG / JPEG (each with the same closed-form
    geometry as its dedicated fixture), and every doc_id % 10 == 7
    payload is truncated to 25 bytes — guaranteed mid-marker, so decode
    MUST yield an error row, never a crash.  Half the JPEG rows
    (doc_id % 6 == 5) are encoded PROGRESSIVE (SOF2) instead of
    baseline: flat tiles decode identically under both modes, so the
    closed-form oracle is unchanged while the envelope also covers
    multi-scan streams — including truncated-progressive poison
    (doc_id % 30 == 17)."""
    if d % 3 == 0:
        p = bmp_fixture(d)
    elif d % 3 == 1:
        p = png_fixture(d)
    elif d % 6 == 5:
        tiles = _flat_tiles(1 + d % 3, 1 + d % 2, d % 151)
        p = encode_progressive(tiles.astype(np.uint8))
    else:
        p = jpeg_fixture(d)
    return p[:25] if d % 10 == 7 else p


def _image_measure(b: bytes) -> tuple:
    """(width, height, n_px, px_sum) of a decoded raster image."""
    arr = decode_media_real(b, "image")
    h, w = arr.shape[:2]
    return w, h, w * h, int(arr.astype(np.int64).sum())


def _image_pos_measure(b: bytes) -> tuple:
    """The image measure plus pos_sum, the pixel sum weighted by raster
    position — row-order-sensitive, so a deinterlace or strip-assembly
    bug cannot hash-match."""
    arr = decode_media_real(b, "image")
    h, w = arr.shape[:2]
    px = arr.astype(np.int64)
    weights = np.arange(h * w, dtype=np.int64).reshape(h, w)
    return w, h, w * h, int(px.sum()), int((px.sum(axis=2) * weights).sum())


def _wav_measure(b: bytes) -> tuple:
    """(n_samples, sample_rate, n_channels, amp_sum, amp_max)."""
    samples, rate = _decode_wav(b)
    a = np.abs(samples.astype(np.int64))
    return samples.shape[0], rate, samples.shape[1], int(a.sum()), int(a.max())


def _wav_codec_measure(b: bytes) -> tuple:
    """The WAV measure plus the payload's own fmt code and the signed
    sample sum val_sum (it catches sign bugs the abs stats would mask)."""
    fmt_code, samples, rate = _decode_wav_fmt(b)
    s64 = samples.astype(np.int64)
    return (fmt_code, samples.shape[0], rate, samples.shape[1],
            int(s64.sum()), int(np.abs(s64).sum()), int(np.abs(s64).max()))


def _mp3_measure(b: bytes) -> tuple:
    """Frame geometry, scalefactor/reservoir sums and the quantized PCM
    energy pcm_abs_q (exactly 0 for the silent fixtures — computed from
    the decoded PCM, not assumed)."""
    r = decode_mp3(b)
    return (*(int(r[k]) for k in _columns(MP3_DECODE_SCHEMA_DDL)[1:-1]),
            int(round(float(np.abs(r["pcm"]).sum()) * 1e6)))


def _ogg_measure(b: bytes) -> tuple:
    """Page/packet counters and Vorbis header fields of an ogg stream."""
    r = decode_ogg_stream(b)
    return tuple(int(r[k]) for k in _columns(OGG_DECODE_SCHEMA_DDL)[1:])


def _video_measure(b: bytes) -> tuple:
    """(n_frames, width, height, px_sum_all) of a decoded video."""
    vid = decode_media_real(b, "video")
    nf, h, w, _ = vid.shape
    return nf, w, h, int(vid.astype(np.int64).sum())


class DecodeTier(NamedTuple):
    fixture: Callable[[int], bytes]
    measure: Callable[[bytes], tuple]
    schema: str


# Tier name -> closed-form fixture, measure, output schema.  mp3 and ogg
# fixtures live next to their codecs (functions/mp3.py, functions/ogg.py).
DECODE_TIERS: dict[str, DecodeTier] = {
    "bmp": DecodeTier(bmp_fixture, _image_measure, IMAGE_DECODE_SCHEMA_DDL),
    "png": DecodeTier(png_fixture, _image_measure, IMAGE_DECODE_SCHEMA_DDL),
    "gif": DecodeTier(gif_fixture, _image_pos_measure, GIF_DECODE_SCHEMA_DDL),
    "tiff": DecodeTier(tiff_fixture, _image_pos_measure, GIF_DECODE_SCHEMA_DDL),
    "jpeg": DecodeTier(jpeg_fixture, _image_measure, IMAGE_DECODE_SCHEMA_DDL),
    "jpeg_progressive": DecodeTier(
        progressive_jpeg_fixture, _image_measure, IMAGE_DECODE_SCHEMA_DDL),
    "wav": DecodeTier(wav_fixture, _wav_measure, AUDIO_DECODE_SCHEMA_DDL),
    "g711": DecodeTier(g711_fixture, _wav_codec_measure, G711_DECODE_SCHEMA_DDL),
    "adpcm": DecodeTier(adpcm_fixture, _wav_codec_measure, G711_DECODE_SCHEMA_DDL),
    "mp3": DecodeTier(encode_mp3_silence, _mp3_measure, MP3_DECODE_SCHEMA_DDL),
    "ogg": DecodeTier(encode_ogg_vorbis_fixture, _ogg_measure, OGG_DECODE_SCHEMA_DDL),
    "avi": DecodeTier(avi_fixture, _video_measure, VIDEO_DECODE_SCHEMA_DDL),
}


def decode_tier(df: DataFrame, tier: str) -> DataFrame:
    """Distributed REAL decode of one DECODE_TIERS tier: mapInPandas over
    (doc_id) rows — synthesize each doc's fixture, decode it with the
    pure-NumPy codec, and emit the tier's measured columns as bigint.
    Narrow op, zero shuffle."""
    fixture, measure, schema = DECODE_TIERS[tier]
    cols = _columns(schema)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [(d, *measure(fixture(d))) for d in map(int, pdf["doc_id"])]
            yield pd.DataFrame(rows, columns=cols).astype("int64")

    return df.select("doc_id").mapInPandas(gen, schema=schema)


BINARY_DECODE_SCHEMA_DDL = (
    "doc_id bigint, status string, err string, width bigint, "
    "height bigint, n_px bigint, px_sum bigint"
)


def decode_binary_images(df: DataFrame) -> DataFrame:
    """PRODUCTION-contract image decode over a real (doc_id, payload)
    binary column: every payload decodes independently inside
    mapInPandas, and a malformed payload yields a status='error' row
    with the error class — one poison byte stream can NEVER fail the
    stage (the same error-envelope contract as the text extractor's
    status column; decoder exception classes are pinned to
    ValueError/NotImplementedError by the mutation fuzz in
    tests/test_jpeg.py).  Narrow op, zero shuffle."""
    cols = _columns(BINARY_DECODE_SCHEMA_DDL)
    ints = [c for c in cols if c not in ("status", "err")]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rows.append((doc_id, "ok", None,
                                 *_image_measure(bytes(payload))))
                except (ValueError, NotImplementedError) as ex:
                    err = f"{type(ex).__name__}: {ex}"[:200]
                    rows.append((doc_id, "error", err, 0, 0, 0, 0))
            out = pd.DataFrame(rows, columns=cols)
            out[ints] = out[ints].astype("int64")
            yield out

    return df.select("doc_id", "payload").mapInPandas(
        gen, schema=BINARY_DECODE_SCHEMA_DDL)


def decode_media_features(df: DataFrame) -> DataFrame:
    """Distributed media feature extraction: mapInPandas over Arrow
    batches of (doc_id, media_type, payload).  Narrow op — partitioning
    is the caller's concern, same contract as extract_turns."""
    pruned = df.select("doc_id", "media_type", "payload")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _decode_batch(pdf)

    return pruned.mapInPandas(gen, schema=MEDIA_SCHEMA_DDL)
