"""Multimodal binary-column plumbing (ocr_spark/functions/multimodal.py).

Real decode (pure-NumPy BMP/PPM/PNG/WAV/MJPEG-AVI here; JPEG, GIF, TIFF,
G.711/ADPCM, mp3 and ogg in their own test files) is pinned by
round-trip tests; perceptual audio and inter-coded video stay an
explicit NotImplementedError.  Every DECODE_TIERS entry runs through
`decode_tier` on Spark against its in-process measure.  The rest pins
the Spark plumbing: schema, Arrow binary transport, batch shapes,
determinism, magic sniffing, and empty-payload handling.
"""

import numpy as np
import pandas as pd
import pytest

from ocr_spark.functions.multimodal import (
    DECODE_TIERS,
    _decode_batch,
    _decode_png,
    bmp_fixture,
    decode_media_features,
    decode_media_real,
    decode_tier,
    encode_bmp,
    encode_png,
    png_fixture,
    with_binary_payload,
)


def test_decode_real_remaining_codecs_still_stubbed():
    # compressed audio / video remain the marked codec seam; a PNG-ish
    # payload with a corrupt magic tail is NOT a PNG and falls to the
    # seam too.  (JPEG and RIFF/WAVE now route to real decoders — junk
    # payloads behind those magics are malformed streams, ValueError,
    # not the codec seam.)
    with pytest.raises(ValueError):
        decode_media_real(b"\xff\xd8\xff....", "image")
    with pytest.raises(NotImplementedError):
        decode_media_real(b"\x89PNG....", "image")
    with pytest.raises(ValueError):
        decode_media_real(b"RIFF\x04\x00\x00\x00WAVE", "audio")
    with pytest.raises(NotImplementedError):
        decode_media_real(b"ID3\x04 mp3 frame data", "audio")
    with pytest.raises(NotImplementedError):
        decode_media_real(b"\x1aE\xdf\xa3 mkv", "video")


def test_wav_roundtrip_exact():
    from ocr_spark.functions.multimodal import _decode_wav, encode_wav

    rng = np.random.RandomState(31)
    for ch in (1, 2):
        s = rng.randint(-32768, 32768, size=(777, ch)).astype(np.int16)
        out, rate = _decode_wav(encode_wav(s, 44100))
        assert rate == 44100
        assert np.array_equal(out, s)


def test_wav_skips_unknown_chunks():
    from ocr_spark.functions.multimodal import _decode_wav, encode_wav

    s = np.arange(16, dtype=np.int16).reshape(-1, 1)
    b = encode_wav(s, 8000)
    # splice an unknown odd-length chunk (word-aligned) before fmt
    extra = b"LIST" + (5).to_bytes(4, "little") + b"junk5" + b"\x00"
    patched = b[:12] + extra + b[12:]
    patched = (
        patched[:4]
        + (len(patched) - 8).to_bytes(4, "little")
        + patched[8:]
    )
    out, rate = _decode_wav(patched)
    assert rate == 8000 and np.array_equal(out, s)


def test_mjpeg_avi_roundtrip_exact():
    from ocr_spark.functions.jpeg import encode_baseline
    from ocr_spark.functions.multimodal import (
        _decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    rng = np.random.RandomState(37)
    tiles = rng.randint(0, 256, size=(2, 2))
    imgs = []
    frames = []
    for f in range(3):
        arr = np.kron((tiles + f) % 256,
                      np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
        imgs.append(np.repeat(arr[:, :, None], 3, axis=2))
        frames.append(encode_baseline(arr))
    vid = _decode_mjpeg_avi(encode_mjpeg_avi(frames, fps=10, w=16, h=16))
    assert vid.shape == (3, 16, 16, 3)
    assert np.array_equal(vid, np.stack(imgs))


def test_avi_without_frames_raises():
    from ocr_spark.functions.multimodal import (
        _decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    b = encode_mjpeg_avi([], fps=10, w=8, h=8)
    with pytest.raises(ValueError, match="no decodable"):
        _decode_mjpeg_avi(b)
    with pytest.raises(ValueError, match="RIFF/AVI"):
        _decode_mjpeg_avi(b"RIFF\x04\x00\x00\x00WAVE")


def test_wav_non_pcm_rejected():
    from ocr_spark.functions.multimodal import _decode_wav, encode_wav

    s = np.zeros((8, 1), dtype=np.int16)
    b = bytearray(encode_wav(s, 8000))
    i = bytes(b).find(b"fmt ")
    b[i + 8] = 3                        # IEEE-float format code
    with pytest.raises(NotImplementedError, match="PCM16"):
        _decode_wav(bytes(b))


@pytest.mark.parametrize("filters", ["0", "1", "2", "3", "4", "cycle"])
def test_png_roundtrip_all_filters(filters):
    rng = np.random.default_rng(int(filters) if filters != "cycle" else 99)
    arr = rng.integers(0, 256, size=(7, 13, 3), dtype=np.uint8)
    out = decode_media_real(encode_png(arr, filters=filters), "image")
    np.testing.assert_array_equal(out, arr)


@pytest.mark.parametrize("shape", [(1, 1), (1, 16), (11, 1), (8, 23)])
def test_png_roundtrip_edge_geometries(shape):
    rng = np.random.default_rng(shape[0] * 100 + shape[1])
    arr = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
    out = _decode_png(encode_png(arr, filters="cycle"))
    np.testing.assert_array_equal(out, arr)


def test_png_rejects_unsupported_shapes():
    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    b = bytearray(encode_png(arr))
    # IHDR body starts at offset 16; byte 25 is the bit depth
    b[24] = 16
    with pytest.raises(NotImplementedError):
        _decode_png(bytes(b))


def test_synthesized_png_closed_form():
    for doc_id in [0, 7, 137, 4321]:
        arr = decode_media_real(png_fixture(doc_id), "image")
        w, h, base = 8 + doc_id % 16, 4 + doc_id % 8, doc_id % 200
        assert arr.shape == (h, w, 3)
        assert int(arr.astype(np.int64).sum()) == 3 * h * (
            w * base + w * (w - 1) // 2
        )


def test_spark_png_decode_real(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(30)}))
    rows = {r.doc_id: r for r in decode_tier(df, "png").collect()}
    assert len(rows) == 30
    for i in range(30):
        w, h, base = 8 + i % 16, 4 + i % 8, i % 200
        assert rows[i].width == w and rows[i].height == h
        assert rows[i].px_sum == 3 * h * (w * base + w * (w - 1) // 2)


@pytest.mark.parametrize("w", [1, 2, 3, 4, 5, 16])
def test_bmp_roundtrip_all_paddings(w):
    """Row stride pads to 4 bytes — every w mod 4 case must survive."""
    rng = np.random.default_rng(w)
    arr = rng.integers(0, 256, size=(7, w, 3), dtype=np.uint8)
    out = decode_media_real(encode_bmp(arr), "image")
    np.testing.assert_array_equal(out, arr)


def test_bmp_decode_top_down():
    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    b = bytearray(encode_bmp(arr))
    # flip to top-down: negative height, rows already bottom-up in the
    # payload -> decoder must NOT re-flip
    b[22:26] = (-2).to_bytes(4, "little", signed=True)
    out = decode_media_real(bytes(b), "image")
    np.testing.assert_array_equal(out, arr[::-1])


def test_ppm_roundtrip():
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    payload = b"P6\n9 5\n255\n" + arr.tobytes()
    out = decode_media_real(payload, "image")
    np.testing.assert_array_equal(out, arr)


def test_synthesized_bmp_closed_form():
    for doc_id in [0, 7, 300]:
        arr = decode_media_real(bmp_fixture(doc_id), "image")
        assert arr.shape == (4 + doc_id % 8, 8 + doc_id % 16, 3)
        assert (arr == doc_id % 256).all()


def test_spark_image_decode_real(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(40)}))
    rows = {r.doc_id: r for r in decode_tier(df, "bmp").collect()}
    assert len(rows) == 40
    for i in range(40):
        w, h = 8 + i % 16, 4 + i % 8
        assert rows[i].width == w and rows[i].height == h
        assert rows[i].n_px == w * h
        assert rows[i].px_sum == (i % 256) * w * h * 3


def test_decode_batch_pure():
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "media_type": ["image", "audio", "video", "image"],
            "payload": [
                b"\x89PNG\r\n\x1a\n" + b"x" * 100,
                b"RIFF....WAVE",
                b"",
                b"\xff\xd8\xff\xe0jpegdata",
            ],
        }
    )
    out = _decode_batch(pdf)
    assert list(out.columns) == [
        "doc_id", "media_type", "n_bytes", "magic",
        "fake_width", "fake_height", "fake_duration_ms", "checksum",
    ]
    assert out.magic.tolist() == ["png", "riff", "unknown", "jpeg"]
    assert out.n_bytes.tolist() == [108, 12, 0, 12]
    # image rows get dims, non-image rows get duration
    assert out.fake_width[0] > 0 and out.fake_duration_ms[0] == 0
    assert out.fake_width[1] == 0 and out.fake_duration_ms[1] > 0
    # empty payload is a row, not an error (G26 isolation analogue)
    assert out.checksum[2] == 0
    # deterministic
    pd.testing.assert_frame_equal(out, _decode_batch(pdf))


def test_spark_multimodal_roundtrip(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50), "text": [f"doc {i} body" for i in range(50)]})
    )
    feats = decode_media_features(with_binary_payload(df))
    rows = feats.collect()
    assert len(rows) == 50
    by_id = {r.doc_id: r for r in rows}
    assert by_id[0].media_type == "image" and by_id[0].fake_width > 0
    assert by_id[1].media_type == "audio" and by_id[1].fake_duration_ms > 0
    assert by_id[2].media_type == "video"
    # n_bytes == utf-8 length of the text payload
    assert by_id[3].n_bytes == len("doc 3 body".encode())
    # schema stable under repartition (distribution-agnostic plumbing)
    feats2 = decode_media_features(with_binary_payload(df.repartition(7)))
    assert feats2.schema == feats.schema
    assert sorted(r.checksum for r in feats2.collect()) == sorted(
        r.checksum for r in rows
    )


def test_spark_decode_tier_matches_in_process(spark):
    """Every DECODE_TIERS entry, run through the one mapInPandas
    operator, emits exactly (doc_id, *measure(fixture(doc_id))) in its
    schema's column order."""
    ids = list(range(20)) + [137, 300, 4321, 99999]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    for name, (fixture, measure, _) in DECODE_TIERS.items():
        got = sorted(tuple(r) for r in decode_tier(df, name).collect())
        want = sorted((d, *measure(fixture(d))) for d in ids)
        assert got == want, name


def _codec_pin_cases():
    from ocr_spark.functions.multimodal import _image_measure, mixed_fixture

    cases = [(name, DECODE_TIERS[name].fixture, DECODE_TIERS[name].measure)
             for name in sorted(DECODE_TIERS)]
    return cases + [("mixed", mixed_fixture, _image_measure)]


def test_codec_fixture_bytes_pinned():
    # every fixture byte every encoder writes, for d in range(120); the
    # hash was taken before the codecs shared their LZW coder, bit
    # writers, RIFF chunk walk and JPEG block order
    import hashlib

    h = hashlib.sha256()
    for name, fixture, _ in _codec_pin_cases():
        for d in range(120):
            h.update(f"{name}:{d}:".encode()
                     + hashlib.sha256(fixture(d)).digest())
    assert h.hexdigest() == (
        "4653f4c44177350457d9f25d631ac812ae841dd62ec739c3a1bd0147bf83c3d5")


def test_codec_decoded_values_pinned():
    # every decoded measure of the same fixtures; a poisoned mixed
    # payload contributes its exception class
    import hashlib

    h = hashlib.sha256()
    for name, fixture, measure in _codec_pin_cases():
        for d in range(120):
            try:
                value = measure(fixture(d))
            except (ValueError, NotImplementedError) as ex:
                if name != "mixed":
                    raise
                value = type(ex).__name__
            h.update(repr((name, d, value)).encode())
    assert h.hexdigest() == (
        "95ea9bc73a59e77c8f05fee4cb0f30de5b9f14c69ccf53f108f40995cb6c5651")
