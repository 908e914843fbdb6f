"""Real-codec path: pure-stdlib PNG/WAV round trips and the Spark
mapInPandas integration over genuine media bytes (rows whose
meta.modality is their media format).

The PNG decoder handles all five row filters; the encoder emits
filter 0. Cross-filter decode is exercised by hand-filtering rows.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from mapreduce_implementation_grpc_spark.multimodal.codecs import (
    png_decode,
    png_encode,
    png_resize_nearest,
    real_decode_features,
    sniff,
    wav_decode,
)
from tests.media_encoders import media_df, wav_encode


def _rng(seed=7):
    return np.random.default_rng(seed)


# --------------------------------------------------------- round trips


@pytest.mark.parametrize("shape", [(5, 7), (5, 7, 3), (4, 4, 4), (1, 1), (3, 1, 3)])
def test_png_round_trip_exact(shape):
    img = _rng().integers(0, 256, size=shape, dtype=np.uint8)
    out = png_decode(png_encode(img))
    assert out.shape == img.shape
    assert np.array_equal(out, img)


def test_png_magic_and_sniff():
    img = np.zeros((2, 2), dtype=np.uint8)
    data = png_encode(img)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert sniff(data) == "png"
    assert sniff(b"garbage") == "unknown"


def _manual_png(img: np.ndarray, filters: list[int]) -> bytes:
    """Encode with an explicit per-row filter choice (spec-correct
    forward filtering) so the decoder's reconstruction of Sub/Up/
    Average/Paeth is actually exercised."""
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int16)
    bpp = ch
    lines = bytearray()
    for y in range(h):
        f = filters[y]
        cur = flat[y]
        prior = flat[y - 1] if y > 0 else np.zeros(stride, np.int16)
        filt = np.zeros(stride, np.int16)
        for x in range(stride):
            left = cur[x - bpp] if x >= bpp else 0
            ul = prior[x - bpp] if x >= bpp else 0
            up = prior[x]
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) >> 1
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            filt[x] = (cur[x] - pred) & 0xFF
        lines.append(f)
        lines.extend(filt.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[ch], 0, 0, 0)
    idat = zlib.compress(bytes(lines))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


@pytest.mark.parametrize("ch", [1, 3, 4])
def test_png_decode_all_filter_types(ch):
    img = _rng(ch).integers(0, 256, size=(6, 5, ch), dtype=np.uint8)
    payload = _manual_png(img, filters=[0, 1, 2, 3, 4, 4])
    out = png_decode(payload)
    expect = img[:, :, 0] if ch == 1 else img
    assert np.array_equal(out, expect)


def test_png_rejects_unsupported():
    img = np.zeros((2, 2), dtype=np.uint8)
    data = bytearray(png_encode(img))
    with pytest.raises(ValueError):
        png_decode(b"not a png")
    # corrupt bit depth to 16 in IHDR (offset: 8 magic + 8 hdr + 8 w/h)
    data[8 + 8 + 8] = 16
    with pytest.raises(ValueError):
        png_decode(bytes(data))


def test_png_resize_nearest_shapes_and_identity():
    img = _rng(3).integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
    assert np.array_equal(png_resize_nearest(img, 6, 8), img)
    small = png_resize_nearest(img, 3, 4)
    assert small.shape == (4, 3, 3)
    # nearest-neighbor: every output pixel exists in the input
    assert small[0, 0] in img.reshape(-1, 3)


@pytest.mark.parametrize("channels", [1, 2])
def test_wav_round_trip_exact(channels):
    samples = _rng(11).integers(-32768, 32767, size=(100, channels)).astype(np.int16)
    payload = wav_encode(samples, rate=16000)
    assert sniff(payload) == "wav"
    out, rate = wav_decode(payload)
    assert rate == 16000
    assert np.array_equal(out, samples)


def test_wav_rejects_non_pcm():
    with pytest.raises(ValueError):
        wav_decode(b"RIFF\x00\x00\x00\x00WAVEjunk")


def test_real_decode_features_dispatch():
    img = np.full((4, 6, 3), 10, dtype=np.uint8)
    f = real_decode_features(png_encode(img))
    assert f == [6.0, 4.0, 3.0, 10.0]
    tone = (np.ones(50) * 1000).astype(np.int16)
    f = real_decode_features(wav_encode(tone, 8000))
    assert f[:3] == [50.0, 8000.0, 1.0]
    assert f[3] == pytest.approx(1000.0)
    with pytest.raises(ValueError):
        real_decode_features(b"mystery bytes")


# --------------------------------------------------- spark integration


def test_spark_real_decode_png_and_wav(spark):
    from mapreduce_implementation_grpc_spark.multimodal import decode_features

    img = _rng(1).integers(0, 256, size=(9, 4, 3), dtype=np.uint8)
    tone = _rng(2).integers(-2000, 2000, size=64).astype(np.int16)
    df = media_df(spark, {0: png_encode(img), 1: wav_encode(tone, 22050)})
    out = {r.doc_id: r for r in decode_features(df).collect()}
    assert out[0].feature[:3] == [4.0, 9.0, 3.0]
    assert out[0].feature[3] == pytest.approx(float(img.mean()))
    assert out[1].feature[:3] == [64.0, 22050.0, 1.0]
    assert out[0].modality == "png" and out[1].modality == "wav"


def test_spark_real_resize_round_trip(spark):
    from mapreduce_implementation_grpc_spark.multimodal import resize_images
    from mapreduce_implementation_grpc_spark.multimodal.binary_ops import THUMB_SIZE

    img = _rng(5).integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    df = media_df(spark, {0: png_encode(img)})
    row = resize_images(df).collect()[0]
    thumb = png_decode(bytes.fromhex(row.thumb))
    assert thumb.shape == (THUMB_SIZE, THUMB_SIZE, 3)
    assert np.array_equal(thumb, png_resize_nearest(img, THUMB_SIZE, THUMB_SIZE))


def test_spark_real_frame_sampling_wav(spark):
    from mapreduce_implementation_grpc_spark.multimodal import sample_frames
    from mapreduce_implementation_grpc_spark.multimodal.binary_ops import (
        FRAME_BYTES,
        FRAME_EVERY_K,
    )

    tone = np.arange(256, dtype=np.int16)  # 512 PCM bytes
    df = media_df(spark, {0: wav_encode(tone, 8000)})
    frames = sample_frames(df).collect()
    # 512 bytes in FRAME_BYTES windows, every FRAME_EVERY_K-th kept
    n = 512 // FRAME_BYTES // FRAME_EVERY_K
    assert [r.frame_idx for r in frames] == list(range(n))
    assert all(r.n_bytes == FRAME_BYTES for r in frames)
    # frame 1 is window FRAME_EVERY_K of the little-endian samples
    per = FRAME_BYTES // 2
    assert bytes.fromhex(frames[1].frame) == tone[FRAME_EVERY_K * per:][:per].tobytes()


# ------------------------------------------------------ property tests

from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_round_trip_property(h, w, ch, seed):
    img = np.random.default_rng(seed).integers(0, 256, size=(h, w, ch),
                                               dtype=np.uint8)
    expect = img[:, :, 0] if ch == 1 else img
    assert np.array_equal(png_decode(png_encode(img)), expect)


@settings(max_examples=30, deadline=None)
@given(
    data=arrays(np.int16, st.integers(1, 200),
                elements=st.integers(-32768, 32767)),
    channels=st.integers(1, 3),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_round_trip_property(data, channels, rate):
    n = (len(data) // channels) * channels
    if n == 0:
        return
    samples = data[:n].reshape(-1, channels)
    out, got_rate = wav_decode(wav_encode(samples, rate))
    assert got_rate == rate and np.array_equal(out, samples)
