"""Baseline JPEG codec (round 9, VERDICT r8 #8 stretch): pure
numpy/stdlib Huffman + DCT implementation of the dominant real-world
photo format, feeding the same mapInPandas image pipeline as
PNG/GIF.

No oracle: the domain is binary (DuckDB has no JPEG surface), so the
checks are deterministic fixtures -- roundtrip fidelity bounds at
each sampling mode, bit-level determinism, contract errors on
truncated/unsupported streams, and the Spark resize-pipeline
integration."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from mapreduce_implementation_grpc_spark.multimodal.codecs import (
    real_decode_features,
    sniff,
)
from mapreduce_implementation_grpc_spark.multimodal.jpeg import jpeg_decode
from tests.media_encoders import jpeg_encode, media_df


def _smooth_rgb(h: int = 40, w: int = 56) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 3) % 256, (yy * 4) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)
    return (img // 2 + 60).astype(np.uint8)


def test_gray_roundtrip_tight():
    g = np.tile(np.arange(64, dtype=np.uint8) * 4, (32, 1))
    d = jpeg_decode(jpeg_encode(g, quality=90))
    assert d.shape == g.shape and d.dtype == np.uint8
    assert int(np.abs(d.astype(int) - g.astype(int)).max()) <= 2


def test_rgb_444_roundtrip():
    rgb = np.zeros((24, 40, 3), dtype=np.uint8)
    rgb[:, :20] = [200, 30, 30]
    rgb[:, 20:] = [20, 60, 220]
    d = jpeg_decode(jpeg_encode(rgb, quality=95))
    assert d.shape == rgb.shape
    assert float(np.abs(d.astype(int) - rgb.astype(int)).mean()) < 2.0


def test_rgb_420_subsampled_roundtrip_odd_dims():
    """4:2:0 with non-multiple-of-16 dimensions: exercises the
    general (h, v) sampling-factor decode path, MCU padding, and
    chroma replication upsampling."""
    img = _smooth_rgb(37, 53)
    d = jpeg_decode(jpeg_encode(img, quality=90, subsample=True))
    assert d.shape == img.shape
    # smooth content: subsampling loss stays small
    assert float(np.abs(d.astype(int) - img.astype(int)).mean()) < 2.5


def test_encode_is_bit_deterministic():
    img = _smooth_rgb()
    a = jpeg_encode(img, quality=85, subsample=True)
    b = jpeg_encode(img, quality=85, subsample=True)
    assert hashlib.md5(a).hexdigest() == hashlib.md5(b).hexdigest()


def test_sniff_and_features_dispatch():
    img = _smooth_rgb(16, 24)
    payload = jpeg_encode(img, quality=95)
    assert sniff(payload) == "jpeg"
    w, h, ch, mean = real_decode_features(payload)
    assert (w, h, ch) == (24.0, 16.0, 3.0)
    assert abs(mean - float(img.mean())) < 2.0


def test_truncated_raises_valueerror():
    payload = jpeg_encode(_smooth_rgb(16, 16), quality=80)
    for cut in (3, 25, len(payload) // 2, len(payload) - 3):
        with pytest.raises(ValueError):
            jpeg_decode(payload[:cut])


def test_progressive_rejected_with_clear_message():
    """A SOF2 (progressive) marker must raise the documented-boundary
    error, not decode garbage."""
    payload = bytearray(jpeg_encode(_smooth_rgb(16, 16)))
    sof = payload.find(b"\xff\xc0")
    payload[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        jpeg_decode(bytes(payload))


def test_non_interleaved_scan_rejected():
    """A baseline multi-scan (non-interleaved) JPEG -- SOS carrying
    fewer components than the frame -- must fail loudly (ADVICE r9):
    decoding it with frame-wide MCU geometry would silently produce
    scrambled pixels. Patch the 3-component SOS down to ns=1."""
    payload = bytearray(jpeg_encode(_smooth_rgb(16, 16), quality=80))
    i = payload.find(b"\xff\xda")
    assert payload[i + 4] == 3  # ns
    patched = (
        bytes(payload[:i])
        + bytes([0xFF, 0xDA, 0x00, 0x08, 0x01])  # len=8, ns=1
        + bytes(payload[i + 5 : i + 7])   # first (cs, td/ta) pair
        + bytes(payload[i + 11 :])        # Ss Se AhAl + entropy
    )
    with pytest.raises(ValueError, match="non-interleaved"):
        jpeg_decode(patched)


def test_unknown_scan_component_id_rejected():
    """SOS referencing a component id absent from SOF must raise
    ValueError (not StopIteration escaping the malformed-stream
    wrapper; ADVICE r9)."""
    g = np.tile(np.arange(32, dtype=np.uint8) * 8, (16, 1))
    payload = bytearray(jpeg_encode(g, quality=80))
    i = payload.find(b"\xff\xda")
    assert payload[i + 4] == 1  # grayscale: ns=1 matches the frame
    payload[i + 5] = 0x99  # bogus component id
    with pytest.raises(ValueError, match="unknown component"):
        jpeg_decode(bytes(payload))


def test_truncated_entropy_with_eoi_raises():
    """Entropy segment cut short but EOI kept: before the r10 fix the
    bit reader synthesized zero bits forever and the remaining MCUs
    silently decoded as DC-repeat blocks (all-zero bit strings are
    valid Annex-K symbols). Must now raise, not return wrong
    pixels."""
    payload = jpeg_encode(_smooth_rgb(48, 48), quality=90)
    assert payload[-2:] == b"\xff\xd9"
    i = payload.find(b"\xff\xda")
    entropy_len = len(payload) - 2 - (i + 14)
    # drop the second half of the entropy bytes, keep EOI
    patched = payload[: len(payload) - 2 - entropy_len // 2] + b"\xff\xd9"
    with pytest.raises(ValueError):
        jpeg_decode(patched)


def test_quality_monotone_size():
    img = _smooth_rgb()
    sizes = [len(jpeg_encode(img, quality=q)) for q in (30, 60, 90)]
    assert sizes == sorted(sizes)


@pytest.mark.slow
def test_spark_resize_pipeline_decodes_jpeg(spark):
    """JPEG payloads flow through the real-codec resize_images
    mapInPandas path next to PNGs: decode -> nearest-resize -> PNG
    thumb, deterministic bytes."""
    from mapreduce_implementation_grpc_spark.multimodal.binary_ops import (
        resize_images,
    )
    from mapreduce_implementation_grpc_spark.multimodal.codecs import (
        png_decode,
        png_encode,
    )

    imgs = {1: _smooth_rgb(20, 28), 2: _smooth_rgb(33, 17)}
    df = media_df(
        spark, {1: jpeg_encode(imgs[1], quality=95), 2: png_encode(imgs[2])}
    )
    out = {r.doc_id: r for r in resize_images(df).collect()}
    assert set(out) == {1, 2}
    for doc_id, r in out.items():
        thumb = png_decode(bytes.fromhex(r.thumb))
        assert thumb.shape == (8, 8, 3)
    # the JPEG-sourced thumb pixels come from the decoded image
    t1 = png_decode(bytes.fromhex(out[1].thumb))
    ref = jpeg_decode(jpeg_encode(imgs[1], quality=95))
    ys = np.minimum((np.arange(8) * 20) // 8, 19)
    xs = np.minimum((np.arange(8) * 28) // 8, 27)
    assert np.array_equal(t1, ref[ys][:, xs])
