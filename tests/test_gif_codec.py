"""GIF frame decoder (the last multimodal boundary, VERDICT r7 #6):
pure-stdlib LZW + frame composition, fixture GIFs built by the
literal-code encoder in tests/media_encoders.py, plus the Spark mapInPandas frame
pipeline and the phash-dedup integration.

No oracle: the domain is binary (DuckDB has no GIF surface), so the
checks are deterministic fixtures + a hand-decoded LZW bit vector."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from mapreduce_implementation_grpc_spark.multimodal.codecs import (
    _lzw_decode,
    gif_decode,
    real_decode_features,
    sniff,
)
from tests.media_encoders import _lzw_encode_literals, gif_encode, media_df


def test_lzw_hand_vector():
    """Hand-packed stream: mcs=2, codes [Clear=4, 1, 6, End=5] at
    width 3, LSB-first -> bytes 8C 0B. Code 6 is the KwKwK case
    (equals next free entry): expands to prev + first(prev) = [1,1].
    Expected pixels: [1, 1, 1]. Verified on paper from the GIF89a
    spec, independent of the encoder."""
    assert _lzw_decode(bytes([0x8C, 0x0B]), 2, 3).tolist() == [1, 1, 1]


def test_lzw_literal_stream_roundtrips_and_reclears():
    # long enough to force several Clear codes at width 3
    idx = np.tile(np.arange(4, dtype=np.uint8), 100)
    data = _lzw_encode_literals(idx, 2)
    assert _lzw_decode(data, 2, len(idx)).tolist() == idx.tolist()


def test_gif_roundtrip_multiframe():
    rng = np.random.default_rng(7)
    frames = [
        (rng.integers(0, 5, size=(13, 9, 3)) * 50).astype(np.uint8)
        for _ in range(3)
    ]
    payload = gif_encode(frames)
    assert sniff(payload) == "gif"
    dec = gif_decode(payload)
    assert len(dec) == 3
    for a, b in zip(frames, dec):
        assert np.array_equal(a, b)


def test_gif_encode_rejects_wide_palette():
    cols = np.array(
        [[i % 256, i // 256, 0] for i in range(300)], dtype=np.uint8
    )
    with pytest.raises(ValueError, match="300 colors"):
        gif_encode([cols.reshape(10, 30, 3)])


def _subregion_gif() -> bytes:
    """Hand-assembled 2-frame GIF: 4x4 screen, frame 1 full red,
    frame 2 a 2x2 green patch at (1,1) with one transparent pixel and
    disposal 2 (restore region to background). Exercises sub-region
    placement, transparency masking, and disposal composition --
    paths the repo encoder (full-frame, no transparency) never
    emits."""
    # palette: 0=black(bg) 1=red 2=green
    table = np.zeros((4, 3), dtype=np.uint8)
    table[1] = (255, 0, 0)
    table[2] = (0, 255, 0)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 4, 4, 0x80 | 1, 0, 0)  # 4-entry table
    out += table.tobytes()

    def image(fx, fy, fw, fh, indices, transparent=None, disposal=0):
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        out.extend(
            b"\x21\xf9\x04"
            + struct.pack("<BHB", flags, 0, transparent or 0)
            + b"\x00"
        )
        out.extend(b"\x2c" + struct.pack("<HHHHB", fx, fy, fw, fh, 0))
        out.append(2)  # min code size
        lzw = _lzw_encode_literals(np.asarray(indices, np.uint8), 2)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out.extend(chunk)
        out.append(0)

    image(0, 0, 4, 4, [1] * 16, disposal=1)
    # patch indices: [2, 0(transparent), 2, 2] with transparent=0
    image(1, 1, 2, 2, [2, 0, 2, 2], transparent=0, disposal=2)
    out += b"\x3b"
    return bytes(out)


def test_gif_subregion_transparency_and_disposal():
    f1, f2 = gif_decode(_subregion_gif())
    red, green = (255, 0, 0), (0, 255, 0)
    assert np.array_equal(f1, np.tile(np.array(red, np.uint8), (4, 4, 1)))
    # frame 2: red canvas with green patch; transparent pixel (1,2)
    # shows through the undisposed frame 1 (still red)
    assert tuple(f2[1, 1]) == green
    assert tuple(f2[1, 2]) == red  # transparent -> prior canvas
    assert tuple(f2[2, 1]) == green and tuple(f2[2, 2]) == green
    assert tuple(f2[0, 0]) == red  # outside the patch untouched


def test_gif_feature_vector():
    frames = [np.full((6, 8, 3), v, np.uint8) for v in (10, 30)]
    feat = real_decode_features(gif_encode(frames))
    assert feat == [8.0, 6.0, 2.0, 20.0]  # w, h, n_frames, mean


_DOC3_FRAMES = (7, 9, 11, 13, 15)


@pytest.fixture(scope="module")
def gif_docs(spark):
    a = gif_encode([np.full((4, 4, 3), v, np.uint8) for v in (10, 200)])
    b = gif_encode([np.full((4, 4, 3), v, np.uint8) for v in (10, 200)])
    c = gif_encode([np.full((5, 3, 3), v, np.uint8) for v in _DOC3_FRAMES])
    return media_df(spark, {1: a, 2: b, 3: c})


def test_spark_gif_frame_sampling(spark, gif_docs):
    from mapreduce_implementation_grpc_spark.multimodal.binary_ops import (
        FRAME_EVERY_K,
        sample_frames,
    )
    from mapreduce_implementation_grpc_spark.multimodal.codecs import (
        png_decode,
    )

    rows = sample_frames(gif_docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # every FRAME_EVERY_K-th frame: docs 1/2 (2 frames) keep frame 0;
    # doc 3 (5 frames) keeps frames 0 and FRAME_EVERY_K
    kept = _DOC3_FRAMES[::FRAME_EVERY_K]
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    assert len(by_doc[3]) == len(kept) == 2
    # frames are real PNGs of the composed GIF frames
    img = png_decode(bytes.fromhex(by_doc[1][0].frame))
    assert img.shape == (4, 4, 3) and int(img[0, 0, 0]) == 10
    img3 = png_decode(bytes.fromhex(sorted(by_doc[3], key=lambda r: r.frame_idx)[1].frame))
    assert int(img3[0, 0, 0]) == kept[1]  # GIF frame FRAME_EVERY_K (kept as idx 1)


def test_spark_gif_phash_dedup_groups_identical_animations(spark, gif_docs):
    """The existing phash recipe (decode features -> threshold bits ->
    groupBy hash) over the REAL gif codec path: identical animations
    share a hash bucket, the different one does not."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.multimodal.binary_ops import (
        decode_features,
    )

    feat = decode_features(gif_docs)
    phash = (
        F.conv(
            F.concat(
                *[
                    (F.element_at("feature", i + 1) >= F.lit(t)).cast("int").cast("string")
                    for i, t in enumerate([4.0, 4.0, 2.5, 50.0])
                ]
            ),
            2,
            10,
        ).cast("long")
    )
    groups = (
        feat.select("doc_id", phash.alias("phash"))
        .groupBy("phash")
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("n"))
        .collect()
    )
    sizes = sorted(r.n for r in groups)
    assert sizes == [1, 2]
    dup = next(r for r in groups if r.n == 2)
    assert dup.keep == 1


def test_gif_interlaced_frame_decodes_in_display_order():
    """Interlacing stores rows in 4 passes (0,8,16.. / 4,12.. /
    2,6.. / 1,3..); the decoder must un-shuffle them. Craft a 4x9
    single-frame GIF whose row content equals its display row index,
    emit the pixel stream in PASS order with the interlace flag set,
    and require decode to return rows in display order."""
    h, w = 9, 4
    table = np.zeros((16, 3), dtype=np.uint8)
    for i in range(h):
        table[i] = (i * 10, 0, 0)
    pass_order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    indices = np.array(
        [[row] * w for row in pass_order], dtype=np.uint8
    ).ravel()
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 3, 0, 0)  # 16-entry table
    out += table.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlaced
    out.append(4)  # min code size
    lzw = _lzw_encode_literals(indices, 4)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    out += b"\x3b"

    (frame,) = gif_decode(bytes(out))
    for row in range(h):
        assert tuple(frame[row, 0]) == (row * 10, 0, 0), row
