"""Multimodal binary-column plumbing: schema, Arrow-batched decode,
and the per-row codec choice by meta.modality."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.multimodal import (
    decode_features,
    fake_decode_batch,
    with_binary_payload,
)
from mapreduce_implementation_grpc_spark.multimodal.binary_ops import (
    FRAME_BYTES,
    FRAME_EVERY_K,
    THUMB_SIZE,
)
from tests.media_encoders import media_df
from tests.oracle_utils import assert_matches_oracle

MEDIA = ("png", "jpeg", "gif", "wav")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=1, text="abc"), Row(doc_id=2, text=""), Row(doc_id=3, text="hello world")]
    )


def test_payload_schema_and_bytes(docs):
    p = with_binary_payload(docs)
    assert dict(p.dtypes)["payload"] == "binary"
    rows = {r.doc_id: r for r in p.collect()}
    assert bytes(rows[1].payload) == b"abc"
    assert rows[1].meta.n_bytes == 3 and rows[1].meta.modality == "text"
    assert rows[2].meta.n_bytes == 0


def test_decode_features_matches_local_computation(docs):
    out = {r.doc_id: r for r in decode_features(with_binary_payload(docs)).collect()}
    import pandas as pd

    expect = fake_decode_batch(pd.Series([b"abc", b"", b"hello world"]))
    assert out[1].feature == expect[0]
    assert out[2].feature == expect[1]
    assert out[3].feature == expect[2]
    assert out[3].n_bytes == 11


def test_media_row_with_text_bytes_raises(spark):
    # a row declared as media is decoded by its real codec; text bytes
    # there must fail loudly, not emit junk features
    for modality in MEDIA:
        df = media_df(spark, {1: b"abc"}, modality=modality)
        with pytest.raises(Exception, match=f"declared '{modality}' sniffs as 'unknown'"):
            decode_features(df).collect()


def test_mixed_rows_take_their_own_codec(spark):
    import numpy as np

    from mapreduce_implementation_grpc_spark.multimodal.codecs import png_encode

    img = np.full((3, 5, 3), 40, np.uint8)
    df = media_df(spark, {1: b"hello"}, modality="text").unionByName(
        media_df(spark, {2: png_encode(img)})
    )
    out = {r.doc_id: r for r in decode_features(df).collect()}
    assert out[1].modality == "text" and out[2].modality == "png"
    assert out[1].feature == fake_decode_batch([b"hello"])[0]
    assert out[2].feature == [5.0, 3.0, 3.0, 40.0]  # width, height, channels, mean


def test_meta_oracle_parity(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["multimodal_meta"](spark, sf_check),
        registry.ORACLES["multimodal_meta"],
        sf_check,
    )


def test_sample_frames_chunking(spark):
    from mapreduce_implementation_grpc_spark.multimodal import sample_frames

    docs = spark.createDataFrame([Row(doc_id=1, text="x" * 100)])
    frames = sample_frames(with_binary_payload(docs)).collect()
    # 100 bytes -> ceil(100 / FRAME_BYTES) chunks -> every FRAME_EVERY_K-th
    n_chunks = -(-100 // FRAME_BYTES)
    assert [r.frame_idx for r in frames] == list(range(-(-n_chunks // FRAME_EVERY_K)))
    assert frames[0].n_bytes == FRAME_BYTES
    assert frames[0].frame == ("78" * FRAME_BYTES)  # 'x' == 0x78


def test_resize_images_fixed_output(spark):
    from mapreduce_implementation_grpc_spark.multimodal import resize_images

    docs = spark.createDataFrame([Row(doc_id=1, text="abcdefgh" * 32), Row(doc_id=2, text="")])
    out = {r.doc_id: r for r in resize_images(with_binary_payload(docs)).collect()}
    assert len(out[1].thumb) == 2 * THUMB_SIZE**2  # sampled bytes, hex-encoded
    assert out[2].thumb == ""
    assert out[1].width == THUMB_SIZE and out[1].height == THUMB_SIZE


def test_media_ops_reject_text_bytes_declared_media(spark):
    from mapreduce_implementation_grpc_spark.multimodal import resize_images, sample_frames

    for modality in MEDIA:
        p = media_df(spark, {1: b"abc"}, modality=modality)
        for op in (sample_frames, resize_images):
            with pytest.raises(Exception, match=f"declared '{modality}' sniffs as 'unknown'"):
                op(p).collect()
