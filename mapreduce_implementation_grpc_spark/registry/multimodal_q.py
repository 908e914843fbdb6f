"""Registry queries over the multimodal fixtures: image metadata, decode,
perceptual-hash dedup, resize, video metadata and frames.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    analytics,
    decode_features,
    load_table,
    resize_images,
    sample_frames,
    with_binary_payload,
)



# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = with_binary_payload(docs)
    return payload.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        F.col("meta.content_sha256").alias("content_sha256"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched stub decode via mapInPandas, projected to scalar
    feature columns for the gate: the deterministic fake decode is
    plain byte arithmetic, so each feature component gets its own
    double column (f_len, f_first, f_last, f_sum_mod) AND a DuckDB
    oracle recomputing the same bytes from hex(encode(text)).
    `decode_features` itself still returns array<double>."""
    docs = load_table(spark, sf_dir, "documents")
    feat = decode_features(with_binary_payload(docs))
    return feat.select(
        "doc_id",
        "modality",
        "n_bytes",
        F.col("feature")[0].alias("f_len"),
        F.col("feature")[1].alias("f_first"),
        F.col("feature")[2].alias("f_last"),
        F.col("feature")[3].alias("f_sum_mod"),
    )


def q_multimodal_phash_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup shape: quantize the decoded
    feature vector into fixed-threshold bits, pack a tiny pHash, and
    group identical hashes (keep the min doc_id) -- the bucketed
    near-dup-image recipe over the Arrow decode path. Real pHash
    (DCT of pixels) drops into the same plumbing when a codec is
    present; the deterministic stub keeps it oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    feat = decode_features(with_binary_payload(docs))

    def bit(idx: int, thresh: float, weight: int):
        return (
            F.when(F.col("feature")[idx] >= thresh, F.lit(weight)).otherwise(F.lit(0))
        )

    phash = (
        bit(0, 300.0, 1) + bit(1, 128.0, 2) + bit(2, 128.0, 4) + bit(3, 498.0, 8)
    ).cast("long")
    return (
        feat.select("doc_id", phash.alias("phash"))
        .groupBy("phash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every FRAME_EVERY_K-th FRAME_BYTES chunk) via mapInPandas --
    the video-frame-sampler shape with the deterministic stand-in
    chunker; fully oracle-checked byte-for-byte from hex(encode)."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(docs))


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize shape: stride the byte stream to a THUMB_SIZE^2-byte 'thumb'
    via mapInPandas; oracle recomputes the strided hex pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return resize_images(with_binary_payload(docs))


# ---------------------------------------------------------------------------
# relational analytics / events
# ---------------------------------------------------------------------------

q_pricing_summary = analytics.pricing_summary


# deterministic per-doc MP4 parameterization for the video-metadata
# row (round 10): every parameter is arithmetic in doc_id, so the
# DuckDB twin recomputes the expected metadata directly while the
# Spark path goes WriterStub -> real ISO-BMFF bytes -> box-tree
# parser -- a hash match proves writer-compose-parser is the
# identity on the whole parameter grid. fps values all divide 10^6,
# so duration_s = n_frames/fps is exact at 6 decimals (no rounding-
# convention hazard between engines).
VIDEO_FPS_CHOICES = (10, 16, 20, 25)


def q_multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-container triage over a deterministic MP4 corpus: one
    conformant stub MP4 per document (dimensions / frame count /
    fps / audio-track presence / box-format version all derived from
    doc_id), parsed back by the real ISO-BMFF metadata scan
    (multimodal/binary_ops.video_metadata -> mp4.mp4_probe). Covers
    both 32-bit and 64-bit box variants and audio-bearing files
    across the corpus. Oracle: the parameter arithmetic in SQL --
    bytes in the middle, identical metadata out."""
    from collections.abc import Iterator

    import pandas as pd

    from ..multimodal.binary_ops import video_metadata
    from ..multimodal.mp4 import mp4_write_stub

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def _payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                payloads.append(
                    mp4_write_stub(
                        width=16 + (d % 32) * 2,
                        height=9 + (d % 16) * 3,
                        n_frames=4 + d % 40,
                        fps=VIDEO_FPS_CHOICES[d % 4],
                        with_audio=d % 3 == 0,
                        version=d % 2,
                        largesize_mdat=d % 5 == 0,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload_df = docs.mapInPandas(_payloads, "doc_id long, payload binary")
    meta = video_metadata(payload_df)
    return meta.select(
        "doc_id", "brand", "duration_s", "n_tracks", "video_codec",
        "width", "height", "n_video_samples", "video_bytes",
        "audio_codec",
    )
