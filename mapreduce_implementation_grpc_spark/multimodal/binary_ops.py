"""Multimodal column plumbing (extension surface, SURVEY.md 2b).

Image/audio/video payloads are opaque `binary` columns with a typed
metadata struct; decode/feature-extraction runs as Arrow-batched
`mapInPandas` so the Python boundary is crossed once per batch, not
per row. Two codec paths share the identical Spark plumbing:

- default (synthetic): deterministic byte-level stand-ins, used by
  the oracle-checked registry queries (DuckDB can re-derive them);
- ``real_codec=True``: actual format decoding via
  ``multimodal.codecs`` — pure-stdlib PNG (zlib + numpy unfilter),
  16-bit PCM WAV, and animated GIF (LZW + frame composition) — no
  PIL/ffmpeg needed. Image resize re-encodes a real PNG thumbnail;
  frame sampling decodes GIF frames to PNG thumbnails (real video
  frame extraction) or windows the decoded PCM stream; only
  ffmpeg-class codecs (H.264 etc.) remain out of scope in this
  container.

At 100 TB: payloads stay columnar in parquet (binary column chunks),
the scan prunes metadata-only queries to the metadata columns, and
decode parallelism = partition count; there is no shuffle anywhere
in this pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    Here the payload is the UTF-8 bytes of the text (the container
    has no media files); for real corpora the column would come
    straight from parquet/lance as `binary`."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text").alias("modality"),
            F.length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("content_sha256"),
        ).alias("meta"),
    )


def fake_decode_batch(payloads: pd.Series) -> list[list[float]]:
    """Deterministic stand-in for a media codec: 4 summary floats per
    payload (length, first byte, last byte, byte-sum mod 997)."""
    out = []
    for raw in payloads:
        b = bytes(raw) if raw is not None else b""
        out.append(
            [float(len(b)), float(b[0] if b else 0), float(b[-1] if b else 0),
             float(sum(b) % 997)]
        )
    return out


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", StringType()),  # BinaryType in a real pipeline
        StructField("n_bytes", LongType()),
    ]
)


def sample_frames(payload_df: DataFrame, every_k: int = 4, frame_bytes: int = 16,
                  real_codec: bool = False) -> DataFrame:
    """Frame sampling for video-like payloads: emit every k-th
    fixed-size chunk of the payload as a 'frame' row (1 input row ->
    N output rows -- the mapInPandas shape a real ffmpeg-based
    sampler uses; here the chunker is the deterministic stand-in).
    Row explosion happens executor-side per Arrow batch; nothing is
    widened before the scan."""
    if real_codec:
        # Real containers, dispatched on magic bytes:
        # - GIF: a genuine multi-frame video-style container -- decode
        #   every frame (pure-stdlib LZW, multimodal.codecs), keep
        #   every k-th, re-encode each kept frame as PNG. This IS
        #   video frame extraction, minus only the ffmpeg-class
        #   codecs this container lacks.
        # - WAV: window the decoded PCM sample stream (the same
        #   1-row -> N-rows shape with time standing in for frames).
        from mapreduce_implementation_grpc_spark.multimodal.codecs import (
            gif_decode,
            png_encode,
            sniff,
            wav_decode,
        )

        def _sample_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = {"doc_id": [], "frame_idx": [], "frame": [], "n_bytes": []}
                for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                    b = bytes(raw)
                    if sniff(b) == "gif":
                        for idx, frame in enumerate(gif_decode(b)[::every_k]):
                            png = png_encode(frame)
                            out["doc_id"].append(doc_id)
                            out["frame_idx"].append(idx)
                            out["frame"].append(png.hex())
                            out["n_bytes"].append(len(png))
                        continue
                    samples, _rate = wav_decode(b)
                    pcm = samples.tobytes()
                    step = max(2, frame_bytes - (frame_bytes % 2))
                    chunks = [pcm[i:i + step] for i in range(0, len(pcm), step)]
                    for idx, chunk in enumerate(chunks[::every_k]):
                        out["doc_id"].append(doc_id)
                        out["frame_idx"].append(idx)
                        out["frame"].append(chunk.hex())
                        out["n_bytes"].append(len(chunk))
                yield pd.DataFrame(out)

        return payload_df.mapInPandas(_sample_real, FRAME_SCHEMA)

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame": [], "n_bytes": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(raw) if raw is not None else b""
                chunks = [b[i:i + frame_bytes] for i in range(0, len(b), frame_bytes)]
                for idx, chunk in enumerate(chunks[::every_k]):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame"].append(chunk.hex())
                    out["n_bytes"].append(len(chunk))
            yield pd.DataFrame(out)

    return payload_df.mapInPandas(_sample, FRAME_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("thumb", StringType()),  # BinaryType in a real pipeline
    ]
)


def resize_images(payload_df: DataFrame, width: int = 8, height: int = 8,
                  real_codec: bool = False) -> DataFrame:
    """Image resize for image-like payloads. The deterministic
    stand-in 'resizes' by striding the byte stream down to
    width*height samples; a real pipeline drops PIL/opencv into the
    same per-batch slot -- schema, batching, and partition behavior
    are identical."""
    if real_codec:
        from mapreduce_implementation_grpc_spark.multimodal.codecs import (
            png_decode,
            png_encode,
            png_resize_nearest,
            sniff,
        )
        from mapreduce_implementation_grpc_spark.multimodal.jpeg import (
            jpeg_decode,
        )

        def _resize_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                thumbs = []
                for raw in pdf["payload"]:
                    b = bytes(raw)
                    # r9: photos arrive as JPEG; thumbs re-encode as
                    # PNG (lossless at thumb size, single downstream
                    # format)
                    img = jpeg_decode(b) if sniff(b) == "jpeg" else png_decode(b)
                    thumbs.append(
                        png_encode(png_resize_nearest(img, width, height)).hex()
                    )
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "width": width,
                        "height": height,
                        "thumb": thumbs,
                    }
                )

        return payload_df.mapInPandas(_resize_real, RESIZED_SCHEMA)

    target = width * height

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for raw in pdf["payload"]:
                b = bytes(raw) if raw is not None else b""
                if len(b) == 0:
                    thumbs.append("")
                    continue
                step = max(1, len(b) // target)
                thumbs.append(b[::step][:target].hex())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "thumb": thumbs,
                }
            )

    return payload_df.mapInPandas(_resize, RESIZED_SCHEMA)


def decode_features(payload_df: DataFrame, real_codec: bool = False) -> DataFrame:
    """Arrow-batched decode: binary payload -> fixed-width feature
    vector via mapInPandas (one Python crossing per ~10k-row batch).

    By default each payload goes through the stub decoder
    (fake_decode_batch). real_codec=True decodes the actual PNG, JPEG,
    GIF or WAV bytes with the pure-numpy codecs
    (codecs.real_decode_features) into a feature vector of the same
    shape, and raises ValueError on any other format."""
    if real_codec:
        from mapreduce_implementation_grpc_spark.multimodal.codecs import (
            real_decode_features,
        )

        def _decode_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "modality": [m["modality"] for m in pdf["meta"]],
                        "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                        "feature": [
                            real_decode_features(bytes(raw)) for raw in pdf["payload"]
                        ],
                    }
                )

        return payload_df.mapInPandas(_decode_real, DECODED_FEATURE_SCHEMA)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "feature": fake_decode_batch(pdf["payload"]),
                }
            )

    return payload_df.mapInPandas(_decode, DECODED_FEATURE_SCHEMA)


VIDEO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("brand", StringType()),
        StructField("duration_s", DoubleType()),
        StructField("n_tracks", LongType()),
        StructField("video_codec", StringType()),
        StructField("width", DoubleType()),
        StructField("height", DoubleType()),
        StructField("n_video_samples", LongType()),
        StructField("video_bytes", LongType()),
        StructField("audio_codec", StringType()),
        StructField("err", StringType()),
    ]
)


def video_metadata(payload_df: DataFrame) -> DataFrame:
    """Container metadata for MP4/ISO-BMFF payloads (round 10): the
    triage/routing scan a video-bearing corpus runs before any codec
    work -- duration/resolution/codec filters, bitrate stats, corrupt
    file detection. Arrow mapInPandas over payload batches (same
    plumbing as decode_features); mp4.mp4_probe does the box-tree
    walk; frame DECODE is out of scope (no video codec in the
    package). Non-MP4 or malformed payloads
    land in `err` rather than killing the batch -- at corpus scale a
    triage scan must classify bad files, not crash on them."""
    from mapreduce_implementation_grpc_spark.multimodal.mp4 import mp4_probe

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in VIDEO_META_SCHEMA.fields}
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                rows["doc_id"].append(doc_id)
                try:
                    d = mp4_probe(bytes(raw) if raw is not None else b"")
                except ValueError as exc:
                    for k in ("brand", "video_codec", "audio_codec"):
                        rows[k].append(None)
                    for k in ("duration_s", "width", "height"):
                        rows[k].append(None)
                    for k in ("n_tracks", "n_video_samples", "video_bytes"):
                        rows[k].append(None)
                    rows["err"].append(str(exc))
                    continue
                vid = next(
                    (t for t in d["tracks"] if t["type"] == "video"), None
                )
                aud = next(
                    (t for t in d["tracks"] if t["type"] == "audio"), None
                )
                rows["brand"].append(d["brand"])
                rows["duration_s"].append(d["duration_s"])
                rows["n_tracks"].append(d["n_tracks"])
                rows["video_codec"].append(vid["codec"] if vid else None)
                rows["width"].append(vid["width"] if vid else None)
                rows["height"].append(vid["height"] if vid else None)
                rows["n_video_samples"].append(
                    vid["n_samples"] if vid else None
                )
                rows["video_bytes"].append(
                    vid["sample_bytes"] if vid else None
                )
                rows["audio_codec"].append(aud["codec"] if aud else None)
                rows["err"].append(None)
            yield pd.DataFrame(rows)

    return payload_df.mapInPandas(_meta, VIDEO_META_SCHEMA)
