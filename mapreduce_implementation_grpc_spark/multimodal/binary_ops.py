"""Multimodal column plumbing (extension surface, SURVEY.md 2b).

Image/audio/video payloads are opaque `binary` columns with a typed
metadata struct; decode/feature-extraction runs as Arrow-batched
`mapInPandas` so the Python boundary is crossed once per batch, not
per row. Each row's ``meta.modality`` picks its codec:

- ``"text"`` (what `with_binary_payload` attaches, and what the
  oracle-checked registry queries read): deterministic byte-level
  stand-ins that DuckDB can re-derive;
- ``"png"``, ``"jpeg"``, ``"gif"``, ``"wav"``: actual format decoding
  via ``multimodal.codecs`` and ``multimodal.jpeg`` -- pure-stdlib
  PNG (zlib + numpy unfilter), baseline JPEG, 16-bit PCM WAV and
  animated GIF (LZW + frame composition), no PIL/ffmpeg needed.
  Image resize re-encodes a real PNG thumbnail; frame sampling
  decodes GIF frames to PNG thumbnails (real video frame extraction)
  or windows the decoded PCM stream. A media row whose bytes do not
  sniff as its declared modality raises.

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

from .codecs import (
    gif_decode,
    png_decode,
    png_encode,
    png_resize_nearest,
    real_decode_features,
    sniff,
    wav_decode,
)
from .jpeg import jpeg_decode

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

FRAME_EVERY_K = 4  # sample_frames keeps every 4th frame ...
FRAME_BYTES = 16  # ... of 16-byte chunks (even: whole 16-bit PCM samples)


def _media_bytes(modality: str, raw) -> bytes:
    """A media row's payload, which must sniff as its declared modality."""
    b = bytes(raw)
    if sniff(b) != modality:
        raise ValueError(f"payload declared {modality!r} sniffs as {sniff(b)!r}")
    return b


def _frames(modality: str, raw) -> list[bytes]:
    """Every FRAME_EVERY_K-th frame of one payload. GIF, a real
    multi-frame container: its decoded frames, re-encoded as PNG.
    WAV: FRAME_BYTES windows of the decoded PCM stream (time standing
    in for frames). Text: FRAME_BYTES chunks of the raw bytes."""
    if modality == "text":
        b = bytes(raw) if raw is not None else b""
    elif modality == "gif":
        frames = gif_decode(_media_bytes(modality, raw))[::FRAME_EVERY_K]
        return [png_encode(frame) for frame in frames]
    else:
        b = wav_decode(_media_bytes(modality, raw))[0].tobytes()
    return [b[i:i + FRAME_BYTES] for i in range(0, len(b), FRAME_BYTES)][::FRAME_EVERY_K]


def sample_frames(payload_df: DataFrame) -> DataFrame:
    """Frame sampling for video-like payloads (`_frames`, chosen per
    row by meta.modality): 1 input row -> N frame rows, the
    mapInPandas shape a real ffmpeg-based sampler uses. Row explosion
    happens executor-side per Arrow batch; nothing is widened before
    the scan."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame": [], "n_bytes": []}
            for doc_id, meta, raw in zip(pdf["doc_id"], pdf["meta"], pdf["payload"]):
                for idx, frame in enumerate(_frames(meta["modality"], raw)):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame"].append(frame.hex())
                    out["n_bytes"].append(len(frame))
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

THUMB_SIZE = 8  # resize_images' thumbs are 8x8


def _thumb(modality: str, raw) -> str:
    """Hex thumb of one payload. An image (JPEG or PNG) is decoded,
    nearest-resized and re-encoded as PNG; text is strided down to
    THUMB_SIZE**2 bytes."""
    if modality == "text":
        b = bytes(raw) if raw is not None else b""
        target = THUMB_SIZE * THUMB_SIZE
        return b[::max(1, len(b) // target)][:target].hex()
    b = _media_bytes(modality, raw)
    img = jpeg_decode(b) if modality == "jpeg" else png_decode(b)
    return png_encode(png_resize_nearest(img, THUMB_SIZE, THUMB_SIZE)).hex()


def resize_images(payload_df: DataFrame) -> DataFrame:
    """Image resize to THUMB_SIZE x THUMB_SIZE (`_thumb`, chosen per
    row by meta.modality); a PIL/opencv resize drops into the same
    per-batch slot -- schema, batching, and partition behavior are
    identical."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": THUMB_SIZE,
                    "height": THUMB_SIZE,
                    "thumb": [
                        _thumb(meta["modality"], raw)
                        for meta, raw in zip(pdf["meta"], pdf["payload"])
                    ],
                }
            )

    return payload_df.mapInPandas(_resize, RESIZED_SCHEMA)


def _features(modality: str, raw) -> list[float]:
    if modality == "text":
        return fake_decode_batch([raw])[0]
    return real_decode_features(_media_bytes(modality, raw))


def decode_features(payload_df: DataFrame) -> DataFrame:
    """Arrow-batched decode: binary payload -> 4-float feature vector
    via mapInPandas (one Python crossing per ~10k-row batch). A text
    row goes through the byte-level stand-in (fake_decode_batch); a
    PNG, JPEG, GIF or WAV row is decoded by its real codec
    (codecs.real_decode_features)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "feature": [
                        _features(m["modality"], raw)
                        for m, raw in zip(pdf["meta"], pdf["payload"])
                    ],
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
