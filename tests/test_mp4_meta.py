"""MP4 / ISO-BMFF container metadata (round 10): pure-stdlib box-tree
parser covering the metadata half of video handling (routing,
duration/resolution/codec filters, sample stats, corrupt-file
triage); frame decode remains the documented codec boundary.

No oracle: binary domain (DuckDB has no ISO-BMFF surface), so the
checks are deterministic writer->parser roundtrips at both box-format
variants, loud-failure contracts on malformed trees, and the Spark
mapInPandas triage integration."""

from __future__ import annotations

import struct

import pytest

from mapreduce_implementation_grpc_spark.multimodal.codecs import sniff
from mapreduce_implementation_grpc_spark.multimodal.mp4 import (
    mp4_probe,
    mp4_write_stub,
)


def test_probe_roundtrip_v0():
    d = mp4_probe(mp4_write_stub(64, 36, 24, 12))
    assert d["brand"] == "isom"
    assert d["duration_s"] == 2.0
    assert d["n_tracks"] == 1
    t = d["tracks"][0]
    assert (t["type"], t["codec"]) == ("video", "avc1")
    assert (t["width"], t["height"]) == (64.0, 36.0)
    assert t["n_samples"] == 24 and t["duration_s"] == 2.0
    assert t["language"] == "und"
    assert t["sample_bytes"] == 24 * 512


def test_probe_roundtrip_v1_largesize_audio():
    """64-bit mvhd/tkhd/mdhd variants + size==1 largesize mdat + a
    second (audio) track."""
    d = mp4_probe(
        mp4_write_stub(128, 72, 10, 25, version=1, with_audio=True,
                       largesize_mdat=True)
    )
    assert d["duration_s"] == 0.4 and d["n_tracks"] == 2
    vid, aud = d["tracks"]
    assert (vid["type"], vid["codec"], vid["width"]) == ("video", "avc1", 128.0)
    assert (aud["type"], aud["codec"]) == ("audio", "mp4a")
    assert aud["timescale"] == 48000 and aud["n_samples"] == 40


def test_truncation_raises():
    payload = mp4_write_stub()
    for cut in (6, 30, len(payload) // 3):
        with pytest.raises(ValueError):
            mp4_probe(payload[:cut])


def test_box_overrun_raises():
    """A box whose declared size overruns its parent must fail
    loudly, not read garbage."""
    payload = bytearray(mp4_write_stub())
    i = payload.find(b"moov") - 4
    size = struct.unpack(">I", payload[i : i + 4])[0]
    payload[i : i + 4] = struct.pack(">I", size + 10_000)
    with pytest.raises(ValueError, match="overruns"):
        mp4_probe(bytes(payload))


def test_missing_moov_raises():
    payload = mp4_write_stub()
    ftyp_end = payload.find(b"moov") - 4
    no_moov = payload[:ftyp_end]
    with pytest.raises(ValueError, match="no moov"):
        mp4_probe(no_moov)


def test_not_mp4_raises():
    with pytest.raises(ValueError, match="ftyp"):
        mp4_probe(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)


def test_unknown_vendor_box_skipped():
    """The format's extensibility rule: unknown top-level boxes are
    skipped by size, parsing continues."""
    payload = mp4_write_stub()
    i = payload.find(b"moov") - 4
    vendor = struct.pack(">I", 8 + 12) + b"xyzz" + b"\xde\xad" * 6
    patched = payload[:i] + vendor + payload[i:]
    d = mp4_probe(patched)
    assert d["n_tracks"] == 1 and d["tracks"][0]["codec"] == "avc1"


def test_sniff_and_decode_boundary():
    payload = mp4_write_stub()
    assert sniff(payload) == "mp4"


def test_writer_is_bit_deterministic():
    assert mp4_write_stub(32, 18, 8, 10) == mp4_write_stub(32, 18, 8, 10)


@pytest.mark.slow
def test_spark_video_metadata_triage(spark):
    """The corpus triage scan: good MP4s yield typed metadata rows,
    non-MP4 / truncated payloads land in `err` instead of killing
    the batch."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.multimodal.binary_ops import (
        video_metadata,
    )

    good = mp4_write_stub(64, 36, 24, 12, with_audio=True)
    rows = [
        Row(doc_id=1, payload=bytearray(good)),
        Row(doc_id=2, payload=bytearray(b"\xff\xd8\xff" + b"\x00" * 64)),
        Row(doc_id=3, payload=bytearray(good[: len(good) // 2])),
    ]
    out = {r.doc_id: r for r in video_metadata(spark.createDataFrame(rows)).collect()}
    assert out[1].err is None
    assert (out[1].video_codec, out[1].audio_codec) == ("avc1", "mp4a")
    assert (out[1].width, out[1].height, out[1].duration_s) == (64.0, 36.0, 2.0)
    assert out[2].err is not None and out[2].brand is None
    assert out[3].err is not None
