"""Batch operators applied to Structured Streaming frames: a file-source
stream is driven to completion and compared against the same operator
run as a batch query. The engine ships no streaming functions; these
pin that its operators compose onto a ``readStream`` frame
unchanged."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

LINES_SCHEMA = StructType([StructField("line", StringType())])
DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
    ]
)


def _drain(spark, df, name: str, mode: str = "append"):
    """Run `df` (a streaming frame) over every available input into a
    memory sink and return the collected rows."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _write_docs(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "docs.json"), "w") as f:
        for doc_id, ts, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "ts": ts, "text": text}) + "\n")


def test_streaming_word_count_matches_batch(spark, tmp_path):
    """The reference query on a line stream: word_count's groupBy runs
    as a stateful streaming aggregation (complete mode) and ends at
    the batch counts."""
    from mapreduce_implementation_grpc_spark.operators import word_count

    src = tmp_path / "lines"
    src.mkdir()
    (src / "a.txt").write_text("Hello, World!\nhello again\n")
    (src / "b.txt").write_text("HELLO world\n")
    stream = spark.readStream.schema(LINES_SCHEMA).text(str(src)).withColumnRenamed("value", "line")
    got = {r.word: r.cnt for r in _drain(spark, word_count(stream), "wc_stream", "complete")}
    assert got == {"hello": 3, "world": 2, "again": 1}


def test_foreachbatch_streaming_etl(spark, tmp_path):
    """Streaming ETL: each microbatch word-counted and appended to a
    parquet sink via foreachBatch; final table equals the batch
    word count of everything ingested."""
    src = tmp_path / "fb_lines"
    src.mkdir()
    (src / "a.txt").write_text("alpha beta alpha\n")
    (src / "b.txt").write_text("beta gamma\n")
    out = str(tmp_path / "fb_out")

    stream = spark.readStream.schema(LINES_SCHEMA).text(str(src)).withColumnRenamed("value", "line")
    from mapreduce_implementation_grpc_spark.operators import word_count

    def sink(batch_df, batch_id):
        word_count(batch_df).withColumn("batch", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    merged = {
        r.word: r.total
        for r in spark.read.parquet(out).groupBy("word").agg(F.sum("cnt").alias("total")).collect()
    }
    assert merged == {"alpha": 2, "beta": 2, "gamma": 1}


def test_doc_chunks_on_stream_matches_batch(spark, tmp_path):
    """The chunker is a stateless Project -> Generate -> Project, so it
    runs on a stream in append mode with no watermark or state."""
    from mapreduce_implementation_grpc_spark.operators.chunking import doc_chunks

    src = str(tmp_path / "chunk_docs")
    _write_docs(src, [
        (1, "2024-01-01 10:00:00", " ".join(f"w{i}" for i in range(80))),
        (2, "2024-01-01 10:01:00", "short doc"),
        (3, "2024-01-01 10:02:00", "???!!!"),  # zero tokens -> no chunks
    ])
    stream = spark.readStream.schema(DOCS_SCHEMA).json(src)
    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in _drain(spark, doc_chunks(stream), "chunk_stream")
    }
    batch = spark.read.schema(DOCS_SCHEMA).json(src)
    want = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in doc_chunks(batch).collect()
    }
    assert got == want and len(want) > 3
    assert not any(doc_id == 3 for doc_id, _ in got)


def test_pq_codes_on_stream_matches_batch(spark, tmp_path, sf_smoke):
    """Codebooks fitted in batch encode a parquet stream to the codes
    the batch encoder assigns; the encode is a narrow map, so append
    mode works."""
    from mapreduce_implementation_grpc_spark.operators.quantization import (
        pq_codes,
        pq_fit,
    )

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    books = pq_fit(emb)
    batch = {r.vec_id: (list(r.codes), r.recon_err)
             for r in pq_codes(emb, codebooks=books).collect()}

    src = tmp_path / "embstream"
    emb.limit(100).write.parquet(str(src))
    stream = spark.readStream.schema(emb.schema).parquet(str(src))
    got = {r.vec_id: (list(r.codes), r.recon_err)
           for r in _drain(spark, pq_codes(stream, codebooks=books), "pq_stream")}
    assert len(got) == 100
    assert all(got[v] == batch[v] for v in got)


def test_decode_features_on_stream_matches_batch(spark, tmp_path):
    """The Arrow mapInPandas decode is a pure function of the payload
    bytes, so on a stream it emits the batch path's feature vectors."""
    from mapreduce_implementation_grpc_spark.multimodal.binary_ops import (
        decode_features,
        with_binary_payload,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "mm_docs")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "d.json"), "w") as f:
        for doc_id, text in [(1, "the quick brown fox"), (2, "lazy dog"), (3, "x")]:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    stream = spark.readStream.schema(schema).json(src)
    got = {
        r.doc_id: (r.modality, r.n_bytes, tuple(r.feature))
        for r in _drain(spark, decode_features(with_binary_payload(stream)), "mm_stream")
    }
    batch = spark.read.schema(schema).json(src)
    want = {
        r.doc_id: (r.modality, r.n_bytes, tuple(r.feature))
        for r in decode_features(with_binary_payload(batch)).collect()
    }
    assert got == want and len(got) == 3
