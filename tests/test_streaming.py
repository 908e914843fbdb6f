"""Structured Streaming pipelines: file-source fixtures driven to
completion, results compared against the batch twins."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mapreduce_implementation_grpc_spark.streaming import (
    streaming_event_counts,
    streaming_sessionize,
    streaming_word_count,
)

LINES_SCHEMA = StructType([StructField("line", StringType())])
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


def _run_stream(df, name: str, mode: str) -> None:
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()


def test_streaming_word_count_matches_batch(spark, tmp_path):
    src = tmp_path / "lines"
    src.mkdir()
    (src / "a.txt").write_text("Hello, World!\nhello again\n")
    (src / "b.txt").write_text("HELLO world\n")
    stream = spark.readStream.schema(LINES_SCHEMA).text(str(src)).withColumnRenamed("value", "line")
    _run_stream(streaming_word_count(stream), "wc_stream", "complete")
    got = {r.word: r.cnt for r in spark.sql("SELECT * FROM wc_stream").collect()}
    assert got == {"hello": 3, "world": 2, "again": 1}


@pytest.fixture(scope="module")
def event_rows():
    return [
        # user 1: two events 5 min apart (one session), then a 2h gap (new session)
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:05:00", 1, "click"),
        (3, "2024-01-01 12:30:00", 1, "view"),
        # user 2: single event
        (4, "2024-01-01 10:59:00", 2, "error"),
    ]


def _write_events_json(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "events.json"), "w") as f:
        for eid, ts, uid, etype in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid, "event_type": etype}) + "\n")


def test_streaming_event_counts_tumbling(spark, tmp_path, event_rows):
    path = str(tmp_path / "events")
    _write_events_json(path, event_rows)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(path).withColumn("value", F.lit(1.0))
    out = streaming_event_counts(stream)
    _run_stream(out, "ev_stream", "append")
    # append mode only emits closed windows; rerun in update-ish way via complete on a fresh query
    got = {(r.bucket, r.event_type): r.n_events for r in spark.sql("SELECT * FROM ev_stream").collect()}
    # watermark never advances past final batch in append mode for last windows;
    # assert at least the first (closed) window emitted correctly if present,
    # and validate full contents via complete-mode equivalent:
    stream2 = spark.readStream.schema(EVENTS_SCHEMA).json(path).withColumn("value", F.lit(1.0))
    out2 = (
        stream2.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                "event_type", "n_events")
    )
    _run_stream(out2, "ev_stream_c", "complete")
    got_c = {(r.bucket, r.event_type): r.n_events for r in spark.sql("SELECT * FROM ev_stream_c").collect()}
    assert got_c[("2024-01-01 10:00:00", "click")] == 2
    assert got_c[("2024-01-01 12:00:00", "view")] == 1
    assert got_c[("2024-01-01 10:00:00", "error")] == 1
    # anything append-mode emitted must agree with the complete-mode truth
    for key, v in got.items():
        assert got_c.get(key) == v


def test_streaming_sessionize(spark, tmp_path, event_rows):
    path = str(tmp_path / "events2")
    _write_events_json(path, event_rows)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(path)
    out = streaming_sessionize(stream)
    q = out.writeStream.format("memory").queryName("sess_stream").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess_stream").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2  # two sessions for user 1
    assert sum(r.n_events for r in by_user[1]) == 3
    assert len(by_user[2]) == 1 and by_user[2][0].n_events == 1


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


def test_streaming_signup_purchase_join_cross_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks: purchases match
    signups from EARLIER microbatches (buffered join state), matches
    outside the 1h horizon are dropped, and purchases with no signup
    never emit."""
    from pyspark.sql.types import DoubleType

    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_signup_purchase_join,
    )

    schema = StructType(
        EVENTS_SCHEMA.fields + [StructField("value", DoubleType())]
    )
    src = str(tmp_path / "joinev")
    os.makedirs(src, exist_ok=True)

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for eid, ts, uid, etype, val in rows:
                f.write(json.dumps(
                    {"event_id": eid, "ts": ts, "user_id": uid,
                     "event_type": etype, "value": val}) + "\n")

    write("b1.json", [
        (1, "2024-01-01 10:00:00", 1, "signup", 0.0),
        (2, "2024-01-01 10:30:00", 1, "purchase", 9.99),   # in-batch match
        (3, "2024-01-01 10:15:00", 2, "purchase", 5.00),   # no signup -> drop
        (4, "2024-01-01 10:50:00", 3, "signup", 0.0),
    ])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    out = streaming_signup_purchase_join(stream)
    q = out.writeStream.format("memory").queryName("sp_join").outputMode("append").start()
    try:
        q.processAllAvailable()
        write("b2.json", [
            (5, "2024-01-01 11:10:00", 3, "purchase", 3.50),  # cross-batch match
            (6, "2024-01-01 12:00:00", 1, "purchase", 1.00),  # outside 1h horizon
        ])
        q.processAllAvailable()
        got = {(r.user_id, r.purchase_s) for r in
               spark.sql("SELECT * FROM sp_join").collect()}
        assert (1, "2024-01-01 10:30:00") in got
        assert (3, "2024-01-01 11:10:00") in got      # state crossed batches
        assert not any(u == 2 for u, _ in got)        # unmatched purchase
        assert (1, "2024-01-01 12:00:00") not in got  # horizon enforced
    finally:
        q.stop()


def test_streaming_pq_encode_matches_batch(spark, tmp_path):
    """Pre-trained codebooks applied to a parquet stream produce the
    identical codes the batch encoder assigns -- and the plan is
    stateless (append mode works)."""
    from mapreduce_implementation_grpc_spark.operators.quantization import (
        pq_codes,
        pq_fit,
    )
    from mapreduce_implementation_grpc_spark.streaming.pipelines import (
        streaming_pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_fit(emb)
    batch = {r.vec_id: (list(r.codes), r.recon_err)
             for r in pq_codes(emb, codebooks=books).collect()}

    src = tmp_path / "embstream"
    emb.limit(100).write.parquet(str(src))
    stream = spark.readStream.schema(emb.schema).parquet(str(src))
    out = streaming_pq_encode(stream, books)
    q = out.writeStream.format("memory").queryName("pq_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    got = {r.vec_id: (list(r.codes), r.recon_err)
           for r in spark.sql("SELECT * FROM pq_stream").collect()}
    assert len(got) == 100
    assert all(got[v] == batch[v] for v in got)


def test_session_window_stream_equals_batch_operator(spark, tmp_path, event_rows):
    """streaming_sessionize (complete mode) over the whole feed must
    equal the same session_window aggregation run as a BATCH query on
    the same rows -- the operator is one implementation with two
    execution modes, and the batch side is what the registry's
    gaps-and-islands oracle hash-checks, closing the loop
    stream == batch == SQL islands."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "events_swb")
    _write_events_json(path, event_rows)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(path)
    out = streaming_sessionize(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_sb")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM sess_sb").collect()
    )
    batch = (
        spark.read.schema(EVENTS_SCHEMA).json(path)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    assert got == sorted(tuple(r) for r in batch.collect()) and got
