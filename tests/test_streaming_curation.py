"""Streaming curation pipeline + keyed upsert sink: file-source
fixtures driven to completion, compared against batch twins."""

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

from mapreduce_implementation_grpc_spark.streaming import (
    parquet_upsert_sink,
    streaming_curate,
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
    ]
)

GOOD = (
    "the quick brown fox jumps over a lazy dog and then runs far away "
    "of the hills is where sound comes from and many other words too"
)


def _write_docs(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "docs.json"), "w") as f:
        for doc_id, ts, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "ts": ts, "text": text}) + "\n")


def test_streaming_curate_dedups_gates_and_redacts(spark, tmp_path):
    src = str(tmp_path / "docs")
    _write_docs(
        src,
        [
            (1, "2024-01-01 10:00:00", GOOD),
            (2, "2024-01-01 10:01:00", GOOD),          # exact dup of 1
            (3, "2024-01-01 10:02:00", "???!!!###"),    # quality 0.0
            (4, "2024-01-01 10:03:00", GOOD + " mail me a@b.io or 1.2.3.4"),
        ],
    )
    stream = spark.readStream.schema(DOCS_SCHEMA).json(src)
    q = (
        streaming_curate(stream)
        .writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.doc_id: r for r in spark.sql("SELECT * FROM curated_stream").collect()}
    # dup dropped (one of 1/2 survives), low-quality 3 dropped, 4 redacted
    assert 3 not in rows
    assert len({1, 2} & set(rows)) == 1
    assert rows[4].n_email == 1 and rows[4].n_ip == 1
    assert "<EMAIL>" in rows[4].redacted and "<IP>" in rows[4].redacted
    assert all(r.quality >= 0.3 for r in rows.values())


def test_parquet_upsert_sink_converges_on_replay(spark, tmp_path):
    """Keyed upsert: replaying the same batch is a no-op; a newer
    batch's row replaces the old row for the same key."""
    out = str(tmp_path / "table")
    sink = parquet_upsert_sink(spark, out, ["user_id"])

    b1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "user_id long, total double")
    b2 = spark.createDataFrame([(2, 25.0), (3, 30.0)], "user_id long, total double")
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # at-least-once replay
    got = {r.user_id: r.total for r in spark.read.parquet(out).collect()}
    assert got == {1: 10.0, 2: 25.0, 3: 30.0}


def test_upsert_sink_end_to_end_stream(spark, tmp_path):
    """Stream aggregate -> foreachBatch upsert: final table equals
    the batch groupBy over the same input."""
    src = str(tmp_path / "docs")
    _write_docs(
        src,
        [
            (1, "2024-01-01 10:00:00", "a b c"),
            (2, "2024-01-01 10:01:00", "d e"),
            (3, "2024-01-01 11:30:00", "f"),
        ],
    )
    out = str(tmp_path / "counts")
    stream = spark.readStream.schema(DOCS_SCHEMA).json(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"))
        .agg(F.count("*").alias("n_docs"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(parquet_upsert_sink(spark, out, ["hour"]))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r.hour: r.n_docs for r in spark.read.parquet(out).collect()}
    assert got == {"2024-01-01 10": 2, "2024-01-01 11": 1}


def test_streaming_decontaminate_drops_contaminated(spark, tmp_path):
    """A stream doc containing a 6-gram from the eval corpus must be
    dropped; clean docs and short docs pass; result matches the
    batch decontaminate complement."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.operators.curation import decontaminate
    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_decontaminate,
    )

    eval_docs = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps over the lazy dog")]
    )
    corpus_rows = [
        Row(doc_id=1, text="totally clean text about engines and parquet files ok"),
        Row(doc_id=2, text="prefix quick brown fox jumps over the lazy suffix words"),
        Row(doc_id=3, text="too short"),
    ]
    corpus = spark.createDataFrame(corpus_rows)

    src = tmp_path / "docs"
    corpus.write.parquet(str(src))
    stream = spark.readStream.schema(corpus.schema).parquet(str(src))
    out = streaming_decontaminate(stream, eval_docs)
    q = (
        out.writeStream.format("memory")
        .queryName("decontam_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    kept = {r.doc_id for r in spark.sql("SELECT doc_id FROM decontam_stream").collect()}
    assert kept == {1, 3}
    # parity with the batch operator's complement
    contaminated = {r.doc_id for r in decontaminate(corpus, eval_docs).collect()}
    assert kept == {r.doc_id for r in corpus_rows} - contaminated


def test_streaming_decontaminate_empty_eval_passes_through(spark, tmp_path):
    """An empty eval corpus must short-circuit: every stream doc
    passes, and nothing fails to resolve (the r2 ADVICE regression:
    F.lit([]) built an ARRAY<VOID> that arrays_overlap rejected)."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_decontaminate,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="some words here"), Row(doc_id=2, text="more text")]
    )
    eval_docs = spark.createDataFrame([], corpus.schema)
    src = tmp_path / "docs_empty_eval"
    corpus.write.parquet(str(src))
    stream = spark.readStream.schema(corpus.schema).parquet(str(src))
    out = streaming_decontaminate(stream, eval_docs)
    q = (
        out.writeStream.format("memory")
        .queryName("decontam_empty")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    kept = {r.doc_id for r in spark.sql("SELECT doc_id FROM decontam_empty").collect()}
    assert kept == {1, 2}


def test_streaming_anomaly_filter_constant_type_dropped(spark, tmp_path):
    """A type whose trained sd is 0 (constant values) must emit no
    events -- matching the batch nullif(sd,0) semantics -- instead of
    dividing by zero; other types still score."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_anomaly_filter,
    )

    rows = [Row(event_id=i, event_type="const", value=5.0) for i in range(10)]
    # 19 small values and one far outlier: its z-score (~4.4) clears
    # ANOMALY_Z (a sample of n values caps |z| at sqrt(n - 1))
    rows += [Row(event_id=100 + i, event_type="vary", value=float(i)) for i in range(19)]
    rows.append(Row(event_id=200, event_type="vary", value=1000.0))
    ev = spark.createDataFrame(rows)
    vals = [float(i) for i in range(19)] + [1000.0]
    mu = sum(vals) / len(vals)
    sd = (sum(v * v for v in vals) / len(vals) - mu * mu) ** 0.5
    stats = [("const", 5.0, 0.0), ("vary", mu, sd)]
    src = tmp_path / "ev_const"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    out = streaming_anomaly_filter(stream, stats).select("event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("anom_const")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r.event_id for r in spark.sql("SELECT event_id FROM anom_const").collect()}
    assert got == {200}


def test_streaming_anomaly_filter_matches_batch(spark, tmp_path):
    """Batch-trained moments applied to the same data as a stream
    must flag exactly the batch outlier set."""
    from mapreduce_implementation_grpc_spark.plans.analytics import (
        events_anomaly_zscore,
    )
    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_anomaly_filter,
    )

    sf = "/root/testdata/sf0.001"
    batch_out = {r.event_id for r in events_anomaly_zscore(spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    # train the serving stats exactly as the batch query does
    from pyspark.sql import functions as F

    vdec = F.col("value").cast("double").cast("decimal(27,12)")
    v2dec = (F.col("value").cast("double").cast("decimal(18,6)")
             * F.col("value").cast("double").cast("decimal(18,6)"))
    st = ev.groupBy("event_type").agg(
        F.sum(vdec).cast("string").cast("double").alias("s1"),
        F.sum(v2dec).cast("string").cast("double").alias("s2"),
        F.count("*").alias("n"),
    ).collect()
    stats = [
        (r.event_type, r.s1 / r.n, ((r.s2 / r.n) - (r.s1 / r.n) ** 2) ** 0.5)
        for r in st
    ]
    src = tmp_path / "evstream"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    out = streaming_anomaly_filter(stream, stats).select("event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("anom_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r.event_id for r in spark.sql("SELECT event_id FROM anom_stream").collect()}
    assert got == batch_out and got


def test_streaming_doc_chunks_matches_batch(spark, tmp_path):
    from mapreduce_implementation_grpc_spark.operators.chunking import doc_chunks
    from mapreduce_implementation_grpc_spark.streaming import streaming_doc_chunks

    src = str(tmp_path / "chunk_docs")
    rows = [
        (1, "2024-01-01 10:00:00", " ".join(f"w{i}" for i in range(80))),
        (2, "2024-01-01 10:01:00", "short doc"),
        (3, "2024-01-01 10:02:00", "???!!!"),  # zero tokens -> no chunks
    ]
    _write_docs(src, rows)
    stream = spark.readStream.schema(DOCS_SCHEMA).json(src)
    q = (
        streaming_doc_chunks(stream)
        .writeStream.format("memory")
        .queryName("chunk_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in spark.sql("select * from chunk_stream").collect()
    }
    batch = spark.read.schema(DOCS_SCHEMA).json(src)
    want = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in doc_chunks(batch).collect()
    }
    assert got == want and len(want) > 3
    assert not any(doc_id == 3 for doc_id, _ in got)


def test_streaming_dsir_filter_matches_batch(spark, tmp_path):
    from mapreduce_implementation_grpc_spark.operators.dsir import (
        TARGET_SOURCE,
        dsir_log_ratios,
        dsir_weights,
    )
    from mapreduce_implementation_grpc_spark.streaming import streaming_dsir_filter
    from pyspark.sql.types import StructType, StructField, LongType, StringType, TimestampType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ]
    )
    corpus = [
        (1, "2024-01-01 10:00:00", "whereas the party agrees to the terms", "en", TARGET_SOURCE),
        (2, "2024-01-01 10:00:30", "the party shall comply with the terms", "en", TARGET_SOURCE),
        (10, "2024-01-01 10:01:00", "the party agrees to comply with terms", "en", "web"),
        (11, "2024-01-01 10:02:00", "lol cats meme pics funny videos", "en", "web"),
    ]
    src = str(tmp_path / "dsir_docs")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "docs.json"), "w") as f:
        for doc_id, ts, text, lang, source in corpus:
            f.write(json.dumps({"doc_id": doc_id, "ts": ts, "text": text,
                                "lang": lang, "source": source}) + "\n")

    batch = spark.read.schema(schema).json(src)
    # train on the full static corpus; materialize the tiny model so
    # the streaming join is a plain static table, as in production
    ratios = spark.createDataFrame(
        dsir_log_ratios(batch).collect()
    )
    want = {r.doc_id: r.dsir_logw for r in dsir_weights(batch).collect()}

    stream = spark.readStream.schema(schema).json(src).filter(f"source <> '{TARGET_SOURCE}'")
    # complete mode so the bounded fixture emits without needing the
    # watermark to advance past the window end (append-mode emission
    # requires a later batch; production streams have one).
    q = (
        streaming_dsir_filter(stream, ratios)
        .writeStream.format("memory")
        .queryName("dsir_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.dsir_logw
        for r in spark.sql("select * from dsir_stream").collect()
    }
    assert got == want and set(got) == {10, 11}


def test_dedup_append_sink_exact_across_batches(spark, tmp_path):
    """Continuous corpus building: duplicates arriving in LATER
    microbatches (beyond any watermark horizon) must still be dropped,
    because the seen-set is the output table itself."""
    from mapreduce_implementation_grpc_spark.streaming import dedup_append_sink

    src = str(tmp_path / "dedup_src")
    out = str(tmp_path / "dedup_out")
    # batch 1: two distinct docs + an intra-batch dup (doc 3 == doc 1)
    _write_docs(src, [
        (1, "2024-01-01 10:00:00", "alpha beta gamma"),
        (2, "2024-01-01 10:01:00", "delta epsilon"),
        (3, "2024-01-01 10:02:00", "alpha beta gamma"),
    ])
    stream = spark.readStream.schema(DOCS_SCHEMA).json(src)
    q = (
        stream.writeStream.foreachBatch(dedup_append_sink(spark, out))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # batch 2 (separate trigger): one cross-batch dup + one new doc
    with open(os.path.join(src, "more.json"), "w") as f:
        for doc_id, ts, text in [
            (4, "2024-01-02 09:00:00", "alpha beta gamma"),   # dup of 1, next day
            (5, "2024-01-02 09:01:00", "zeta eta theta"),
        ]:
            f.write(json.dumps({"doc_id": doc_id, "ts": ts, "text": text}) + "\n")
    q2 = (
        stream.writeStream.foreachBatch(dedup_append_sink(spark, out))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q2.awaitTermination(120)

    table = spark.read.parquet(out)
    rows = {r["doc_id"] for r in table.collect()}
    fps = [r["fingerprint"] for r in table.collect()]
    assert rows == {1, 2, 5}            # 3 (intra-batch) and 4 (cross-batch) dropped
    assert len(fps) == len(set(fps))    # fingerprints unique in the table


def test_streaming_bm25_matches_batch(spark, tmp_path, sf_smoke):
    """Frozen-statistics BM25 over a stream of the SAME corpus must
    reproduce the batch bm25 ranking scores doc-for-doc."""
    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.registry.curation import BM25_QUERY
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table
    from mapreduce_implementation_grpc_spark.streaming import (
        bm25_collection_stats,
        streaming_bm25_scores,
    )

    stats = bm25_collection_stats(spark, sf_smoke, BM25_QUERY)
    src = str(tmp_path / "bm25_docs")
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    docs.write.mode("overwrite").json(src)
    stream = spark.readStream.schema(docs.schema).json(src)
    q = (
        streaming_bm25_scores(stream, stats, BM25_QUERY)
        .writeStream.format("memory")
        .queryName("bm25_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.bm25 for r in spark.sql("select * from bm25_stream").collect()
    }
    want = {r.doc_id: r.bm25 for r in QUERIES["bm25_topk"](spark, sf_smoke).collect()}
    # batch query returns the top-50; every one of those scores must
    # match the streamed score exactly
    assert want and all(got[d] == s for d, s in want.items())


def test_near_dedup_append_sink_drops_band_collisions_across_batches(spark, tmp_path):
    """Continuous NEAR-dup dedup: a later batch's lightly-edited copy
    of an accepted doc must be dropped (band-key collision against
    the sink's band table), an unrelated doc kept, and a within-batch
    near-dup pair resolved to the smaller doc_id."""
    from mapreduce_implementation_grpc_spark.streaming import near_dedup_append_sink

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong potions under a pale winter moon tonight")
    edited = base.replace("tonight", "today")          # ~0.9 shingle jaccard
    other = ("completely different content about spark shuffles and "
             "parquet footers with no overlapping trigrams at all here")
    other_edit = other.replace("here", "anywhere")

    src = str(tmp_path / "nd_src")
    out = str(tmp_path / "nd_out")
    _write_docs(src, [
        (1, "2024-01-01 10:00:00", base),
        (2, "2024-01-01 10:01:00", other),
    ])
    stream = spark.readStream.schema(DOCS_SCHEMA).json(src)
    q = (
        stream.writeStream.foreachBatch(near_dedup_append_sink(spark, out))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    with open(os.path.join(src, "more.json"), "w") as f:
        for doc_id, ts, text in [
            (3, "2024-01-02 09:00:00", edited),      # near-dup of accepted 1
            (4, "2024-01-02 09:01:00", "totally fresh unrelated sentence "
                                       "mentioning neither foxes nor shuffles"),
            (5, "2024-01-02 09:02:00", other_edit),  # near-dup of accepted 2
        ]:
            f.write(json.dumps({"doc_id": doc_id, "ts": ts, "text": text}) + "\n")
    q2 = (
        stream.writeStream.foreachBatch(near_dedup_append_sink(spark, out))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .start()
    )
    q2.awaitTermination(120)

    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/docs").collect()}
    assert kept == {1, 2, 4}
    # band table only holds ACCEPTED docs' keys
    band_docs = {r["doc_id"] for r in spark.read.parquet(f"{out}/bands").collect()}
    assert band_docs == kept


EVENTS_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
    ]
)


def test_hll_rollup_sink_matches_batch_and_is_replay_idempotent(spark, tmp_path):
    """The continuously-maintained register table must equal the batch
    sketch of everything seen so far, and re-merging replayed data
    must leave it bit-identical (max is idempotent) -- the
    exactly-once-estimates property the sink's docstring claims."""
    from mapreduce_implementation_grpc_spark.operators.hll import hll_registers
    from mapreduce_implementation_grpc_spark.streaming import hll_rollup_sink

    src = str(tmp_path / "ev_src")
    out = str(tmp_path / "ev_regs")
    os.makedirs(src)
    batch1 = [
        ("view", "2024-01-01 09:00:00", u) for u in (1, 2, 3, 4, 2)
    ] + [("buy", "2024-01-02 10:00:00", u) for u in (2, 5)]
    batch2 = [
        ("view", "2024-01-01 23:00:00", u) for u in (3, 6, 7)
    ] + [("buy", "2024-01-03 08:00:00", u) for u in (1, 5, 8)]

    def write_events(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for et, ts, uid in rows:
                f.write(json.dumps({"event_type": et, "ts": ts, "user_id": uid}) + "\n")

    def run_sink(ckpt):
        q = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .json(src)
            .writeStream.foreachBatch(hll_rollup_sink(spark, out))
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination(120)

    def table():
        return {
            (r.event_type, str(r.d), r.reg): r.mj
            for r in spark.read.parquet(out).collect()
        }

    write_events("b1.json", batch1)
    run_sink("ckpt")
    write_events("b2.json", batch2)
    run_sink("ckpt")

    all_events = spark.createDataFrame(
        batch1 + batch2, "event_type string, ts string, user_id long"
    ).select("event_type", F.to_date(F.to_timestamp("ts")).alias("d"), "user_id")
    want = {
        (r.event_type, str(r.d), r.reg): r.mj
        for r in hll_registers(all_events, ["event_type", "d"], "user_id").collect()
    }
    got = table()
    assert got == want

    # fresh checkpoint => the whole source replays as one batch; the
    # re-merge must not change a single register
    run_sink("ckpt_replay")
    assert table() == want


def test_near_dedup_sink_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: re-running a batch through the sink with
    the SAME batch_id (Spark replays a crashed batch under its
    original id) must leave both tables byte-identical -- no doc
    duplicated, no doc suppressed by colliding with its OWN
    half-written band keys. Exercised by calling the foreachBatch
    function directly, including a replay after a simulated crash
    BETWEEN the bands write and the docs write."""
    from mapreduce_implementation_grpc_spark.streaming import near_dedup_append_sink

    out = str(tmp_path / "nd_replay")
    sink = near_dedup_append_sink(spark, out)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog while seven "
             "wizards brew strong potions under a pale winter moon tonight"),
         (2, "completely different content about spark shuffles and "
             "parquet footers with no overlapping trigrams at all here")],
        "doc_id long, text string",
    )
    sink(docs, 0)
    kept0 = sorted(r.doc_id for r in spark.read.parquet(f"{out}/docs").collect())
    assert kept0 == [1, 2]

    # replay batch 0 verbatim: same id -> same partition overwritten
    sink(docs, 0)
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs").collect()
    ) == [1, 2]
    bands = spark.read.parquet(f"{out}/bands")
    # band keys not duplicated either: one row per (doc, band)
    assert bands.count() == bands.dropDuplicates(["doc_id", "band_id"]).count()

    # crash-between-writes: batch 1's bands land, docs write "crashes"
    # (simulated by writing bands only through the same helper), then
    # the full batch replays -- docs must still be accepted exactly once
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.dedup import (
        band_key_rows,
        minhash_signatures,
    )
    from mapreduce_implementation_grpc_spark.sources.sinks import (
        overwrite_partitions,
    )

    new = spark.createDataFrame(
        [(3, "totally fresh unrelated sentence mentioning neither foxes "
             "nor shuffles nor any previously indexed content at all")],
        "doc_id long, text string",
    )
    partial = band_key_rows(minhash_signatures(new)).withColumn(
        "_batch_id", F.lit(1)
    )
    overwrite_partitions(partial, f"{out}/bands", ["_batch_id"])  # the crash point
    sink(new, 1)  # replay of batch 1
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs").collect()
    ) == [1, 2, 3]
    band_docs = {r.doc_id for r in spark.read.parquet(f"{out}/bands").collect()}
    assert band_docs == {1, 2, 3}
