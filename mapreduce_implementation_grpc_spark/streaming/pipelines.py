"""Structured Streaming variants of the engine's core pipelines.

The reference is batch-only (one fixed corpus, one job;
greeter_client.cc:398-416), but a 100 TB training-data pipeline
ingests continuously. These are the incremental twins of the batch
plans -- same transformations, readStream/writeStream endpoints.
For example:

- streaming_word_count: the reference query over an unbounded line
  stream. Complete-mode aggregation state is per-word partial counts
  (exactly the reference's O6 partial maps, kept alive in the state
  store instead of text files).
- streaming_event_counts: tumbling-window counts per event_type with
  a watermark bounding state (late events beyond the watermark are
  dropped deterministically).
- streaming_sessionize: session windows per user via the built-in
  session_window (gap-based), the incremental form of
  plans.analytics.events_sessionize.

Most public functions are of two kinds. The ``streaming_*``
functions return the *unstarted* streaming DataFrame; callers attach
the sink (tests use format('memory'); production would use
kafka/parquet with checkpointing). The ``*_sink`` factories return a
foreachBatch function that writes each microbatch to a path. Three
batch helpers sit beside them: bm25_collection_stats fits the
statistics streaming_bm25_scores serves, and dq_monitor_totals and
drift_report read a sink's output back. Streaming DataFrames cannot be
collected, so all of these are pytest-verified (file-source fixtures ->
processAllAvailable -> compare against the batch twin) rather than
DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, pin_before_overwrite
from ..operators.curation import DECONTAM_NGRAM_K
from ..operators.normalize import normalized_col
from ..operators.tokenize import tokens_col
from ..plans.analytics import ANOMALY_Z

TEXT_COL = "text"
BM25_B = 0.75
BM25_K1 = 1.2
TS_COL = "ts"
JOIN_WATERMARK = "2 hours"
DEDUP_WATERMARK = "1 hour"  # streaming_dedup's duplicate horizon
WINDOW_WATERMARK = "2 hours"  # lateness bound of the windowed aggregations


def streaming_user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + value total across ALL microbatches --
    state the built-in aggregations can't shape arbitrarily (this is
    the hook for custom sketches, decayed counters, session models).

    State is one row per user_id (bounded by user cardinality, not
    stream length); each microbatch updates only the groups it
    touches. Output mode 'update'."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )
    import pandas as pd

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_user_activity_decay(events: DataFrame) -> DataFrame:
    """Stateful online twin of
    plans.analytics.user_activity_decay_fold: per-user recency-decayed
    activity with O(1) state. Each arriving event (in (ts, event_id)
    order) updates decayed = (decayed + value) * 0.5 -- the recursion
    whose unrolling is the batch form's sum of v_i * 0.5^k_i.

    Bit-exactness contract: against the FOLD batch form the stream is
    bit-identical (same IEEE op sequence, HALF_UP rounding mirroring
    F.round -- Python's round() is half-to-even and is deliberately
    NOT used). Against the window+decimal registry form it agrees to
    float reassociation only, because every new event retroactively
    halves all old weights -- an online exact-decimal fold would need
    unbounded per-event state. Output mode 'update'.

    Ordering contract -- ENFORCED, not assumed: the fold is only
    correct if each user's events arrive in (ts, event_id) order
    ACROSS microbatches (within a batch the operator sorts). The
    state therefore carries the last folded (ts, event_id); an
    out-of-order arrival raises and fails the batch LOUDLY instead of
    silently folding a stale event at the newest-event weight and
    diverging from the batch twin forever. Sources that can reorder
    need the watermark-buffered operators instead."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("decayed_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("decayed", DoubleType()),
            StructField("n", LongType()),
            StructField("last_ts_us", LongType()),
            StructField("last_event_id", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        d, n, last_us, last_id = (
            state.get if state.exists else (0.0, 0, -(2**63), -(2**63))
        )
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if (ts_us, int(eid)) == (last_us, last_id):
                # exact redelivery of the last-folded event (at-least-
                # once source replaying into a NEW microbatch): skip as
                # an idempotent duplicate -- raising here would poison
                # every restart, since the replay recurs forever
                continue
            if (ts_us, int(eid)) < (last_us, last_id):
                raise ValueError(
                    f"streaming_user_activity_decay: out-of-order event "
                    f"(user {key[0]}, event_id {int(eid)}, ts {ts}) arrived "
                    f"after state already folded ts_us={last_us} -- the "
                    f"in-order fold contract is broken; use a watermarked "
                    f"operator for reordering sources"
                )
            last_us, last_id = ts_us, int(eid)
            d = (d + float(v)) * 0.5
            n += 1
        state.update((d, n, last_us, last_id))
        # repr() is the shortest round-trip decimal -- the same string
        # java.math.BigDecimal.valueOf sees, so HALF_UP here == F.round
        rounded = float(
            Decimal(repr(d)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "decayed_value": [rounded]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_user_state_intervals(events: DataFrame) -> DataFrame:
    """Stateful streaming twin of
    plans.analytics.user_state_intervals: the SCD2 table maintained
    online. State per user is ONE open interval (current event_type,
    its start, its event count); when an arriving event changes the
    type, the closed interval is EMITTED (append mode) and the state
    rolls to the new run. Closed rows are bit-identical to the batch
    query's valid_to-bearing rows over the same events; the open
    interval stays in state (the batch twin reports it with
    valid_to = NULL).

    Ordering contract -- ENFORCED like streaming_user_activity_decay:
    state carries the last folded (ts, event_id) and an out-of-order
    arrival across microbatches fails the batch loudly (a silently
    mis-ordered run would split or merge intervals forever)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("state", StringType()),
            StructField("valid_from", StringType()),
            StructField("valid_to", StringType()),
            StructField("n_events", LongType()),
            StructField("is_current", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cur", StringType()),
            StructField("vf_us", LongType()),
            StructField("n", LongType()),
            StructField("last_us", LongType()),
            StructField("last_event_id", LongType()),
        ]
    )

    def _fmt(ts_us: int) -> str:
        return pd.Timestamp(ts_us * 1000).strftime("%Y-%m-%d %H:%M:%S")

    def update(key, pdfs, state: GroupState):
        cur, vf_us, n, last_us, last_id = (
            state.get if state.exists else (None, 0, 0, -(2**63), -(2**63))
        )
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        closed = []
        for ts, eid, et in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if (ts_us, int(eid)) == (last_us, last_id):
                continue  # idempotent skip: at-least-once redelivery
            if (ts_us, int(eid)) < (last_us, last_id):
                raise ValueError(
                    f"streaming_user_state_intervals: out-of-order event "
                    f"(user {key[0]}, event_id {int(eid)}) after state "
                    f"folded ts_us={last_us} -- in-order contract broken"
                )
            last_us, last_id = ts_us, int(eid)
            if cur is None:
                cur, vf_us, n = et, ts_us, 1
            elif et == cur:
                n += 1
            else:
                closed.append(
                    (key[0], cur, _fmt(vf_us), _fmt(ts_us), n, False)
                )
                cur, vf_us, n = et, ts_us, 1
        state.update((cur, vf_us, n, last_us, last_id))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "state",
                    "valid_from",
                    "valid_to",
                    "n_events",
                    "is_current",
                ],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_dedup(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content
    fingerprint wins, duplicates arriving within the watermark
    horizon are dropped.

    dropDuplicatesWithinWatermark is the operator that actually
    EVICTS state: each fingerprint's entry expires once the watermark
    passes its event time, so the state store is O(docs per watermark
    window), not O(stream length). (Plain dropDuplicates on a subset
    that excludes the event-time column never evicts -- state grows
    with the stream -- which is why it is not used here.) Contract:
    exact dedup within the horizon, best-effort beyond it."""
    from ..operators.normalize import normalized_col as _norm

    fp = docs.withColumn("fingerprint", F.md5(_norm(TEXT_COL)))
    return fp.withWatermark(TS_COL, DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def streaming_signup_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's signup(s) in the preceding hour -- the incremental
    twin of the batch signup->purchase funnel.

    Both sides carry a watermark AND the join condition bounds the
    event-time distance, so Spark can evict buffered rows once the
    watermark passes signup_ts + 1 hour: join state is O(events per
    horizon window), never O(stream length). (An unbounded-time
    stream-stream join would buffer forever -- Spark rejects it in
    append mode for exactly that reason.)"""
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", JOIN_WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "value")
        .withWatermark("purchase_ts", JOIN_WATERMARK)
    )
    return purchases.join(
        signups,
        (purchases["user_id"] == signups["user_id"])
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 hour")),
    ).select(
        purchases["user_id"].alias("user_id"),
        F.date_format("signup_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_s"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_s"),
        "value",
    )


def streaming_word_count(lines: DataFrame) -> DataFrame:
    """Unbounded word count: same O2/O5/O6+O9 pipeline, incremental.
    Use outputMode('complete') (or 'update') on the sink."""
    words = lines.select(F.explode(tokens_col(normalized_col("line"))).alias("word"))
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


def streaming_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling-window counts per event_type; watermark bounds state
    size (and lateness) -- without it, 100 TB of stream state never
    ages out."""
    return (
        events.withWatermark("ts", WINDOW_WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Session windows per user: built-in gap-based session_window --
    the incremental twin of the batch lag()-based sessionizer."""
    return (
        events.withWatermark("ts", WINDOW_WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("sw.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def streaming_session_window(events: DataFrame) -> DataFrame:
    """Deployment twin of registry.events_analytics.q_events_session_window: the SAME
    native session_window aggregation over an unbounded stream, with
    a watermark so sessions FINALIZE (append mode emits a session
    exactly once, when the watermark passes its end -- late events
    inside the watermark still merge into their session first).

    Column-for-column the batch query's schema (user_id,
    session_start, session_end, n_events, n_types); the one mechanical
    difference is n_types = size(collect_set(event_type)) because
    exact count_distinct isn't supported inside a streaming
    aggregation -- set-size equals the batch distinct count exactly,
    so closed sessions are BIT-EXACT against the batch rows
    (pytest-pinned across a multi-microbatch split).

    Scale: session merging is per-group operator state keyed by
    user_id (one shuffle); state is bounded by OPEN sessions only --
    the watermark evicts every closed session, so state size tracks
    concurrent users, not history. The collect_set per open session
    is bounded by the event-type vocabulary, not event volume."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window(F.col("ts"), "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.size(F.collect_set("event_type")).alias("n_types"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            F.col("n_types").cast("long").alias("n_types"),
        )
    )


def streaming_curate(docs: DataFrame) -> DataFrame:
    """Incremental twin of the batch curation pipeline: within-
    watermark exact dedup -> quality gate -> PII redaction, over an
    unbounded document stream.

    Everything except the dedup is a stateless per-row projection
    (the same column expressions the batch operators use), so the
    only streaming state is the fingerprint store, evicted by the
    watermark -- O(docs per horizon), not O(stream length)."""
    from ..functions.text_stats import quality_score_col
    from ..operators.curation import pii_cols

    fp = docs.withColumn("fingerprint", F.md5(normalized_col(TEXT_COL)))
    deduped = fp.withWatermark(TS_COL, "1 hour").dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )
    gated = deduped.withColumn("quality", quality_score_col(TEXT_COL)).filter(
        F.col("quality") >= 0.3
    )
    count_cols, redacted = pii_cols()
    return gated.select("doc_id", TS_COL, "quality", *count_cols, redacted.alias("redacted"))


def parquet_upsert_sink(spark, path: str, key_cols: list[str]):
    """foreachBatch sink factory: idempotent keyed upsert into a
    parquet table -- new rows replace same-key rows, so replayed
    microbatches (at-least-once delivery) converge instead of
    duplicating.

    This is the merge pattern a lakehouse table format (Delta /
    Iceberg MERGE INTO) runs transactionally; plain parquet has no
    atomic swap, so the demo rewrites via an anti-join union --
    correct single-writer semantics, and the exact shape to swap for
    `MERGE INTO` when a table format is available. Each batch's work
    is O(table + batch); state lives in the table, not the stream."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch = pin_before_overwrite(batch_df.dropDuplicates(key_cols))
        try:
            cur = pin_before_overwrite(spark.read.parquet(path))
        except Exception:
            cur = None
        merged = batch if cur is None else cur.join(
            batch.select(*key_cols), key_cols, "left_anti"
        ).unionByName(batch)
        merged.write.mode("overwrite").parquet(path)

    return sink


def streaming_pq_encode(
    emb_stream: DataFrame,
    codebooks: list[list[tuple[int, list[float], float]]],
) -> DataFrame:
    """Incrementally PQ-encode an unbounded embedding stream against
    PRE-TRAINED codebooks (train once in batch via
    operators.quantization.pq_fit, serve forever): the narrow
    shuffle-free code-assignment map from pq_codes applied to a
    streaming DataFrame -- stateless, so any output mode works and
    throughput is the batch encode's. This is the standard
    ingest-time layout for a continuously-growing ANN index: new
    vectors land already compressed + routable."""
    from ..operators.quantization import pq_codes

    m = len(codebooks)
    return pq_codes(emb_stream, m=m, codebooks=codebooks)


def streaming_decontaminate(
    docs_stream: DataFrame,
    eval_docs: DataFrame,
) -> DataFrame:
    """Stateless streaming decontamination: drop every stream doc
    that shares any k-token n-gram with the (bounded, batch) eval
    corpus -- the ingest-time twin of operators.curation.decontaminate.

    The eval shingle set rides executor-side as a broadcast 1-row
    collect_set aggregate (the batch decontaminate / scalar-subquery
    shape: no driver collect(), no giant literal bloating the plan,
    and an empty eval corpus yields a typed empty array<string> that
    arrays_overlap resolves cleanly); each stream row builds its own
    shingle array behind an explode(array(...)) Generate barrier
    (tokenize runs once per row, not once per shingle -- the measured
    CollapseProject trap) and filters on arrays_overlap. Map-only
    stream-static broadcast join: no state, no watermark, append
    mode, full ingest throughput. Bound: the distinct eval shingle
    set must fit one broadcast row (~eval corpus size, not corpus
    size -- the same bound batch decontaminate documents)."""
    from ..operators.dedup import shingle_rows_flat
    from ..operators.normalize import normalized_col
    from ..operators.tokenize import tokens_col

    if eval_docs.isEmpty():
        return docs_stream
    eval_row = (
        shingle_rows_flat(eval_docs, DECONTAM_NGRAM_K)
        .select("sh")
        .distinct()
        .agg(F.collect_set("sh").alias("__eval_shs"))
    )
    toksed = docs_stream.withColumn(
        "__toks", F.explode(F.array(tokens_col(normalized_col(TEXT_COL))))
    )
    n = F.size("__toks")
    shingles = F.when(
        n >= DECONTAM_NGRAM_K,
        F.transform(
            F.sequence(F.lit(1), n - DECONTAM_NGRAM_K + 1),
            lambda i: F.concat_ws(" ", F.slice("__toks", i, DECONTAM_NGRAM_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    clean = (
        toksed.join(F.broadcast(eval_row))
        .filter(~F.arrays_overlap(shingles, F.col("__eval_shs")))
    )
    return clean.drop("__toks", "__eval_shs")


def streaming_anomaly_filter(
    events_stream: DataFrame, stats: list[tuple[str, float, float]]
) -> DataFrame:
    """Score an unbounded event stream against BATCH-trained per-type
    moments (train once with plans.analytics.events_anomaly_zscore's
    aggregation, serve forever): emit only events beyond ANOMALY_Z standard
    deviations of their type's mean. The (type, mu, sd) table ships
    as a literal map via a stacked CASE -- stateless, append mode,
    map-only; re-train on a cadence and restart the query to roll the
    model, or swap the literal for a stream-static join. Types whose
    trained sd is 0 (constant-valued) are dropped from the model so
    their events never score (matching the batch
    events_anomaly_zscore's nullif(sd,0) semantics) instead of
    dividing by zero."""
    mu = None
    sd = None
    stats = [(et, m, s) for et, m, s in stats if s > 0.0]
    if not stats:
        return events_stream.withColumn(
            "zscore", F.lit(None).cast("double")
        ).filter(F.lit(False))
    for et, m, s in stats:
        mu = (
            F.when(F.col("event_type") == et, F.lit(float(m)))
            if mu is None
            else mu.when(F.col("event_type") == et, F.lit(float(m)))
        )
        sd = (
            F.when(F.col("event_type") == et, F.lit(float(s)))
            if sd is None
            else sd.when(F.col("event_type") == et, F.lit(float(s)))
        )
    scored = events_stream.withColumn(
        "zscore", (F.col("value").cast("double") - mu) / sd
    )
    return scored.filter(F.abs(F.col("zscore")) > ANOMALY_Z)


def streaming_doc_chunks(docs_stream: DataFrame) -> DataFrame:
    """Incremental twin of the batch pretraining chunker
    (operators.chunking.doc_chunks): 1 document row -> N overlapping
    token-window chunks over an unbounded stream.

    The chunker is a stateless Project -> Generate -> Project (the
    token array is computed once per doc and sliced per chunk), so
    the batch operator composes onto a streaming DataFrame unchanged:
    append-mode, no watermark, no state store, per-microbatch cost =
    the batch plan over that batch's rows. At 100 TB-a-day ingest
    this is the shape you want -- chunking at ingest parallelizes
    with partition count and leaves nothing to re-shuffle later."""
    from ..operators.chunking import doc_chunks

    return doc_chunks(docs_stream)


def streaming_dsir_filter(
    docs_stream: DataFrame,
    ratios: DataFrame,
) -> DataFrame:
    """Score an unbounded document stream with a BATCH-trained DSIR
    model (train once with operators.dsir.dsir_log_ratios, serve
    forever) — the ingest-time shape of importance-resampling data
    selection: new raw documents arrive already scored, ready for
    threshold selection into the pretraining mixture.

    Per exploded token the stream-static join attaches the token's
    decimal log-ratio; a windowed per-doc sum (watermarked event-time
    window, append mode) re-assembles exactly the batch dsir_logw —
    decimal addition is associative, so per-instance accumulation
    equals the batch histogram form bit-for-bit. State is one sum per
    in-flight (window, doc), evicted by the watermark. OOV tokens
    (absent from the trained vocabulary) drop in the join, as in the
    batch ratio join."""
    from ..operators.tokenize import tokens_col

    toks = docs_stream.select(
        "doc_id",
        TS_COL,
        F.explode(tokens_col(normalized_col(TEXT_COL))).alias("w"),
    )
    return (
        toks.join(F.broadcast(ratios), "w")
        .withWatermark(TS_COL, "1 hour")
        .groupBy(F.window(TS_COL, "10 minutes").alias("win"), F.col("doc_id"))
        .agg(F.sum("lr").alias("s"))
        .select(
            "doc_id",
            F.col("win.start").alias("win_start"),
            F.round(F.col("s").cast("string").cast("double"), 6).alias("dsir_logw"),
        )
    )


def streaming_bpe_encode(
    docs_stream: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
) -> DataFrame:
    """Tokenize an unbounded document stream with a BATCH-trained BPE
    merge table (operators.bpe.bpe_train) — the tokenize-at-ingest
    shape: train the subword vocabulary once on a frozen corpus, then
    every arriving document is encoded by the same frozen rules.

    The merge list is tiny (k rules) and embeds as literal replace()
    calls, so encoding is a stateless per-row Project: append mode, no
    watermark, no state store, and per-microbatch cost is the map-only
    batch plan over that batch's rows. Because encoded_len_col is pure
    expression logic, stream and batch outputs agree code-for-code
    (tested in test_bpe.py)."""
    from ..operators.bpe import encoded_len_col
    from ..operators.normalize import normalized_col as _norm
    from ..operators.tokenize import tokens_col

    toks = tokens_col(_norm(TEXT_COL))
    n_bpe = F.aggregate(
        F.transform(toks, lambda w: encoded_len_col(w, merges)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return docs_stream.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
    )


def streaming_decode_features(docs_stream: DataFrame) -> DataFrame:
    """Ingest-time multimodal featurization: the Arrow-batched decode
    (multimodal.binary_ops.decode_features, a stateless mapInPandas)
    composed onto an unbounded stream unchanged -- payloads are
    feature-extracted as they arrive, so the corpus lands already
    vectorized. Append mode, no watermark, no state store; the Python
    boundary stays batch-crossing (one Arrow transfer per microbatch
    partition batch), never per-row. Batch/stream parity is pinned by
    test (the decode is a pure function of the payload bytes)."""
    from ..multimodal.binary_ops import decode_features, with_binary_payload

    return decode_features(with_binary_payload(docs_stream))


def dedup_append_sink(spark, path: str):
    """foreachBatch sink factory: continuous corpus building with
    EXACT unbounded dedup — each microbatch is fingerprinted
    (md5 of normalized text), deduped within the batch (keep the min
    doc_id, the batch operator's rule), anti-joined against the
    fingerprints already WRITTEN, and appended.

    This is the complement of streaming_dedup: that operator keeps
    its seen-set in the state store bounded by a watermark (exact
    within the horizon); here the seen-set IS the output table, so
    dedup is exact over the whole stream's life and state survives
    restarts for free. Cost per batch is O(table-scan of one
    fingerprint column + batch) — at 100 TB the table side is a
    single column read that partition-prunes if the table is
    fingerprint-bucketed. Append of a batch is not atomic in plain
    parquet (at-least-once delivery can replay a partially-written
    batch); parquet_upsert_sink shows the converging rewrite, and a
    table format's transactional append removes the caveat."""
    from pyspark.sql.window import Window as _W

    from ..operators.normalize import normalized_col as _norm

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        w = _W.partitionBy("fingerprint").orderBy("doc_id")
        batch = (
            batch_df.withColumn("fingerprint", F.md5(_norm(TEXT_COL)))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = _read_seen(spark, path, ["fingerprint"])
        new = batch if seen is None else batch.join(
            seen, "fingerprint", "left_anti"
        )
        new.write.mode("append").parquet(path)

    return sink


def _read_seen(spark, path: str, cols: list[str]):
    """Read a sink's seen-state table, returning None ONLY when the
    path does not exist yet (first batch). Any other read failure
    (corrupt footer, permissions) propagates and fails the batch --
    silently treating it as 'empty table' would disable dedup and
    append duplicates."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).select(*cols)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
            raise
        return None


def hll_rollup_sink(spark, path: str):
    """foreachBatch sink: continuously-maintained day-grain HLL
    register table -- the streaming twin of registry.curation.q_hll_user_rollup.
    Each microbatch is sketched to per-(event_type, day) registers
    (operators/hll.hll_registers, shared code) and reg-wise MAX-merged
    into the stored table, which any coarser-grain estimate then reads
    instead of raw history.

    Replay safety comes free from the algebra: max is IDEMPOTENT, so
    re-merging a replayed batch leaves the table bit-identical --
    exactly-once estimates under at-least-once delivery, where the
    append sinks above need keyed upserts to converge. State is the
    output table itself (restart-proof), bounded at
    |types| x |days| x 256 rows regardless of event volume. The
    overwrite of the tiny table is eager-checkpointed first (it reads
    its own previous version) and non-atomic on plain parquet, the
    same caveat as every sink here."""
    from ..operators.hll import hll_registers, merge_registers

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(
            "event_type", F.to_date("ts").alias("d"), "user_id"
        )
        regs = hll_registers(b, ["event_type", "d"], "user_id")
        prev = _read_seen(spark, path, ["event_type", "d", "reg", "mj"])
        merged = (
            regs
            if prev is None
            else merge_registers(prev.unionByName(regs), ["event_type", "d"])
        )
        pin_before_overwrite(merged).write.mode("overwrite").parquet(path)

    return sink


def near_dedup_append_sink(spark, path: str):
    """foreachBatch sink: continuous NEAR-duplicate dedup -- the LSH
    complement of dedup_append_sink's exact fingerprints. The sink
    table keeps each ACCEPTED doc (at `path`/docs) plus its MinHash
    band keys (at `path`/bands); an arriving doc is dropped when any
    of its band keys already exists -- the same banded collision rule
    as the batch minhash_near_dup_pairs (band_key_rows is shared
    code), with the same probabilistic profile.

    Within-batch semantics (deterministic): a doc is also dropped if
    it collides with a smaller-doc_id doc of the SAME batch --
    pessimistic on collision chains (if b collided with kept a, and c
    collides only with dropped b, c is dropped too: a band collision
    means probably-duplicate content regardless of which copy won).

    Replay safety: both tables are partitioned by `_batch_id` and
    written with dynamic-partition overwrite, so a replayed batch
    (at-least-once delivery after a crash between the two writes)
    REPLACES its own earlier partial output instead of appending a
    second copy, and the seen-scan excludes the batch's own partition
    so a doc never collides with its own half-written band keys. With
    idempotent per-batch writes the docs/bands write ORDER no longer
    affects correctness; bands still go first so the collision index
    is never behind the accepted docs.

    Scale: per batch, one anti-join of the batch's band keys against
    the band table (keyed on (band_id, band_hash) -- the table side
    partition-prunes if bucketed on the hash) and one tiny
    within-batch self-join; writes are batch-sized."""
    from ..operators.dedup import band_key_rows, minhash_signatures
    from ..sources.sinks import overwrite_partitions

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sigs = minhash_signatures(batch_df.select("doc_id", TEXT_COL))
        keys = materialize(band_key_rows(sigs))
        seen = _read_seen(spark, f"{path}/bands", ["band_id", "band_hash", "_batch_id"])
        if seen is not None:
            seen = seen.where(F.col("_batch_id") != batch_id).select(
                "band_id", "band_hash"
            )
        hits_table = (
            keys.join(seen, ["band_id", "band_hash"], "left_semi")
            if seen is not None
            else keys.limit(0)
        )
        hits_batch = (
            keys.alias("a")
            .join(
                keys.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_id"))
        )
        # materialized: BOTH writes (docs + bands) consume dropped,
        # and its plan contains the ever-growing bands-table scan --
        # without this the dominant per-batch cost runs twice
        dropped = materialize(
            hits_table.select("doc_id")
            .unionByName(hits_batch)
            .distinct()
        )
        kept = batch_df.join(dropped, "doc_id", "left_anti").withColumn(
            "_batch_id", F.lit(batch_id)
        )
        new_bands = keys.join(dropped, "doc_id", "left_anti").withColumn(
            "_batch_id", F.lit(batch_id)
        )
        overwrite_partitions(new_bands, f"{path}/bands", ["_batch_id"])
        overwrite_partitions(kept, f"{path}/docs", ["_batch_id"])

    return sink


def streaming_bm25_scores(
    docs_stream: DataFrame,
    stats: dict,
    query: tuple[str, ...],
) -> DataFrame:
    """Score arriving documents against a fixed query with FROZEN
    collection statistics -- the serve half of BM25: idf and average
    length come from a batch snapshot (`stats` = {"n_docs", "sum_dl",
    "df": [...]}, one tiny driver-side dict), so scoring is a
    stateless per-row Project over the stream. Refreshing the
    snapshot periodically is the standard search-engine pattern
    (statistics drift slowly; scores need no recomputation of the
    corpus). Append mode, no state store."""
    from ..operators.normalize import normalized_col as _norm
    from ..operators.tokenize import tokens_col

    toks = tokens_col(_norm(TEXT_COL))
    n = float(stats["n_docs"])
    avgdl = float(stats["sum_dl"]) / n
    dl = F.size(toks).cast("double")
    score = F.lit(0.0)
    for i, t in enumerate(query):
        df_ = float(stats["df"][i])
        # compute AND round the idf SPARK-side: F.round is HALF_UP,
        # matching the batch q_bm25_topk and the DuckDB oracle --
        # Python's round() is half-to-even and would break
        # stream/batch score parity on a log value tied at the 10th
        # decimal; the log itself also runs in the JVM so even a
        # 1-ulp libm-vs-Math.log divergence can't flip the rounding.
        # (The argument is pure IEEE +-/ arithmetic: bit-identical
        # wherever it's evaluated.)
        idf = F.round(F.log(F.lit((n - df_ + 0.5) / (df_ + 0.5) + 1.0)), 9)
        tf = F.size(F.filter(toks, (lambda term: lambda x: x == F.lit(term))(t))).cast("double")
        denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
        score = score + idf * (tf * (BM25_K1 + 1.0)) / denom
    return docs_stream.select(
        "doc_id", F.round(score, 6).alias("bm25")
    )


def bm25_collection_stats(spark, sf_dir: str, query: tuple[str, ...]) -> dict:
    """Batch snapshot of the collection statistics streaming_bm25_scores
    freezes: one aggregate over the corpus."""
    from ..functions.text_stats import with_token_array
    from ..sources.catalog import load_table

    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    row = docs.select(
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, (lambda term: lambda x: x == F.lit(term))(t)))
            .cast("long").alias(f"tf_{i}")
            for i, t in enumerate(query)
        ],
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query))
        ],
    ).collect()[0]
    return {
        "n_docs": row["n_docs"],
        "sum_dl": row["sum_dl"],
        "df": [row[f"df_{i}"] for i in range(len(query))],
    }


def dq_monitor_sink(spark, path: str):
    """foreachBatch sink: continuous data-quality monitoring -- the
    streaming half of operators/dq.dq_audit. Every microbatch runs
    the SAME row-local events predicates (events_row_checks is shared
    code, so batch audit and stream monitor can never drift) in one
    pass over the batch and appends [check_name, n_checked,
    n_violations] rows partitioned by _batch_id. A gate then reads
    the totals (dq_monitor_totals) or the per-batch series (trend /
    first-bad-batch forensics).

    Replay safety: a crashed batch is re-delivered by Spark under the
    SAME batch_id; the dynamic partition overwrite replaces that
    batch's own rows instead of appending a second copy, so totals
    never double-count. State is the output table; the sink itself is
    stateless and the per-batch write is check-count-sized (a few
    rows), never data-sized."""
    from ..operators.dq import _row_local, events_row_checks
    from ..sources.sinks import overwrite_partitions

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = _row_local(batch_df, events_row_checks()).withColumn(
            "_batch_id", F.lit(batch_id)
        )
        overwrite_partitions(rows, path, ["_batch_id"])

    return sink


def dq_monitor_totals(spark, path: str) -> DataFrame:
    """Aggregate the monitor table to per-check running totals --
    what a deployment gate compares against its violation budget."""
    return (
        spark.read.parquet(path)
        .groupBy("check_name")
        .agg(
            F.sum("n_checked").cast("long").alias("n_checked"),
            F.sum("n_violations").cast("long").alias("n_violations"),
        )
    )


def drift_monitor_sink(spark, path: str):
    """foreachBatch sink: continuous distribution-drift monitoring --
    the streaming half of operators/drift.categorical_drift. Every
    microbatch collapses to per-category counts (a |categories|-sized
    write, never data-sized) appended as rows partitioned by
    _batch_id; drift_report then reads the running totals and applies
    the IDENTICAL report arithmetic as the batch operator
    (categorical_drift_from_counts is shared code, so monitor and
    batch report can never drift from each other).

    Replay safety: a crashed batch is re-delivered under the SAME
    batch_id; the dynamic partition overwrite replaces that batch's
    own rows instead of appending a second copy (the dq_monitor_sink
    contract), so running counts never double-count."""
    from ..sources.sinks import overwrite_partitions

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.groupBy(F.col("lang").alias("cat"))
            .agg(F.count("*").alias("n"))
            .withColumn("_batch_id", F.lit(batch_id))
        )
        overwrite_partitions(rows, path, ["_batch_id"])

    return sink


def drift_report(spark, path: str, baseline_counts: DataFrame) -> DataFrame:
    """PSI/KL drift report of everything streamed so far vs a FROZEN
    baseline distribution [cat, n_base] (fit batch-side -- the
    frozen-model-serving pattern of streaming_cusum). Reads the
    monitor table's running per-category counts and hands them to the
    exact batch report tail; a category the baseline has never seen
    raises loudly there, which IS the alert for a deployed stream."""
    from ..operators.drift import categorical_drift_from_counts

    curr = (
        spark.read.parquet(path)
        .groupBy("cat")
        .agg(F.sum("n").cast("long").alias("n_curr"))
    )
    return categorical_drift_from_counts(
        baseline_counts.select("cat", "n_base"), curr
    )


def streaming_event_transitions(events: DataFrame) -> DataFrame:
    """Stateful streaming twin of registry.graph_layout.q_event_transitions'
    counting stage: per-user first-order transition increments with
    cross-batch chain stitching. State per user is the last folded
    (ts_us, event_id, event_type); each microbatch sorts its slice,
    emits one [event_type, next_type, n_inc] row per adjacent pair --
    INCLUDING the pair that spans the batch boundary, which a
    stateless window would silently drop -- and rolls the state.

    Totals across all emitted increments equal the batch twin's
    n_transitions exactly (test-pinned); the probability column is
    a downstream division over the accumulated counts. Ordering
    contract is the decay operator's: exact redelivery of the last
    folded event is skipped as an idempotent duplicate, genuinely
    out-of-order arrivals raise loudly. Output mode 'append' (each
    batch's increments are immutable facts)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("next_type", StringType()),
            StructField("n_inc", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts_us", LongType()),
            StructField("last_event_id", LongType()),
            StructField("last_type", StringType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        last_us, last_id, last_type = (
            state.get if state.exists else (-(2**63), -(2**63), None)
        )
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values(["ts", "event_id"])
        counts: dict[tuple[str, str], int] = {}
        for ts, eid, et in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if (ts_us, int(eid)) == (last_us, last_id):
                continue  # idempotent redelivery of the last folded event
            if (ts_us, int(eid)) < (last_us, last_id):
                raise ValueError(
                    f"streaming_event_transitions: out-of-order event "
                    f"(user {key[0]}, event_id {int(eid)}) after state "
                    f"folded ts_us={last_us} -- in-order contract broken"
                )
            if last_type is not None:
                pair = (last_type, str(et))
                counts[pair] = counts.get(pair, 0) + 1
            last_us, last_id, last_type = ts_us, int(eid), str(et)
        state.update((last_us, last_id, last_type))
        if counts:
            yield pd.DataFrame(
                {
                    "event_type": [a for a, _ in counts],
                    "next_type": [b for _, b in counts],
                    "n_inc": list(counts.values()),
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_cusum(
    events: DataFrame,
    baseline: dict,
) -> DataFrame:
    """Stateful online twin of registry.events_analytics.q_events_cusum: per-event-type
    daily-count CUSUM with a FROZEN baseline -- the deployment shape
    of change-point monitoring (fit mean/std per key on a batch
    window, then stream residuals with O(1) state per key; the batch
    query's self-referential whole-series baseline is a training-time
    construct).

    baseline: {event_type: (mean, std)} of the daily counts, frozen
    batch-side (the batch-trained-model-serving pattern, as the
    frozen-BPE/PQ serving operators). State per key: the OPEN day's
    count plus the exact DECIMAL prefix-sum pair (p, running min p)
    of the closed-form CUSUM, carried as strings. A day is emitted
    when a later day's first event arrives (days with zero events
    don't exist in the batch series either, so a multi-day jump
    closes only the open day); the final open day stays unemitted
    until the stream moves past it.

    Bit-exactness contract vs the batch closed form: z rounds HALF_UP
    to 9dp via Decimal(repr(x)) (== F.round), the fold is exact
    decimal arithmetic identical to the batch DECIMAL(20,9) windows,
    and the emitted double is float(of the same decimal string) ==
    the batch's VARCHAR->DOUBLE route. In-order contract ENFORCED as
    in streaming_user_activity_decay: state carries the last folded
    (ts_us, event_id); exact redelivery is skipped as idempotent,
    genuinely out-of-order arrival fails the batch loudly."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("day_s", StringType()),
            StructField("cnt", LongType()),
            StructField("cusum", DoubleType()),
            StructField("alert", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("day_us", LongType()),
            StructField("cnt", LongType()),
            StructField("p_str", StringType()),
            StructField("mp_str", StringType()),
            StructField("last_ts_us", LongType()),
            StructField("last_event_id", LongType()),
        ]
    )
    DAY_US = 86_400_000_000
    slack_d = Decimal("0.5")
    thr_d = Decimal("4.0")

    # Loud build-time validation (ADVICE r5): a degenerate std would
    # otherwise surface as an opaque ZeroDivisionError inside the
    # state function of a running stream -- fail at wiring time, with
    # the key named.
    if not baseline:
        raise ValueError("streaming_cusum: empty baseline -- fit it batch-side first")
    for k, (mean, std) in baseline.items():
        if not (std > 0):
            raise ValueError(
                f"streaming_cusum: baseline std for event_type {k!r} is "
                f"{std!r}; a frozen CUSUM baseline needs std > 0 -- "
                "refit on a window with variance or drop the key"
            )

    def update(key, pdfs, state: GroupState):
        etype = key[0]
        if etype not in baseline:
            # the normal new-key case in a deployed stream: fail with
            # the key named (matching the loud out-of-order contract)
            # rather than an opaque KeyError -- silently scoring a key
            # the model never saw would be a wrong answer
            raise ValueError(
                f"streaming_cusum: event_type {etype!r} has no frozen "
                "baseline; refit the batch baseline to cover new keys "
                "(or pre-filter the stream to baseline keys)"
            )
        mean, std = baseline[etype]
        day_us, cnt, p_str, mp_str, last_us, last_id = (
            state.get if state.exists else (-1, 0, "0", "", -(2**63), -(2**63))
        )
        p = Decimal(p_str)
        mp = Decimal(mp_str) if mp_str else None
        rows = []

        def close_day(closed_day_us, closed_cnt):
            nonlocal p, mp
            z_raw = (closed_cnt - mean) / std
            z = Decimal(repr(z_raw)).quantize(
                Decimal("0.000000001"), rounding=ROUND_HALF_UP
            )
            p = p + (z - slack_d)
            mp = p if mp is None else min(mp, p)
            m = mp if mp < 0 else Decimal(0)
            s = p - m
            day = pd.Timestamp(closed_day_us, unit="us").strftime("%Y-%m-%d")
            rows.append((etype, day, closed_cnt, float(s), s > thr_d))

        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts, eid in zip(pdf["ts"], pdf["event_id"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if (ts_us, int(eid)) == (last_us, last_id):
                continue  # idempotent redelivery of the last folded event
            if (ts_us, int(eid)) < (last_us, last_id):
                raise ValueError(
                    f"streaming_cusum: out-of-order event (type {etype}, "
                    f"event_id {int(eid)}) after state folded ts_us="
                    f"{last_us} -- in-order contract broken"
                )
            last_us, last_id = ts_us, int(eid)
            d_us = (ts_us // DAY_US) * DAY_US
            if day_us < 0:
                day_us, cnt = d_us, 1
            elif d_us == day_us:
                cnt += 1
            else:
                close_day(day_us, cnt)
                day_us, cnt = d_us, 1
        state.update(
            (day_us, cnt, str(p), "" if mp is None else str(mp), last_us, last_id)
        )
        yield pd.DataFrame(
            rows, columns=["event_type", "day_s", "cnt", "cusum", "alert"]
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_wallet_balance(events: DataFrame) -> DataFrame:
    """Stateful online twin of registry.eval_temporal.q_user_wallet_balance: the
    floor-at-zero running balance folded per user in arrival order --
    literally B = max(0, B + x), the recursion the batch operator
    rewrites into the Lindley-reflection closed form (two shared-sort
    windows). The pair is the repo's cleanest demonstration that the
    same nonlinear recurrence has BOTH a streaming O(1)-state fold
    and a batch windowed closed form, pinned bit-exact against each
    other across microbatch splits.

    State per user: (balance_cents, last folded (ts_us, event_id)) --
    three longs. Every credited/debited event emits its row
    immediately (no open-period holdback: the recursion needs no
    lookahead), so the parity test covers EVERY event, not just
    closed periods. Cents are exact: Decimal(repr(value)) quantized
    half-up to 2dp matches the batch cast(value AS DECIMAL(18,2)).
    In-order contract as streaming_cusum/decay: exact redelivery of
    the last folded event is skipped as idempotent, genuine
    out-of-order arrival fails loudly with the key named."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("flow_cents", LongType()),
            StructField("balance_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("bal", LongType()),
            StructField("last_ts_us", LongType()),
            StructField("last_event_id", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        uid = key[0]
        bal, last_us, last_id = (
            state.get if state.exists else (0, -(2**63), -(2**63))
        )
        rows = []
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts, eid, etype, value in zip(
            pdf["ts"], pdf["event_id"], pdf["event_type"], pdf["value"]
        ):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if (ts_us, int(eid)) == (last_us, last_id):
                continue  # idempotent redelivery of the last folded event
            if (ts_us, int(eid)) < (last_us, last_id):
                raise ValueError(
                    f"streaming_wallet_balance: out-of-order event "
                    f"(user {uid}, event_id {int(eid)}) after state "
                    f"folded ts_us={last_us} -- in-order contract broken"
                )
            last_us, last_id = ts_us, int(eid)
            cents = int(
                Decimal(repr(float(value))).quantize(
                    Decimal("0.01"), rounding=ROUND_HALF_UP
                )
                * 100
            )
            flow = cents if etype == "purchase" else -cents
            bal = max(0, bal + flow)
            rows.append((int(uid), int(eid), flow, bal))
        state.update((bal, last_us, last_id))
        yield pd.DataFrame(
            rows, columns=["user_id", "event_id", "flow_cents", "balance_cents"]
        )

    flows = events.filter(F.col("event_type").isin("purchase", "click"))
    return flows.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_duplicate_charges(events: DataFrame) -> DataFrame:
    """Stateful online twin of registry.eval_temporal2.q_duplicate_charge_screen
    (operators/dq.duplicate_charge_pairs): the double-billing screen
    as an O(1)-state fold -- per (user, type, exact-cents) key the
    state is just the LAST folded (ts_us, event_id); every arriving
    event emits a pair row iff it follows the previous same-key event
    within 7 days. The batch form is one lag() window; the streaming
    form is the same adjacency test against two longs of state,
    parity-pinned bit-exact across microbatch splits.

    The key INCLUDES the cent amount (computed JVM-side with the
    identical decimal(12,2) cast before the state boundary), so state
    size is bounded by live (user, type, amount) triples and a
    duplicate burst on one amount never scans another's history.
    In-order contract as the wallet/cusum twins: exact redelivery of
    the last folded event is skipped as idempotent, genuine
    out-of-order arrival fails loudly with the key named."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("cents", LongType()),
            StructField("first_event_id", LongType()),
            StructField("second_event_id", LongType()),
            StructField("gap_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_us", LongType()),
            StructField("last_event_id", LongType()),
        ]
    )
    WINDOW_US = 604_800_000_000  # 7 days, the batch screen's bound

    def update(key, pdfs, state: GroupState):
        uid, etype, cents = key
        if state.exists:
            last_us, last_id = state.get
            have = True
        else:
            last_us, last_id = -(2**63), -(2**63)
            have = False
        rows = []
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts, eid in zip(pdf["ts"], pdf["event_id"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if have and (ts_us, int(eid)) == (last_us, last_id):
                continue  # idempotent redelivery of the last folded event
            if have and (ts_us, int(eid)) < (last_us, last_id):
                raise ValueError(
                    f"streaming_duplicate_charges: out-of-order event "
                    f"(user {int(uid)}, type {etype}, cents {int(cents)}, "
                    f"event_id {int(eid)}) after state folded "
                    f"ts_us={last_us} -- in-order contract broken"
                )
            if have and ts_us - last_us <= WINDOW_US:
                rows.append(
                    (
                        int(uid),
                        str(etype),
                        int(cents),
                        last_id,
                        int(eid),
                        ts_us - last_us,
                    )
                )
            last_us, last_id = ts_us, int(eid)
            have = True
        state.update((last_us, last_id))
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "event_type",
                "cents",
                "first_event_id",
                "second_event_id",
                "gap_us",
            ],
        )

    keyed = events.withColumn(
        "cents", (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    )
    return keyed.groupBy("user_id", "event_type", "cents").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_ewma_control(events: DataFrame) -> DataFrame:
    """Stateful online twin of registry.eval_temporal.q_events_ewma_control: the
    EWMA control chart as an O(1)-state fold per event type. The
    batch operator folds DAILY value totals (exact BIGINT micros)
    through z' = round_half_away((x + z) / 2); here the state
    additionally accumulates the OPEN day's running micro total and
    folds a day the moment a later-day event arrives -- so every
    emitted row is a CLOSED day, and the trajectory is bit-identical
    to the batch fold over the same closed-day prefix (the
    session_window closed-only parity convention).

    State per type: (cur_day_epoch, cur_sum_micros, z, md, n_closed,
    last_ts_us, last_event_id) -- seven longs. Integer arithmetic
    mirrors the batch all-exact recursion EXACTLY: micros via
    Decimal(repr(value)).quantize(1e-6, HALF_UP) * 1e6 == the batch
    round(value, 6) decimal sum; the half-step is pure-integer
    ties-away division, the same values the batch computes in
    exact-integer doubles. In-order contract as streaming_cusum /
    wallet: exact redelivery of the last folded event is skipped as
    idempotent; genuine out-of-order arrival fails loudly.

    Output per closed day: [event_type, day_epoch, day_index,
    x_micros, z_micros, max_abs_dev_micros]."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("day_epoch", LongType()),
            StructField("day_index", LongType()),
            StructField("x_micros", LongType()),
            StructField("z_micros", LongType()),
            StructField("max_abs_dev_micros", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cur_day", LongType()),
            StructField("cur_sum", LongType()),
            StructField("z", LongType()),
            StructField("md", LongType()),
            StructField("n_closed", LongType()),
            StructField("last_ts_us", LongType()),
            StructField("last_event_id", LongType()),
        ]
    )

    def half_away(s: int) -> int:
        # round_half_away(s / 2) on an exact integer s -- the integer
        # mirror of the batch round(0.5*x + 0.5*z, 0) double chain
        if s % 2 == 0:
            return s // 2
        return (abs(s) + 1) // 2 * (1 if s > 0 else -1)

    def update(key, pdfs, state: GroupState):
        etype = key[0]
        if state.exists:
            cur_day, cur_sum, z, md, n_closed, last_us, last_id = state.get
        else:
            cur_day, cur_sum, z, md, n_closed = -(2**62), 0, 0, 0, 0
            last_us, last_id = -(2**63), -(2**63)
        rows = []

        def close_day():
            nonlocal z, md, n_closed
            x = cur_sum
            # Bit-identity with the batch round(0.5*x + 0.5*z, 0)
            # double chain holds only while x and x+z are exact in a
            # double; check the 2^53 precondition loudly instead of
            # silently diverging by one micro at extreme daily
            # volumes (advice r7).
            if abs(x) >= 2**53 or abs(x + z) >= 2**53:
                raise ValueError(
                    "streaming_ewma_control: daily micro-total "
                    f"|{x}| or |x+z|={abs(x + z)} >= 2^53 — the "
                    "integer state is no longer bit-identical to the "
                    "batch double recursion"
                )
            if n_closed == 0:
                z, md = x, 0
            else:
                md = max(md, abs(x - z))
                z = half_away(x + z)
            n_closed += 1
            rows.append((etype, cur_day, n_closed, x, z, md))

        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts, eid, value in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
            t = pd.Timestamp(ts)
            ts_us = int(t.value // 1000)
            if (ts_us, int(eid)) == (last_us, last_id):
                continue  # idempotent redelivery of the last folded event
            if (ts_us, int(eid)) < (last_us, last_id):
                raise ValueError(
                    f"streaming_ewma_control: out-of-order event "
                    f"(type {etype!r}, event_id {int(eid)}) after state "
                    f"folded ts_us={last_us} -- in-order contract broken"
                )
            last_us, last_id = ts_us, int(eid)
            day = (t.normalize().value // 1000) // 86_400_000_000
            if day > cur_day:
                if cur_day > -(2**62):
                    close_day()
                cur_day, cur_sum = day, 0
            micros = int(
                Decimal(repr(float(value))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
                * 1_000_000
            )
            cur_sum += micros
        state.update((cur_day, cur_sum, z, md, n_closed, last_us, last_id))
        yield pd.DataFrame(
            rows,
            columns=[
                "event_type",
                "day_epoch",
                "day_index",
                "x_micros",
                "z_micros",
                "max_abs_dev_micros",
            ],
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_incremental_dedup(docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/incremental.incremental_dedup_exact
    (round 8): dedup an unbounded document stream against EVERYTHING
    seen so far -- the daily-ingest contract where the corpus
    fingerprint set persists forever, unlike streaming_dedup's
    watermark-horizon eviction.

    State: keyed by content fingerprint (md5 of the normalized text),
    one (first_doc_id, n_seen) row per DISTINCT fingerprint -- the
    identical ~32-bytes-per-unique-doc ledger the batch operator says
    you would persist between runs, sharded by the uniform md5 key.
    First occurrence (smallest doc_id within the batch, arrival order
    across batches) wins; every arrival emits a verdict row
    [doc_id, fp_md5, novel, first_doc_id], so the stream output is a
    keep/drop decision per document, replay-idempotent at the
    fingerprint grain (a re-delivered duplicate re-emits novel=false
    with the same first_doc_id).

    At 100 TB: state size is bounded by DISTINCT content, not stream
    length -- exactly the batch anti-join's corpus side; eviction is
    deliberately absent because the contract is corpus-lifetime
    dedup. Output mode 'append' (verdicts are facts, never revised)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.normalize import normalized_col as _norm

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("fp_md5", StringType()),
            StructField("novel", BooleanType()),
            StructField("first_doc_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("first_doc_id", LongType()),
            StructField("n_seen", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        fp = key[0]
        first, n_seen = state.get if state.exists else (None, 0)
        rows = []
        # ADVICE r8: `pdfs` is an ITERATOR of Arrow chunks; sorting
        # per chunk would pick the first CHUNK's min, not the batch
        # min, whenever a fingerprint group spans chunks in one
        # trigger. Drain all chunks first so "smallest doc_id within
        # the batch" is batch-wide (state stays O(1) per key; the
        # drained ids are one group's worth of a single trigger).
        ids = sorted(
            int(d) for pdf in pdfs for d in pdf["doc_id"]
        )
        # deterministic intra-batch order: smallest doc_id first
        for doc_id in ids:
            if first is None:
                first = doc_id
                rows.append((doc_id, fp, True, doc_id))
            elif doc_id == first:
                # replayed first occurrence: idempotent re-emit
                rows.append((doc_id, fp, True, first))
            else:
                rows.append((doc_id, fp, False, first))
            n_seen += 1
        state.update((first, n_seen))
        yield pd.DataFrame(
            rows, columns=["doc_id", "fp_md5", "novel", "first_doc_id"]
        )

    fp = docs.withColumn("fp_md5", F.md5(_norm(TEXT_COL)))
    return fp.groupBy("fp_md5").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
