"""applyInPandasWithState: state persists across microbatches."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mapreduce_implementation_grpc_spark.streaming import streaming_user_totals_stateful

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _write_batch(path, rows, name):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for eid, ts, uid, v in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid, "value": v}) + "\n")


def test_state_accumulates_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "ev")
    _write_batch(src, [(1, "2024-01-01 10:00:00", 1, 2.5), (2, "2024-01-01 10:01:00", 2, 1.0)], "b1.json")
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    out = streaming_user_totals_stateful(stream)
    q = out.writeStream.format("memory").queryName("user_totals").outputMode("update").start()
    try:
        q.processAllAvailable()
        # second microbatch arrives after the first is fully processed
        _write_batch(src, [(3, "2024-01-01 10:02:00", 1, 7.5)], "b2.json")
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            rows = {r.user_id: r for r in spark.sql(
                "SELECT user_id, max_by(n_events, n_events) AS n_events, max_by(total_value, n_events) AS total_value "
                "FROM user_totals GROUP BY user_id").collect()}
            if rows.get(1) is not None and rows[1].n_events == 2:
                break
            time.sleep(1)
        assert rows[1].n_events == 2 and rows[1].total_value == 10.0  # state carried over
        assert rows[2].n_events == 1 and rows[2].total_value == 1.0
    finally:
        q.stop()


def test_decay_state_bit_exact_vs_fold_batch(spark, tmp_path):
    """streaming_user_activity_decay across 2 microbatches must be
    BIT-identical to the fold-form batch query over the union of the
    batches: same IEEE op sequence, HALF_UP rounding mirroring
    F.round. (The window+decimal registry form agrees only to float
    reassociation -- documented, not asserted here.)"""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_user_activity_decay,
    )

    b1 = [(1, "2024-01-01 10:00:00", 1, 2.5), (2, "2024-01-01 10:01:00", 1, 1.1),
          (3, "2024-01-01 10:00:30", 2, 7.25)]
    b2 = [(4, "2024-01-01 11:00:00", 1, 0.3), (5, "2024-01-01 11:01:00", 2, 3.7),
          (6, "2024-01-01 11:02:00", 3, 9.125)]
    src = str(tmp_path / "ev_decay")
    _write_batch(src, b1, "b1.json")
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    out = streaming_user_activity_decay(stream)
    q = (out.writeStream.format("memory").queryName("decay")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        _write_batch(src, b2, "b2.json")
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {r.user_id: (r.n_events, r.decayed_value) for r in spark.sql(
                "SELECT user_id, max_by(n_events, n_events) AS n_events, "
                "max_by(decayed_value, n_events) AS decayed_value "
                "FROM decay GROUP BY user_id").collect()}
            if got.get(1, (0,))[0] == 3 and len(got) == 3:
                break
            time.sleep(1)
    finally:
        q.stop()

    batch = spark.createDataFrame(
        [(e, ts, u, v) for e, ts, u, v in b1 + b2],
        "event_id long, ts string, user_id long, value double",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id",
             F.col("value").alias("v"))
    hist = F.array_sort(F.collect_list(F.struct("ts", "event_id", "v")))
    want = {
        r.user_id: (r.n_events, r.decayed_value)
        for r in batch.groupBy("user_id")
        .agg(hist.alias("h"), F.count("*").alias("n_events"))
        .select("user_id", "n_events",
                F.round(F.aggregate("h", F.lit(0.0),
                                    lambda a, x: (a + x["v"]) * F.lit(0.5)), 6)
                .alias("decayed_value"))
        .collect()
    }
    assert got == want and len(want) == 3


def test_decay_rejects_cross_batch_out_of_order_loudly(spark, tmp_path):
    """An event older than what the state already folded must FAIL
    the batch (ValueError surfaced as a StreamingQueryException), not
    silently fold at the newest-event weight and diverge from the
    batch twin forever."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_user_activity_decay,
    )

    src = str(tmp_path / "ev_ooo")
    _write_batch(src, [(1, "2024-01-01 10:00:00", 1, 2.5)], "b1.json")
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    out = streaming_user_activity_decay(stream)
    q = (out.writeStream.format("memory").queryName("decay_ooo")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        # batch 2 delivers an EARLIER event for the same user
        _write_batch(src, [(2, "2024-01-01 09:00:00", 1, 1.0)], "b2.json")
        with pytest.raises(StreamingQueryException, match="out-of-order"):
            q.processAllAvailable()
            q.awaitTermination(30)
    finally:
        q.stop()


def test_streaming_scd2_closed_intervals_match_batch(spark, tmp_path):
    """streaming_user_state_intervals across 2 microbatches: the
    emitted CLOSED intervals must equal the batch twin's
    valid_to-bearing rows over the union of the batches, and nothing
    is emitted for still-open runs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_user_state_intervals,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    b1 = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:01:00", 1, "view"),
        (3, "2024-01-01 10:02:00", 1, "purchase"),
        (4, "2024-01-01 10:00:00", 2, "signup"),
    ]
    b2 = [
        (5, "2024-01-01 11:00:00", 1, "view"),
        (6, "2024-01-01 11:01:00", 2, "signup"),
        (7, "2024-01-01 11:02:00", 2, "purchase"),
        (8, "2024-01-01 11:03:00", 2, "purchase"),
    ]
    src = str(tmp_path / "ev_scd2")

    def write(rows, name):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "w") as f:
            for eid, ts, uid, et in rows:
                f.write(json.dumps(
                    {"event_id": eid, "ts": ts, "user_id": uid, "event_type": et}
                ) + "\n")

    write(b1, "b1.json")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    out = streaming_user_state_intervals(stream)
    q = (out.writeStream.format("memory").queryName("scd2")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        write(b2, "b2.json")
        deadline = time.time() + 60
        got = set()
        while time.time() < deadline:
            q.processAllAvailable()
            got = {tuple(r) for r in spark.sql("SELECT * FROM scd2").collect()}
            if len(got) == 3:
                break
            time.sleep(1)
    finally:
        q.stop()

    # batch twin over the same events, closed rows only
    ev = spark.createDataFrame(
        b1 + b2, "event_id long, ts string, user_id long, event_type string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("event_type").over(w)
    grp = (ev.withColumn("chg", (prev.isNull() | (prev != F.col("event_type"))).cast("long"))
             .withColumn("island", F.sum("chg").over(
                 w.rowsBetween(Window.unboundedPreceding, 0))))
    iv = grp.groupBy("user_id", "island", F.col("event_type").alias("state")).agg(
        F.min("ts").alias("vf"), F.count("*").alias("n_events"))
    wl = Window.partitionBy("user_id").orderBy("island")
    want = {
        tuple(r)
        for r in iv.withColumn("vt", F.lead("vf").over(wl))
        .filter(F.col("vt").isNotNull())
        .select("user_id", "state",
                F.date_format("vf", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
                F.date_format("vt", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
                "n_events", F.lit(False).alias("is_current"))
        .collect()
    }
    assert got == want and len(want) == 3


def test_decay_skips_exact_duplicate_redelivery(spark, tmp_path):
    """An at-least-once source can redeliver the LAST event of a
    processed batch in a NEW microbatch. That exact (ts, event_id)
    duplicate must be skipped idempotently -- raising would be a
    permanent poison pill (every restart replays the same batch and
    raises again); folding it twice would diverge from the batch twin."""
    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_user_activity_decay,
    )

    src = str(tmp_path / "ev_dup")
    _write_batch(src, [(1, "2024-01-01 10:00:00", 1, 2.0),
                       (2, "2024-01-01 10:01:00", 1, 4.0)], "b1.json")
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    out = streaming_user_activity_decay(stream)
    q = (out.writeStream.format("memory").queryName("decay_dup")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        # redeliver the last folded event verbatim + one genuinely new one
        _write_batch(src, [(2, "2024-01-01 10:01:00", 1, 4.0),
                           (3, "2024-01-01 10:02:00", 1, 8.0)], "b2.json")
        deadline = time.time() + 60
        got = None
        while time.time() < deadline:
            q.processAllAvailable()
            rows = {r.user_id: (r.n_events, r.decayed_value) for r in spark.sql(
                "SELECT user_id, max_by(n_events, n_events) AS n_events, "
                "max_by(decayed_value, n_events) AS decayed_value "
                "FROM decay_dup GROUP BY user_id").collect()}
            got = rows.get(1)
            if got and got[0] == 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    # fold of exactly 3 events (duplicate NOT double-counted):
    # ((0+2)*.5 + 4)*.5 = 2.5; (2.5+8)*.5 = 5.25
    assert got == (3, 5.25)


def test_streaming_transitions_stitch_across_batches(spark, tmp_path):
    """Transition increments summed over microbatches equal the batch
    lead-window counts over the union -- including the pair that
    SPANS the batch boundary, which is exactly what the state
    carries."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_event_transitions,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )

    def write(path, rows, name):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, name), "w") as f:
            for eid, ts, uid, et in rows:
                f.write(
                    json.dumps(
                        {"event_id": eid, "ts": ts, "user_id": uid, "event_type": et}
                    )
                    + "\n"
                )

    # user 1's chain crosses the boundary: view(b1) -> purchase(b2)
    b1 = [
        (1, "2024-01-01 10:00:00", 1, "signup"),
        (2, "2024-01-01 10:05:00", 1, "view"),
        (3, "2024-01-01 10:00:00", 2, "signup"),
    ]
    b2 = [
        (4, "2024-01-01 11:00:00", 1, "purchase"),
        (5, "2024-01-01 11:00:00", 2, "error"),
    ]
    src = str(tmp_path / "ev_tr")
    write(src, b1, "b1.json")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    q = (
        streaming_event_transitions(stream)
        .writeStream.format("memory")
        .queryName("transitions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write(src, b2, "b2.json")
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                (r.event_type, r.next_type): r.n
                for r in spark.sql(
                    "SELECT event_type, next_type, sum(n_inc) AS n "
                    "FROM transitions GROUP BY 1, 2"
                ).collect()
            }
            if sum(got.values()) == 3:
                break
            time.sleep(1)
    finally:
        q.stop()

    assert got == {
        ("signup", "view"): 1,
        ("view", "purchase"): 1,  # the cross-batch pair
        ("signup", "error"): 1,
    }


def test_streaming_cusum_matches_batch_closed_days(spark, tmp_path, sf_smoke):
    """Frozen-baseline streaming CUSUM == the batch closed form on
    every CLOSED day (bit-exact cusum doubles and alert booleans),
    with the batch split across two microbatches mid-series."""
    import json as _json

    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table
    from mapreduce_implementation_grpc_spark.streaming import streaming_cusum

    batch = {
        (r.event_type, r.day_s): (r.cnt, r.cusum, r.alert)
        for r in QUERIES["events_cusum"](spark, sf_smoke).collect()
    }
    # freeze the baseline exactly as the batch computes it (integer
    # daily counts -> the same IEEE mean/std doubles)
    daily = (
        load_table(spark, sf_smoke, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    stats = {}
    for r in daily:
        stats.setdefault(r.event_type, []).append(r.cnt)
    baseline = {}
    for t, cnts in stats.items():
        n = len(cnts)
        s1 = sum(cnts)
        s2 = sum(c * c for c in cnts)
        mean = s1 / n
        std = ((s2 - s1 * s1 / n) / n) ** 0.5
        baseline[t] = (mean, std)

    ev = sorted(
        (
            (r.event_id, r.ts.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type)
            for r in load_table(spark, sf_smoke, "events")
            .select("event_id", "ts", "event_type")
            .collect()
        ),
        key=lambda x: x[1],
    )
    src = str(tmp_path / "ev")
    os.makedirs(src)
    half = len(ev) // 2
    for name, chunk in (("b1.json", ev[:half]), ("b2.json", ev[half:])):
        with open(os.path.join(src, name), "w") as f:
            for eid, ts, et in chunk:
                f.write(_json.dumps({"event_id": eid, "ts": ts, "event_type": et}) + "\n")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    q = (
        streaming_cusum(stream, baseline)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 120
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                (r.event_type, r.day_s): (r.cnt, r.cusum, r.alert)
                for r in spark.sql("SELECT * FROM cusum_stream").collect()
            }
            if len(got) >= len(batch) - len(baseline):
                break
            time.sleep(1)
    finally:
        q.stop()
    # every streamed (closed) day must match the batch row bit-exactly;
    # only each type's final open day may be missing
    assert got
    for k, v in got.items():
        assert batch[k] == v, (k, batch[k], v)
    missing = set(batch) - set(got)
    assert len(missing) == len(baseline)
    last_days = {t: max(d for (tt, d) in batch if tt == t) for t in baseline}
    assert missing == {(t, d) for t, d in last_days.items()}


def test_streaming_cusum_baseline_validation_is_loud(spark):
    """ADVICE r5: a degenerate (std<=0 / NaN / empty) baseline must
    fail at wiring time with the key named, not as ZeroDivisionError
    inside a running stream's state function."""
    import math

    import pytest

    from mapreduce_implementation_grpc_spark.streaming import streaming_cusum

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS event_id", "timestamp AS ts", "'click' AS event_type")
    )
    with pytest.raises(ValueError, match="empty baseline"):
        streaming_cusum(stream, {})
    with pytest.raises(ValueError, match="'click'.*std > 0"):
        streaming_cusum(stream, {"click": (10.0, 0.0)})
    with pytest.raises(ValueError, match="std > 0"):
        streaming_cusum(stream, {"click": (10.0, math.nan)})


def test_streaming_cusum_unknown_event_type_fails_with_named_key(spark, tmp_path):
    """A streamed key absent from the frozen baseline (the normal
    new-key case in deployment) must kill the query with the key
    NAMED -- silently scoring it would be a wrong answer."""
    import json as _json

    import pytest

    from mapreduce_implementation_grpc_spark.streaming import streaming_cusum

    src = str(tmp_path / "ev")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(_json.dumps({"event_id": 1, "ts": "2024-01-01 00:00:00.000000",
                             "event_type": "brand_new"}) + "\n")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        streaming_cusum(stream, {"click": (10.0, 2.0)})
        .writeStream.format("memory")
        .queryName("cusum_unknown_key")
        .outputMode("update")
        .start()
    )
    try:
        with pytest.raises(Exception, match="brand_new.*no frozen"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_session_window_matches_batch_closed_sessions(
    spark, tmp_path, sf_smoke
):
    """VERDICT r5 #4: the watermarked streaming form of the native
    session_window query must emit every CLOSED session bit-exactly
    equal to its batch twin (same user_id/start/end/n_events/n_types),
    across a multi-microbatch split; only sessions the final watermark
    has not passed may be missing."""
    import json as _json

    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table
    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_session_window,
    )

    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.n_types)
        for r in QUERIES["events_session_window"](spark, sf_smoke).collect()
    }
    ev = sorted(
        (
            (r.event_id, r.ts.strftime("%Y-%m-%d %H:%M:%S.%f"), r.user_id, r.event_type)
            for r in load_table(spark, sf_smoke, "events")
            .select("event_id", "ts", "user_id", "event_type")
            .collect()
        ),
        key=lambda x: x[1],
    )
    max_ts = max(x[1] for x in ev)
    src = str(tmp_path / "ev")
    os.makedirs(src)
    third = len(ev) // 3
    chunks = (ev[:third], ev[third : 2 * third], ev[2 * third :])
    for i, chunk in enumerate(chunks):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for eid, ts, uid, et in chunk:
                f.write(
                    _json.dumps(
                        {"event_id": eid, "ts": ts, "user_id": uid, "event_type": et}
                    )
                    + "\n"
                )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    q = (
        streaming_session_window(stream)
        .writeStream.format("memory")
        .queryName("session_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start): (r.session_end, r.n_events, r.n_types)
            for r in spark.sql("SELECT * FROM session_stream").collect()
        }
    finally:
        q.stop()
    # every emitted (closed) session equals its batch twin bit-exactly
    assert got
    for k, v in got.items():
        assert k in batch and batch[k] == v, (k, batch.get(k), v)
    # only sessions not yet passed by the final watermark may be
    # missing: final watermark = max event time - 1 hour, and append
    # mode finalizes a session once watermark > session_end
    import datetime as _dt

    wm = _dt.datetime.strptime(max_ts, "%Y-%m-%d %H:%M:%S.%f") - _dt.timedelta(hours=1)
    for k, (end_s, _n, _t) in batch.items():
        end = _dt.datetime.strptime(end_s, "%Y-%m-%d %H:%M:%S")
        if end < wm:
            assert k in got, (k, end_s, "closed session never emitted")


def test_streaming_wallet_balance_matches_batch(spark, tmp_path, sf_smoke):
    """The O(1)-state Lindley fold == the batch windowed closed form
    on EVERY event (no open-period holdback), with the stream split
    across two microbatches mid-history."""
    import json as _json

    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table
    from mapreduce_implementation_grpc_spark.streaming import (
        streaming_wallet_balance,
    )

    batch = {
        (r.user_id, r.event_id): (r.flow_cents, r.balance_cents)
        for r in QUERIES["user_wallet_balance"](spark, sf_smoke).collect()
    }
    ev = sorted(
        (
            (
                r.event_id,
                r.ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
                r.user_id,
                r.event_type,
                r.value,
            )
            for r in load_table(spark, sf_smoke, "events")
            .filter(F.col("event_type").isin("purchase", "click"))
            .collect()
        ),
        key=lambda x: x[1],
    )
    src = str(tmp_path / "ev")
    os.makedirs(src)
    half = len(ev) // 2
    for name, chunk in (("b1.json", ev[:half]), ("b2.json", ev[half:])):
        with open(os.path.join(src, name), "w") as f:
            for eid, ts, uid, et, val in chunk:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": ts,
                            "user_id": uid,
                            "event_type": et,
                            "value": val,
                        }
                    )
                    + "\n"
                )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    q = (
        streaming_wallet_balance(stream)
        .writeStream.format("memory")
        .queryName("wallet_stream")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 120
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                (r.user_id, r.event_id): (r.flow_cents, r.balance_cents)
                for r in spark.sql("SELECT * FROM wallet_stream").collect()
            }
            if len(got) == len(batch):
                break
            time.sleep(1)
    finally:
        q.stop()
    assert got == batch
