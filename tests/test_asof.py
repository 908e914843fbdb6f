"""As-of join operator: crafted point-in-time semantics + oracle
parity for the feature-attach query."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.asof import asof_join
from tests.oracle_utils import assert_matches_oracle


# Synthetic event stream for the nearest-asof differential below.
N_USERS = 1_000
TOL_US = 2 * 3600 * 1_000_000
SPAN_S = 30 * 86400


def synth_events(spark, n: int):
    """n events over N_USERS users, pseudo-random timestamps across a
    30-day window (xxhash-scattered, so per-user streams interleave),
    2-decimal values. No driver data, no files."""
    # user via hash, NOT id % N_USERS: the test splits event types by
    # id % 5, and a modular user assignment would hand purchases and
    # clicks DISJOINT user sets (id%5==0 -> user multiple of 5...) --
    # every join silently empty
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(N_USERS)).alias("user_id"),
            F.timestamp_micros(
                F.lit(1704067200000000)
                + F.pmod(F.xxhash64("id"), F.lit(SPAN_S)) * 1_000_000
            ).alias("ts"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(2000)).cast("double") / 100.0
             ).alias("value"),
        )
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))
    )


def nearest_naive(purchases, clicks):
    pairs = purchases.join(clicks, "user_id").filter(
        F.abs(F.col("cus") - F.col("pus")) <= TOL_US
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.abs(F.col("cus") - F.col("pus")).asc(),
        (F.col("cus") - F.col("pus")).asc(),
    )
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            Row(user_id=1, ts=_ts(9, 30), event_id=100),   # before any snapshot
            Row(user_id=1, ts=_ts(10, 0), event_id=101),   # == snapshot ts: inclusive
            Row(user_id=1, ts=_ts(11, 45), event_id=102),  # after two snapshots
            Row(user_id=2, ts=_ts(12, 0), event_id=200),   # other key
            Row(user_id=3, ts=_ts(12, 0), event_id=300),   # key with no snapshots
        ]
    )
    right = spark.createDataFrame(
        [
            Row(user_id=1, fts=_ts(10, 0), a=10, b="x"),
            Row(user_id=1, fts=_ts(11, 0), a=20, b="y"),
            Row(user_id=2, fts=_ts(11, 59), a=99, b="z"),
        ]
    )
    return left, right


def test_asof_join_point_in_time(asof_frames):
    left, right = asof_frames
    out = {
        r.event_id: (r.a, r.b)
        for r in asof_join(left, right, by="user_id", right_ts="fts").collect()
    }
    assert out[100] == (None, None)     # nothing at-or-before 9:30
    assert out[101] == (10, "x")        # boundary ts==fts matches (inclusive)
    assert out[102] == (20, "y")        # newest of the two earlier snapshots
    assert out[200] == (99, "z")
    assert out[300] == (None, None)     # key absent from right


def test_asof_join_snapshot_is_atomic(asof_frames):
    # (a, b) must always come from the SAME right row
    left, right = asof_frames
    rows = asof_join(left, right, by="user_id", right_ts="fts").collect()
    valid = {(None, None), (10, "x"), (20, "y"), (99, "z")}
    assert all((r.a, r.b) in valid for r in rows)


def test_asof_join_preserves_left_rowcount(spark, sf_check):
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    n_events = load_table(spark, sf_check, "events").count()
    assert registry.QUERIES["events_asof_features"](spark, sf_check).count() == n_events


def test_oracle_parity(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["events_asof_features"](spark, sf_check),
        registry.ORACLES["events_asof_features"],
        sf_check,
    )


@pytest.fixture(scope="module")
def nearest_frames(spark):
    left = spark.createDataFrame(
        [
            Row(user_id=1, ts=_ts(10, 0), event_id=100),   # tie: 9:50 vs 10:10
            Row(user_id=1, ts=_ts(10, 9), event_id=101),   # forward 10:10 closer
            Row(user_id=1, ts=_ts(9, 51), event_id=102),   # backward 9:50 closer
            Row(user_id=2, ts=_ts(12, 0), event_id=200),   # only a future candidate
            Row(user_id=3, ts=_ts(12, 0), event_id=300),   # candidate out of tolerance
            Row(user_id=4, ts=_ts(12, 0), event_id=400),   # key absent from right
            Row(user_id=5, ts=_ts(12, 0), event_id=500),   # exact-ts match
        ]
    )
    right = spark.createDataFrame(
        [
            Row(user_id=1, ts=_ts(9, 50), tag="early"),
            Row(user_id=1, ts=_ts(10, 10), tag="late"),
            Row(user_id=2, ts=_ts(12, 30), tag="future"),
            Row(user_id=3, ts=_ts(14, 0), tag="far"),
            Row(user_id=5, ts=_ts(12, 0), tag="exact"),
        ]
    )
    return left, right


def test_asof_nearest_semantics(nearest_frames):
    from mapreduce_implementation_grpc_spark.operators.asof import asof_join_nearest

    left, right = nearest_frames
    out = {
        r.event_id: (r.tag, r.asof_ts_us)
        for r in asof_join_nearest(
            left, right, by="user_id", tolerance_us=3600 * 1_000_000,
        ).collect()
    }
    assert out[100][0] == "early"   # equal distance -> past preferred
    assert out[101][0] == "late"    # 1 min forward beats 19 min back
    assert out[102][0] == "early"   # 1 min back beats 19 min forward
    assert out[200][0] == "future"  # forward-only match within tolerance
    assert out[300] == (None, None)  # 2 h away > 1 h tolerance
    assert out[400] == (None, None)  # no candidates at all
    assert out[500][0] == "exact"   # equal timestamps match (inclusive)
    # asof_ts_us is the matched right timestamp, NULL iff payload NULL
    assert out[101][1] == int(_ts(10, 10).timestamp() * 1_000_000)


def test_asof_nearest_single_exchange(nearest_frames):
    # both direction windows share partitionBy(user_id): the physical
    # plan must contain exactly ONE shuffle exchange
    from mapreduce_implementation_grpc_spark.operators.asof import asof_join_nearest

    left, right = nearest_frames
    plan = asof_join_nearest(
        left, right, by="user_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_nearest_oracle_parity(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["events_asof_nearest"](spark, sf_check),
        registry.ORACLES["events_asof_nearest"],
        sf_check,
    )


def test_asof_nearest_matches_naive_pair_join(spark):
    """Differential: on 20k synthetic events (hash-scattered users and
    timestamps), the union+window nearest join returns EXACTLY the
    naive pair-join argmin pairs, tie-break included."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.asof import asof_join_nearest

    ev = synth_events(spark, 20_000).localCheckpoint()
    purchases = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = (
        ev.filter(F.col("event_id") % 5 == 1)
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    op = asof_join_nearest(
        purchases, clicks, by="user_id", value_cols=["click_id"],
        tolerance_us=TOL_US,
    )
    got = {
        (r.purchase_id, r.click_id)
        for r in op.filter(F.col("click_id").isNotNull())
        .select("purchase_id", "click_id")
        .collect()
    }
    p2 = purchases.select(
        "user_id", "purchase_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("pus"),
    )
    c2 = clicks.select(
        "user_id", "click_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("cus"),
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in nearest_naive(p2, c2).select("purchase_id", "click_id").collect()
    }
    assert got and got == want


def test_asof_column_collisions_raise(spark):
    import pytest
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.asof import (
        asof_join,
        asof_join_nearest,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10.0)], "k long, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 99.0)], "k long, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # shared payload name `v`: would silently shadow one side's column
    with pytest.raises(ValueError, match="disjoint"):
        asof_join_nearest(left, right, by="k")
    with pytest.raises(ValueError, match="disjoint"):
        asof_join(left, right, by="k")
    # reserved internal/output names must raise, not be clobbered
    bad = left.withColumnRenamed("v", "asof_ts_us")
    with pytest.raises(ValueError, match="reserved"):
        asof_join_nearest(bad, right.withColumnRenamed("v", "w"), by="k")
    bad2 = left.withColumnRenamed("v", "_snap")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(bad2, right.withColumnRenamed("v", "w"), by="k")
    # disjoint names still work
    ok = asof_join_nearest(left, right.withColumnRenamed("v", "w"), by="k")
    assert ok.collect()[0].w == 99.0
