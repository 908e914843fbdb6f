"""Bucketed time-range join, random projection, and hopping-window
aggregate: crafted semantics, plan shape, and oracle parity."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.projection import (
    project_embeddings,
    projection_planes,
)
from mapreduce_implementation_grpc_spark.operators.rangejoin import time_range_pairs
from mapreduce_implementation_grpc_spark.sources.catalog import load_table
from tests.oracle_utils import assert_matches_oracle


def _t(m):
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m)


# ---------------------------------------------------------------------------
# range join semantics (W = 600 s = 10 min)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def range_pairs(spark):
    left = spark.createDataFrame(
        [
            Row(k=1, ts=_t(20), lid=100),   # bucket 2 (10-min buckets)
            Row(k=1, ts=_t(35), lid=101),   # bucket 3
            Row(k=2, ts=_t(20), lid=200),   # other key, same times
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, ts=_t(10), rid=500),   # == lid100.ts - W: inclusive lower bound
            Row(k=1, ts=_t(9, ), rid=501),  # just outside the window of lid100
            Row(k=1, ts=_t(20), rid=502),   # == lid100.ts: inclusive upper bound
            Row(k=1, ts=_t(21), rid=503),   # after lid100, too old for lid101
            Row(k=1, ts=_t(29), rid=504),   # bucket 2, inside lid101's window (bucket 3)
            Row(k=2, ts=_t(15), rid=600),   # other key
        ]
    )
    out = time_range_pairs(left, right, key="k", max_gap_s=600)
    return [(r.lid, r.rid_r, r.gap_us) for r in out.collect()]


def test_range_join_bounds_inclusive(range_pairs):
    m = {(l, r) for l, r, _ in range_pairs}
    assert (100, 500) in m      # exactly W earlier: kept
    assert (100, 501) not in m  # W + 1 min earlier: dropped
    assert (100, 502) in m      # simultaneous: kept
    assert (100, 503) not in m  # right after left: dropped


def test_range_join_key_isolation_and_uniqueness(range_pairs):
    assert (200, 600, 300_000_000) in range_pairs   # key 2 matches only key 2
    assert not {(l, r) for l, r, _ in range_pairs if (l < 200) != (r < 600)}
    # every qualifying pair appears exactly once despite the 2-bucket
    # explode of the right side
    keys = [(l, r) for l, r, _ in range_pairs]
    assert len(keys) == len(set(keys))


def test_range_join_cross_bucket_match(range_pairs):
    # lid101 (bucket 3) must still see rid504 (bucket 2) across the
    # bucket boundary, and gap_us is exact integer microseconds
    assert (101, 504, 6 * 60 * 1_000_000) in range_pairs
    assert (101, 503) not in {(l, r) for l, r, _ in range_pairs}


def test_range_join_plan_is_equi_join(spark, sf_check):
    plan = (
        registry.QUERIES["events_range_join"](spark, sf_check)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, "range join fell back to nested loop"
    assert "CartesianProduct" not in plan


def test_range_join_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["events_range_join"](spark, sf_check),
        registry.ORACLES["events_range_join"],
        sf_check,
    )


# ---------------------------------------------------------------------------
# random projection
# ---------------------------------------------------------------------------

def test_projection_is_linear(spark):
    # proj(a + b) == proj(a) + proj(b): the projection is the linear
    # map defined by the plane matrix, not some per-row heuristic
    a = [1.0, -2.0, 3.0, 0.5] * 16
    b = [0.25, 4.0, -1.5, 2.0] * 16
    s = [x + y for x, y in zip(a, b)]
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=a), Row(vec_id=1, embedding=b), Row(vec_id=2, embedding=s)]
    )
    rows = {r.vec_id: r for r in project_embeddings(df).collect()}
    for p in range(8):
        pa, pb, ps = (rows[i][f"p{p}"] for i in (0, 1, 2))
        # each coordinate is rounded to 6 decimals: 3 half-ulps of 1e-6
        assert ps == pytest.approx(pa + pb, abs=1.5e-6 + 1e-12)


def test_projection_planes_differ_from_lsh(spark):
    from mapreduce_implementation_grpc_spark.operators.similarity import lsh_planes

    assert projection_planes() != lsh_planes(8)


def test_projection_plan_has_no_exchange(spark, sf_check):
    # pure per-row map work: scan -> project, nothing else
    plan = (
        registry.QUERIES["embedding_project"](spark, sf_check)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# hopping windows
# ---------------------------------------------------------------------------

def test_hopping_every_event_in_exactly_four_windows(spark, sf_check):
    n_events = load_table(spark, sf_check, "events").count()
    agg = registry.QUERIES["events_hopping"](spark, sf_check).agg(
        F.sum("n_events").alias("total")
    )
    assert agg.collect()[0].total == 4 * n_events
