"""Exact AUC / calibration bins (operators/evalmetrics.py):
hand-computed and pure-Python differential coverage."""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.evalmetrics import (
    auc_rank_sum,
    calibration_bins,
)


def python_auc(pairs):
    """O(n^2) tie-corrected reference: mean over (pos, neg) pairs of
    1 if pos-score > neg-score, 0.5 if tied."""
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    return u / (len(pos) * len(neg))


def test_hand_computed_with_ties(spark):
    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 1), (2.0, 0), (3.0, 1)], "score double, label int"
    )
    row = auc_rank_sum(df).collect()[0]
    # s=2: 1*(2*1+1)=3 ; s=3: 1*(2*2+0)=4 -> u2=7, auc=7/8
    assert (row.n_pos, row.n_neg) == (2, 2)
    assert row.u2 == Decimal(7)
    assert row.auc == 0.875


def test_perfect_and_inverted(spark):
    perfect = spark.createDataFrame(
        [(float(i), 1 if i >= 5 else 0) for i in range(10)],
        "score double, label int",
    )
    assert auc_rank_sum(perfect).collect()[0].auc == 1.0
    inverted = spark.createDataFrame(
        [(float(i), 0 if i >= 5 else 1) for i in range(10)],
        "score double, label int",
    )
    assert auc_rank_sum(inverted).collect()[0].auc == 0.0


def test_differential_vs_quadratic_reference(spark):
    rng = random.Random(7)
    pairs = [
        (float(rng.randint(0, 20)), rng.randint(0, 1)) for _ in range(400)
    ]
    df = spark.createDataFrame(pairs, "score double, label int")
    got = auc_rank_sum(df).collect()[0].auc
    assert got == pytest.approx(python_auc(pairs), abs=1e-12)


def test_one_class_raises(spark):
    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], "score double, label int")
    with pytest.raises(Exception, match="one-class"):
        auc_rank_sum(df).collect()


def test_calibration_bins_hand_computed(spark):
    # p=1.0 must clamp into bin 9, not a phantom bin 10
    rows = [(0.05, 0), (0.05, 1), (0.52, 1), (0.58, 0), (1.0, 1)]
    df = spark.createDataFrame(rows, "p double, label int")
    got = {
        r.bin: r
        for r in calibration_bins(df, F.col("p"), F.col("label")).collect()
    }
    assert set(got) == {0, 5, 9}
    b0 = got[0]
    assert b0.n == 2 and b0.frac_pos == 0.5
    assert b0.mean_p == pytest.approx(0.05, abs=1e-9)
    b5 = got[5]
    assert b5.n == 2 and b5.frac_pos == 0.5
    assert b5.mean_p == pytest.approx(0.55, abs=1e-9)
    b9 = got[9]
    assert b9.n == 1 and b9.frac_pos == 1.0 and b9.mean_p == 1.0
    assert b9.abs_gap == 0.0


def test_auc_plan_no_single_partition_over_rows(spark):
    """The scored rows never cross a SinglePartition exchange; only
    the <= n_buckets offsets table and the final 1-row aggregate do."""
    df = spark.range(0, 10_000).select(
        (F.col("id") % 97).cast("double").alias("score"),
        (F.col("id") % 3 == 0).cast("int").alias("label"),
    )
    plan = auc_rank_sum(df)._jdf.queryExecution().executedPlan().toString()
    # the bucketed row table reaches its window via hashpartitioning
    assert "hashpartitioning(_bkt" in plan
