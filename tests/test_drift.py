"""Drift monitors (operators/drift.py): hand-computed PSI/KL and an
exact-KS differential against a pure-Python reference."""

from __future__ import annotations

import math
import random

import pytest

from mapreduce_implementation_grpc_spark.operators.drift import (
    categorical_drift,
    ks_test,
)


def test_psi_kl_hand_computed(spark):
    base = spark.createDataFrame(
        [("a",)] * 8 + [("b",)] * 2, "cat string"
    )
    curr = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 5, "cat string"
    )
    got = {r.cat: r for r in categorical_drift(base, curr, "cat").collect()}
    assert set(got) == {"a", "b"}
    ra = got["a"]
    assert (ra.n_base, ra.n_curr) == (8, 5)
    assert ra.p_base == 0.8 and ra.p_curr == 0.5
    lr_a = round(math.log(0.5 / 0.8), 9)
    assert ra.psi_term == (0.5 - 0.8) * lr_a
    assert ra.kl_term == 0.5 * lr_a
    rb = got["b"]
    lr_b = round(math.log(0.5 / 0.2), 9)
    assert rb.psi_term == (0.5 - 0.2) * lr_b
    # identical distributions: every term exactly zero
    same = categorical_drift(base, base, "cat").collect()
    assert all(r.psi_term == 0.0 and r.kl_term == 0.0 for r in same)


def test_psi_missing_category_raises(spark):
    base = spark.createDataFrame([("a",), ("b",)], "cat string")
    curr = spark.createDataFrame([("a",), ("c",)], "cat string")
    with pytest.raises(Exception, match="zero mass"):
        categorical_drift(base, curr, "cat").collect()


def python_ks(xs, ys):
    vals = sorted(set(xs) | set(ys))
    best, at = -1.0, None
    for v in vals:
        d = abs(
            sum(1 for x in xs if x <= v) / len(xs)
            - sum(1 for y in ys if y <= v) / len(ys)
        )
        if d > best:
            best, at = d, v
    return best, at


def test_ks_hand_computed(spark):
    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    b = spark.createDataFrame([(3.0,), (4.0,), (5.0,)], "v double")
    row = ks_test(a, b).collect()[0]
    # mathematically the max 2/3 is attained at v=2 AND v=3, but in
    # IEEE arithmetic |1.0 - 1/3| (v=3) is one ulp ABOVE |2/3 - 0|
    # (v=2) -- the argmax is decided on the exact floats both engines
    # compute, so v=3 wins deterministically
    assert (row.n_a, row.n_b) == (3, 3)
    assert row.ks_d == pytest.approx(1.0 - 1.0 / 3.0, abs=0)
    assert row.at_value == 3.0


def test_ks_identical_samples_zero(spark):
    a = spark.createDataFrame([(float(i % 7),) for i in range(50)], "v double")
    row = ks_test(a, a).collect()[0]
    assert row.ks_d == 0.0


def test_ks_differential_vs_python(spark):
    rng = random.Random(11)
    xs = [round(rng.gauss(0.0, 1.0), 3) for _ in range(300)]
    ys = [round(rng.gauss(0.4, 1.3), 3) for _ in range(200)]
    sa = spark.createDataFrame([(x,) for x in xs], "v double")
    sb = spark.createDataFrame([(y,) for y in ys], "v double")
    row = ks_test(sa, sb).collect()[0]
    d_ref, at_ref = python_ks(xs, ys)
    assert row.ks_d == pytest.approx(d_ref, abs=1e-12)
    assert row.at_value == at_ref
