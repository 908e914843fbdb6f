"""Kaplan-Meier (operators/survival.py): textbook example, the
all-churn zero tail, censoring conventions, oracle parity."""

from __future__ import annotations

import math

import pytest

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.survival import (
    kaplan_meier,
    user_lifetimes,
)

from tests.oracle_utils import assert_matches_oracle


def _km(spark, subjects):
    df = spark.createDataFrame(subjects, "duration long, censored boolean")
    return {r.duration: r for r in kaplan_meier(df).collect()}


def test_km_textbook_example(spark):
    rows = _km(
        spark,
        [(1, False), (2, False), (2, True), (3, False), (4, True), (5, False)],
    )
    assert rows[1].n_risk == 6 and rows[1].n_events == 1
    # deaths-before-censoring: the censored-at-2 subject is still at
    # risk for the death at 2
    assert rows[2].n_risk == 5 and rows[2].n_events == 1 and rows[2].n_censored == 1
    assert rows[3].n_risk == 3
    assert rows[4].n_risk == 2 and rows[4].n_events == 0
    ln = lambda v: round(math.log(v), 9)
    assert rows[1].log_survival == pytest.approx(ln(5 / 6), abs=1e-12)
    assert rows[2].log_survival == pytest.approx(ln(5 / 6) + ln(4 / 5), abs=1e-12)
    assert rows[3].log_survival == pytest.approx(
        ln(5 / 6) + ln(4 / 5) + ln(2 / 3), abs=1e-12
    )
    # a pure-censoring time contributes a factor of exactly 1
    assert rows[4].log_survival == rows[3].log_survival
    # last at-risk subject churns: survival hits exact 0, loudly
    assert rows[5].survival_zero and rows[5].log_survival is None
    assert not rows[4].survival_zero


def test_km_survival_monotone_and_in_unit_interval(spark):
    subjects = [(d % 7, d % 3 == 0) for d in range(50)]
    out = kaplan_meier(
        spark.createDataFrame(subjects, "duration long, censored boolean")
    ).collect()
    prev = 1.0
    for r in out:
        if r.log_survival is None:
            assert r.survival_zero
            continue
        s = math.exp(r.log_survival)
        assert 0 < s <= prev + 1e-12
        prev = s


def test_km_all_censored_curve_stays_at_one(spark):
    rows = _km(spark, [(3, True), (5, True), (5, True)])
    assert all(r.log_survival == 0.0 for r in rows.values())
    assert not any(r.survival_zero for r in rows.values())


def test_user_lifetimes_censor_rule(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", ""),
            (1, "2024-01-10 10:00:00", ""),
            (2, "2024-01-02 10:00:00", ""),
            (2, "2024-01-29 10:00:00", ""),
            (3, "2024-01-30 10:00:00", ""),
        ],
        "user_id long, ts_s string, pad string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    rows = {r.user_id: r for r in user_lifetimes(ev).collect()}
    assert rows[1].duration == 9 and not rows[1].censored  # idle 20d: churned
    assert rows[2].duration == 27 and rows[2].censored  # active at edge
    assert rows[3].duration == 0 and rows[3].censored  # joined at edge


def test_user_survival_km_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["user_survival_km"](spark, sf_check),
        registry.ORACLES["user_survival_km"],
        sf_check,
    )
