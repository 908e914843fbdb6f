"""Exact ACF (operators/acf.py): closed-form checks, a pure-Python
differential, and oracle parity for events_acf."""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.acf import autocorrelation

from tests.oracle_utils import assert_matches_oracle


def _py_acf(ys: list[int], k: int) -> float:
    n = len(ys)
    s = sum(ys)
    z = [n * y - s for y in ys]
    return sum(z[t] * z[t + k] for t in range(n - k)) / sum(v * v for v in z)


def _series_df(spark, ys, group="g"):
    return spark.createDataFrame(
        [(group, t, y) for t, y in enumerate(ys)], "g string, t long, y long"
    )


def test_alternating_series_exact_rationals(spark):
    # y = 1,0,1,0,... n=10: z = +/-const, so r_k = +/-(n-k)/n exactly
    ys = [1, 0] * 5
    rows = {
        r.lag: r.acf
        for r in autocorrelation(_series_df(spark, ys), "g", "t", "y").collect()
    }
    assert rows[1] == -9 / 10
    assert rows[2] == 8 / 10
    assert rows[3] == -7 / 10


def test_acf_differential_vs_pure_python(spark):
    ys = [(i * 37 + (i * i) % 11) % 23 for i in range(40)]
    got = {
        r.lag: r.acf
        for r in autocorrelation(_series_df(spark, ys), "g", "t", "y").collect()
    }
    for k in range(1, 8):
        assert got[k] == pytest.approx(_py_acf(ys, k), abs=1e-15), k


def test_constant_series_dropped_other_groups_kept(spark):
    rows = [("flat", t, 5) for t in range(10)] + [
        ("var", t, t % 3) for t in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, t long, y long")
    out = autocorrelation(df, "g", "t", "y").collect()
    assert {r.g for r in out} == {"var"}
    assert all(r.n_points == 10 for r in out)


def test_lag1_of_smooth_series_positive(spark):
    # a slow ramp is strongly positively autocorrelated at lag 1
    ys = [t // 4 for t in range(32)]
    rows = autocorrelation(_series_df(spark, ys), "g", "t", "y").collect()
    assert {r.lag: r.acf for r in rows}[1] > 0.8


def test_non_dense_series_fails_inside_the_plan(spark):
    # lead() aligns by position: a gapped or repeated t would pair the
    # wrong points, so the contract is checked per row in the plan
    ys = [(i * 37 + (i * i) % 11) % 23 for i in range(12)]
    dense = [("ok", t, y) for t, y in enumerate(ys)]
    schema = "g string, t long, y long"
    gapped = [r for r in dense if r[1] != 5]
    duped = dense + [("ok", 5, 3)]
    shifted = [(g, t + 1, y) for g, t, y in dense]
    for rows in (gapped, duped, shifted):
        df = spark.createDataFrame(rows, schema)
        with pytest.raises(Exception, match="is not the dense series"):
            autocorrelation(df, "g", "t", "y").collect()
    # a dense group is unaffected by the check
    got = {
        r.lag: r.acf
        for r in autocorrelation(
            spark.createDataFrame(dense, schema), "g", "t", "y"
        ).collect()
    }
    for k in range(1, 4):
        assert got[k] == pytest.approx(_py_acf(ys, k), abs=1e-15), k


def test_events_acf_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["events_acf"](spark, sf_check),
        registry.ORACLES["events_acf"],
        sf_check,
    )
