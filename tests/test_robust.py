"""Robust MAD outliers (operators/robust.py) and the seasonality
query's invariants."""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.robust import (
    mad_outliers,
    trimmed_mean,
    weighted_median,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "event_type string, value double")


def test_hand_computed_median_mad_outliers(spark):
    # g: values 1..9 plus an outlier 100 -> lower median of 10 values
    # is the 5th (=5.0); devs |v-5| = 4,3,2,1,0,1,2,3,4,95 -> sorted
    # 0,1,1,2,2,3,3,4,4,95, lower median (5th) = 2.0; cut = 2*4.4478
    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 100.0)]
    r = mad_outliers(_df(spark, rows)).collect()[0]
    assert r.n == 10
    assert r.med == 5.0
    assert r.mad == 2.0
    assert r.hampel_cut == 2.0 * 3.0 * 1.4826
    assert r.n_outliers == 1  # only the 95 deviation exceeds ~8.9
    assert r.max_dev == 95.0


def test_odd_count_median_is_exact_value(spark):
    rows = [("g", v) for v in (1.0, 2.0, 4.0)]
    r = mad_outliers(_df(spark, rows)).collect()[0]
    # lower median of odd n is the middle VALUE, never an average
    assert r.med == 2.0
    # devs: 1, 0, 2 -> median 1
    assert r.mad == 1.0


def test_constant_group_flags_nothing(spark):
    rows = [("g", 7.0)] * 5
    r = mad_outliers(_df(spark, rows)).collect()[0]
    assert r.med == 7.0 and r.mad == 0.0 and r.n_outliers == 0


def test_groups_are_independent(spark):
    rows = [("a", float(v)) for v in (1, 2, 3)] + [
        ("b", float(v)) for v in (100, 200, 300)
    ]
    got = {r.event_type: r for r in mad_outliers(_df(spark, rows)).collect()}
    assert got["a"].med == 2.0 and got["b"].med == 200.0


def test_duplicate_heavy_values_collapse_correctly(spark):
    # 6x 1.0 and 4x 9.0: lower median position ceil(10/2)=5 -> 1.0
    rows = [("g", 1.0)] * 6 + [("g", 9.0)] * 4
    r = mad_outliers(_df(spark, rows)).collect()[0]
    assert r.med == 1.0
    # devs: 6x 0.0, 4x 8.0 -> lower median 0.0
    assert r.mad == 0.0
    assert r.n_outliers == 4  # the 8.0 deviations exceed cut 0


def test_dow_seasonality_invariants(spark, sf_check):
    rows = registry.QUERIES["events_dow_seasonality"](
        spark, sf_check
    ).collect()
    assert all(0 <= r.dow <= 6 for r in rows)
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        n = sum(r.n for r in rs)
        # weighted mean of dow means reproduces the type mean =>
        # weighted mean of seasonal indices is ~1
        wavg = sum(r.seasonal_index * r.n for r in rs) / n
        assert wavg == pytest.approx(1.0, abs=1e-9), t


def test_parameter_guards_raise(spark):
    """Degenerate parameters fail loudly at build time, not with
    NaN/short output at execution time."""
    import pytest

    from mapreduce_implementation_grpc_spark.operators.curation import (
        stratified_sample,
    )
    from mapreduce_implementation_grpc_spark.operators.regression import (
        trailing_ols,
    )

    df = spark.createDataFrame([("g", 1, 1)], "g string, v long, w long")
    with pytest.raises(ValueError, match="collides"):
        weighted_median(df, "g", "v", "w", out_col="total_weight")
    with pytest.raises(ValueError, match="trim_pct"):
        trimmed_mean(df, "g", "v", trim_pct=50)
    with pytest.raises(ValueError, match="width"):
        trailing_ols(df, ["g"], "v", "w", width=0)
    docs = spark.createDataFrame([("en", 1)], "lang string, doc_id long")
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(docs, num=3, den=2)
