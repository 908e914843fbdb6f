"""Wave-9 r7 operators: Simpson diversity, HHI/CR4 concentration,
run-length profile, and the EWMA control chart. Hand-computed
crafted cases + invariants. (Oracle parity runs in the registry-wide
sweep.)"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.sources.catalog import load_table


def test_simpson_bounds_and_entropy_consistency(spark, sf_check):
    out = registry.QUERIES["lang_simpson_diversity"](spark, sf_check).collect()
    assert out
    for r in out:
        # D in (0, 1]; 1 <= effective vocab <= distinct types
        assert 0.0 < r.simpson <= 1.0
        assert 1.0 - 1e-9 <= r.inv_simpson <= r.vocab + 1e-9


def test_simpson_hand_computed(spark):
    """6 tokens: a a a b b c -> sum c(c-1) = 6+2+0 = 8, n(n-1)=30."""
    docs = [(0, "a a a b b c", "xx", "s", 11)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    r = registry.QUERIES["lang_simpson_diversity"](spark, d).collect()[0]
    assert (r.n_tokens, r.vocab) == (6, 3)
    assert r.simpson == pytest.approx(8 / 30, rel=1e-12)
    assert r.inv_simpson == pytest.approx(30 / 8, rel=1e-12)


def test_hhi_bounds_and_monopoly(spark, sf_check):
    out = registry.QUERIES["brand_revenue_hhi"](spark, sf_check).collect()
    assert out
    for r in out:
        # HHI in [1/n_brands, 1]; CR4 dominates HHI's top mass
        assert 1.0 / r.n_brands - 1e-9 <= r.hhi <= 1.0 + 1e-9
        assert 0.0 < r.cr4 <= 1.0 + 1e-12
        if r.n_brands <= 4:
            assert r.cr4 == pytest.approx(1.0, rel=1e-12)


def test_run_length_hand_computed(spark):
    """User stream A A B A -> runs: A(2), B(1), A(1)."""
    rows = []
    base = dt.datetime(2024, 1, 1)
    for i, et in enumerate(["A", "A", "B", "A"]):
        rows.append((i, base + dt.timedelta(minutes=i), 1, et, 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        r.event_type: r
        for r in registry.QUERIES["events_run_length"](spark, d).collect()
    }
    assert out["A"].n_runs == 2 and out["A"].longest_run == 2
    assert out["A"].mean_run_len == pytest.approx(1.5)
    assert out["B"].n_runs == 1 and out["B"].longest_run == 1


def test_run_length_totals_tie_out(spark, sf_check):
    """Sum over runs = total event count per type."""
    out = registry.QUERIES["events_run_length"](spark, sf_check).collect()
    ev = load_table(spark, sf_check, "events")
    totals = {
        r.event_type: r.cnt
        for r in ev.groupBy("event_type").count().withColumnRenamed(
            "count", "cnt"
        ).collect()
    }
    for r in out:
        assert r.n_runs * r.mean_run_len == pytest.approx(
            totals[r.event_type], rel=1e-9
        )
        assert r.longest_run >= 1 and r.n_runs <= totals[r.event_type]


def test_ewma_constant_series_is_fixed_point(spark):
    """Constant daily volume -> EWMA sits at it, zero deviation."""
    rows = []
    eid = 0
    for day in range(5):
        for k in range(4):
            rows.append(
                (eid, dt.datetime(2024, 1, day + 1, 12, k), 7, "A", 2.5, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    r = registry.QUERIES["events_ewma_control"](spark, d).collect()[0]
    assert r.n_days == 5
    assert r.ewma_last_micros == 10.0 * 1_000_000  # 4 * 2.5 per day
    assert r.max_abs_dev_micros == 0.0


def test_ewma_states_are_integers(spark, sf_check):
    """The all-exact recursion claim: every shipped state is an
    exact integer-valued double."""
    for r in registry.QUERIES["events_ewma_control"](
        spark, sf_check
    ).collect():
        assert r.ewma_last_micros == int(r.ewma_last_micros)
        assert r.max_abs_dev_micros == int(r.max_abs_dev_micros)
        assert r.max_abs_dev_micros >= 0.0
