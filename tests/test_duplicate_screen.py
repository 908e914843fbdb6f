"""Duplicate-charge screen (duplicate_charge_screen): synthetic
chain semantics, boundary behavior, oracle parity on the real data
(which legitimately yields few hits -- exact-amount collisions ARE
the anomaly)."""

from __future__ import annotations

import datetime

from mapreduce_implementation_grpc_spark import registry

from tests.oracle_utils import assert_matches_oracle


def _screen(spark, rows):
    """Run the REAL operator on injected events (rows carry cents +
    epoch-us; rebuilt into the events schema the operator takes)."""
    from mapreduce_implementation_grpc_spark.operators.dq import (
        duplicate_charge_pairs,
    )

    ev = [
        (
            eid,
            datetime.datetime(1970, 1, 1)
            + datetime.timedelta(microseconds=us),
            uid,
            etype,
            cents / 100.0,
        )
        for (uid, etype, cents, eid, us) in rows
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    return duplicate_charge_pairs(df).orderBy("second_event_id").collect()


DAY_US = 24 * 3600 * 1_000_000


def test_chain_of_m_duplicates_yields_m_minus_1_pairs(spark):
    rows = [
        (1, "purchase", 999, k, k * DAY_US) for k in (1, 2, 3)  # 3-chain
    ] + [
        (1, "purchase", 500, 10, 0),          # different amount: alone
        (2, "purchase", 999, 20, 0),          # different user: alone
        (1, "click", 999, 30, 0),             # different type: alone
    ]
    got = _screen(spark, rows)
    assert [(r.first_event_id, r.second_event_id) for r in got] == [
        (1, 2),
        (2, 3),
    ]
    assert all(r.gap_us == DAY_US for r in got)


def test_boundary_exactly_7_days_included_beyond_excluded(spark):
    rows = [
        (1, "p", 100, 1, 0),
        (1, "p", 100, 2, 7 * DAY_US),        # exactly 7 days: kept
        (1, "q", 100, 3, 0),
        (1, "q", 100, 4, 7 * DAY_US + 1),    # one microsecond over: out
    ]
    got = _screen(spark, rows)
    assert [(r.first_event_id, r.second_event_id) for r in got] == [(1, 2)]


def test_equal_timestamp_ties_pair_by_event_id(spark):
    rows = [(1, "p", 100, 5, 42), (1, "p", 100, 3, 42)]
    got = _screen(spark, rows)
    assert [(r.first_event_id, r.second_event_id) for r in got] == [(3, 5)]
    assert got[0].gap_us == 0


def test_duplicate_charge_screen_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["duplicate_charge_screen"](spark, sf_check),
        registry.ORACLES["duplicate_charge_screen"],
        sf_check,
    )
