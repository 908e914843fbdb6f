"""Sequential-pattern mining (operators/seqmine.py) on crafted event
streams with hand-computed supports."""

from __future__ import annotations

import datetime as dt

from mapreduce_implementation_grpc_spark.operators.seqmine import (
    contiguous_sequences,
)


def _events(spark, rows):
    """rows: (event_id, user_id, type) -- ts derives from event_id so
    sequence order == listed order per user."""
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (eid, t0 + dt.timedelta(minutes=eid), uid, et)
            for eid, uid, et in rows
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string",
    )


def test_hand_computed_trigram_support(spark):
    # user 1: a b c a b c  -> abc x2, bca, cab
    # user 2: a b c        -> abc x1
    # user 3: x y          -> no trigram
    ev = _events(
        spark,
        [(i, 1, t) for i, t in enumerate("abcabc")]
        + [(10 + i, 2, t) for i, t in enumerate("abc")]
        + [(20 + i, 3, t) for i, t in enumerate("xy")],
    )
    rows = contiguous_sequences(ev).collect()
    got = {(r.step_1, r.step_2, r.step_3): (r.support, r.occurrences) for r in rows}
    assert got == {
        ("a", "b", "c"): (2, 3),
        ("b", "c", "a"): (1, 1),
        ("c", "a", "b"): (1, 1),
    }
    # abc first (support 2), then the support-1 grams in step order
    assert [(r.step_1, r.step_2, r.step_3) for r in rows] == [
        ("a", "b", "c"),
        ("b", "c", "a"),
        ("c", "a", "b"),
    ]


def test_sequences_never_cross_users(spark):
    # interleaved event_ids: user 1 = a..b..c, user 2 = x..y..z; a
    # cross-user read would mint grams like (a, x, b)
    ev = _events(
        spark,
        [(0, 1, "a"), (1, 2, "x"), (2, 1, "b"), (3, 2, "y"), (4, 1, "c"), (5, 2, "z")],
    )
    got = {
        (r.step_1, r.step_2, r.step_3)
        for r in contiguous_sequences(ev).collect()
    }
    assert got == {("a", "b", "c"), ("x", "y", "z")}
