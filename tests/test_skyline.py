"""Skyline operator (operators/skyline.py): hand-computed frontiers,
the antichain worst case, grid-prune losslessness, and oracle parity
for the two registry queries."""

from __future__ import annotations

import itertools

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.skyline import (
    skyline,
    skyline_2d,
)

from tests.oracle_utils import assert_matches_oracle


def _brute_skyline(points: list[tuple]) -> set[tuple]:
    def dominates(q, p):
        return all(a >= b for a, b in zip(q, p)) and any(
            a > b for a, b in zip(q, p)
        )

    return {
        p for p in points if not any(dominates(q, p) for q in points if q != p)
    }


def test_skyline_2d_hand_computed(spark):
    pts = [(5, 1), (4, 4), (3, 3), (2, 5), (1, 2), (3, 4), (5, 0)]
    df = spark.createDataFrame(pts, "a long, b long")
    got = {(r.a, r.b) for r in skyline_2d(df, "a", "b").collect()}
    assert got == _brute_skyline(pts) == {(5, 1), (4, 4), (2, 5)}


def test_skyline_2d_ties_both_survive(spark):
    # equal points do not dominate each other; a same-a point with a
    # larger b kills its peer
    pts = [(3, 3), (3, 3), (3, 2), (1, 5)]
    df = spark.createDataFrame(pts, "a long, b long")
    got = [(r.a, r.b) for r in skyline_2d(df, "a", "b").collect()]
    assert sorted(got) == [(1, 5), (3, 3), (3, 3)]


def test_skyline_grid_matches_brute_force_3d(spark):
    # deterministic pseudo-random cloud incl. duplicated points
    pts = [
        ((i * 37) % 101, (i * 59) % 97, (i * 83) % 89) for i in range(300)
    ] + [(100, 96, 88), (100, 96, 88)]
    df = spark.createDataFrame(pts, "x long, y long, z long")
    got = [(r.x, r.y, r.z) for r in skyline(df, ["x", "y", "z"]).collect()]
    want = _brute_skyline(pts)
    assert set(got) == want
    # duplicates of a skyline point each survive
    assert got.count((100, 96, 88)) == 2


def test_skyline_antichain_returns_everything(spark):
    # x + y constant: nothing dominates anything
    pts = [(i, 50 - i) for i in range(51)]
    df = spark.createDataFrame(pts, "x long, y long")
    assert skyline(df, ["x", "y"]).count() == 51
    assert skyline_2d(df, "x", "y").count() == 51


def test_skyline_constant_dim_degenerates_to_max(spark):
    # one dim constant: skyline = max of the other dim (all copies)
    pts = [(7, v) for v in (1, 9, 9, 3)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = [(r.x, r.y) for r in skyline(df, ["x", "y"]).collect()]
    assert sorted(got) == [(7, 9), (7, 9)]


def test_skyline_matches_2d_staircase(spark):
    pts = [((i * 7) % 40, (i * 13) % 37) for i in range(200)]
    df = spark.createDataFrame(pts, "a long, b long")
    grid = {(r.a, r.b) for r in skyline(df, ["a", "b"]).collect()}
    stair = {(r.a, r.b) for r in skyline_2d(df, "a", "b").collect()}
    assert grid == stair == _brute_skyline(pts)


def test_customer_skyline_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["customer_skyline"](spark, sf_check),
        registry.ORACLES["customer_skyline"],
        sf_check,
    )


def test_part_sales_skyline_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["part_sales_skyline"](spark, sf_check),
        registry.ORACLES["part_sales_skyline"],
        sf_check,
    )


def test_customer_skyline_members_are_undominated(spark, sf_check):
    rows = [
        (r.spend_cents, r.n_orders, r.last_day)
        for r in registry.QUERIES["customer_skyline"](spark, sf_check).collect()
    ]
    assert rows, "empty skyline"
    for p, q in itertools.permutations(rows, 2):
        assert not (
            all(a >= b for a, b in zip(q, p))
            and any(a > b for a, b in zip(q, p))
        ), f"{q} dominates {p} inside the skyline"


def test_local_skyline_stage_is_lossless(spark):
    """Across different partitionings the final skyline (local
    mapInPandas prune, then the pairwise stage) is the brute-force
    one."""
    from mapreduce_implementation_grpc_spark.operators.skyline import (
        local_skyline,
    )

    pts = [((i * 37) % 101, (i * 59) % 97, (i * 83) % 89) for i in range(500)]
    df = spark.createDataFrame(pts, "x long, y long, z long")
    dims = ["x", "y", "z"]
    want = _brute_skyline(pts)
    pruned = {(r.x, r.y, r.z) for r in skyline(df, dims).collect()}
    repart = {(r.x, r.y, r.z) for r in skyline(df.repartition(7), dims).collect()}
    assert pruned == repart == want
    # the local stage output is a superset of the skyline
    local = {(r.x, r.y, r.z) for r in local_skyline(df, dims).collect()}
    assert want <= local
