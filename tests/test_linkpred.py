"""Link prediction (operators/linkpred.py) on a crafted graph with
hand-computed common-neighbor / Jaccard / Adamic-Adar scores."""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark.operators.linkpred import (
    LINKPRED_TOP_N,
    cosupply_link_prediction,
    link_prediction,
)

# 1-2, 1-3, 2-3, 2-4, 3-4, 4-5: degrees 1:2, 2:3, 3:3, 4:3, 5:1
EDGES = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "s1 bigint, s2 bigint")


def test_hand_computed_scores(spark, edges_df):
    rows = link_prediction(edges_df).collect()
    got = {(r.s1, r.s2): r for r in rows}
    # non-adjacent pairs with >= 1 common neighbor, and nothing else
    assert set(got) == {(1, 4), (2, 5), (3, 5)}
    # (1,4): common {2,3}, both deg 3 -> aa = 2 * round(1/ln3, 9)
    t = round(1.0 / __import__("math").log(3.0), 9)
    r14 = got[(1, 4)]
    assert r14.common_neighbors == 2
    assert r14.jaccard == pytest.approx(2.0 / 3.0, abs=0)
    assert r14.adamic_adar == float(f"{2 * t:.9f}")
    # (2,5) and (3,5): common {4} (deg 3), jaccard 1/(3+1-1)
    for pair in [(2, 5), (3, 5)]:
        r = got[pair]
        assert r.common_neighbors == 1
        assert r.jaccard == pytest.approx(1.0 / 3.0, abs=0)
        assert r.adamic_adar == float(f"{t:.9f}")
    # deterministic order: aa desc, cn desc, then keys
    assert [(r.s1, r.s2) for r in rows] == [(1, 4), (2, 5), (3, 5)]


def test_adjacent_pairs_never_scored(spark, edges_df):
    got = {(r.s1, r.s2) for r in link_prediction(edges_df).collect()}
    assert got.isdisjoint(set(EDGES))


def test_max_degree_drops_hub_centers(spark, edges_df):
    # max_degree=2 keeps only node 1 (deg 2) as a wedge center:
    # its neighbors {2, 3} are adjacent, so NO pair survives
    rows = link_prediction(edges_df, max_degree=2).collect()
    assert rows == []


def test_cosupply_smoke(spark, sf_check):
    df = cosupply_link_prediction(spark, sf_check)
    rows = df.collect()
    assert df.columns == [
        "s1",
        "s2",
        "common_neighbors",
        "jaccard",
        "adamic_adar",
    ]
    assert len(rows) == LINKPRED_TOP_N
    assert all(0.0 < r.jaccard <= 1.0 for r in rows)
    aas = [r.adamic_adar for r in rows]
    assert aas == sorted(aas, reverse=True)
