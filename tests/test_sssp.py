"""Bounded-round Bellman-Ford (graph_motifs.sssp_min_cost, REACH_HOPS
rounds) on crafted weighted graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.graph_motifs import (
    sssp_min_cost,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "s1 bigint, s2 bigint, w bigint")


def _sources(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "suppkey bigint")


def test_two_hops_beat_direct_edge(spark):
    # 1-3 direct costs 10; 1-2-3 costs 2+3=5
    ed = _edges(spark, [(1, 3, 10), (1, 2, 2), (2, 3, 3)])
    got = {
        r.suppkey: r.min_cost
        for r in sssp_min_cost(ed, _sources(spark, [1])).collect()
    }
    assert got == {1: 0, 2: 2, 3: 5}


def test_round_bound_is_hops_not_convergence(spark):
    # chain 1-2-3-4-5, unit weights: REACH_HOPS = 3 rounds must NOT
    # reach node 5
    ed = _edges(spark, [(i, i + 1, 1) for i in range(1, 5)])
    got = {
        r.suppkey: r.min_cost
        for r in sssp_min_cost(ed, _sources(spark, [1])).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_multi_source_takes_nearest(spark):
    ed = _edges(spark, [(1, 2, 5), (2, 3, 5), (3, 4, 1)])
    got = {
        r.suppkey: r.min_cost
        for r in sssp_min_cost(ed, _sources(spark, [1, 4])).collect()
    }
    # node 3: via source 4 costs 1 (not 10 via source 1); node 2: min(5, 1+5)
    assert got[3] == 1 and got[2] == 5 and got[1] == 0 and got[4] == 0


def test_undirected_relaxation(spark):
    # edge stored once as (s1, s2); reachability must go both ways
    ed = _edges(spark, [(5, 1, 7)])
    got = {
        r.suppkey: r.min_cost
        for r in sssp_min_cost(ed, _sources(spark, [1])).collect()
    }
    assert got == {1: 0, 5: 7}


def test_negative_weight_raises_at_execution(spark):
    # the guard is per-row (raise_error in the projection): whenever
    # the weights are first computed -- here the loop's first
    # materialization, like every iterative operator -- the job dies
    # loudly, naming the offending weight
    ed = _edges(spark, [(1, 2, -1), (2, 3, 4)])
    with pytest.raises(Exception, match="negative edge weight"):
        sssp_min_cost(ed, _sources(spark, [1])).collect()
