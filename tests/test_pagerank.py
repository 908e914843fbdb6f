"""PageRank over the purchase graph: structural sanity + determinism
(exactness vs DuckDB is covered by the registry-wide oracle parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.pagerank import (
    _label,
    _purchase_graph_keys,
    pagerank,
)
from mapreduce_implementation_grpc_spark.registry import QUERIES


def purchase_graph(spark, sf_dir):
    """Symmetrized edge list [src, dst, d(egree of src)] with the
    presentation string labels -- a relabeled view over the long-keyed
    builder the iterations actually shuffle."""
    return _purchase_graph_keys(spark, sf_dir).select(
        _label(F.col("src")).alias("src"),
        _label(F.col("dst")).alias("dst"),
        "d",
    )


def test_rank_lower_bound_and_node_count(spark, sf_smoke):
    g = purchase_graph(spark, sf_smoke)
    n_nodes = g.select("src").distinct().count()
    r = pagerank(spark, sf_smoke)
    rows = r.collect()
    assert len(rows) == n_nodes
    # teleport term is a hard floor
    assert all(row["r"] >= 0.15 for row in rows)


def test_hub_suppliers_outrank_leaf_customers(spark, sf_smoke):
    # suppliers aggregate rank from hundreds of customers; the top of
    # the report must be supplier nodes
    top = QUERIES["purchase_pagerank"](spark, sf_smoke).limit(10).collect()
    assert all(row["node"].startswith("s") for row in top)


def test_deterministic_across_runs(spark, sf_smoke):
    a = {r["node"]: r["rank"] for r in QUERIES["purchase_pagerank"](spark, sf_smoke).collect()}
    b = {r["node"]: r["rank"] for r in QUERIES["purchase_pagerank"](spark, sf_smoke).collect()}
    assert a == b


def test_degree_monotone_within_suppliers(spark, sf_smoke):
    # among supplier nodes, rank should correlate with degree: the
    # max-degree supplier must rank at least as high as the min-degree
    g = purchase_graph(spark, sf_smoke)
    deg = {
        r["src"]: r["d"]
        for r in g.select("src", "d").distinct().collect()
        if r["src"].startswith("s")
    }
    ranks = {
        r["node"]: r["r"]
        for r in pagerank(spark, sf_smoke).collect()
        if r["node"].startswith("s")
    }
    hi = max(deg, key=deg.get)
    lo = min(deg, key=deg.get)
    if deg[hi] > deg[lo]:
        assert ranks[hi] >= ranks[lo]


def test_ppr_with_all_seeds_equals_classic(spark, sf_smoke):
    """Personalized PageRank degenerates to classic PageRank when the
    seed set is every node — pins that the seeded teleport math is the
    same recipe, not a diverging reimplementation."""
    from mapreduce_implementation_grpc_spark.operators.pagerank import (
        personalized_pagerank,
    )

    g = purchase_graph(spark, sf_smoke)
    all_nodes = g.select(F.col("src").alias("node")).distinct()
    a = sorted(map(tuple, pagerank(spark, sf_smoke).collect()))
    b = sorted(map(tuple, personalized_pagerank(spark, sf_smoke, all_nodes).collect()))
    assert a == b


def test_ppr_empty_seed_set_is_all_zero(spark, sf_smoke):
    from mapreduce_implementation_grpc_spark.operators.pagerank import (
        personalized_pagerank,
    )

    empty = spark.createDataFrame([], "node string")
    rows = personalized_pagerank(spark, sf_smoke, empty).collect()
    assert rows and all(r["r"] == 0.0 for r in rows)


def test_hits_normalization_and_authority_ordering(spark, sf_smoke):
    """Max-normalized HITS invariants: each side's max score is
    exactly 1.0, all scores in (0, 1], and the top authority is a
    supplier with maximal hub-weighted in-degree (sanity: it must be
    bought by at least as many DISTINCT customers as any supplier
    two steps down the ranking -- a weak but hand-checkable form of
    'authority follows endorsement mass')."""
    from mapreduce_implementation_grpc_spark import registry
    from mapreduce_implementation_grpc_spark.operators.graph_motifs import (
        purchase_edges,
    )

    rows = registry.QUERIES["purchase_hits"](spark, sf_smoke).collect()
    hubs = [r for r in rows if r.node_type == "hub"]
    auths = [r for r in rows if r.node_type == "authority"]
    assert hubs and auths
    for side in (hubs, auths):
        assert max(r.score for r in side) == 1.0
        assert all(0 < r.score <= 1.0 for r in side)

    deg = {
        r.suppkey: r.n
        for r in purchase_edges(spark, sf_smoke)
        .groupBy("suppkey")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    ranked = sorted(auths, key=lambda r: -r.score)
    assert deg[ranked[0].node_key] >= deg[ranked[2].node_key]
