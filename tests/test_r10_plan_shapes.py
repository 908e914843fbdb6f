"""Round-10 optimization plan-shape pins.

Each assertion freezes a structural property the r10 optimization
round measured and relied on, so a Spark upgrade or refactor that
silently reintroduces the slow shape fails here instead of in the
bench:

- the pair/wedge generators (co-supply weights, triangle wedges,
  butterfly wedges, link-prediction wedges) explode per-group sorted
  neighbor arrays (posexplode + explode(slice)) instead of
  self-joining two shuffled copies of the same table -- measured
  0.5-0.65x at sf0.1, and strictly fewer exchanges at any scale;
  every consumer of the co-supply edge list inherits the join-free
  pair build;
- triangle_counts' corner counting is a single explode(array(...))
  pass, NOT a 3-way union that re-evaluates the unpinned
  wedge+closing join per branch (12 SortMergeJoins in the r9 plan);
- the Markov absorption chain iterates over a PINNED k x k
  transition matrix: the unpinned form re-planned the corpus-scale
  lead() window once per unrolled round (~130 Exchanges / 308
  HashAggregates at steps=8; now ~25);
- hamming_banded_pairs pins its fingerprint input (both band-join
  sides read it, ReuseExchange does NOT dedup it, and for real
  callers the fingerprint pass is the expensive one -- measured 2x);
- mutual_nearest_pairs pins its candidate pairs (the symmetrizing
  union + reciprocity self-join re-evaluated the candidate scan up
  to 4x unpinned).

Thresholds carry generous headroom over the measured r10 values
(listed inline) so AQE/statistics drift doesn't flake them; they
only trip on a return of the pathological shape.
"""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark import registry


def _plan(spark, sf_smoke: str, name: str) -> str:
    return (
        registry.QUERIES[name](spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


@pytest.mark.parametrize(
    "name, max_exchanges",
    [
        # Exchange nodes in the executed plan at sf0.001. The r9
        # self-join shapes also sat under these ceilings, so
        # "posexplode" is what rejects them; the ceilings catch an
        # exchange blow-up.
        # measured 8 (r9: 14, with the join-based wedges and the 3-way
        # corner union)
        ("cosupply_triangles", 16),
        # measured 4 (r9: 3, standalone distinct + self-join; the
        # array form adds small post-aggregation exchanges)
        ("copurchase_butterflies", 10),
        # measured 4 (r9: 10, degree groupBy + centers join + wedge
        # self-join)
        ("cosupply_link_prediction_capped", 12),
        # same plan as the capped form (measured 4)
        ("cosupply_link_prediction", 12),
        # measured 9 (r9: 15, with 7 sort-merge joins in the pair
        # build and wedges)
        ("cosupply_clustering", 18),
    ],
)
def test_wedge_paths_are_array_explosions(spark, sf_smoke, name, max_exchanges):
    plan = _plan(spark, sf_smoke, name)
    assert "posexplode" in plan, f"{name}: array wedge path gone"
    assert plan.count("Exchange") <= max_exchanges, (
        f"{name}: exchange count {plan.count('Exchange')} > "
        f"{max_exchanges} -- the self-join wedge shape is back?"
    )


@pytest.mark.parametrize(
    "name",
    [
        "cosupply_degree_assortativity",
        "cosupply_nation_modularity",
        "cosupply_kcore",
        "supplier_reach",
        "supplier_cheapest_reach",
    ],
)
def test_cosupply_edge_consumers_build_pairs_from_arrays(
    spark, sf_smoke, monkeypatch, name
):
    """cosupply_edges pins its pair weights, so a consumer's own plan
    shows only the pinned scan. Record every plan graph_motifs pins
    while the query is built: the pair build must be there, exploding
    the per-part supplier arrays with no join (measured 2 exchanges:
    the per-part groupBy and the pair aggregation; the r9 distinct +
    self-join on part had 4, two of them sort-merge sides)."""
    from mapreduce_implementation_grpc_spark.operators import graph_motifs

    pinned = []
    pin = graph_motifs.materialize

    def recording_pin(df):
        pinned.append(df._jdf.queryExecution().executedPlan().toString())
        return pin(df)

    monkeypatch.setattr(graph_motifs, "materialize", recording_pin)
    registry.QUERIES[name](spark, sf_smoke)
    pair_builds = [p for p in pinned if "posexplode" in p]
    assert pair_builds, f"{name}: edge build no longer explodes supplier arrays"
    for plan in pair_builds:
        assert "Join" not in plan, f"{name}: pair build self-joins again"
        assert plan.count("Exchange") <= 4, plan.count("Exchange")


def test_triangle_corners_single_pass(spark, sf_smoke):
    """The corner count must not re-evaluate the closing join per
    union branch: with the explode(array(src,x,y)) form the plan
    holds at most one join per closing step (r10: 3 BHJ total at
    sf0.001; the union form carried 3 copies = 9+)."""
    plan = _plan(spark, sf_smoke, "cosupply_triangles")
    joins = plan.count("SortMergeJoin") + plan.count(
        "BroadcastHashJoin"
    ) + plan.count("ShuffledHashJoin")
    assert joins <= 6, f"triangle corner union re-evaluation is back ({joins} joins)"


def _assert_markov_chain_pinned(plan: str, max_exchanges: int) -> None:
    # pinned transition matrix shows up as ExistingRDD scans
    assert "ExistingRDD" in plan, "transition matrix no longer pinned"
    assert plan.count("Exchange") <= max_exchanges, (
        f"absorption chain exchange blow-up: {plan.count('Exchange')}"
    )


def test_markov_absorption_iterates_on_pinned_matrix(spark, sf_smoke):
    # r10 measured 25 exchanges at steps=8 (was ~130 unpinned)
    _assert_markov_chain_pinned(
        _plan(spark, sf_smoke, "event_conversion_absorption"), 50
    )


def test_markov_removal_iterates_on_pinned_matrix(spark, sf_smoke):
    # measured 145 (was ~750 with the matrix and the journey-start
    # distribution re-planned in every removal chain)
    _assert_markov_chain_pinned(
        _plan(spark, sf_smoke, "attribution_markov_removal"), 290
    )


def test_simhash_band_join_reads_pinned_fingerprints(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "simhash_pairs")
    assert "ExistingRDD" in plan, (
        "hamming_banded_pairs fingerprint pin gone -- the corpus is "
        "fingerprinted once per band-join side again"
    )


def test_mutual_nn_reads_pinned_candidates(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "embedding_mutual_nn")
    assert "ExistingRDD" in plan, (
        "mutual_nearest_pairs candidate pin gone -- the pair scan is "
        "re-evaluated per union branch / self-join side again"
    )
