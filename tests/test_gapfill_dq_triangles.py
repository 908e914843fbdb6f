"""Unit/property tests for the r5-continuation operators: LOCF
gap-fill, the degree-ordered triangle counter, and the DQ audit.

Oracle parity for events_gap_fill / cosupply_triangles / dq_audit
runs in the registry-wide sweep; these pin the semantics the hash
can't express: fill values chosen deterministically, orientation
exactness on hand graphs, and the audit firing on known defects.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.gapfill import gap_fill_forward
from mapreduce_implementation_grpc_spark.operators.graph_motifs import (
    triangle_counts,
)
from mapreduce_implementation_grpc_spark.sources.catalog import load_table


def _ts(h, m=0):
    return datetime.datetime(2024, 1, 1, h, m)


def test_triangle_counts_k4_plus_pendant(spark):
    # K4 on 1..4 (4 triangles, each node in 3) + pendant node 5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)],
        "s1 long, s2 long",
    )
    got = {r.suppkey: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_star_is_triangle_free(spark):
    # high-degree hub, zero triangles -- the case naive deg^2 wedge
    # counting pays for and orientation avoids
    edges = spark.createDataFrame(
        [(1, n) for n in range(2, 12)], "s1 long, s2 long"
    )
    assert triangle_counts(edges).count() == 0


def test_gap_fill_locf_and_flags(spark):
    df = spark.createDataFrame(
        [
            (7, _ts(0, 10), 1, 1.0),
            (7, _ts(0, 50), 2, 2.0),  # same hour bucket: later wins
            (7, _ts(3, 5), 3, 3.0),
            (9, _ts(5, 0), 4, 9.0),  # single-event key: one row
        ],
        "user_id long, ts timestamp, event_id long, value double",
    )
    out = gap_fill_forward(df, "user_id", "ts", "value")
    rows = {
        (r.user_id, r.bucket.hour): (r.filled_value, r.is_gap)
        for r in out.collect()
    }
    assert rows == {
        (7, 0): (2.0, False),
        (7, 1): (2.0, True),
        (7, 2): (2.0, True),
        (7, 3): (3.0, False),
        (9, 5): (9.0, False),
    }


def test_gap_fill_tiebreak_is_deterministic(spark):
    # identical ts in one bucket: the remaining columns break the tie
    # (descending), so event_id 6 wins over 5
    df = spark.createDataFrame(
        [(1, _ts(0), 5, 50.0), (1, _ts(0), 6, 60.0)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    out = gap_fill_forward(df, "user_id", "ts", "value").collect()
    assert len(out) == 1 and out[0].filled_value == 60.0


def test_dq_audit_fires_on_known_defects(spark, sf_smoke):
    rows = {
        r.check_name: r for r in registry.QUERIES["dq_audit"](spark, sf_smoke).collect()
    }
    assert len(rows) == 17
    # synthetic totalprice never reconciles with its lineitems
    recon = rows["orders_totalprice_reconciles"]
    assert recon.n_violations == recon.n_checked > 0
    # some orders have no lineitems in the synthetic data
    assert rows["orders_have_lineitems"].n_violations > 0
    # ...and (l_orderkey, l_linenumber) is NOT a key here -- a real
    # generator defect the audit surfaces (1401 dupes at sf0.001)
    assert rows["lineitem_pk_unique"].n_violations > 0
    # everything else is clean, and n_checked covers the full tables
    clean = [
        n
        for n, r in rows.items()
        if n
        not in (
            "orders_totalprice_reconciles",
            "orders_have_lineitems",
            "lineitem_pk_unique",
        )
    ]
    assert all(rows[n].n_violations == 0 for n in clean)
    n_orders = load_table(spark, sf_smoke, "orders").count()
    assert rows["orders_pk_unique"].n_checked == n_orders
    assert rows["orders_fk_customer"].n_checked == n_orders


def test_dq_audit_order_grain_checks_report_zero_on_empty_tables(spark, sf_smoke, tmp_path):
    """Empty orders AND empty lineitem: the order-grain full-outer join
    and the row-local scans see no rows, and their ungrouped sums must
    report 0, not NULL (the oracle's count(*) FILTER gives 0)."""
    import os

    sf_dir = tmp_path / "sf_empty"
    sf_dir.mkdir()
    for name in ("orders", "lineitem"):
        load_table(spark, sf_smoke, name).limit(0).write.parquet(str(sf_dir / f"{name}.parquet"))
    for name in ("customer", "events", "documents"):
        os.symlink(os.path.join(sf_smoke, f"{name}.parquet"), sf_dir / f"{name}.parquet")
    rows = {
        r.check_name: r for r in registry.QUERIES["dq_audit"](spark, str(sf_dir)).collect()
    }
    empty_table_checks = sorted(c for c in rows if c.startswith(("lineitem_", "orders_")))
    for check in (
        "lineitem_fk_orders",
        "orders_have_lineitems",
        "orders_totalprice_reconciles",
        "lineitem_qty_in_1_50",
        "lineitem_discount_in_0_01",
        "lineitem_returnflag_domain",
        "lineitem_pk_nonnull",
        "orders_totalprice_positive",
    ):
        assert check in empty_table_checks, check
    for check in empty_table_checks:
        assert (rows[check].n_checked, rows[check].n_violations) == (0, 0), check


def test_market_basket_metrics_match_bruteforce(spark, sf_smoke):
    """Association metrics vs a driver-side brute force over the
    collected baskets (sf0.001 is small enough), including the
    lift-ordered top-k cut."""
    from collections import Counter
    from itertools import combinations

    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    rows = (
        load_table(spark, sf_smoke, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets: dict[int, set[int]] = {}
    for r in rows:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    item = Counter()
    pair = Counter()
    for parts in baskets.values():
        for p in parts:
            item[p] += 1
        for a, b in combinations(sorted(parts), 2):
            pair[(a, b)] += 1
    n = len(baskets)
    want = sorted(
        (
            (
                -pn * n / (item[a] * item[b]),  # lift desc
                a,
                b,
                pn,
            )
            for (a, b), pn in pair.items()
            if pn >= 2
        ),
    )[:50]

    got = registry.QUERIES["market_basket_pairs"](spark, sf_smoke).collect()
    assert [(r.p1, r.p2, r.pair_n) for r in got] == [
        (a, b, pn) for _, a, b, pn in want
    ]
    for r in got:
        assert 0 < r.support <= 1 and 0 < r.confidence <= 1
        assert r.lift == r.pair_n * n / (item[r.p1] * item[r.p2])


def test_kcore_peels_to_fixpoint(spark):
    """K5 + a pendant chain, k=3: the chain peels away over several
    rounds, K5 survives with within-core degree 4."""
    from itertools import combinations

    from mapreduce_implementation_grpc_spark.operators.graph_motifs import kcore

    k5 = list(combinations(range(1, 6), 2))
    chain = [(5, 6), (6, 7), (7, 8)]  # peels: 8 then 7 then 6
    edges = spark.createDataFrame(k5 + chain, "s1 long, s2 long")
    got = {r.suppkey: r.core_deg for r in kcore(edges, k=3).collect()}
    assert got == {n: 4 for n in range(1, 6)}


def test_kcore_raises_on_round_budget(spark, monkeypatch):
    import pytest

    from mapreduce_implementation_grpc_spark.operators import graph_motifs

    # a graph deeper than the round budget: shrink the budget rather
    # than build a path longer than KCORE_MAX_ROUNDS peels
    monkeypatch.setattr(graph_motifs, "KCORE_MAX_ROUNDS", 0)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "s1 long, s2 long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        graph_motifs.kcore(edges, k=1)


def test_event_transitions_is_a_markov_matrix(spark, sf_smoke):
    """Each row of the transition matrix sums to 1, and total
    transitions = total events minus one per active user (a chain of
    n events has n-1 transitions)."""
    rows = registry.QUERIES["event_transitions"](spark, sf_smoke).collect()
    by_type: dict[str, float] = {}
    n_total = 0
    for r in rows:
        by_type[r.event_type] = by_type.get(r.event_type, 0.0) + r.p
        n_total += r.n_transitions
    assert by_type and all(abs(s - 1.0) < 1e-9 for s in by_type.values())

    ev = load_table(spark, sf_smoke, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert n_total == n_events - n_users


def test_strict_funnel_is_monotone(spark, sf_smoke):
    rows = {
        r.stage: r
        for r in registry.QUERIES["funnel_strict_sequence"](spark, sf_smoke).collect()
    }
    n1 = rows["1_signup"].n_users
    n2 = rows["2_view_after_signup"].n_users
    n3 = rows["3_purchase_within_7d"].n_users
    assert n1 >= n2 >= n3 >= 0 and n1 > 0
    assert rows["1_signup"].rate == 1.0
    assert rows["2_view_after_signup"].rate == n2 / n1
    assert rows["3_purchase_within_7d"].rate == n3 / n2


def test_streaks_and_dim_stats_sanity(spark, sf_smoke):
    """Streak invariants (longest <= active days <= span) and
    per-dim embedding stats vs numpy on the collected vectors."""
    import numpy as np

    rows = registry.QUERIES["user_activity_streaks"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 1 <= r.longest_streak <= r.n_active_days

    emb = np.array(
        [
            r.embedding
            for r in load_table(spark, sf_smoke, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    got = registry.QUERIES["embedding_dim_stats"](spark, sf_smoke).collect()
    assert len(got) == emb.shape[1]
    for r in got:
        col = emb[:, r.dim]
        assert abs(r.mean - col.mean()) < 1e-6
        assert abs(r.std - col.std()) < 1e-6
        assert r.min_v == col.min() and r.max_v == col.max()


def test_bfs_hops_chain_and_min_distance(spark):
    """Crafted graph: chain 1-2-3-4-5-6 plus shortcut 1-3; sources
    {1, 9} (9 is isolated). Hops must be the MIN distance, the
    isolated source still appears at 0, and nodes beyond REACH_HOPS
    (3) are absent."""
    from mapreduce_implementation_grpc_spark.operators.graph_motifs import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (4, 5), (5, 6)], "s1 long, s2 long"
    )
    sources = spark.createDataFrame([(1,), (9,)], "suppkey long")
    got = {
        r.suppkey: r.hops
        for r in bfs_hops(edges, sources).collect()
    }
    assert got[1] == 0 and got[9] == 0
    assert got[2] == 1
    assert got[3] == 1          # shortcut 1-3 beats the 2-hop path
    assert got[4] == 2          # via 3
    assert got[5] == 3
    assert 6 not in got         # beyond REACH_HOPS


def test_supplier_reach_oracle_parity(spark, sf_check):
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["supplier_reach"](spark, sf_check),
        registry.ORACLES["supplier_reach"],
        sf_check,
    )


def test_basket_triples_downward_closure(spark, sf_smoke):
    """Every reported triple's support can't exceed any of its
    sub-pairs' support (downward closure), and confidence/lift are
    the exact integer ratios they claim to be."""
    from collections import Counter
    from itertools import combinations

    from mapreduce_implementation_grpc_spark.operators.basket import (
        market_basket_triples,
    )

    baskets: dict[int, set[int]] = {}
    for r in (
        load_table(spark, sf_smoke, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    ):
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    pairs = Counter()
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            pairs[(a, b)] += 1
    tris = market_basket_triples(spark, sf_smoke).collect()
    assert tris
    for t in tris:
        for sub in [(t.p1, t.p2), (t.p1, t.p3), (t.p2, t.p3)]:
            assert sub in pairs and pairs[sub] >= t.tri_n
        assert abs(t.confidence - t.tri_n / pairs[(t.p1, t.p2)]) < 1e-12


def test_item_item_cf_symmetric_and_bounded(spark, sf_smoke):
    """cosine in (0, 1]; sim(a, b) == sim(b, a) wherever both rows
    survive the top-k cut; rank is dense per part."""
    rows = registry.QUERIES["item_item_cf"](spark, sf_smoke).collect()
    assert rows
    sims = {(r.part, r.neighbor): r.cosine for r in rows}
    by_part = {}
    for r in rows:
        assert 0.0 < r.cosine <= 1.0
        by_part.setdefault(r.part, []).append(r.rank)
    for (a, b), s in sims.items():
        if (b, a) in sims:
            assert sims[(b, a)] == s
    for ranks in by_part.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_clustering_coefficients_hand_computed(spark):
    """Triangles (1,2,3) and (1,2,4): nodes 1/2 sit in both (c=2/3),
    node 3 closes its single pair (c=1), node 4's pendant neighbor 5
    opens two unclosed pairs (c=1/3); degree-1 node 5 is excluded."""
    from mapreduce_implementation_grpc_spark.operators.graph_motifs import (
        clustering_coefficients,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 5)],
        "s1 long, s2 long",
    )
    rows = {r.suppkey: r for r in clustering_coefficients(edges).collect()}
    assert set(rows) == {1, 2, 3, 4}  # node 5 is degree-1
    assert rows[1].degree == 3 and rows[1].n_triangles == 2
    assert rows[1].clustering_coeff == 2 * 2 / (3 * 2)
    assert rows[3].degree == 2 and rows[3].clustering_coeff == 1.0
    assert rows[4].degree == 3 and rows[4].n_triangles == 1
    assert rows[4].clustering_coeff == 2 * 1 / (3 * 2)


def test_clustering_coefficient_triangle_free_is_zero(spark):
    from mapreduce_implementation_grpc_spark.operators.graph_motifs import (
        clustering_coefficients,
    )

    # a path graph: no triangles anywhere, interior nodes score 0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "s1 long, s2 long"
    )
    rows = {r.suppkey: r for r in clustering_coefficients(edges).collect()}
    assert set(rows) == {2, 3}
    assert all(r.n_triangles == 0 and r.clustering_coeff == 0.0 for r in rows.values())


def test_cosupply_clustering_oracle(spark, sf_check):
    from tests.oracle_utils import assert_matches_oracle

    from mapreduce_implementation_grpc_spark import registry

    assert_matches_oracle(
        registry.QUERIES["cosupply_clustering"](spark, sf_check),
        registry.ORACLES["cosupply_clustering"],
        sf_check,
    )
