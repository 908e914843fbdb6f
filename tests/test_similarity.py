"""Similarity search: metamorphic properties + oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.similarity import (
    DIM,
    TOPK,
    embedding_dup_pairs,
    knn_brute_force,
    with_lsh_bucket,
)
from tests.oracle_utils import assert_matches_oracle


@pytest.fixture(scope="module")
def emb(spark):
    pad = [0.0] * (DIM - 2)  # the LSH planes are DIM wide
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0] + pad),
        Row(vec_id=1, embedding=[1.0, 0.0] + pad),   # exact dup of 0
        Row(vec_id=2, embedding=[0.99, 0.1] + pad),  # near dup of 0
        Row(vec_id=3, embedding=[0.0, 1.0] + pad),   # orthogonal
        Row(vec_id=4, embedding=[-1.0, 0.0] + pad),  # opposite
    ]
    df = spark.createDataFrame(rows)
    return df.withColumn("embedding", F.col("embedding").cast("array<float>"))


def test_knn_exact_dup_is_top(emb):
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = knn_brute_force(emb, q, k=4).collect()
    assert [r.neighbor_id for r in got] == [1, 2, 3, 4]
    assert got[0].cosine == 1.0       # duplicate => cosine exactly 1
    assert got[-1].cosine == -1.0     # opposite => -1


def test_knn_excludes_self(emb):
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    got = knn_brute_force(emb, q, k=4)
    assert got.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_dup_pairs_metamorphic(emb):
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in embedding_dup_pairs(emb).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs and (0, 4) not in pairs


def test_lsh_bucket_identical_vectors_collide(emb):
    b = {r.vec_id: r.bucket for r in with_lsh_bucket(emb).collect()}
    assert b[0] == b[1]  # identical vectors always share a bucket
    assert b[0] != b[4]  # opposite vector flips every sign bit


def test_lsh_pairs_subset_of_bruteforce(emb):
    brute = {(r.vec_a, r.vec_b) for r in embedding_dup_pairs(emb).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in embedding_dup_pairs(emb, use_lsh=True).collect()}
    assert lsh <= brute  # LSH may miss pairs but never invents them


@pytest.mark.parametrize("name", ["knn_cosine", "ann_lsh", "embedding_dup_pairs"])
def test_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_ann_ivf_structure(spark, sf_check):
    from mapreduce_implementation_grpc_spark import registry

    ivf = registry.QUERIES["ann_ivf"](spark, sf_check).collect()
    assert len(ivf) > 0
    by_q = {}
    for r in ivf:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) <= 5
        assert len({r.cell for r in rows}) <= 2  # n_probe bound
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != qid for r in rows)


def test_ann_ivf_full_probe_equals_bruteforce(spark):
    """With n_probe = #cells, IVF must return exactly the brute-force
    top-k (same data path, no pruning)."""
    from pyspark.sql import Row
    from mapreduce_implementation_grpc_spark.operators.similarity import ann_ivf_topk

    rows = [
        Row(vec_id=0, label=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, label=0, embedding=[0.9, 0.1, 0.0, 0.0]),
        Row(vec_id=2, label=1, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, label=1, embedding=[0.1, 0.9, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    brute = knn_brute_force(emb, q, k=TOPK).collect()
    ivf = ann_ivf_topk(emb, q, n_probe=2).collect()
    assert [(r.neighbor_id, r.cosine) for r in ivf] == [
        (r.neighbor_id, r.cosine) for r in brute
    ]


def test_semantic_dedup_marks_planted_duplicates(spark):
    """Two identical vectors land in the same k-means cell with
    cosine 1.0: the larger id must be keep=false, the smaller
    keep=true; a far-away vector stays keep=true."""
    import random

    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = random.Random(13)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    rows = [(0, base), (1, list(base))] + [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(2, 30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r
        for r in semantic_dedup(emb).collect()
    }
    assert len(got) == 30
    assert got[0].keep is True
    assert got[1].keep is False
    assert got[0].cell == got[1].cell


def test_semantic_dedup_oracle_parity(spark, sf_check):
    from mapreduce_implementation_grpc_spark import registry
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["semantic_dedup"](spark, sf_check),
        registry.ORACLES["semantic_dedup"],
        sf_check,
    )


def test_ann_recall_sweep_monotone_in_probes(spark, sf_smoke):
    """More probed cells can only ADD candidates, so per-probe mean
    recall must be non-decreasing across the sweep."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = (
        QUERIES["ann_recall_sweep"](spark, sf_smoke)
        .groupBy("n_probe")
        .agg(F.avg("recall").alias("mean_recall"))
        .orderBy("n_probe")
        .collect()
    )
    means = [r["mean_recall"] for r in rows]
    assert len(means) == 3
    assert all(a <= b + 1e-12 for a, b in zip(means, means[1:]))


def test_ann_rank_quality_self_eval_is_perfect(spark, sf_smoke):
    """Feeding the exact ranking into the graded eval must yield
    recall = mrr = ndcg = 1.0 for every query (nDCG's DCG == IDCG
    term-for-term, so any rounding applies identically)."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.registry.similarity import _rank_quality_df, q_knn_cosine

    exact = q_knn_cosine(spark, sf_smoke).select(
        "query_id", "neighbor_id", F.col("rank").alias("ann_rank")
    )
    rows = _rank_quality_df(spark, sf_smoke, exact).collect()
    assert rows
    assert all(r.recall == 1.0 and r.mrr == 1.0 and r.ndcg == 1.0 for r in rows)
    # and the real IVF eval stays within bounds, hits consistent
    for r in QUERIES["ann_rank_quality"](spark, sf_smoke).collect():
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall - r.n_hits / 5.0) < 1e-9
        assert 0.0 <= r.mrr <= 1.0
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9


def test_ann_rank_quality_oracle_parity(spark, sf_check):
    from mapreduce_implementation_grpc_spark import registry
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["ann_rank_quality"](spark, sf_check),
        registry.ORACLES["ann_rank_quality"],
        sf_check,
    )


def test_mmr_prefers_diversity_over_redundancy(spark):
    """Crafted: candidates b (dup of a, sim_q 0.98 -> step-2 score
    0.7*0.98 - 0.3*1.0 = 0.386), c (orthogonal, sim_q 0.6 -> 0.42).
    Pure relevance ranks a, b; MMR must pick a then c, because b's
    redundancy penalty (cos(a,b)=1) sinks it below c."""
    from mapreduce_implementation_grpc_spark.operators.mmr import mmr_select

    rows = [
        (7, 1, 0.99, [1.0, 0.0, 0.0]),
        (7, 2, 0.98, [1.0, 0.0, 0.0]),   # exact dup of doc 1
        (7, 3, 0.60, [0.0, 1.0, 0.0]),   # orthogonal
    ]
    cand = spark.createDataFrame(
        rows, "query_id long, doc_id long, sim_q double, embedding array<double>"
    )
    got = [
        (r.pick_rank, r.doc_id)
        for r in mmr_select(cand)
        .orderBy("pick_rank")
        .collect()
    ]
    assert got == [(1, 1), (2, 3), (3, 2)]


def test_mmr_rerank_invariants_and_first_pick(spark, sf_smoke):
    """Per query: 8 distinct picks, pick 1 == the relevance argmax."""
    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = QUERIES["mmr_rerank"](spark, sf_smoke).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    knn = {
        r.query_id: r.neighbor_id
        for r in QUERIES["knn_cosine"](spark, sf_smoke).collect()
        if r.rank == 1
    }
    assert set(by_q) == set(knn)
    for qid, picks in by_q.items():
        assert len(picks) == 8
        assert len({p.doc_id for p in picks}) == 8
        first = min(picks, key=lambda p: p.pick_rank)
        assert first.doc_id == knn[qid]


def test_mmr_rerank_oracle_parity(spark, sf_check):
    from mapreduce_implementation_grpc_spark import registry
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["mmr_rerank"](spark, sf_check),
        registry.ORACLES["mmr_rerank"],
        sf_check,
    )
