"""Iterative dedup clustering (metamorphic) + semi/anti join parity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.dedup import dedup_clusters
from tests.oracle_utils import assert_matches_oracle

BASE = "spark shuffles data between stages when a wide dependency appears in the final plan"


@pytest.fixture(scope="module")
def chained_docs(spark):
    # A~B (1 word changed), B~C (1 more word changed); A and C differ
    # by 2 words; D is unrelated. Transitive closure must merge A,B,C.
    a = BASE
    b = BASE.replace("appears", "shows")
    c = b.replace("wide", "broad")
    d = "entirely unrelated cooking text about pasta garlic butter and fresh basil leaves tonight"
    return spark.createDataFrame(
        [Row(doc_id=10, text=a), Row(doc_id=20, text=b), Row(doc_id=30, text=c), Row(doc_id=40, text=d)]
    )


def test_chained_near_dups_merge_into_one_cluster(chained_docs):
    clusters = {r.doc_id: r.cluster for r in dedup_clusters(chained_docs).collect()}
    # D never near-dups anything, so it has no edges and no cluster row
    assert 40 not in clusters
    assert clusters[10] == clusters[20] == clusters[30] == 10  # min id wins


def test_deep_chain_converges_past_old_cap(spark):
    """A path graph of diameter 12 (> the old max_iter=6 cap) must
    fully merge: pointer jumping needs ~log2(12) rounds, and the
    convergence check must not trip the non-convergence guard."""
    from mapreduce_implementation_grpc_spark.operators.dedup import label_propagation

    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(12)]
    )
    labels = {r.doc_id: r.cluster for r in label_propagation(pairs).collect()}
    assert set(labels) == set(range(13))
    assert set(labels.values()) == {0}


def test_non_convergence_raises_loudly(spark):
    """Exhausting the iteration budget while labels still move must
    raise, not silently return an under-merged clustering."""
    from mapreduce_implementation_grpc_spark.operators.dedup import label_propagation

    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(30)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        label_propagation(pairs, max_iter=1)


def test_cluster_ids_are_member_min(spark, sf_check):
    rows = registry.QUERIES["dedup_clusters"](spark, sf_check).collect()
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r.doc_id)
    for cid, members in by_cluster.items():
        assert cid == min(members)


@pytest.mark.parametrize("name", ["customers_without_orders", "brands_shipped"])
def test_join_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_bloom_prune_no_false_negatives(spark):
    """The md5 bitmap and probe keep the Bloom guarantee: zero false
    negatives (every member survives the prune, so the exact join over
    survivors is complete) while actually pruning non-members."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.bloom import (
        bloom_bitmap,
        bloom_prune,
    )

    keys = spark.range(500).select(
        F.concat(F.lit("k"), (F.col("id") * 7).cast("string")).alias("skey")
    )
    fact = spark.range(5000).select(
        F.col("id").alias("row_id"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("skey"),
    )
    expected = fact.join(keys, "skey").count()
    assert expected > 0
    bm = bloom_bitmap(keys, "skey")
    pruned = bloom_prune(fact, F.col("skey"), bm)
    # no false negatives: the exact join over survivors is complete
    assert pruned.join(keys, "skey").count() == expected
    # and it actually pruned (not a pass-through)
    assert pruned.count() < fact.count()
