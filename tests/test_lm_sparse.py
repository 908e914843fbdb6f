"""Bigram-LM cross-entropy and sparse TF-cosine pairs: crafted
hand-computed semantics + oracle parity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.lm_score import bigram_cross_entropy
from mapreduce_implementation_grpc_spark.operators.sparse_sim import tf_cosine_pairs
from tests.oracle_utils import assert_matches_oracle


# ---------------------------------------------------------------------------
# bigram cross-entropy
# ---------------------------------------------------------------------------

def test_bigram_ce_hand_computed(spark):
    # corpus: d0 = "a b a b", d1 = "a b c", d2 = "x" (no bigrams)
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b a b"),
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text="x"),
        ]
    )
    out = {r.doc_id: r for r in bigram_cross_entropy(docs).collect()}

    # model: unigrams a:3 b:3 c:1 x:1 -> V=4
    # bigrams: (a,b):3  (b,a):1  (b,c):1
    def p(c12, c1):
        return (c12 + 1) / (c1 + 4)

    # d0 bigrams: ab, ba, ab -> terms rounded to 9dp like the engine
    t_ab = round(math.log(p(3, 3)), 9)
    t_ba = round(math.log(p(1, 3)), 9)
    ce0 = round(-(2 * t_ab + t_ba) / 3, 6)
    t_bc = round(math.log(p(1, 3)), 9)
    ce1 = round(-(t_ab + t_bc) / 2, 6)

    assert out[0].n_bigrams == 3 and out[0].cross_entropy == pytest.approx(ce0, abs=2e-6)
    assert out[1].n_bigrams == 2 and out[1].cross_entropy == pytest.approx(ce1, abs=2e-6)
    assert 2 not in out, "docs with < 2 tokens must be excluded"


def test_bigram_ce_predictable_text_scores_lower(spark):
    # a doc of one repeated bigram is more predictable than one of
    # all-unique bigrams under the corpus model
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b " * 20),
            Row(doc_id=1, text=" ".join(f"w{i}" for i in range(40))),
        ]
    )
    out = {r.doc_id: r.cross_entropy for r in bigram_cross_entropy(docs).collect()}
    assert out[0] < out[1]


def test_doc_perplexity_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["doc_perplexity"](spark, sf_check),
        registry.ORACLES["doc_perplexity"],
        sf_check,
    )


# ---------------------------------------------------------------------------
# sparse TF cosine
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def cosine_docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=0, text="apple banana cherry"),
            Row(doc_id=1, text="apple banana cherry"),      # exact dup of 0
            Row(doc_id=2, text="apple banana dates"),       # 2/3 overlap with 0
            Row(doc_id=3, text="elderberry fig grape"),     # disjoint
        ]
    )


def test_tf_cosine_exact_dup_and_partial(cosine_docs):
    pairs = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tf_cosine_pairs(cosine_docs).collect()
    }
    assert pairs[(0, 1)] == pytest.approx(1.0)
    # dot=2, norms=sqrt(3): 2/3
    assert pairs[(0, 2)] == pytest.approx(2 / 3, abs=1e-6)
    assert not any(3 in p for p in pairs), "disjoint doc pairs with nothing"


def test_tf_cosine_max_df_drops_hot_terms(spark):
    # 'the' appears in TF_MAX_DF + 1 docs, so it is excluded from the
    # vector space, and docs sharing ONLY 'the' (cosine 0.5) never pair
    from mapreduce_implementation_grpc_spark.operators.sparse_sim import TF_MAX_DF

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"the w{i}") for i in range(TF_MAX_DF + 1)]
    )
    assert tf_cosine_pairs(docs).count() == 0


def test_doc_tf_cosine_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["doc_tf_cosine"](spark, sf_check),
        registry.ORACLES["doc_tf_cosine"],
        sf_check,
    )
