"""Text-analysis operators: unit properties + oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.functions.text_stats import (
    bpe_like_token_count_col,
    quality_score_col,
    rolling_hash_col,
)
from tests.oracle_utils import assert_matches_oracle


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="The quick brown fox!"),
            Row(doc_id=2, text="a a a a a"),
            Row(doc_id=3, text="!!!"),
            Row(doc_id=4, text=""),
        ]
    )


def test_quality_bounds(docs):
    rows = docs.select(quality_score_col("text").alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_bpe_count_vs_ws(docs):
    # each token contributes >= 1 BPE unit, so bpe >= ws count
    rows = docs.select(
        F.size(
            F.filter(F.split(F.trim(F.lower(F.regexp_replace("text", r"[^a-zA-Z0-9\s]", ""))), r"\s+"),
                     lambda t: t != F.lit(""))
        ).alias("ws"),
        bpe_like_token_count_col("text").alias("bpe"),
    ).collect()
    for r in rows:
        assert r.bpe >= max(r.ws, 0)


def test_rolling_hash_order_sensitive(spark):
    a = spark.createDataFrame([Row(text="alpha beta gamma")])
    b = spark.createDataFrame([Row(text="gamma beta alpha")])
    ha = a.select(rolling_hash_col("text").alias("h")).collect()[0].h
    hb = b.select(rolling_hash_col("text").alias("h")).collect()[0].h
    assert ha != hb  # order matters, unlike a bag-of-words hash
    ha2 = a.select(rolling_hash_col("text").alias("h")).collect()[0].h
    assert ha == ha2  # deterministic


@pytest.mark.parametrize(
    "name", ["text_stats", "quality_score", "lang_id", "token_counts", "doc_fingerprint"]
)
def test_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_nb_classifier_learns_separable_languages(spark):
    """On a corpus whose languages use disjoint vocabularies, NB must
    classify every training doc correctly."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.operators.nb_classify import (
        nb_lang_scores,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text="cat dog house tree cat dog"),
            Row(doc_id=2, lang="en", text="dog house tree house cat"),
            Row(doc_id=3, lang="fr", text="chien maison arbre chat chien"),
            Row(doc_id=4, lang="fr", text="maison arbre chat maison"),
            Row(doc_id=5, lang="de", text="hund haus baum katze hund"),
            Row(doc_id=6, lang="de", text="haus baum katze baum"),
        ]
    )
    got = {r.doc_id: r for r in nb_lang_scores(docs).collect()}
    assert len(got) == 6
    assert all(r.pred_lang == r.lang for r in got.values())
    assert all(r.nb_score < 0 for r in got.values())


def test_nb_oracle_parity(spark, sf_check):
    from mapreduce_implementation_grpc_spark import registry
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["nb_lang_scores"](spark, sf_check),
        registry.ORACLES["nb_lang_scores"],
        sf_check,
    )


def test_bm25_ranks_matching_docs_first(spark, sf_smoke):
    """BM25 sanity: every doc in the top-10 must contain at least one
    query term, scores are positive there, and a doc with zero query
    terms scores exactly 0 (idf * 0 terms)."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.registry.curation import BM25_QUERY
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    top = QUERIES["bm25_topk"](spark, sf_smoke).limit(10).collect()
    assert top and all(r["bm25"] > 0 for r in top)
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_smoke, "documents").collect()
    }
    for r in top:
        assert any(t in docs[r["doc_id"]].split() for t in BM25_QUERY)


def test_rake_crafted_scores(spark, tmp_path):
    """One hand-computed corpus: 'data table the data table scan a scan'
    -> phrases [data table], [data table scan], [scan];
    freq: data 2, table 2, scan 2;
    deg:  data 2+3=5, table 2+3=5, scan 3+1=4;
    wscore: data 2.5, table 2.5, scan 2.0;
    scores: 'data table' 5.0, 'data table scan' 7.0, 'scan' 2.0."""
    import pandas as pd

    from mapreduce_implementation_grpc_spark.registry import QUERIES

    pd.DataFrame(
        [(1, "data table the data table scan a scan", "en", "web")],
        columns=["doc_id", "text", "lang", "source"],
    ).to_parquet(tmp_path / "documents.parquet")
    got = {
        r.phrase: (r.n, r.score)
        for r in QUERIES["rake_keyphrases"](spark, str(tmp_path)).collect()
    }
    assert got == {
        "data table scan": (1, 7.0),
        "data table": (1, 5.0),
        "scan": (1, 2.0),
    }
