"""Unit tests for functions.indexing (phrase inverted index, bigram
PMI, per-group top terms) and operators.incremental (batch-vs-corpus
dedup) on small crafted corpora with hand-computed expectations."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.functions.indexing import (
    INDEX_MAX_DF,
    PMI_MIN_COUNT,
    TOP_TERMS_K,
    bigram_pmi,
    inverted_index,
    top_terms_per_group,
)
from mapreduce_implementation_grpc_spark.operators.incremental import incremental_dedup_exact


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_inverted_index_postings_and_bounds(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox", "en"),
            (2, "the quick brown dog", "en"),
            (3, "the quick brown fox jumps", "en"),
            (4, "entirely different words here", "en"),
        ],
    )
    out = inverted_index(docs)
    rows = {r["phrase"]: r for r in out.collect()}
    # "the quick brown" occurs in docs 1,2,3; "quick brown fox" in 1,3.
    assert rows["the quick brown"]["df"] == 3
    assert rows["the quick brown"]["postings"] == "1,2,3"
    assert rows["quick brown fox"]["postings"] == "1,3"
    # Hapax phrases (df=1) are excluded by min_df.
    assert "entirely different words" not in rows
    assert all(r["df"] >= 2 for r in rows.values())


def test_inverted_index_max_df_excludes_boilerplate(spark):
    rows = [(i, "common boiler plate text", "en") for i in range(INDEX_MAX_DF + 1)]
    docs = _docs(spark, rows)
    out = inverted_index(docs)
    # Every phrase appears in INDEX_MAX_DF + 1 docs -> empty result.
    assert out.count() == 0


def test_bigram_pmi_hand_computed(spark):
    # Corpus: "a b" x n and "c d" x1  ->  n+1 docs, 2(n+1) tokens,
    # n+1 bigrams.
    n = PMI_MIN_COUNT
    rows = [(i, "a b", "en") for i in range(n)] + [(n, "c d", "en")]
    docs = _docs(spark, rows)
    out = {r["gram"]: r for r in bigram_pmi(docs).collect()}
    # Only "a b" (cnt=n) survives the min count; c("a")=c("b")=n.
    assert set(out) == {"a b"}
    big, tok = n + 1.0, 2.0 * (n + 1)
    expected = math.log((n * tok * tok) / (big * n * n))
    assert abs(out["a b"]["pmi"] - round(expected, 6)) < 1e-9
    assert out["a b"]["cnt"] == n


def test_bigram_pmi_min_count_filters(spark):
    rows = [(0, " ".join(["x y"] * PMI_MIN_COUNT), "en"), (1, "p q", "en")]
    docs = _docs(spark, rows)
    grams = {r["gram"] for r in bigram_pmi(docs).collect()}
    assert "p q" not in grams  # cnt=1
    assert "y x" not in grams  # cnt=PMI_MIN_COUNT-1
    assert "x y" in grams  # cnt=PMI_MIN_COUNT


def test_top_terms_per_group_ranks_and_ties(spark):
    docs = _docs(
        spark,
        [
            (1, "apple apple banana", "en"),
            (2, "banana cherry", "en"),
            (3, "zeta zeta alpha alpha", "fr"),
            (4, "d e f g h", "en"),
        ],
    )
    out = top_terms_per_group(docs).collect()
    en = {r["rn"]: r for r in out if r["lang"] == "en"}
    fr = {r["rn"]: r for r in out if r["lang"] == "fr"}
    # en: apple=2, banana=2 -> tie broken alphabetically.
    assert en[1]["word"] == "apple" and en[2]["word"] == "banana"
    # fr: alpha=2, zeta=2 -> alpha first.
    assert fr[1]["word"] == "alpha" and fr[2]["word"] == "zeta"
    # en has 8 terms: only the top TOP_TERMS_K are kept
    assert sorted(en) == list(range(1, TOP_TERMS_K + 1)) and len(fr) == 2


def test_incremental_dedup_exact_and_report(spark):
    corpus = _docs(
        spark,
        [(1, "seen before", "en"), (2, "also seen", "en")],
    )
    new = _docs(
        spark,
        [
            (10, "Seen, before!", "en"),  # dup after normalization
            (11, "brand new content", "en"),
            (12, "also seen", "en"),  # exact dup
        ],
    )
    novel = incremental_dedup_exact(new, corpus)
    assert [r["doc_id"] for r in novel.collect()] == [11]


def test_incremental_dedup_partition_invariant(spark):
    corpus = _docs(spark, [(i, f"doc number {i}", "en") for i in range(20)])
    new = _docs(
        spark,
        [(100 + i, f"doc number {i * 2}", "en") for i in range(15)],
    )
    a = sorted(r["doc_id"] for r in incremental_dedup_exact(new, corpus).collect())
    b = sorted(
        r["doc_id"]
        for r in incremental_dedup_exact(new.repartition(7), corpus.repartition(3)).collect()
    )
    assert a == b
    # docs 0..9 doubled -> i*2 in 0..18 even numbers <20 are dups for i<10
    assert a == [100 + i for i in range(10, 15)]
