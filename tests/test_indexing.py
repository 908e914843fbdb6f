"""Unit tests for functions.indexing (phrase inverted index, bigram
PMI, per-group top terms) and operators.incremental (batch-vs-corpus
dedup) on small crafted corpora with hand-computed expectations."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.functions.indexing import (
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
    out = inverted_index(docs, max_df=10)
    rows = {r["phrase"]: r for r in out.collect()}
    # "the quick brown" occurs in docs 1,2,3; "quick brown fox" in 1,3.
    assert rows["the quick brown"]["df"] == 3
    assert rows["the quick brown"]["postings"] == "1,2,3"
    assert rows["quick brown fox"]["postings"] == "1,3"
    # Hapax phrases (df=1) are excluded by min_df.
    assert "entirely different words" not in rows
    assert all(r["df"] >= 2 for r in rows.values())


def test_inverted_index_max_df_excludes_boilerplate(spark):
    rows = [(i, "common boiler plate text", "en") for i in range(1, 6)]
    rows.append((99, "common boiler plate text", "en"))
    docs = _docs(spark, rows)
    out = inverted_index(docs, max_df=5)
    # Every phrase appears in 6 docs > max_df -> empty result.
    assert out.count() == 0


def test_bigram_pmi_hand_computed(spark):
    # Corpus: "a b" x4 and "c d" x1  ->  5 docs, 10 tokens, 5 bigrams.
    rows = [(i, "a b", "en") for i in range(4)] + [(4, "c d", "en")]
    docs = _docs(spark, rows)
    out = {r["gram"]: r for r in bigram_pmi(docs, min_count=4).collect()}
    # Only "a b" (cnt=4) survives min_count; c("a")=c("b")=4, N=10, Nb=5.
    assert set(out) == {"a b"}
    expected = math.log((4.0 * 10.0 * 10.0) / (5.0 * 4.0 * 4.0))
    assert abs(out["a b"]["pmi"] - round(expected, 6)) < 1e-9
    assert out["a b"]["cnt"] == 4


def test_bigram_pmi_min_count_filters(spark):
    rows = [(0, "x y x y x y", "en"), (1, "p q", "en")]
    docs = _docs(spark, rows)
    grams = {r["gram"] for r in bigram_pmi(docs, min_count=2).collect()}
    assert "p q" not in grams  # cnt=1
    assert "x y" in grams  # cnt=3


def test_top_terms_per_group_ranks_and_ties(spark):
    docs = _docs(
        spark,
        [
            (1, "apple apple banana", "en"),
            (2, "banana cherry", "en"),
            (3, "zeta zeta alpha alpha", "fr"),
        ],
    )
    out = top_terms_per_group(docs, k=2).collect()
    en = {r["rn"]: r for r in out if r["lang"] == "en"}
    fr = {r["rn"]: r for r in out if r["lang"] == "fr"}
    # en: apple=2, banana=2 -> tie broken alphabetically.
    assert en[1]["word"] == "apple" and en[2]["word"] == "banana"
    # fr: alpha=2, zeta=2 -> alpha first.
    assert fr[1]["word"] == "alpha" and fr[2]["word"] == "zeta"
    assert all(r["rn"] <= 2 for r in out)


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
