"""Faithful-surface tests: normalize (O2), tokenize (O5), word count
(O6+O9), top-N (O11), task stats (O4) -- unit properties on tiny
in-memory frames plus oracle parity at sf0.01 (SURVEY.md section 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators import (
    normalized_col,
    tokenize,
    top_k,
    word_count,
    word_count_rdd,
)
from mapreduce_implementation_grpc_spark import registry
from tests.oracle_utils import assert_matches_oracle

CORPUS = [
    "Hello, World! hello",
    "  multiple   spaces\tand\ttabs  ",
    "",
    "!!! ???",  # punctuation-only -> normalizes to empty
    "MiXeD CaSe mixed case 42 42",
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([Row(line=s) for s in CORPUS])

def test_normalize_strips_and_lowercases(corpus_df):
    norm = corpus_df.select("line", normalized_col("line").alias("norm"))
    rows = {r.line: r.norm for r in norm.collect()}
    assert rows["Hello, World! hello"] == "hello world hello"
    assert rows["!!! ???"] == ""  # only punctuation+space, trimmed away
    assert rows["MiXeD CaSe mixed case 42 42"] == "mixed case mixed case 42 42"


def test_tokenize_no_empty_tokens(spark, corpus_df):
    words = tokenize(corpus_df.select(normalized_col("line").alias("norm")))
    toks = [r.word for r in words.collect()]
    assert "" not in toks
    assert toks.count("hello") == 2
    assert toks.count("and") == 1


def test_word_count_small(corpus_df):
    wc = {r.word: r.cnt for r in word_count(corpus_df).collect()}
    assert wc["hello"] == 2
    assert wc["world"] == 1
    assert wc["mixed"] == 2
    assert wc["42"] == 2
    assert "" not in wc


def test_word_count_invariants(spark, corpus_df):
    """sum(cnt) == total tokens; counts invariant to repartitioning
    (FIXTURES.md F2 invariants)."""
    wc = word_count(corpus_df)
    total = wc.agg(F.sum("cnt")).collect()[0][0]
    toks = tokenize(corpus_df.select(normalized_col("line").alias("norm"))).count()
    assert total == toks
    wc8 = word_count(corpus_df.repartition(8))
    assert sorted(map(tuple, wc.collect())) == sorted(map(tuple, wc8.collect()))


def test_rdd_variant_matches_dataframe(corpus_df):
    df_counts = sorted(map(tuple, word_count(corpus_df).collect()))
    rdd_counts = sorted(map(tuple, word_count_rdd(corpus_df).collect()))
    assert df_counts == rdd_counts


def test_top_k_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("b", 2), ("a", 2), ("c", 3), ("d", 1)], ["word", "cnt"]
    )
    got = [(r.word, r.cnt) for r in top_k(df, 3).collect()]
    assert got == [("c", 3), ("a", 2), ("b", 2)]


@pytest.mark.parametrize(
    "name",
    ["wordcount", "wordcount_topn", "wordcount_rdd", "corpus_stats", "map_task_stats"],
)
def test_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )
