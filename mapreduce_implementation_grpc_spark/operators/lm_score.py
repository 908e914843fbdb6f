"""Bigram language-model scoring: per-document cross-entropy under
an add-1-smoothed bigram model trained on the corpus itself -- the
classic perplexity-based quality filter of LLM data pipelines (score
each document by how predictable its text is under a cheap n-gram
LM; outliers in either direction are gibberish or boilerplate).

Model (all counts corpus-global):

    p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)
    cross_entropy(d) = -(1/Nb_d) * sum over d's bigrams ln p(w2|w1)

with V = distinct unigram count and Nb_d = the doc's bigram count.
Documents with fewer than 2 tokens have no bigrams and are excluded.

Plan shape: the model tables are aggregations of the token stream
(vocab-sized, far smaller than the corpus); scoring joins the
per-doc bigram histogram to them keyed on the bigram/unigram -- the
joins are 1:1 on pre-aggregated keys, so a stopword bigram is ONE
model row, not a hot reducer; the final aggregation keys on doc_id.
V rides in as a broadcast scalar. No driver collection anywhere.

Cross-engine determinism: each ln term is rounded to 9 decimals and
accumulated as DECIMAL (exact, order-independent), so the DuckDB
oracle hash-matches despite shuffle-order float summation being
nondeterministic in general.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import normalized_col
from .tokenize import tokens_col

TEXT_COL = "text"


def _doc_bigrams(docs: DataFrame, text_col: str) -> DataFrame:
    """DataFrame[doc_id, w1, w2, m]: per-doc adjacent-bigram
    multiplicities (m = times the bigram occurs in the doc)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array(tokens_col(normalized_col(text_col)))).alias("toks"),
    )
    n_tok = F.size("toks")
    idx = F.when(n_tok >= 2, F.sequence(F.lit(1), n_tok - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.struct(
                F.element_at("toks", i).alias("w1"),
                F.element_at("toks", i + 1).alias("w2"),
            ))
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    return grams.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("m"))


def bigram_cross_entropy(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, n_bigrams, cross_entropy(6dp)] for every doc
    with at least one bigram."""
    toks = docs.select("doc_id", F.explode(tokens_col(normalized_col(TEXT_COL))).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c1"))
    vocab = uni.agg(F.count("*").cast("double").alias("v"))
    # the per-doc bigram subplan feeds two consumers (the global model
    # and the scoring join) and is deliberately NOT checkpointed: it
    # is corpus-sized (unlike the small minhash signature table, where
    # lazy localCheckpoint wins), so materializing it costs more than
    # recomputing -- measured slower at sf0.1 (2.8 s vs 2.0 s)
    docbg = _doc_bigrams(docs, TEXT_COL)
    big = docbg.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))

    # `vocab` here is a 1-ROW count scalar (not the vocabulary rows),
    # so this broadcast is size-bounded at any corpus scale; the
    # vocab-sized `uni`/`big` model tables join WITHOUT a broadcast
    # hint -- AQE broadcasts them when small and falls back to a
    # shuffle join when a 100 TB vocabulary doesn't fit an executor.
    scored = (
        docbg
        .join(big, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), "c1"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    term = F.log(
        (F.col("c12").cast("double") + F.lit(1.0))
        / (F.col("c1").cast("double") + F.col("v"))
    )
    # narrow operand precisions so the product keeps scale 9: a bare
    # long * decimal(20,9) needs precision 41 > 38 and Spark silently
    # REDUCES the scale to 6, truncating every term
    contrib = F.col("m").cast("decimal(10,0)") * F.round(term, 9).cast("decimal(12,9)")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.sum(contrib).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -(F.col("s").cast("string").cast("double")) / F.col("n_bigrams"),
                6,
            ).alias("cross_entropy"),
        )
    )
