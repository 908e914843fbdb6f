"""TF-IDF over the documents corpus, hand-rolled as DataFrame ops
(extension surface: text analysis).

tf(d,t)  = occurrences of t in d
idf(t)   = ln((N+1)/(df(t)+1)) + 1     (smoothed; sklearn-style)
score    = tf * idf, rounded to 6

Shapes for scale: one explode -> two aggregations; df(t) is a
groupBy over distinct (doc,term) pairs; the idf table (one row per
distinct term -- tiny) is broadcast back onto the term counts. N is
computed as a scalar subquery-style crossJoin of a 1-row aggregate,
never collected to the driver.

The whole pipeline is JVM expressions; ln() is evaluated on the same
double inputs in both engines (verified against the DuckDB oracle at
6-decimal rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.normalize import normalized_col
from ..operators.tokenize import tokenize


def tfidf_scores(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, word, tf, score] for every (doc, term).

    df(t) is a count()-over-Window(word) on the tf result rather than
    a groupBy+self-join: a join-based df branch re-scans and
    re-tokenizes the whole corpus (column pruning rewrites the count
    to a distinct, so the shuffle is not reusable) -- the window form
    is one scan and one fewer shuffle. The count-only window needs no
    ordering, so even a hot word's partition is a single streaming
    pass."""
    words = tokenize(docs.select("doc_id", normalized_col("text").alias("norm")), keep=["doc_id"])
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df_t = F.count("*").over(Window.partitionBy("word"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (df_t + F.lit(1.0))) + F.lit(1.0)
    return tf.crossJoin(F.broadcast(n_docs)).select(
        "doc_id", "word", "tf", F.round(F.col("tf") * idf, 6).alias("score")
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-N terms per doc by tf-idf (score desc, word asc)."""
    scored = tfidf_scores(docs)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tf", "score", F.col("rn").cast("long").alias("rn"))
    )
