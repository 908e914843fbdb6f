"""Sparse (lexical) similarity join: pairwise document cosine over
token-count vectors via an inverted-index self-join -- the
term-partitioned complement of the dense embedding paths
(operators/similarity.py) and the shingle-set paths
(operators/dedup.py ngram Jaccard / MinHash).

Vector space: terms with document frequency <= max_df (the rare-term
subspace). The cutoff is the scale guarantee: a term's posting list
is bounded by max_df, so the self-join fan-out per term is at most
C(max_df, 2) pairs -- stopwords and boilerplate never create a hot
reducer. Norms are computed over the SAME kept-term subspace, so
cosine stays a true cosine (<= 1) within it. This is the standard
production shape for sparse all-pairs similarity (prune the dense
dimensions, join the sparse ones).

Everything is exact integer arithmetic until the final division:
dot products and squared norms are sums of tf products (BIGINT,
order-independent), so the DuckDB oracle hash-matches with no
float-summation caveats. An idf-weighted variant is the same plan
with a weight column swapped in.

Cost at 100 TB: tf build is the word-count aggregation; the df
filter and the pair join key their shuffles on the term; the pair
aggregation keys on (doc_a, doc_b) -- all uniform after the max_df
bound. No cross join, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import normalized_col
from .tokenize import tokenize


def _term_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """DataFrame[doc_id, word, tf] -- the per-doc term histogram."""
    words = tokenize(
        docs.select("doc_id", normalized_col(text_col).alias("norm")),
        keep=["doc_id"],
    )
    return words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))


TF_MAX_DF = 100  # tf_cosine_pairs drops terms in more docs than this
TF_MIN_COSINE = 0.3


def tf_cosine_pairs(docs: DataFrame) -> DataFrame:
    """All document pairs (doc_a < doc_b) with token-count cosine >=
    TF_MIN_COSINE, computed over terms with df <= TF_MAX_DF.

    Returns DataFrame[doc_a, doc_b, n_shared_terms, cosine(6dp)].
    """
    tf = _term_counts(docs, "text")
    df_t = tf.groupBy("word").agg(F.count("*").alias("df"))
    kept = tf.join(df_t.filter(F.col("df") <= TF_MAX_DF), "word").select(
        "doc_id", "word", "tf"
    )
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )

    a = kept.select(
        "word", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a")
    )
    b = kept.select(
        "word", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "word")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"),
        )
    )
    cos = (
        dots.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2_a")),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double"))),
                6,
            ).alias("cosine"),
        )
    )
    return cos.filter(F.col("cosine") >= F.lit(TF_MIN_COSINE))
