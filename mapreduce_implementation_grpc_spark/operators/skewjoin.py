"""Skew-resilient shuffle joins via key salting.

A shuffle equi-join hashes both sides on the join key, so a Zipf-hot
key ('the' in any text corpus; SURVEY notes 'flight' alone is ~3% of
the reference's corpus) lands ALL its rows in one task: the join runs
at the speed of its hottest key. Spark's two built-in answers both
have gaps the salted form covers:

- broadcast: only if the dim side fits in executor memory -- a
  corpus-derived vocabulary at 100 TB does not;
- AQE skew-join (spark.sql.adaptive.skewJoin): splits oversized
  SORT-MERGE partitions at runtime, but only per shuffle-size
  thresholds and only for the patterns AQE recognizes.

`salted_join` is the explicit, planner-independent form: fact rows get
a DETERMINISTIC salt in [0, N_SALT) derived from a non-join column
(so one hot key's rows spread over N_SALT partitions), the dim side is
replicated N_SALT times with an explode, and the join runs on
(key, salt). Replication costs N_SALT x |dim| rows shuffled -- cheap
when |dim| << |fact|, which is exactly the regime where the dim is
too big to broadcast but small next to the fact table.

The salt must be DETERMINISTIC (derived from row content, not
F.rand()): Spark may recompute a task after failure, and a
nondeterministic salt would route the same row differently across
attempts, silently dropping or duplicating join matches.

Measured evidence (SCALING.md, "Round-5: skewed-JOIN remedies"):
on a 50%-hot-key fact table the salted join removes the straggler
task; AQE's skew split fixes the same plan only once its size
thresholds trigger.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


N_SALT = 16  # salted_join spreads each hot key over 16 partitions


def salted_join(
    fact: DataFrame, dim: DataFrame, key: str | list[str], salt_from: str | Column
) -> DataFrame:
    """Equi-join `fact` (large, key-skewed) to `dim` (small next to
    fact, too big to broadcast) on `key`, spreading each hot key over
    N_SALT shuffle partitions. Result rows are IDENTICAL to the
    plain join -- the salt only changes partitioning (the registry
    oracle for doc_idf_salted_join is the naive SQL join, so the
    driver's hash match proves it).

    `salt_from`: column whose hash salts the fact side. Pick one that
    VARIES WITHIN a hot key's rows (e.g. the document id under a hot
    word) -- salting by the join key itself would be a no-op.

    The join is pinned to shuffle-hash (hash side = replicated dim):
    at the scale where salting matters the dim exceeds the broadcast
    threshold, and pinning keeps the plan shape stable across
    planner versions; sort-merge would work identically.
    """
    keys = [key] if isinstance(key, str) else list(key)
    salt_src = F.col(salt_from) if isinstance(salt_from, str) else salt_from
    fact_s = fact.withColumn("_salt", F.pmod(F.hash(salt_src), F.lit(N_SALT)))
    dim_s = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)]))
    )
    return fact_s.join(dim_s.hint("shuffle_hash"), keys + ["_salt"], "inner").drop(
        "_salt"
    )


def doc_idf_sum(docs: DataFrame) -> DataFrame:
    """Per-document total inverse document frequency -- the token-
    level join-back that makes join skew concrete: every token row
    joins the vocabulary's idf table on the word, and token frequency
    is Zipfian, so the hot words make the shuffle join stall on one
    task. [doc_id, n_tokens, idf_sum].

    The vocabulary is corpus-derived: at 100 TB it is far beyond the
    broadcast threshold (hundreds of millions of types once tails,
    typos, and code identifiers are in), which is what forces a
    shuffle join; the join-back is always `salted_join`, so a hot
    word's rows spread over 16 tasks at the price of an
    16-fold replicated vocabulary.

    Exactness: idf terms are round-9dp decimals, so the per-doc sum is
    associative (partition-order-independent) and string-routed back
    to double -- the doc_perplexity recipe.
    """
    from .normalize import normalized_col
    from .tokenize import tokens_col

    toks = docs.select(
        "doc_id", F.explode(tokens_col(normalized_col("text"))).alias("word")
    ).filter(F.col("word") != "")
    vocab = (
        toks.distinct().groupBy("word").agg(F.count("*").alias("df"))
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("_n"))
    idf = vocab.crossJoin(F.broadcast(n_docs)).select(
        "word",
        F.round(F.log(F.col("_n") / F.col("df")), 9)
        .cast("decimal(12,9)")
        .alias("idf"),
    )
    joined = salted_join(toks, idf, "word", salt_from="doc_id")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("idf").cast("string").cast("double").alias("idf_sum"),
    )
