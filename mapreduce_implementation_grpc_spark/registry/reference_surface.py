"""Registry queries for the reference's own surface: the word-count
variants, the SQL front end and corpus/map-task statistics.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    corpus_from_documents,
    load_table,
    normalized_col,
    read_text_corpus,
    register_views,
    task_id_col,
    tfidf_top_terms,
    tokenize,
    top_k,
    word_count,
    word_count_rdd,
    word_count_salted,
    word_count_sql,
)



# ---------------------------------------------------------------------------
# faithful reference surface (SURVEY.md section 2a)
# ---------------------------------------------------------------------------

def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1..O9: the reference's entire job as one declarative plan."""
    return word_count(corpus_from_documents(spark, sf_dir))


WORDCOUNT_TOP_N = 100


def q_wordcount_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11: top-N report with deterministic tie-break."""
    return top_k(q_wordcount(spark, sf_dir), WORDCOUNT_TOP_N)


# checked-in newline-delimited fixture (airline-tweet flavored, like
# the reference's corpus); absolute path so the oracle SQL can read
# the identical bytes (three dirnames: this file lives one level
# deeper since the registry/ package split)
_CORPUS_TXT = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__)))),
    "tests", "fixtures", "corpus.txt",
)


def q_wordcount_textfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 exercised end-to-end from a real text FILE, the way the
    reference reads /Assignment5/input.txt (greeter_client.cc:298-314):
    spark.read.text -> normalize -> tokenize -> count. The file-scan
    path (byte-range splits per executor, never a master-side string)
    rather than the parquet documents table the other wordcounts use.
    sf_dir is ignored: the source is the checked-in fixture corpus."""
    return word_count(read_text_corpus(spark, _CORPUS_TXT))


def q_wordcount_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE 'RDD API' surface: flatMap -> map -> reduceByKey."""
    return word_count_rdd(corpus_from_documents(spark, sf_dir))


def q_wordcount_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same plan through the SQL front end (Catalyst output identical
    to the DataFrame form -- the engine is API-agnostic)."""
    return word_count_sql(spark, corpus_from_documents(spark, sf_dir))


def q_pricing_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary via spark.sql over registered catalog views --
    a user can drive this engine with nothing but SQL strings."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_qty,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_base_price,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS STRING) AS DOUBLE) AS sum_disc_price,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                        * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS STRING) AS DOUBLE) AS sum_charge,
          CAST((2 * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) * 10000 + count(*))
               div (2 * count(*)) AS DOUBLE) / 1000000 AS avg_qty,
          CAST((2 * CAST(sum(CAST(l_discount AS DECIMAL(18,4))) * 10000 AS BIGINT) * 100 + count(*))
               div (2 * count(*)) AS DOUBLE) / 1000000 AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)


def q_wordcount_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew path: two-stage salted aggregation, identical result."""
    return word_count_salted(corpus_from_documents(spark, sf_dir))


def q_doc_idf_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient shuffle JOIN (the join-side complement of
    wordcount_salted's salted aggregation): every token row joins the
    corpus-derived idf vocabulary on the word -- a Zipf-hot key per
    hot word -- through operators/skewjoin.salted_join, which spreads
    each hot word over 16 salt partitions and replicates the vocab
    side 16x. The oracle is the NAIVE SQL join, so the driver's hash
    match proves salting changes partitioning only, never results.
    Measured straggler evidence: SCALING.md, "Round-5: skewed-JOIN
    remedies"."""
    from ..operators.skewjoin import doc_idf_sum

    return doc_idf_sum(load_table(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 line count generalized: corpus-level totals in one pass."""
    docs = corpus_from_documents(spark, sf_dir)
    words = tokenize(docs.select(normalized_col("line").alias("norm")))
    return words.agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("n_distinct_words"),
    ).crossJoin(docs.agg(F.count("*").alias("n_lines")))


def q_map_task_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 observable surface: per-task (word,count) rollup mirroring
    the reference's MapOutputTask<N>.txt intermediates
    (greeter_server.cc:81-86), with deterministic doc_id % NUM_TASKS
    task assignment standing in for the contiguous split."""
    docs = corpus_from_documents(spark, sf_dir)
    words = tokenize(
        docs.select(task_id_col(F.col("doc_id")).alias("task_id"),
                    normalized_col("line").alias("norm")),
        keep=["task_id"],
    )
    return words.groupBy("task_id").agg(
        F.countDistinct("word").alias("n_distinct_words"),
        F.count("*").alias("n_tokens"),
    )
