"""O6+O9 -- word count: partial + final hash aggregation.

Reference: map-side `counts[word]++` into an unordered_map per task
(greeter_server.cc:78), text-file shuffle via shared local disk
(O7/O8, greeter_server.cc:81-104), then a single-node merge loop
`word_counts[word] += count` (greeter_server.cc:105-110).

Spark form: one `groupBy('word').count()`. Catalyst plans exactly
the reference's two-phase shape -- HashAggregate(partial) ->
Exchange(hashpartitioning(word)) -> HashAggregate(final) -- but the
partial agg is automatic, the shuffle is binary/compressed/fault-
tolerant, and the final agg is distributed over all executors
instead of one slave (the reference's O15 single-reducer). The
reference's double-count bug (map never cleared between tasks,
greeter_server.cc:41) cannot exist here: per-task hash maps are
scoped by the engine.

`word_count_rdd` keeps the classic RDD lineage
(flatMap -> map -> reduceByKey) for the BASELINE "RDD API" surface;
reduceByKey's combiner is the same map-side partial agg. DataFrame
is primary (codegen + Tungsten).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .normalize import NORMALIZE_PATTERN, normalized_col
from .tokenize import TOKEN_SPLIT_PATTERN, tokenize

WORD_COUNT_SCHEMA = StructType(
    [StructField("word", StringType(), False), StructField("cnt", LongType(), False)]
)


def word_count(corpus: DataFrame, text_col: str = "line") -> DataFrame:
    """corpus[text_col] -> DataFrame[word, cnt]; the reference's whole
    pipeline O1..O9 as one declarative plan."""
    words = tokenize(corpus.select(normalized_col(text_col).alias("norm")), "norm")
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


def _sql_string(s: str) -> str:
    """`s` as a Spark SQL string literal (backslash escapes are on by
    default, so a regex's backslashes are doubled)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def word_count_sql(spark: SparkSession, corpus: DataFrame, text_col: str = "line") -> DataFrame:
    """Same plan via the SQL front end (identical Catalyst output)."""
    corpus.createOrReplaceTempView("__corpus")
    return spark.sql(
        f"""
        SELECT word, count(*) AS cnt
        FROM (
          SELECT explode(filter(split(trim(lower(regexp_replace({text_col},
                   {_sql_string(NORMALIZE_PATTERN)}, ''))),
                   {_sql_string(TOKEN_SPLIT_PATTERN)}), t -> t != '')) AS word
          FROM __corpus
        )
        GROUP BY word
        """
    )


def word_count_salted(corpus: DataFrame, text_col: str = "line", salt_buckets: int = 16) -> DataFrame:
    """Skew-resilient two-stage aggregation: groupBy(word, salt) then
    groupBy(word).

    The reference corpus has a real heavy hitter ('flight' ~3% of all
    tokens, SURVEY.md F1) and at 100 TB a hot key can overwhelm the
    single reducer that owns it. Salting splits each key across
    `salt_buckets` reducers in stage 1; stage 2 merges the per-salt
    partials (cheap: salt_buckets rows per distinct word). With AQE's
    skew handling this is usually unnecessary for joins, but
    aggregation skew on a hot GROUP BY key is still the user's problem
    -- this operator is the pattern. Result identical to word_count.
    """
    words = tokenize(corpus.select(normalized_col(text_col).alias("norm")), "norm")
    salted = words.withColumn(
        "salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy("word", "salt").agg(F.count("*").alias("c"))
    return partial.groupBy("word").agg(F.sum("c").alias("cnt"))


def word_count_rdd(corpus: DataFrame, text_col: str = "line") -> DataFrame:
    """RDD lineage: textFile-like -> flatMap(split) -> map((w,1)) ->
    reduceByKey(add). Normalization is done JVM-side first so Python
    only splits pre-cleaned strings; reduceByKey performs the same
    map-side combine as the reference's O6."""
    import operator

    spark = corpus.sparkSession
    lines = corpus.select(normalized_col(text_col).alias("norm")).rdd
    counts = (
        lines.flatMap(lambda row: row[0].split())
        .map(lambda w: (w, 1))
        .reduceByKey(operator.add)
    )
    return spark.createDataFrame(counts, WORD_COUNT_SCHEMA)
