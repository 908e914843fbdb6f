"""Sinks.

Reference surface covered (SURVEY.md section 2a):
  O7  intermediate sink (greeter_server.cc:81-86)  -> Spark shuffle
      (automatic, binary, compressed); never materialized as text.
  O10 HDFS overwrite sink (greeter_server.cc:115-121, `hdfs dfs -put
      -f` of "word count" lines) -> mode('overwrite') writers.

``write_word_counts_text`` reproduces the reference's exact output
file format ("<word> <count>" per line, order-unspecified) for
parity; parquet is the default at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def write_word_counts_text(df: DataFrame, path: str) -> None:
    """Reference-format sink: lines of "<word> <count>"
    (greeter_server.cc:115-121). Distributed write -- one part file
    per partition, NOT coalesce(1): the reference's single-reducer
    placement (O15, greeter_client.cc:279-293) is a scalability bug,
    not a semantic."""
    df.select(F.concat_ws(" ", F.col("word"), F.col("cnt").cast("string")).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions
    present in `df`, leaving every other partition's files physically
    untouched -- the incremental-recompute primitive (re-curate one
    day / one language / one source without rewriting a 100 TB
    table). Static overwrite mode would drop the whole table first;
    this flips spark.sql.sources.partitionOverwriteMode to 'dynamic'
    for just this write and restores the previous value."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, prev)
