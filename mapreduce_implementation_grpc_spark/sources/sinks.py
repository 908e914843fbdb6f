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

