"""Text-corpus ingest.

Reference surface covered (SURVEY.md section 2a):
  O1 HDFS text scan  (greeter_client.cc:298-314) -> spark.read.text
  O4 range partition (greeter_client.cc:362-390) -> input splits /
     repartition; the reference's contiguous 4-way line split is
     order-irrelevant for word count, so any partitioning is
     semantically equivalent. ``task_id_col`` reproduces the
     reference's *observable* task-id bookkeeping (task number
     prepended to each payload, greeter_client.cc:268) as a
     deterministic column rather than a string prefix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table

NUM_TASKS = 4  # the reference's map tasks (greeter_client.cc:362-368)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """O1: newline-delimited text -> DataFrame[line: string].

    Unlike the reference (whole file into one master-side string),
    Spark assigns byte-range splits to executors; 100 TB of text
    never touches the driver.
    """
    return spark.read.text(path).withColumnRenamed("value", "line")


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's standard corpus: documents.text as one line per doc.

    Column-pruned scan: only doc_id/text are read from parquet, through
    the catalog's one scan of the table.
    """
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("line")
    )


def task_id_col(key: Column) -> Column:
    """Deterministic task id mirroring the reference's 4-way split
    (greeter_client.cc:362-368). Uses key % NUM_TASKS rather than contiguous
    ranges: word count is partition-invariant (SURVEY.md section 1),
    and modulo assignment is reproducible across runs/oracles while
    contiguous byte ranges are not."""
    return (key % NUM_TASKS).cast("int")
