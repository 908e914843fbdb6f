"""Parquet table catalog over a scale-factor directory.

Replaces the reference's single hard-coded HDFS file scan
(greeter_client.cc:298-314 reads /Assignment5/input.txt through a
1 KB buffer into one master-side string -- an anti-pattern at scale:
the whole corpus is materialized on one node). Spark's parquet
reader streams per-executor splits, prunes columns, and pushes
predicates down to the scan; nothing is ever materialized on the
driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5 rows, nation=25 rows at every TPC-H SF).
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; filters/projections placed on the result are
    pushed into the parquet scan by Catalyst."""
    if name == "events":
        # the generated events.parquet is TIMESTAMP(MICROS), but one
        # written as TIMESTAMP(NANOS) is rejected outright by Spark 4;
        # set the legacy int64 fallback at runtime so the engine also
        # reads it under SparkSessions it did not build (e.g. the
        # external verify driver's)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # TIMESTAMP(NANOS) columns arrive as int64 nanos under
    # spark.sql.legacy.parquet.nanosAsLong; convert with exact integer
    # division (ns -> us) so engines agree to the microsecond, onto a
    # TIMESTAMP_NTZ epoch: the MICROS file reads as TIMESTAMP_NTZ, so
    # both files give the same type and the same wall clock in every
    # session time zone (tests/test_sources_sinks.py).
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so plans can also be expressed via spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
