"""The customer value-quintile migration matrix."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.sources.catalog import load_table


def test_value_migration_invariants(spark, sf_check):
    out = registry.QUERIES["customer_value_migration"](
        spark, sf_check
    ).collect()
    assert out
    n = sum(r.n_customers for r in out)
    for r in out:
        assert 0 <= r.q_1995 <= 4 and 0 <= r.q_1996 <= 4
        assert r.n_customers >= 1
    # both-years customer count ties out against an independent count
    orders = load_table(spark, sf_check, "orders")
    yrs = (
        orders.filter(F.year("o_orderdate").isin(1995, 1996))
        .select("o_custkey", F.year("o_orderdate").alias("yr"))
        .distinct()
        .groupBy("o_custkey")
        .count()
        .filter(F.col("count") == 2)
        .count()
    )
    assert n == yrs


def test_value_migration_quintiles_are_balanced(spark, sf_check):
    """Within each year the quintile populations differ by <= 1
    among ranked customers (the exact integer boundary property) --
    checked through the migration marginals being plausible: every
    quintile appears."""
    out = registry.QUERIES["customer_value_migration"](
        spark, sf_check
    ).collect()
    assert {r.q_1995 for r in out} == set(range(5))
    assert {r.q_1996 for r in out} == set(range(5))
