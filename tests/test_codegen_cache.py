"""Spark's generated-code cache holds the engine's plans, so a session
compiles each generated class once.

One pass of the five star-schema queries of perfbench's ``olap_mix``
generates 96 classes at sf0.001, about as many as Spark's default cache
of 100 holds; at that default a second pass compiled 33-46 of them again.
"""

from __future__ import annotations

from bench import codegen_compiles
from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.session import CODEGEN_CACHE_ENTRIES

OLAP_MIX = ("pricing_summary", "top_customers", "supplier_reach", "events_rollup",
            "events_sessionize")


def _pass(spark, sf_dir: str) -> None:
    for name in OLAP_MIX:
        registry.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_second_pass_compiles_no_class(spark, sf_smoke):
    _pass(spark, sf_smoke)
    before, _ = codegen_compiles(spark)
    _pass(spark, sf_smoke)
    after, _ = codegen_compiles(spark)
    assert after - before == 0, f"the second pass compiled {after - before} classes again"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
