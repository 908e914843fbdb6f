"""materialize.py: the one pin mechanism per need.

The mechanism tests pin which primitive each function uses (lineage
truncated to a LogicalRDD block scan). The job-count test pins what
`materialize` costs at call time, so a change of mechanism that moves
work into or out of DataFrame construction shows up here on purpose.
The iterative-loop tests pin the expected fixpoints of the two
operators that pin every round.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.materialize import (
    materialize,
    materialize_eager,
)
from mapreduce_implementation_grpc_spark.operators.dedup import label_propagation
from mapreduce_implementation_grpc_spark.operators.graph_motifs import kcore


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_materialize_mechanisms(spark):
    # localCheckpoint truncates lineage: the analyzed plan becomes a
    # LogicalRDD block scan, not the original Range
    pinned = materialize(spark.range(10))
    assert "LogicalRDD" in _analyzed(pinned)
    assert pinned.count() == 10


def test_materialize_eager_mechanisms(spark):
    pinned = materialize_eager(spark.range(10))
    assert "LogicalRDD" in _analyzed(pinned)
    assert pinned.count() == 10
    # the blocks belong to the checkpointed RDD, not to a cache entry:
    # unpersist is a no-op and the pinned table stays readable
    pinned.unpersist()
    assert pinned.count() == 10


def _jobs_launched_by(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_job_count_at_call_time(spark):
    # an exchange-free subtree is planned without running anything
    assert _jobs_launched_by(
        spark, "pin_range", lambda: materialize(spark.range(100))
    ) == 0
    # an exchange is planned under AQE (the session default), which
    # submits its shuffle-map stage as a job inside the call
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    grouped = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    assert _jobs_launched_by(
        spark, "pin_groupby", lambda: materialize(grouped)
    ) >= 1



def test_kcore_peels_pendants_to_the_clique(spark):
    # a 4-clique {1,2,3,4} with two pendant nodes: the 3-core is the
    # clique, found by peeling the pendants -- a genuinely multi-round
    # fixpoint of the per-round pin (the sf0.001 co-supply graph is
    # empty after thresholding, so a synthetic graph exercises the
    # loop where the fixture cannot)
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(clique + [(4, 9), (9, 12)], "s1 long, s2 long")
    got = sorted(map(tuple, kcore(edges, 3).collect()))
    assert got == [(1, 3), (2, 3), (3, 3), (4, 3)]


def test_label_propagation_chain_and_pair(spark):
    # a chain 1-2-3-4 plus an isolated pair 10-11: pointer jumping
    # converges to the smallest reachable id per component
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = sorted(map(tuple, label_propagation(pairs).collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)]
