"""HITS (Kleinberg 1999) hubs & authorities on the bipartite
purchase graph.

PageRank's two-sided sibling, natural on a bipartite relation:
customers are pure HUBS (they only point), suppliers pure
AUTHORITIES (they are only pointed at). Each round:

    authority(s) = sum of hub scores over in-edges,
    hub(c)       = sum of authority scores over out-edges,

each side MAX-normalized after its update (the max-norm HITS
variant: same fixpoint direction as L2 normalization, but the
normalizer is an exact aggregate and the division is one IEEE op --
bit-reproducible across engines, where an L2 norm would stack a
sqrt on a reassociable sum of squares).

Exactness recipe (shared with pagerank.py): every data-driven sum
rounds its terms to 9 dp, sums as DECIMAL(20,9) (associative =>
partition-order-independent), and string-routes back to double; the
oracle unrolls the fixed iteration count as MATERIALIZED CTEs.

Scale: per round, two joins of the edge list against a broadcast
node-sized score table (hubs, then authorities) and two node-sized
aggregates. Like pagerank's rank side, every round ships a |V|-row
table to every executor, so the plan assumes the hub and authority
tables fit one executor; SCALING.md measured pagerank's key join
winning at 9.75 M edges. Switching plans is an edit here that
chooses from an observable size, with a benchmark workload on each
side, not a caller flag. Fixed iteration count -- plan depth is
static, no driver-side convergence loop.

Reference parity: the reference engine has no graph surface; this is
extension surface over the same orders x lineitem edges as
operators/pagerank.py (greeter pipeline analog: SURVEY.md section 2b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize
from .graph_motifs import purchase_edges

HITS_ITERS = 3


def _dec_sum(col: str) -> F.Column:
    return F.sum(F.round(F.col(col), 9).cast("decimal(20,9)"))


def _s2d(c: F.Column) -> F.Column:
    return c.cast("string").cast("double")


def hits_scores(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """[node_type ('hub'|'authority'), node_key, score] after HITS_ITERS
    max-normalized HITS rounds, score desc / key asc within type.
    Hubs start at 1.0; scores are relative (max = 1.0 each side)."""
    edges = materialize(purchase_edges(spark, sf_dir))
    hubs = edges.select("custkey").distinct().select(
        F.col("custkey").alias("c"), F.lit(1.0).alias("h")
    )
    auths = None
    for _ in range(HITS_ITERS):
        # each raw table feeds its own max AND the division: without
        # pinning, every round re-expands the previous round's whole
        # subtree into both consumers -- an exponentially duplicated
        # plan that re-executed visibly (21 s cold / 7.6 s warm at
        # sf0.1; 4.0 s warm pinned)
        araw = materialize(
            edges.join(F.broadcast(hubs), F.col("custkey") == F.col("c"))
            .groupBy("suppkey")
            .agg(_s2d(_dec_sum("h")).alias("ar"))
        )
        amax = araw.agg(F.max("ar").alias("am"))
        auths = araw.crossJoin(F.broadcast(amax)).select(
            F.col("suppkey").alias("s"), (F.col("ar") / F.col("am")).alias("a")
        )
        hraw = materialize(
            edges.join(F.broadcast(auths), F.col("suppkey") == F.col("s"))
            .groupBy("custkey")
            .agg(_s2d(_dec_sum("a")).alias("hr"))
        )
        hmax = hraw.agg(F.max("hr").alias("hm"))
        hubs = hraw.crossJoin(F.broadcast(hmax)).select(
            F.col("custkey").alias("c"), (F.col("hr") / F.col("hm")).alias("h")
        )
    out = hubs.select(
        F.lit("hub").alias("node_type"),
        F.col("c").alias("node_key"),
        F.round("h", 9).alias("score"),
    ).unionByName(
        auths.select(
            F.lit("authority").alias("node_type"),
            F.col("s").alias("node_key"),
            F.round("a", 9).alias("score"),
        )
    )
    return out.orderBy("node_type", F.desc("score"), F.asc("node_key"))
