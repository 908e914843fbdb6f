"""PageRank over the customer--supplier purchase graph.

The reference engine has no graph operators (SURVEY.md section 2a);
this is extension surface alongside the other iterative algorithms
(label propagation, Lloyd's k-means): power-iteration ranking over a
relation-derived graph, the shape used for site/domain authority
weighting in web-corpus curation (e.g. seed-quality scores in
Common-Crawl-style pipelines).

Graph: nodes are customers and suppliers ('c<id>' / 's<id>'); an
undirected edge links a customer to every supplier they bought from
(distinct pairs via lineitem x orders). Rank update is the standard
damped sum r' = 0.15 + 0.85 * sum(r_u / deg_u) over in-neighbors.

Scale design:
- the edge list is built ONCE (one distinct over the fact join),
  carries its degree, and is lazily checkpointed; each power
  iteration is one broadcast join of the |V|-row rank table (a
  shuffle-free scan of the edge list) plus one grouped sum with
  map-side partials. The degree table and the PPR teleport
  indicator are |V| rows too and are broadcast the same way. Limit:
  every iteration ships a |V|-row table to every executor, so the
  plan assumes |V| fits one executor; SCALING.md measured a plain
  key join winning at 9.75 M edges. Switching plans is an edit here
  that chooses from an observable size, with a benchmark workload
  on each side, not a caller flag;
- iteration count is a constant (power iteration converges
  geometrically; rank ORDER stabilizes long before values), so the
  whole loop is a fixed-depth plan -- no driver-side collects at all;
- r11 (guide section 2.3, narrower shuffle keys): every shuffle of
  the build and of the iterations moves a single LONG node key
  (2*custkey for customers, 2*suppkey + 1 for suppliers -- an
  injective encoding, so distinct/groupBy/join semantics are
  unchanged) instead of the presentation string 'c<id>'/'s<id>'.
  The strings are rebuilt ONCE, on the |V|-row result, after the
  last iteration. A UTF8 key costs 8 bytes of offset + data per row
  in every Exchange and every sort; the long halves-or-better that
  on every edge-grain shuffle, which is what the per-iteration cost
  is made of at 100 TB.
- cross-engine exactness uses the lm_score recipe: each edge
  contribution is rounded to 9 decimals and summed as DECIMAL
  (associative, partitioning-independent), then string-routed back
  to double -- so every iteration is bit-identical in Spark and
  DuckDB and the unrolled-SQL oracle (registry.shared._pagerank_ctes)
  hash-matches exactly. The key encoding never touches the rank
  arithmetic: per-node values are identical under the bijection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..materialize import materialize

from ..sources.catalog import load_table

DAMPING = 0.85
TELEPORT = 0.15
PAGERANK_ITERS = 3


def _label(key: F.Column) -> F.Column:
    """Rebuild the presentation node label from the internal long key
    (even = customer 'c<id>', odd = supplier 's<id>')."""
    return F.concat(
        F.when(key % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(key, 1).cast("string"),
    )


def _node_key(node: F.Column) -> F.Column:
    """Parse a presentation label ('c<id>' / 's<id>') into the
    internal long key -- the seed-set entry point for PPR."""
    return (
        F.substring(node, 2, 1_000_000).cast("long") * 2
        + F.when(F.substring(node, 1, 1) == "s", F.lit(1)).otherwise(F.lit(0))
    ).cast("long")


def _purchase_graph_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized edge list [src, dst, d] on LONG node keys; the
    |V|-row degree table joins back as a broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    e = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("dsrc")).agg(F.count("*").alias("d"))
    return (
        e.join(F.broadcast(deg), F.col("src") == F.col("dsrc"))
        .select("src", "dst", "d")
        .transform(materialize)
    )


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame[node, r] after PAGERANK_ITERS damped power iterations
    from uniform r0 = 1.0. Deterministic and engine-portable (see module
    docstring); serve with an orderBy+limit for a top-k report.

    The rank table is exactly |V| rows and is broadcast every
    iteration, so each iteration is a shuffle-free scan of the
    checkpointed edge list plus one partial-agg'd contribution sum
    (measured 1.35x over the key join at sf0.1). The limit is the
    module docstring's: |V| must fit one executor."""
    ewd = _purchase_graph_keys(spark, sf_dir)
    return _power_iterate(ewd, None)


def personalized_pagerank(
    spark: SparkSession, sf_dir: str, seeds: DataFrame
) -> DataFrame:
    """Personalized PageRank: teleport mass lands only on the `seeds`
    node set (DataFrame[node], presentation labels) instead of
    uniformly -- the standard graph-proximity recommendation primitive
    ('which suppliers are close to THIS customer segment'). Same
    exactness recipe and |V| limit as `pagerank`; the per-node
    teleport indicator is a 0/1 double joined once (the SEED side is
    broadcast -- seed sets are small by nature; the |V|-row indicator
    is broadcast inside every iteration, like the ranks), so non-seed
    nodes earn rank only through incoming walk mass. Seed labels are
    parsed to the internal long keys once, seed-set-sized work."""
    ewd = _purchase_graph_keys(spark, sf_dir)
    ind = (
        ewd.select("src").distinct()
        .join(
            F.broadcast(
                seeds.select(
                    _node_key(F.col("node")).alias("node"),
                    F.lit(1.0).alias("i1"),
                )
            ),
            F.col("src") == F.col("node"),
            "left",
        )
        .select(F.col("src").alias("inode"),
                F.coalesce(F.col("i1"), F.lit(0.0)).alias("ind"))
        .transform(materialize)
    )
    return _power_iterate(ewd, ind)


def _power_iterate(ewd: DataFrame, ind: DataFrame | None) -> DataFrame:
    """Shared damped power iteration; `ind` is the per-node teleport
    indicator (None = uniform 1.0, classic PageRank). Iterates on the
    long node keys; the presentation label is rebuilt once on the
    final |V|-row rank table."""
    if ind is None:
        ranks = ewd.select("src").distinct().select(
            F.col("src").alias("node"), F.lit(1.0).alias("r")
        )
    else:
        ranks = ind.select(F.col("inode").alias("node"), F.col("ind").alias("r"))
    for _ in range(PAGERANK_ITERS):
        contrib = ewd.join(F.broadcast(ranks), F.col("src") == F.col("node")).select(
            "dst",
            F.round(F.col("r") / F.col("d"), 9).cast("decimal(12,9)").alias("term"),
        )
        sums = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("term").alias("s")
        )
        walk = F.lit(DAMPING) * F.col("s").cast("string").cast("double")
        if ind is None:
            ranks = sums.select("node", (F.lit(TELEPORT) + walk).alias("r"))
        else:
            ranks = (
                sums.join(F.broadcast(ind), F.col("node") == F.col("inode"))
                .select("node", (F.lit(TELEPORT) * F.col("ind") + walk).alias("r"))
            )
    return ranks.select(_label(F.col("node")).alias("node"), "r")
