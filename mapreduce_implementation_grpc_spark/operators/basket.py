"""Market-basket pair mining: support / confidence / lift.

The frequent-itemset primitive (Agrawal-Srikant A-priori, pair
stage) over the order->part bipartite relation: which parts co-occur
in the same order more than independence predicts. The reference has
no relational surface at all; this extends its counting pipeline
(count per key) to counting per key PAIR with the association
metrics every recommender bootstrap uses.

Scale shape:

- baskets = distinct (order, part) -- one shuffle, and the SUPPORT
  FILTER on pair count is applied straight after the pair groupBy,
  before any metric join: at sf0.01 that is 115k pairs -> 3.4k
  surviving, so the joins that attach item counts run on the pruned
  set (A-priori's pruning insight, applied to the plan).
- the pair build self-joins baskets on the ORDER key: fan-out is
  C(basket_size, 2) per order, and basket sizes are bounded by
  business reality (~4 parts/order here) -- this is the safe
  direction, unlike joining on part. A pathological mega-basket
  would need a basket-size cap, the same knob as the butterfly
  counter's max_degree.
- item counts and the total-order count are part-sized / 1-row
  aggregates, attached by broadcast; all ratio math is exact-integer
  inputs into double division, so both engines order identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize
from ..sources.catalog import load_table

MIN_ORDERS = 2  # co-orders that make a part pair (or triple) frequent


def _frequent_pairs(spark: SparkSession, sf_dir: str):
    """(b, nn, item, pairs): the distinct (order o, part p) baskets,
    the order count n, per-part order counts item_n, and the part
    pairs p1 < p2 sharing at least MIN_ORDERS orders with their count
    pair_n."""
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # consumers: the pair self-join (twice), item counts and the total
    b = materialize(b)
    nn = b.agg(F.count_distinct("o").alias("n"))
    item = b.groupBy("p").agg(F.count("*").alias("item_n"))
    a1 = b.select("o", F.col("p").alias("p1"))
    a2 = b.select("o", F.col("p").alias("p2"))
    pairs = (
        a1.join(a2, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= MIN_ORDERS)
    )
    return b, nn, item, pairs


def market_basket_pairs(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Top part pairs by lift: [p1, p2, pair_n, support, confidence,
    lift], lift desc with (p1, p2) tie-break. `confidence` is
    P(p2 in basket | p1 in basket); pairs below 2 orders
    co-occurrences are pruned before any metric join."""
    _, nn, item, pairs = _frequent_pairs(spark, sf_dir)
    out = (
        pairs.join(
            item.select(F.col("p").alias("p1"), F.col("item_n").alias("c1")), "p1"
        )
        .join(
            item.select(F.col("p").alias("p2"), F.col("item_n").alias("c2")), "p2"
        )
        .crossJoin(F.broadcast(nn))
    )
    return (
        out.select(
            "p1",
            "p2",
            "pair_n",
            (F.col("pair_n") / F.col("n")).alias("support"),
            (F.col("pair_n") / F.col("c1")).alias("confidence"),
            (
                (F.col("pair_n") * F.col("n")) / (F.col("c1") * F.col("c2"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("p1"), F.asc("p2"))
        .limit(50)
    )


def market_basket_triples(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """A-priori level 3: top part TRIPLES by lift -- [p1, p2, p3,
    tri_n, support, confidence, lift] (p1 < p2 < p3), where
    confidence is P(p3 | {p1, p2}) and lift is
    tri_n * n^2 / (c1 * c2 * c3).

    The plan IS the A-priori pruning (and the naive all-triples SQL
    oracle hash-matching proves it lossless, the PPJoin argument):
    only per-order occurrences of FREQUENT pairs are extended by a
    third item, and the extension is kept only if BOTH new sub-pairs
    are frequent too -- every downward-closed candidate, nothing
    else. Fan-out per order is (frequent pairs in the order) x
    (basket size), far below C(basket_size, 3) on skewed catalogs;
    all the joins run on the order key (bounded baskets), never on
    the part key.

    Exactness: counts are exact integers; c1*c2*c3 stays below 2^53
    through every tested SF (and below int64 far beyond), so the
    double divisions agree bitwise across engines."""
    b, nn, item, pairs = _frequent_pairs(spark, sf_dir)
    a1 = b.select("o", F.col("p").alias("p1"))
    a2 = b.select("o", F.col("p").alias("p2"))
    # consumed by: per-order semi join, two sub-pair prunes, and the
    # confidence join
    fp = materialize(pairs)
    fp_keys = fp.select("p1", "p2")
    op = (
        a1.join(a2, "o")
        .filter(F.col("p1") < F.col("p2"))
        .join(fp_keys, ["p1", "p2"], "left_semi")
    )
    ext = (
        op.join(b.select("o", F.col("p").alias("p3")), "o")
        .filter(F.col("p3") > F.col("p2"))
        .join(
            fp_keys.select(F.col("p1"), F.col("p2").alias("p3")),
            ["p1", "p3"],
            "left_semi",
        )
        .join(
            fp_keys.select(F.col("p1").alias("p2"), F.col("p2").alias("p3")),
            ["p2", "p3"],
            "left_semi",
        )
    )
    tri = (
        ext.groupBy("p1", "p2", "p3")
        .agg(F.count("*").alias("tri_n"))
        .filter(F.col("tri_n") >= MIN_ORDERS)
    )
    out = (
        tri.join(fp.select("p1", "p2", "pair_n"), ["p1", "p2"])
        .join(item.select(F.col("p").alias("p1"), F.col("item_n").alias("c1")), "p1")
        .join(item.select(F.col("p").alias("p2"), F.col("item_n").alias("c2")), "p2")
        .join(item.select(F.col("p").alias("p3"), F.col("item_n").alias("c3")), "p3")
        .crossJoin(F.broadcast(nn))
    )
    return (
        out.select(
            "p1",
            "p2",
            "p3",
            "tri_n",
            (F.col("tri_n") / F.col("n")).alias("support"),
            (F.col("tri_n") / F.col("pair_n")).alias("confidence"),
            # both triple products in DOUBLE (ADVICE r5): Spark long
            # multiplication is non-ANSI by default and would WRAP
            # silently past 2^63 (n ~ 2.6M at 100TB-scale order counts
            # already puts tri_n*n*n there), where the DuckDB oracle's
            # BIGINT product errors. Doubles are exact below 2^53 per
            # factor step (true at every tested SF, so oracle hashes
            # are unchanged) and degrade to rounding -- never to a
            # wrapped sign-flipped lift -- beyond it.
            (
                (F.col("tri_n").cast("double") * F.col("n") * F.col("n"))
                / (F.col("c1").cast("double") * F.col("c2") * F.col("c3"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("p1"), F.asc("p2"), F.asc("p3"))
        .limit(30)
    )


def association_rules(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Directed association rules from the pair stage: each surviving
    unordered pair emits BOTH directions a=>c with the full classical
    metric set [antecedent, consequent, pair_n, support, confidence,
    lift, leverage, conviction] (Agrawal-Srikant support/confidence,
    Brin et al. lift/conviction). leverage = P(ac) - P(a)P(c);
    conviction = (1 - P(c)) / (1 - confidence), NULL for exact rules
    (confidence = 1, integer-equality guarded -- both engines would
    otherwise divide by an exact float zero). Same shuffle budget as
    market_basket_pairs: the direction flip is a union of the pruned
    pair aggregate, never a second fact pass."""
    _, nn, item, pairs = _frequent_pairs(spark, sf_dir)
    directed = pairs.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "pair_n",
    ).unionByName(
        pairs.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            "pair_n",
        )
    )
    out = (
        directed.join(
            item.select(
                F.col("p").alias("antecedent"), F.col("item_n").alias("ca")
            ),
            "antecedent",
        )
        .join(
            item.select(
                F.col("p").alias("consequent"), F.col("item_n").alias("cc")
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(nn))
    )
    confidence = F.col("pair_n") / F.col("ca")
    leverage = F.col("pair_n") / F.col("n") - (F.col("ca") / F.col("n")) * (
        F.col("cc") / F.col("n")
    )
    conviction = F.when(F.col("pair_n") == F.col("ca"), F.lit(None)).otherwise(
        (F.lit(1.0) - F.col("cc") / F.col("n"))
        / (F.lit(1.0) - F.col("pair_n") / F.col("ca"))
    )
    return (
        out.select(
            "antecedent",
            "consequent",
            "pair_n",
            (F.col("pair_n") / F.col("n")).alias("support"),
            confidence.alias("confidence"),
            (
                (F.col("pair_n") * F.col("n")) / (F.col("ca") * F.col("cc"))
            ).alias("lift"),
            leverage.alias("leverage"),
            conviction.alias("conviction"),
        )
        .orderBy(F.desc("lift"), F.asc("antecedent"), F.asc("consequent"))
        .limit(50)
    )
