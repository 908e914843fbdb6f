"""Interleaved same-JVM A/B for the r11 rewrites (VERDICT r10 #1's
noise lesson: cross-JVM before/after on this host is inside the
noise band, so each pair runs old-vs-new in ONE JVM, alternated).

Variants reproduce the round-start (83ba10e) operator bodies
verbatim; the "new" side calls the current tree.

Usage: python tools/r11_ab_probe.py [--sf SF] [--runs N] [pagerank|acf|cms ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.materialize import materialize
from mapreduce_implementation_grpc_spark.session import get_spark
from mapreduce_implementation_grpc_spark.sources.catalog import load_table

DAMPING = 0.85
TELEPORT = 0.15


# --- round-start pagerank (string node keys), verbatim -----------------
def purchase_graph_str(spark, sf_dir, broadcast_small=True) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    e = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = e.groupBy(F.col("src").alias("dsrc")).agg(F.count("*").alias("d"))
    dside = F.broadcast(deg) if broadcast_small else deg
    return (
        e.join(dside, F.col("src") == F.col("dsrc"))
        .select("src", "dst", "d")
        .transform(materialize)
    )


def pagerank_str(spark, sf_dir, iters=3, broadcast_ranks=True) -> DataFrame:
    ewd = purchase_graph_str(spark, sf_dir, broadcast_small=broadcast_ranks)
    ranks = ewd.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0).alias("r")
    )
    for _ in range(iters):
        rside = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = ewd.join(rside, F.col("src") == F.col("node")).select(
            "dst",
            F.round(F.col("r") / F.col("d"), 9).cast("decimal(12,9)").alias("term"),
        )
        sums = contrib.groupBy(F.col("dst").alias("node")).agg(F.sum("term").alias("s"))
        walk = F.lit(DAMPING) * F.col("s").cast("string").cast("double")
        ranks = sums.select("node", (F.lit(TELEPORT) + walk).alias("r"))
    return ranks


def q_pagerank_str(spark, sf_dir) -> DataFrame:
    r = pagerank_str(spark, sf_dir, iters=3)
    return (
        r.orderBy(F.desc("r"), F.asc("node"))
        .limit(100)
        .select("node", F.round("r", 6).alias("rank"))
    )


# --- round-start acf (exploded-lag self-join), verbatim ----------------
def autocorrelation_join(series, group_col, t_col, y_col, max_lag=7) -> DataFrame:
    stats = series.groupBy(group_col).agg(
        F.count("*").alias("_n"), F.sum(y_col).alias("_s")
    )
    z = series.join(stats, group_col).select(
        group_col,
        F.col(t_col).alias("_t"),
        (F.col("_n") * F.col(y_col) - F.col("_s")).cast("decimal(19,0)").alias("_z"),
        "_n",
    )
    den = z.groupBy(group_col).agg(
        F.sum(F.col("_z").cast("decimal(18,0)") * F.col("_z").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("_den"),
        F.max("_n").alias("n_points"),
    )
    lags = z.select(
        group_col, "_t", "_z",
        F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)])).alias("lag"),
    )
    lead = z.select(
        F.col(group_col).alias("_g2"), F.col("_t").alias("_t2"), F.col("_z").alias("_z2")
    )
    num = (
        lags.join(
            lead,
            (F.col(group_col) == F.col("_g2"))
            & (F.col("_t") + F.col("lag") == F.col("_t2")),
        )
        .groupBy(group_col, "lag")
        .agg(
            F.sum(
                F.col("_z").cast("decimal(18,0)") * F.col("_z2").cast("decimal(19,0)")
            ).cast("decimal(38,0)").alias("_num")
        )
    )
    return (
        num.join(den, group_col)
        .filter(F.col("_den") != 0)
        .select(
            group_col,
            F.col("lag").cast("long").alias("lag"),
            "n_points",
            (
                F.col("_num").cast("string").cast("double")
                / F.col("_den").cast("string").cast("double")
            ).alias("acf"),
        )
        .orderBy(group_col, "lag")
    )


def q_events_acf_join(spark, sf_dir, max_lag=7) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("y")
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("_d0"), F.max(F.to_date("ts")).alias("_d1")
    )
    days = bounds.select(
        F.explode(F.sequence(F.col("_d0"), F.col("_d1"))).alias("day"), "_d0"
    )
    types = ev.select("event_type").distinct()
    series = (
        types.crossJoin(F.broadcast(days))
        .join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.datediff("day", "_d0").cast("long").alias("t"),
            F.coalesce("y", F.lit(0)).cast("long").alias("y"),
        )
    )
    return autocorrelation_join(series, "event_type", "t", "y", max_lag=max_lag)


# --- round-start cms probe side (4 BroadcastHashJoins), verbatim -------
def cms_screened_wordcount_joins(tokens, denom=500) -> DataFrame:
    from mapreduce_implementation_grpc_spark.operators.cms import CMS_D, _bucket

    cells = tokens.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), _bucket(F.col("word"), j).alias("b"))
                    for j in range(CMS_D)
                ]
            )
        ).alias("p")
    ).select("p.j", "p.b")
    counters = cells.groupBy("j", "b").agg(F.count("*").alias("c")).transform(materialize)
    sketches = [
        counters.filter(F.col("j") == j).select(
            F.col("b").alias(f"b{j}"), F.col("c").alias(f"c{j}")
        )
        for j in range(CMS_D)
    ]
    thr = counters.filter(F.col("j") == 0).agg(
        F.expr(f"sum(c) div {denom}").alias("thr")
    )
    probed = tokens
    for j in range(CMS_D):
        probed = probed.withColumn(f"b{j}", _bucket(F.col("word"), j)).join(
            F.broadcast(sketches[j]), f"b{j}"
        )
    est = F.least(*[F.col(f"c{j}") for j in range(CMS_D)])
    return (
        probed.withColumn("est", est)
        .crossJoin(F.broadcast(thr))
        .filter(F.col("est") >= F.col("thr"))
        .groupBy("word")
        .agg(
            F.count("*").alias("true_cnt"),
            F.min("est").alias("est_cnt"),
            (F.count("*") >= F.min("thr")).alias("confirmed"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("word"))
    )


def q_cms_joins(spark, sf_dir) -> DataFrame:
    from mapreduce_implementation_grpc_spark.operators.normalize import normalized_col
    from mapreduce_implementation_grpc_spark.operators.tokenize import tokenize
    from mapreduce_implementation_grpc_spark.sources.text import corpus_from_documents

    corpus = corpus_from_documents(spark, sf_dir)
    tokens = tokenize(corpus.select(normalized_col("line").alias("norm")), "norm")
    return cms_screened_wordcount_joins(tokens)


def _time(df_fn, runs: int) -> list[float]:
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 3))
    return sorted(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("which", nargs="*", default=["pagerank", "acf", "cms"])
    args = ap.parse_args()
    spark = get_spark(app_name="r11-ab")
    spark.sparkContext.setLogLevel("ERROR")
    registry.QUERIES["wordcount"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    pairs = {
        "pagerank": (
            lambda: q_pagerank_str(spark, args.sf),
            lambda: registry.QUERIES["purchase_pagerank"](spark, args.sf),
        ),
        "acf": (
            lambda: q_events_acf_join(spark, args.sf),
            lambda: registry.QUERIES["events_acf"](spark, args.sf),
        ),
        "cms": (
            lambda: q_cms_joins(spark, args.sf),
            lambda: registry.QUERIES["cms_screened_wordcount"](spark, args.sf),
        ),
    }
    for which in args.which:
        old_fn, new_fn = pairs[which]
        a = sorted(map(tuple, old_fn().collect()))
        b = sorted(map(tuple, new_fn().collect()))
        assert a == b, f"{which}: old/new values diverge!"
        print(f"{which}: identity ok ({len(a)} rows)")
        for tag, fn in [("old", old_fn), ("new", new_fn)] * 2:
            spark.sparkContext.setJobDescription(f"r11-ab {which}: {tag}")
            s = _time(fn, args.runs)
            print(f"{which}-{tag} median={s[len(s) // 2]:7.3f}s samples={s}",
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
