"""Wave-8 r7 operators: sorted-neighborhood linkage (the blocking
recall-hole recovery) and Holt linear smoothing (exact thousand-
micros recursion). Crafted boundary cases + pure-Python
differentials. (Oracle parity runs in the registry-wide sweep.)"""

from __future__ import annotations

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.sources.catalog import load_table
from mapreduce_implementation_grpc_spark.operators.linkage import fs_weights


def test_sn_recovers_cross_block_pairs(spark, sf_check):
    """The pairs blocking cannot see -- balance nudges crossing a
    floor boundary -- lead the report and are matched."""
    out = registry.QUERIES["linkage_sorted_neighborhood"](
        spark, sf_check
    ).collect()
    assert len(out) > 0
    recovered = [r for r in out if r.cross_block and r.is_match]
    assert recovered, "sf data is known to contain floor-boundary crossers"
    # report is recovered-first
    lead = [r.cross_block and r.is_match for r in out]
    assert lead == sorted(lead, reverse=True)
    w = fs_weights()
    for r in out:
        assert r.rank_gap <= 10
        want = sum(
            w[f][0] if getattr(r, f + "_agree") else w[f][1]
            for f in ("nm", "bal", "seg")
        )
        assert r.score == pytest.approx(want, abs=1e-12)
        assert r.is_match == (r.score > 0.0)
    # every crosser here is genuinely invisible to the blocking join:
    # same entity (contact_id = custkey + 10_000_000), different blk
    for r in recovered:
        if r.contact_id == r.custkey + 10_000_000:
            assert r.nm_agree and r.seg_agree and not r.bal_agree
            assert r.is_match


def test_sn_crafted_boundary_crosser(spark):
    """custkey 3 at bal 100.99 -> contact at 101.00: different
    floor-block, recovered by the neighborhood, matched."""
    rows = [
        (3, "Customer#000000003", 1, 100.99, "BUILDING"),
        (4, "Customer#000000004", 1, 250.50, "AUTOMOBILE"),
        (5, "Customer#000000005", 1, 300.25, "MACHINERY"),
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
    out = registry.QUERIES["linkage_sorted_neighborhood"](spark, d).collect()
    rec = {(r.custkey, r.contact_id): r for r in out}
    r3 = rec[(3, 10_000_003)]
    assert r3.cross_block and r3.is_match and not r3.bal_agree
    r4 = rec[(4, 10_000_004)]
    assert not r4.cross_block and r4.bal_agree and r4.is_match


def _round_away(x: float, unit: float = 1000.0) -> float:
    """round(x, -3) with ties away from zero (both engines' probed
    behavior for doubles)."""
    q = x / unit
    return math.copysign(math.floor(abs(q) + 0.5), q) * unit


def test_holt_differential_vs_python(spark, sf_check):
    """Recompute the exact thousand-micros Holt recursion in pure
    Python from an independently aggregated monthly series."""
    out = {
        r.nation: r
        for r in registry.QUERIES["nation_revenue_holt"](
            spark, sf_check
        ).collect()
    }
    li = load_table(spark, sf_check, "lineitem")
    orders = load_table(spark, sf_check, "orders")
    cust = load_table(spark, sf_check, "customer")
    nat = load_table(spark, sf_check, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    ) * F.lit(1000000).cast("decimal(7,0)")
    monthly = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                - F.lit(1992 * 12 + 1)
            ).alias("x"),
        )
        .agg(F.sum(rev.cast("decimal(25,0)")).alias("y"))
        .collect()
    )
    from collections import defaultdict

    series = defaultdict(list)
    for r in monthly:
        series[r.n_name].append((int(r.x), float(r.y)))
    for nation, pts in series.items():
        pts.sort()
        if len(pts) < 2:
            assert nation not in out
            continue
        ys = [y for _, y in pts]
        l, b = ys[1], ys[1] - ys[0]
        for y in ys[2:]:
            l2 = _round_away(0.5 * y + 0.5 * (l + b))
            b = _round_away(0.5 * (l2 - l) + 0.5 * b)
            l = l2
        got = out[nation]
        assert got.n_months == len(pts)
        assert got.level == l
        assert got.trend == b
        assert got.forecast_next == l + b


def test_holt_constant_and_linear_series(spark):
    """Constant series -> trend 0, forecast = level; exact linear
    series -> Holt recovers slope exactly (alpha=beta=0.5 keeps a
    linear signal invariant)."""
    # craft 4 tables: one nation, constant monthly revenue
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(1, "TESTLAND", 1)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.parquet(os.path.join(d, "nation.parquet"))
    spark.createDataFrame(
        [(1, "c", 1, 0.0, "X")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(os.path.join(d, "customer.parquet"))
    import datetime as dt

    orders = [
        (m, 1, "O", 1.0, dt.datetime(1995, m + 1, 15), "P")
        for m in range(6)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(os.path.join(d, "orders.parquet"))
    li = [
        (m, 1, 1, 1, 1.0, 1000.0 * (m + 1), 0.0, 0.0, "N", "O",
         dt.datetime(1995, m + 1, 16))
        for m in range(6)
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    out = registry.QUERIES["nation_revenue_holt"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    # y_m = 1000 * (m+1) dollars = 1e9 * (m+1) micros, exactly linear:
    # level tracks the last point, trend the exact 1e9 step
    assert r.n_months == 6
    assert r.level == pytest.approx(6e9)
    assert r.trend == pytest.approx(1e9)
    assert r.forecast_next == pytest.approx(7e9)
