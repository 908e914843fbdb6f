"""Wave-6 r7 operators: average precision + lift deciles
(operators/evalmetrics), Nelson-Aalen hazard (operators/survival),
chi-square keyness, Jensen-Shannon corpus distance, and the Theil-Sen
robust trend. Hand-computed values, pure-Python differentials, and
cross-operator consistency. (Oracle parity runs in the registry-wide
sweep and tools/check_correctness.py.)"""

from __future__ import annotations

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.sources.catalog import load_table
from mapreduce_implementation_grpc_spark.operators.evalmetrics import (
    average_precision,
    auc_rank_sum,
    lift_table,
)
from mapreduce_implementation_grpc_spark.operators.survival import (
    kaplan_meier,
    nelson_aalen,
)


def _scored(spark, rows):
    return spark.createDataFrame(rows, "score double, label int")


def _ap_reference(rows):
    """Pure-Python block-convention AP."""
    from collections import defaultdict

    blocks = defaultdict(lambda: [0, 0])
    for s, y in rows:
        blocks[s][0] += 1
        blocks[s][1] += y
    n_pos = sum(p for _, p in blocks.values())
    cn = cp = 0
    ap = 0.0
    for s in sorted(blocks, reverse=True):
        n, p = blocks[s]
        cn += n
        cp += p
        ap += p * (cp / cn)
    return ap / n_pos


def test_average_precision_hand_computed(spark):
    # ranking (desc): 0.9+ 0.8- 0.7+ 0.6- -> AP = (1/2)(1/1 + 2/3)
    rows = [(0.9, 1), (0.8, 0), (0.7, 1), (0.6, 0)]
    r = average_precision(_scored(spark, rows)).collect()[0]
    assert (r.n_pos, r.n_total) == (2, 4)
    assert r.ap == pytest.approx((1.0 + 2.0 / 3.0) / 2.0, rel=1e-9)


def test_average_precision_perfect_and_tied(spark):
    perfect = [(3.0, 1), (2.0, 1), (1.0, 0), (0.5, 0)]
    assert average_precision(
        _scored(spark, perfect)
    ).collect()[0].ap == pytest.approx(1.0)
    # everything tied at one score: one block, AP = pos/n
    tied = [(1.0, 1)] * 3 + [(1.0, 0)] * 7
    r = average_precision(_scored(spark, tied)).collect()[0]
    assert r.ap == pytest.approx(0.3, rel=1e-12)


def test_average_precision_differential_random(spark):
    import random

    rng = random.Random(7)
    rows = [
        (float(rng.randint(0, 30)), rng.randint(0, 1)) for _ in range(500)
    ]
    if not any(y for _, y in rows):
        rows[0] = (rows[0][0], 1)
    got = average_precision(_scored(spark, rows)).collect()[0].ap
    assert got == pytest.approx(_ap_reference(rows), rel=1e-9)


def test_average_precision_all_negative_raises(spark):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        average_precision(_scored(spark, [(1.0, 0), (2.0, 0)])).collect()
    assert "average_precision" in str(ei.value)


def test_lift_table_invariants(spark, sf_check):
    out = registry.QUERIES["score_lift_deciles"](spark, sf_check).collect()
    assert [r.decile for r in out] == sorted({r.decile for r in out})
    n_tot = sum(r.n_rows for r in out)
    p_tot = sum(r.n_pos for r in out)
    base = p_tot / n_tot
    # decile populations approximately equal: block assignment can
    # only over-fill a decile by one block's ties
    for r in out:
        assert r.resp_rate == pytest.approx(r.n_pos / r.n_rows, rel=1e-12)
        assert r.lift == pytest.approx(r.resp_rate / base, rel=1e-12)
    assert out[-1].cum_capture == pytest.approx(1.0, rel=1e-12)
    caps = [r.cum_capture for r in out]
    assert caps == sorted(caps)


def test_lift_table_block_assignment_never_splits_ties(spark):
    # 100 rows all tied -> ONE block -> a single decile-0 row
    rows = [(5.0, i % 2) for i in range(100)]
    out = lift_table(_scored(spark, rows)).collect()
    assert len(out) == 1 and out[0].decile == 0
    assert out[0].n_rows == 100 and out[0].lift == pytest.approx(1.0)


def test_nelson_aalen_hand_computed(spark):
    # durations: 1,1,2(censored),3 -> at t=1: n=4,d=2; t=2: n=2,c=1;
    # t=3: n=1,d=1. H(1)=0.5, H(2)=0.5, H(3)=1.5
    subj = spark.createDataFrame(
        [(1, False), (1, False), (2, True), (3, False)],
        "duration long, censored boolean",
    )
    rows = {r.duration: r for r in nelson_aalen(subj).collect()}
    assert rows[1].n_risk == 4 and rows[1].n_events == 2
    assert rows[1].cum_hazard == pytest.approx(0.5, abs=1e-9)
    assert rows[2].cum_hazard == pytest.approx(0.5, abs=1e-9)
    assert rows[3].cum_hazard == pytest.approx(1.5, abs=1e-9)


def test_nelson_aalen_vs_km_inequality(spark, sf_check):
    """H(t) <= -ln S(t) pointwise (ln(1-x) <= -x), both monotone."""
    na = {
        r.duration: r.cum_hazard
        for r in registry.QUERIES["user_hazard_na"](spark, sf_check).collect()
    }
    km = {
        r.duration: r.log_survival
        for r in registry.QUERIES["user_survival_km"](
            spark, sf_check
        ).collect()
        if r.log_survival is not None
    }
    hs = [na[d] for d in sorted(na)]
    assert hs == sorted(hs) and all(h >= 0 for h in hs)
    for d, ls in km.items():
        assert na[d] <= -ls + 1e-9


def test_chi2_keywords_discriminate_crafted_corpus(spark):
    """A word used only by one language tops that language's list."""
    docs = []
    for i in range(40):
        docs.append((i, "zebra common filler words here", "en", "s", 30))
    for i in range(40, 80):
        docs.append((i, "quokka common filler words here", "fr", "s", 30))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = registry.QUERIES["term_chi2_keywords"](spark, d).collect()
    top = {r.lang: r.word for r in out if r.rank == 1}
    assert top["en"] == "zebra" and top["fr"] == "quokka"
    for r in out:
        assert r.chi2 >= 0.0


def test_js_divergence_bounds_and_extremes(spark, sf_check):
    out = registry.QUERIES["lang_js_divergence"](spark, sf_check).collect()
    assert out
    for r in out:
        assert r.lang_a < r.lang_b
        assert -1e-9 <= r.jsd_nats <= math.log(2) + 1e-9
    # crafted: identical distributions -> 0; disjoint vocab -> ln 2
    docs = [
        (0, "alpha beta", "aa", "s", 10),
        (1, "alpha beta", "bb", "s", 10),
        (2, "gamma delta", "cc", "s", 11),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r.lang_a, r.lang_b): r.jsd_nats
        for r in registry.QUERIES["lang_js_divergence"](spark, d).collect()
    }
    assert got[("aa", "bb")] == pytest.approx(0.0, abs=1e-9)
    assert got[("aa", "cc")] == pytest.approx(math.log(2), abs=1e-6)


def test_theil_sen_differential_vs_python(spark, sf_check):
    """Lower-median of pairwise slopes recomputed in pure Python from
    the same monthly series the query aggregates."""
    out = {
        r.nation: r
        for r in registry.QUERIES["nation_theilsen_trend"](
            spark, sf_check
        ).collect()
    }
    # rebuild the monthly series via an independent SQL aggregation
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
        series[r.n_name].append((int(r.x), int(r.y)))
    for nation, pts in series.items():
        if len(pts) < 2:
            assert nation not in out
            continue
        slopes = sorted(
            float(y2 - y1) / float(x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
            if x2 != x1
        )
        k = (len(slopes) + 1) // 2  # lower median position (1-based)
        want = slopes[k - 1]
        got = out[nation]
        assert got.n_months == len(pts)
        assert got.n_pairs == len(slopes)
        assert got.theil_sen_slope == pytest.approx(want, rel=1e-12)


def test_theil_sen_robust_to_outlier_month(spark):
    """One wild month barely moves Theil-Sen (OLS it would drag)."""
    # synthetic: y = 100*x exactly, except month 5 is a 1e9 spike
    import pandas as pd

    rows = [("X", float(x), float(100 * x)) for x in range(12)]
    rows[5] = ("X", 5.0, 1e9)
    df = spark.createDataFrame(rows, "nation string, x double, y double")
    pairs = (
        df.alias("a")
        .join(df.alias("b"), "nation")
        .filter(F.col("a.x") < F.col("b.x"))
        .select(
            (
                (F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))
            ).alias("slope")
        )
        .collect()
    )
    slopes = sorted(r.slope for r in pairs)
    med = slopes[(len(slopes) + 1) // 2 - 1]
    assert med == pytest.approx(100.0, rel=1e-9)


def test_ap_and_auc_agree_on_separable_data(spark):
    """Perfectly separable scores: both AP and AUC hit exactly 1."""
    rows = [(float(10 + i), 1) for i in range(5)] + [
        (float(i), 0) for i in range(5)
    ]
    ap = average_precision(_scored(spark, rows)).collect()[0].ap
    auc = auc_rank_sum(_scored(spark, rows)).collect()[0].auc
    assert ap == 1.0 and auc == 1.0
