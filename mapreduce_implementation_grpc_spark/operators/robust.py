"""Robust per-group outlier statistics: exact lower-median, MAD, and
the Hampel outlier rule.

The z-score monitor (events_anomaly_zscore) breaks down exactly when
you need it: outliers inflate the mean and stddev they are judged
against. The robust twin judges against the MEDIAN and the median
absolute deviation (Hampel identifier / robust z-score,
Iglewicz & Hoaglin, "How to Detect and Handle Outliers"): a value is
an outlier when |v - median| > k * 1.4826 * MAD (1.4826 scales MAD
to estimate sigma under normality; k = 3 is the conventional cut).

Exactness & determinism: medians here are LOWER medians -- the
smallest value whose cumulative count reaches ceil(n/2) -- pure
integer-rank SELECTION, no midpoint interpolation. (Interpolated
medians average two doubles; Spark computes lower + (upper-lower)*f
while other engines may compute (lower+upper)/2 -- an ulp apart.
Selection has no arithmetic to diverge.) Deviations |v - med| and the
Hampel threshold are fixed-shape IEEE chains on identical inputs.

Scale shape: raw rows collapse to per-(group, DISTINCT value) counts
at the first partial-agg'd groupBy -- the score_auc/ks_test move.
Every window after that runs over the collapsed table, partitioned
by group: the per-partition sort is bounded by DISTINCT VALUES per
group, not rows (real metrics quantize -- prices to cents, latencies
to ms -- so ties collapse massively; a group with unbounded distinct
values makes any exact median rank-selection-hard, and this module
chooses the collapse + documented bound over an approximate sketch).
Two such passes: one for the median, one for deviations.

Reference scope note: no monitoring surface in the reference engine
(greeter_client.cc / greeter_server.cc); SURVEY extension brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize

GROUP_COL = "event_type"
MAD_K = 3.0


def _lower_median(
    counts: DataFrame, group_col: str, value_col: str, cnt_col: str, out: str
) -> DataFrame:
    """[group, out]: smallest value whose running count reaches
    ceil(n/2), from a per-(group, distinct value) count table."""
    tot = counts.groupBy(group_col).agg(F.sum(cnt_col).alias("_n"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.asc(value_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("_cm", F.sum(cnt_col).over(w)).join(tot, group_col)
    return (
        cum.filter(F.col("_cm") >= F.expr("(_n + 1) div 2"))
        .groupBy(group_col)
        .agg(F.min(value_col).alias(out))
    )


def mad_outliers(df: DataFrame) -> DataFrame:
    """Per-group robust outlier report: [group, n, med, mad,
    hampel_cut, n_outliers, max_dev], ordered by group. med/mad are
    exact lower medians; hampel_cut = mad * MAD_K * 1.4826; n_outliers
    counts |v - med| > hampel_cut. An all-constant group (mad = 0)
    flags every non-median value -- the honest degenerate reading."""
    counts = materialize(
        df.groupBy(
            F.col(GROUP_COL).alias("g"), F.col("value").alias("v")
        ).agg(F.count("*").alias("c"))
    )
    med = _lower_median(counts, "g", "v", "c", "med")
    devs = materialize(
        counts.join(med, "g")
        .withColumn("_dev", F.abs(F.col("v") - F.col("med")))
        .groupBy("g", "med", "_dev")
        .agg(F.sum("c").alias("c"))
    )
    mad = _lower_median(devs, "g", "_dev", "c", "mad")
    cut = (F.col("mad") * F.lit(MAD_K) * F.lit(1.4826)).alias("hampel_cut")
    return (
        devs.join(mad, "g")
        .groupBy("g", "med", "mad")
        .agg(
            F.sum("c").alias("n"),
            F.sum(
                F.when(
                    F.col("_dev")
                    > F.col("mad") * F.lit(MAD_K) * F.lit(1.4826),
                    F.col("c"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
            F.max("_dev").alias("max_dev"),
        )
        .select(
            F.col("g").alias(GROUP_COL),
            "n",
            "med",
            "mad",
            cut,
            "n_outliers",
            "max_dev",
        )
        .orderBy(GROUP_COL)
    )


def weighted_median(
    df: DataFrame, group_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v
    with 2 * cumweight(<= v) >= total weight -- the
    half-the-mass-on-each-side generalization of the median
    (aggregation-weighted summaries: "the price point where half the
    REVENUE sits below", not half the rows).

    Same portability stance as the MAD medians above: SELECTION, not
    interpolation -- the answer is a value that exists in the data,
    decided by exact integer weight comparisons, so engines cannot
    disagree by an interpolation ulp.

    Shape: one groupBy collapses to (group, distinct value) grain
    with summed integral weights; a per-group cumulative window and
    a 2*cum >= total filter pick the first qualifying value (argmin
    via min(struct)). Windows run over the distinct-value aggregate
    -- fact rows never cross a sort. Weights must be integral
    (cents/micros); zero-total groups are dropped (no mass, no
    median).

    Limit: each group's distinct values are sorted in one window
    partition, so a group whose values never tie sorts a fact-sized
    partition (14.9 s at 16 M distinct rows in 8 groups, SCALING.md).
    Quantize or pre-bucket such keys first. A bucketed cumsum measured
    a wash on one box; bringing it back is an edit here that picks it
    from the grain size, with a benchmark workload on each side."""
    if group_col in ("weighted_median", "total_weight"):
        raise ValueError(
            f"weighted_median: group_col {group_col!r} collides with an "
            "output column -- rename it first"
        )
    grain = df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.sum(weight_col).alias("w"))
    wc = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("g")
    cum = grain.withColumn("cw", F.sum("w").over(wc)).withColumn(
        "tw", F.sum("w").over(wt)
    )
    picked = (
        cum.filter((F.col("tw") > 0) & (2 * F.col("cw") >= F.col("tw")))
        .groupBy("g")
        .agg(F.min("v").alias("weighted_median"), F.max("tw").alias("total_weight"))
    )
    return picked.select(
        F.col("g").alias(group_col), "weighted_median", "total_weight"
    ).orderBy(group_col)


TRIM_PCT = 5  # trimmed_mean and winsorized_mean cut 5% off each side


def trimmed_mean(df: DataFrame, group_col: str, cents_col: str) -> DataFrame:
    """Exact two-sided trimmed mean per group over an integer-cents
    column: drop the lowest and highest k = floor(n * TRIM_PCT/100)
    rows by rank, average the rest -- the robust location estimate
    between the mean (outlier-hostage) and the median (throws away
    too much). [group, n, n_trimmed_each_side, trimmed_mean_cents,
    mean_cents], ordered by group.

    Exactness: the trim boundary is INTEGER rank arithmetic (k =
    n*pct div 100), the kept mass per distinct value is clamp
    arithmetic on exact cumulative counts (kept = min(cum, n-k) -
    max(cum-cnt, k), floored at 0), and the sums are exact longs --
    the only IEEE ops are the two final divisions of exact integers,
    identical cross-engine. No interpolation anywhere (the
    MAD/weighted-median SELECTION stance applied to a range).

    Shape: one groupBy collapses facts to (group, distinct cents)
    grain with counts (heavy ties collapse -- 2dp money makes this
    grain far smaller than the facts); one per-group cumulative
    window over that grain; one final per-group aggregate. ANSI mode
    makes a 2^63 overflow of kept*cents loud. Same limit as
    weighted_median: the window sorts each group's distinct values."""
    grain = df.groupBy(
        F.col(group_col).alias("g"), F.col(cents_col).alias("v")
    ).agg(F.count("*").alias("cnt"))
    wc = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("g")
    cum = (
        grain.withColumn("cum", F.sum("cnt").over(wc))
        .withColumn("n", F.sum("cnt").over(wt))
        .withColumn("k", F.expr(f"(n * {TRIM_PCT}) div 100"))
    )
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cum") - F.col("cnt"), F.col("k")),
    )
    return (
        cum.withColumn("_kept", kept)
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("k").alias("n_trimmed_each_side"),
            F.sum(F.col("_kept") * F.col("v")).alias("_ks"),
            F.sum(F.col("cnt") * F.col("v")).alias("_ts"),
        )
        .select(
            F.col("g").alias(group_col),
            "n",
            "n_trimmed_each_side",
            (
                F.col("_ks").cast("double")
                / (F.col("n") - 2 * F.col("n_trimmed_each_side")).cast(
                    "double"
                )
            ).alias("trimmed_mean_cents"),
            (F.col("_ts").cast("double") / F.col("n").cast("double")).alias(
                "mean_cents"
            ),
        )
        .orderBy(group_col)
    )


def winsorized_mean(df: DataFrame, group_col: str, cents_col: str) -> DataFrame:
    """Exact two-sided winsorized mean per group over an integer-cents
    column: CLAMP (not drop) the lowest and highest k = floor(n *
    TRIM_PCT/100) rows to the boundary values at ranks k+1 and n-k,
    then average all n rows -- the trimmed mean's sibling that keeps
    the sample size (classical robust location, cf. Tukey; trimming
    discards tail mass, winsorizing votes it at the fence).

    Exactness: identical integer-rank machinery to trimmed_mean
    (same (group, distinct cents) grain, same clamp arithmetic on
    exact cumulative counts); the fences are SELECTED values
    (lo = min v with cum >= k+1, hi = min v with cum >= n-k), the
    winsorized sum is kept-mass + k*lo + k*hi in exact longs, and
    the only IEEE op is one final division. No interpolation.

    Output: [group, n, n_clamped_each_side, lo_cents, hi_cents,
    winsorized_mean_cents, mean_cents], ordered by group.

    Scale: the (group, distinct cents) grain collapses heavy ties
    before the one per-group cumulative window; everything after is
    a per-group aggregate. Same shuffle budget as trimmed_mean."""
    grain = df.groupBy(
        F.col(group_col).alias("g"), F.col(cents_col).alias("v")
    ).agg(F.count("*").alias("cnt"))
    wc = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("g")
    cum = (
        grain.withColumn("cum", F.sum("cnt").over(wc))
        .withColumn("n", F.sum("cnt").over(wt))
        .withColumn("k", F.expr(f"(n * {TRIM_PCT}) div 100"))
    )
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cum") - F.col("cnt"), F.col("k")),
    )
    agg = (
        cum.withColumn("_kept", kept)
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("k").alias("k"),
            F.sum(F.col("_kept") * F.col("v")).alias("_ks"),
            F.sum(F.col("cnt") * F.col("v")).alias("_ts"),
            F.min(F.when(F.col("cum") >= F.col("k") + 1, F.col("v"))).alias(
                "lo_cents"
            ),
            F.min(
                F.when(F.col("cum") >= F.col("n") - F.col("k"), F.col("v"))
            ).alias("hi_cents"),
        )
    )
    wsum = (
        F.col("_ks")
        + F.col("k") * F.col("lo_cents")
        + F.col("k") * F.col("hi_cents")
    )
    return agg.select(
        F.col("g").alias(group_col),
        "n",
        F.col("k").alias("n_clamped_each_side"),
        "lo_cents",
        "hi_cents",
        (wsum.cast("double") / F.col("n").cast("double")).alias(
            "winsorized_mean_cents"
        ),
        (F.col("_ts").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
    ).orderBy(group_col)
