"""Distribution-drift monitors: categorical PSI / KL divergence and
the exact two-sample Kolmogorov-Smirnov statistic.

The corpus-monitoring primitives of a continuously-ingested training
pipeline: a new crawl snapshot shifts the language mixture
(categorical drift -- Population Stability Index, the
industry-standard scorecard metric, and KL divergence) or shifts a
numeric feature's distribution (two-sample KS, the standard
nonparametric test).

Cross-engine determinism:
  - category proportions are single int/int IEEE divisions;
  - the transcendental ln of each ratio is rounded to 9dp (the
    doc_perplexity recipe) -- one value per category row, never
    summed across engines;
  - KS cumulative fractions are per-row single divisions of exact
    integer cumulative counts; the max and its argmin tie-break
    compare deterministic doubles.

Scale shapes:
  - categorical_drift: two partial-agg'd passes collapse to
    |categories| rows; everything after is category-sized.
  - ks_test: one groupBy collapses both samples to per-distinct-value
    counts; cumulative counts reuse the two-level bucketed
    cumulative-sum machinery (operators/ranking.py) so no row table
    crosses SinglePartition; the statistic is a TakeOrdered(1) over
    the distinct-value table. Heavy value ties COLLAPSE at the first
    groupBy (ties are the cheap case, unlike per-row ranking).

Missing-category policy: PSI/KL are undefined when a category has
zero mass on either side (ln 0). This raises LOUDLY per-row instead
of silently epsilon-padding -- matching the repo's loud-validation
contract; callers who want epsilon smoothing can pre-aggregate.

Reference scope note: the reference engine (greeter_client.cc /
greeter_server.cc) has no monitoring surface; this is SURVEY
extension-brief territory (pipeline drift monitoring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ranking import bucket_offsets, bucketize_by_key

VALUE_COL = "v"


def categorical_drift(
    base: DataFrame, curr: DataFrame, cat_col: str
) -> DataFrame:
    """Per-category drift terms between a baseline and a current
    sample: [cat, n_base, n_curr, p_base, p_curr, psi_term, kl_term],
    ordered by cat. psi = sum(psi_term), KL(curr||base) =
    sum(kl_term); terms are left per-row so the report shows WHICH
    category moved. A category present on only one side raises."""
    a = base.groupBy(F.col(cat_col).alias("cat")).agg(
        F.count("*").alias("n_base")
    )
    b = curr.groupBy(F.col(cat_col).alias("cat")).agg(
        F.count("*").alias("n_curr")
    )
    return categorical_drift_from_counts(a, b)


def categorical_drift_from_counts(a: DataFrame, b: DataFrame) -> DataFrame:
    """categorical_drift, starting from already-aggregated per-
    category counts [cat, n_base] / [cat, n_curr] -- the report
    arithmetic of categorical_drift."""
    ta = a.agg(F.sum("n_base").alias("_ta"))
    tb = b.agg(F.sum("n_curr").alias("_tb"))
    joined = (
        a.join(b, "cat", "full_outer")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    missing = F.col("n_base").isNull() | F.col("n_curr").isNull()
    guard = F.when(
        missing,
        F.raise_error(
            F.concat(
                F.lit("categorical_drift: category '"),
                F.col("cat").cast("string"),
                F.lit(
                    "' has zero mass on one side -- PSI/KL are "
                    "undefined at ln(0); pre-smooth or drop it "
                    "explicitly"
                ),
            )
        ).cast("double"),
    )
    p_base = guard.otherwise(
        F.col("n_base").cast("double") / F.col("_ta").cast("double")
    )
    p_curr = guard.otherwise(
        F.col("n_curr").cast("double") / F.col("_tb").cast("double")
    )
    with_p = joined.withColumn("p_base", p_base).withColumn("p_curr", p_curr)
    lr = F.round(F.log(F.col("p_curr") / F.col("p_base")), 9)
    return (
        with_p.select(
            "cat",
            "n_base",
            "n_curr",
            "p_base",
            "p_curr",
            ((F.col("p_curr") - F.col("p_base")) * lr).alias("psi_term"),
            (F.col("p_curr") * lr).alias("kl_term"),
        )
        .orderBy("cat")
    )


def ks_test(sample_a: DataFrame, sample_b: DataFrame) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic: one row
    [n_a, n_b, ks_d, at_value] where ks_d = max over distinct values
    of |F_a(v) - F_b(v)| (right-continuous empirical CDFs) and
    at_value is the smallest value attaining it."""
    counts = (
        sample_a.select(F.col(VALUE_COL).alias("_v"))
        .groupBy("_v")
        .agg(F.count("*").alias("_ca"))
        .join(
            sample_b.select(F.col(VALUE_COL).alias("_v"))
            .groupBy("_v")
            .agg(F.count("*").alias("_cb")),
            "_v",
            "full_outer",
        )
        .select(
            "_v",
            F.coalesce(F.col("_ca"), F.lit(0)).alias("_ca"),
            F.coalesce(F.col("_cb"), F.lit(0)).alias("_cb"),
        )
    )
    bk = bucketize_by_key(counts, "_v")
    offs_a = bucket_offsets(bk, weight=F.col("_ca")).withColumnRenamed(
        "_off", "_offa"
    ).withColumnRenamed("_tot", "_na")
    offs_b = bucket_offsets(bk, weight=F.col("_cb")).withColumnRenamed(
        "_off", "_offb"
    ).withColumnRenamed("_tot", "_nb")
    w_upto = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("_ak"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        bk.withColumn("_la", F.sum("_ca").over(w_upto))
        .withColumn("_lb", F.sum("_cb").over(w_upto))
        .join(F.broadcast(offs_a), "_bkt")
        .join(F.broadcast(offs_b), "_bkt")
        .select(
            "_v",
            "_na",
            "_nb",
            F.abs(
                (F.col("_offa") + F.col("_la")).cast("double")
                / F.col("_na").cast("double")
                - (F.col("_offb") + F.col("_lb")).cast("double")
                / F.col("_nb").cast("double")
            ).alias("_d"),
        )
    )
    return (
        cum.orderBy(F.desc("_d"), F.asc("_v"))
        .limit(1)
        .select(
            F.col("_na").alias("n_a"),
            F.col("_nb").alias("n_b"),
            F.col("_d").alias("ks_d"),
            F.col("_v").alias("at_value"),
        )
    )


def benford_first_digit(df: DataFrame, cents_col: str) -> DataFrame:
    """Benford's-law first-digit audit over a positive exact-integer
    amount column: per digit d in 1..9 [digit, observed, total_n,
    observed_share, benford_p, expected, term, chi2] where benford_p
    = log10(1 + 1/d) (the first-digit law) and term is the Pearson
    deviation (o - n*p)^2 / (n*p) against it. The classic
    fabricated-amounts detector -- the theoretical-distribution twin
    of categorical_drift (which compares two EMPIRICAL sides).

    Determinism: the first digit is extracted by STRING head (both
    engines print a long identically; no log10-of-amount bucketing,
    whose boundary ulps could disagree). benford_p is the one
    transcendental -- rounded to 9dp and frozen as DECIMAL(10,9), so
    expected = n * p is an exact decimal product string-routed to
    double, and both engines square/divide identical doubles; terms
    are 9dp decimals summed exactly into chi2. A missing digit still
    gets its row (o=0 via the map lookup, contributing n*p to chi2
    -- dropping absent digits would understate the statistic exactly
    where fabrication is most visible).

    Scale: one partial-agg'd groupBy collapses to <= 9 rows, a
    second to ONE row (digit->count map + total); all nine digits'
    fields -- including the chi2 sum -- are projected inside that
    single row and exploded back out, so the only single-partition
    exchange in the plan is the 9-row final aggregate (no spine
    join, no unpartitioned window). Non-positive amounts raise
    per-row (no first digit)."""
    bad = F.col(cents_col).isNull() | (F.col(cents_col) <= 0)
    digit = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"benford_first_digit: non-positive/NULL '{cents_col}' "
                    "(value: "
                ),
                F.coalesce(F.col(cents_col).cast("string"), F.lit("NULL")),
                F.lit(") -- Benford's law applies to positive amounts; "
                      "filter or sign-split explicitly"),
            )
        ).cast("long"),
    ).otherwise(
        F.substring(F.col(cents_col).cast("string"), 1, 1).cast("long")
    )
    counts = df.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("observed")
    )
    one = counts.agg(
        F.map_from_entries(
            F.collect_list(F.struct("digit", "observed"))
        ).alias("_m"),
        F.sum("observed").alias("total_n"),
    )

    def obs(d: int):
        return F.coalesce(
            F.element_at(F.col("_m"), F.lit(d).cast("long")), F.lit(0)
        ).cast("long")

    def p9(d: int):
        # the one transcendental, frozen at 9dp before any arithmetic
        return F.round(F.log10(F.lit(1.0 + 1.0 / d)), 9).cast(
            "decimal(10,9)"
        )

    def expected(d: int):
        return (
            (F.col("total_n").cast("decimal(19,0)") * p9(d))
            .cast("decimal(30,9)")
            .cast("string")
            .cast("double")
        )

    def term9(d: int):
        od = obs(d).cast("double")
        e = expected(d)
        return F.round((od - e) * (od - e) / e, 9).cast("decimal(20,9)")

    # chained decimal adds grow precision (20,9)->(28,9), never
    # hitting the 38 cap where Spark would silently shed scale;
    # chi2 is projected ONCE before the array build -- inlining it
    # into all nine structs makes an expression tree big enough to
    # fail janino codegen
    chi2 = sum(
        (term9(d) for d in range(2, 10)), term9(1)
    ).cast("string").cast("double")
    staged = one.select("_m", "total_n", chi2.alias("_chi2"))
    entries = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("digit"),
                obs(d).alias("observed"),
                F.col("total_n").alias("total_n"),
                (obs(d).cast("double") / F.col("total_n").cast("double")).alias(
                    "observed_share"
                ),
                p9(d).cast("string").cast("double").alias("benford_p"),
                expected(d).alias("expected"),
                term9(d).cast("string").cast("double").alias("term"),
                F.col("_chi2").alias("chi2"),
            )
            for d in range(1, 10)
        ]
    )
    return (
        staged.select(F.explode(entries).alias("_r"))
        .select("_r.*")
        .orderBy("digit")
    )
