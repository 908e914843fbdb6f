"""Exact classifier-evaluation metrics: tie-corrected ROC AUC and
calibration (reliability) bins.

A quality-classifier gate is a standard stage of a pretraining-data
pipeline (score documents, keep the top slice); before trusting the
gate you measure (a) how well the score RANKS positives above
negatives (AUC) and (b) whether the score's magnitude means what it
claims (calibration / expected-calibration-error bins, Guo et al.,
"On Calibration of Modern Neural Networks").

AUC here is the exact Mann-Whitney rank-sum form WITH tie
correction -- ties credit half:

    U   = sum over distinct scores s of
             pos_s * neg_below(s) + pos_s * neg_s / 2
    AUC = U / (n_pos * n_neg)

computed entirely from per-distinct-score aggregates: no per-row
rank is ever materialized, and the only order-dependent quantity
(negatives strictly below each score) reuses the two-level bucketed
cumulative-sum machinery of operators/ranking.py -- per-bucket totals
cross a single-partition exchange only as a <= 1024-row
AGGREGATE, and the within-bucket running sum is a per-bucket window
over the distinct-score table. Everything is integer arithmetic
(u2 = 2U stays integral, accumulated as DECIMAL so a 100 TB corpus
widens instead of wrapping); the final AUC is a fixed-shape chain of
IEEE double ops, bit-identical across engines.

Scale: one pass over the scored rows (partial-agg'd groupBy on the
score), then all work happens on the distinct-score table. Heavy
score ties are FINE -- they collapse into single rows at the first
groupBy (the opposite of a per-row ranking, where ties are the skew
case).

Reference scope note: the reference engine (greeter_client.cc /
greeter_server.cc) has no evaluation surface; this is part of the
SURVEY's LLM-pipeline extension brief (quality-gate evaluation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ranking import bucket_offsets, bucketize_by_key

LABEL_COL = "label"
N_BINS = 10
N_DECILES = 10


def auc_rank_sum(scored: DataFrame) -> DataFrame:
    """Exact tie-corrected ROC AUC of `score` predicting the 0/1
    `label`: one row [n_pos, n_neg, u2, auc] where u2 = 2U (the
    doubled Mann-Whitney statistic, exact integer as DECIMAL(38,0))
    and auc = u2 / (2 * n_pos * n_neg) as one deterministic double
    chain. Degenerate inputs (no positives or no negatives) raise
    loudly rather than returning a meaningless 0/0."""
    per_score = scored.groupBy(F.col("score").alias("_s")).agg(
        F.sum(F.col(LABEL_COL).cast("long")).alias("_pos"),
        F.sum(F.lit(1) - F.col(LABEL_COL).cast("long")).alias("_neg"),
    )
    # negatives strictly below each distinct score: bucket offsets
    # (neg-weighted) + a within-bucket running sum ending at the
    # PREVIOUS row -- each score is one row post-groupBy, so "previous
    # rows in score order" is exactly "strictly lower scores"
    bk = bucketize_by_key(per_score, "_s")
    offs = bucket_offsets(bk, weight=F.col("_neg"))
    w_below = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("_ak"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_below = (
        bk.withColumn(
            "_neg_below_local", F.coalesce(F.sum("_neg").over(w_below), F.lit(0))
        )
        .join(F.broadcast(offs), "_bkt")
        .withColumn("_neg_below", F.col("_off") + F.col("_neg_below_local"))
    )
    # u2 contribution per score: pos * (2*neg_below + neg) -- exact
    # integers; DECIMAL(18,0) x DECIMAL(19,0) keeps precision <= 38
    contrib = F.col("_pos").cast("decimal(18,0)") * (
        F.lit(2) * F.col("_neg_below") + F.col("_neg")
    ).cast("decimal(19,0)")
    agg = with_below.agg(
        F.sum("_pos").alias("n_pos"),
        F.sum("_neg").alias("n_neg"),
        F.sum(contrib).cast("decimal(38,0)").alias("u2"),
    )
    guard = F.when(
        (F.col("n_pos") == 0) | (F.col("n_neg") == 0),
        F.raise_error(
            F.lit(
                "auc_rank_sum: need at least one positive AND one "
                "negative label -- AUC is undefined on a one-class "
                "sample"
            )
        ).cast("double"),
    )
    # u2 ships string-routed to double (the repo's wide-exact-integer
    # convention, cf. rev_micros): DECIMAL(38,0) pandas-ifies as
    # float64 on the DuckDB side, so both engines must emit the SAME
    # IEEE double via the same decimal-string parse.
    u2d = F.col("u2").cast("string").cast("double")
    auc = guard.otherwise(
        u2d
        / (
            F.lit(2.0)
            * F.col("n_pos").cast("double")
            * F.col("n_neg").cast("double")
        )
    )
    return agg.select("n_pos", "n_neg", u2d.alias("u2"), auc.alias("auc"))


def calibration_bins(
    scored: DataFrame,
    p_col: Column,
    label_col: Column,
) -> DataFrame:
    """Reliability-diagram bins for a probability column in [0, 1]:
    [bin, n, frac_pos, mean_p, abs_gap] per non-empty bin, bin =
    floor(p * N_BINS) with p = 1.0 clamped into the last bin.
    mean_p accumulates 9dp-decimal-rounded terms (order-independent
    sums, the doc_perplexity recipe) string-routed back to double;
    frac_pos is one int/int division; abs_gap = |mean_p - frac_pos|
    on those deterministic doubles. One partial-agg'd pass; output is
    n_bins rows."""
    b = F.least(F.lit(N_BINS - 1), F.floor(p_col * F.lit(N_BINS))).cast("long")
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.sum(label_col.cast("long")).alias("_npos"),
            F.sum(F.round(p_col, 9).cast("decimal(12,9)")).alias("_sp"),
        )
        .select(
            "bin",
            "n",
            (F.col("_npos").cast("double") / F.col("n").cast("double")).alias(
                "frac_pos"
            ),
            (
                F.col("_sp").cast("string").cast("double")
                / F.col("n").cast("double")
            ).alias("mean_p"),
        )
        .withColumn("abs_gap", F.abs(F.col("mean_p") - F.col("frac_pos")))
        .orderBy("bin")
    )


def average_precision(scored: DataFrame) -> DataFrame:
    """Exact tie-aware average precision (area under the PR curve by
    right-step interpolation) of `score` predicting the 0/1
    `label`: one row [n_pos, n_total, ap] with

        ap = (1/n_pos) * sum over distinct scores s (descending) of
                 pos_s * (cum_pos(s) / cum_n(s))

    where the cumulatives INCLUDE the block at s -- every row tied at
    a score is one operating point (the block convention; within-tie
    orderings do not exist, so the metric is deterministic). Each
    block term is one fixed IEEE chain rounded 12dp into an
    order-independent DECIMAL sum, string-routed back to double.

    Distributed shape: the ranking companion of `auc_rank_sum` -- one
    partial-agg'd groupBy collapses rows to distinct-score grain, and
    the descending cumulatives ride the two-level bucketed cumsum
    (per-bucket totals are the only rows crossing a single-partition
    exchange; within-bucket running sums are parallel windows). Heavy
    ties collapse at the first groupBy instead of skewing a sort."""
    per_score = scored.groupBy(F.col("score").alias("_s")).agg(
        F.count("*").alias("_n"),
        F.sum(F.col(LABEL_COL).cast("long")).alias("_pos"),
    )
    bk = bucketize_by_key(per_score, "_s", ascending=False)
    btot = bk.groupBy("_bkt").agg(
        F.sum("_n").alias("_bn"), F.sum("_pos").alias("_bp")
    )
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.select(
        "_bkt",
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_offn"),
        F.coalesce(F.sum("_bp").over(w_off), F.lit(0)).alias("_offp"),
    )
    w_loc = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("_ak"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        bk.withColumn("_cln", F.sum("_n").over(w_loc))
        .withColumn("_clp", F.sum("_pos").over(w_loc))
        .join(F.broadcast(offs), "_bkt")
        .withColumn("_cn", F.col("_offn") + F.col("_cln"))
        .withColumn("_cp", F.col("_offp") + F.col("_clp"))
    )
    term = F.round(
        F.col("_pos").cast("double")
        * (F.col("_cp").cast("double") / F.col("_cn").cast("double")),
        12,
    ).cast("decimal(27,12)")
    agg = cum.agg(
        F.sum("_pos").alias("n_pos"),
        F.sum("_n").alias("n_total"),
        F.sum(term).alias("_ts"),
    )
    guard = F.when(
        F.col("n_pos") == 0,
        F.raise_error(
            F.lit(
                "average_precision: need at least one positive label "
                "-- AP is undefined on an all-negative sample"
            )
        ).cast("double"),
    )
    ap = guard.otherwise(
        F.col("_ts").cast("string").cast("double")
        / F.col("n_pos").cast("double")
    )
    return agg.select("n_pos", "n_total", ap.alias("ap"))


def lift_table(scored: DataFrame) -> DataFrame:
    """Gain/lift table of `score` predicting the 0/1 `label`:
    [decile, n_rows, n_pos, resp_rate, lift, cum_capture] with decile
    0 = the highest-scored slice. Deciles are BLOCK-ASSIGNED: every
    row tied at a distinct score goes to the decile of the block's
    FIRST row (decile = (N_DECILES * rows_strictly_above) DIV n,
    exact integer division -- no per-row global rank, no float
    boundary). Decile populations are therefore approximately-equal
    (ties never split), which is the deterministic, scale-honest
    convention: the alternative -- ntile() over a global sort --
    needs a SinglePartition sort of every row and an arbitrary
    within-tie order.

    lift = (pos_d/n_d) / (pos_total/n_total) as one fixed IEEE chain;
    cum_capture = cumulative share of all positives captured through
    the decile (a window over <= N_DECILES rows). Distributed shape:
    identical to `average_precision` -- distinct-score grain + the
    two-level bucketed cumsum."""
    per_score = scored.groupBy(F.col("score").alias("_s")).agg(
        F.count("*").alias("_n"),
        F.sum(F.col(LABEL_COL).cast("long")).alias("_pos"),
    )
    bk = bucketize_by_key(per_score, "_s", ascending=False)
    btot = bk.groupBy("_bkt").agg(F.sum("_n").alias("_bn"))
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = btot.select(
        "_bkt",
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_offn"),
        F.sum("_bn").over(w_all).alias("_totn"),
    )
    w_above = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("_ak"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dec = (
        bk.withColumn(
            "_la", F.coalesce(F.sum("_n").over(w_above), F.lit(0))
        )
        .join(F.broadcast(offs), "_bkt")
        .withColumn("_above", F.col("_offn") + F.col("_la"))
        .withColumn(
            "decile",
            F.least(
                F.lit(N_DECILES - 1),
                F.expr(f"{N_DECILES} * _above DIV _totn"),
            ).cast("long"),
        )
    )
    per_dec = dec.groupBy("decile").agg(
        F.sum("_n").alias("n_rows"), F.sum("_pos").alias("n_pos")
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        per_dec.withColumn("_tn", F.sum("n_rows").over(w_tot))
        .withColumn("_tp", F.sum("n_pos").over(w_tot))
        .withColumn("_cp", F.sum("n_pos").over(w_cum))
        .select(
            "decile",
            "n_rows",
            "n_pos",
            (
                F.col("n_pos").cast("double") / F.col("n_rows").cast("double")
            ).alias("resp_rate"),
            (
                (F.col("n_pos").cast("double") / F.col("n_rows").cast("double"))
                / (F.col("_tp").cast("double") / F.col("_tn").cast("double"))
            ).alias("lift"),
            (
                F.col("_cp").cast("double") / F.col("_tp").cast("double")
            ).alias("cum_capture"),
        )
    )
    return out.orderBy("decile")


def chi_square_cells(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Pearson chi-square contingency cells for two categorical
    columns: per cell the observed count, the independence
    expectation e = r*c/n, and the contribution
    (o - e)^2 / e -- algebraically (o*n - r*c)^2 / (r*c*n), so every
    input to the IEEE arithmetic is an EXACT integer (counts and
    their products), string-routed through decimals where they
    exceed 2^53: both engines square and divide the bit-identical
    doubles. The summed statistic and dof ride every row (a window
    over the cell grain -- category-count-sized, never facts).

    Scale: one groupBy to cell grain; row/col totals are windows
    over that grain (category cardinality bounds everything);
    nothing but the original groupBy touches fact rows.

    The chi-square test of independence is the categorical-drift
    sibling of value_drift_ks / corpus_drift_psi: "is segment
    independent of nation" asked exactly."""
    cells = df.groupBy(
        F.col(row_col).alias("r_cat"), F.col(col_col).alias("c_cat")
    ).agg(F.count("*").alias("observed"))
    wr = Window.partitionBy("r_cat")
    wc = Window.partitionBy("c_cat")
    wall = Window.partitionBy()
    t = (
        cells.withColumn("_r", F.sum("observed").over(wr))
        .withColumn("_c", F.sum("observed").over(wc))
        .withColumn("_n", F.sum("observed").over(wall))
        .withColumn("_nr", F.size(F.collect_set("r_cat").over(wall)))
        .withColumn("_nc", F.size(F.collect_set("c_cat").over(wall)))
    )
    num = (
        F.col("observed").cast("decimal(18,0)") * F.col("_n").cast("decimal(19,0)")
        - F.col("_r").cast("decimal(18,0)") * F.col("_c").cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    den = (
        F.col("_r").cast("decimal(12,0)")
        * F.col("_c").cast("decimal(12,0)")
    ).cast("decimal(25,0)") * F.col("_n").cast("decimal(12,0)")
    numd = num.cast("string").cast("double")
    dend = den.cast("decimal(38,0)").cast("string").cast("double")
    scored = t.withColumn(
        "expected",
        (
            (F.col("_r").cast("decimal(18,0)") * F.col("_c").cast("decimal(19,0)"))
            .cast("decimal(38,0)").cast("string").cast("double")
            / F.col("_n").cast("double")
        ),
    ).withColumn(
        "term", F.round(numd * numd / dend, 9).cast("decimal(20,9)")
    )
    return scored.select(
        F.col("r_cat").alias(row_col),
        F.col("c_cat").alias(col_col),
        "observed",
        "expected",
        F.col("term").cast("string").cast("double").alias("term"),
        F.sum("term").over(wall).cast("string").cast("double").alias("chi2"),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1)).cast("long").alias("dof"),
    ).orderBy(row_col, col_col)
