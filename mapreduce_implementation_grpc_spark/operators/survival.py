"""Kaplan-Meier survival estimation over right-censored lifetimes --
the product-limit estimator (Kaplan & Meier 1958), here applied to
user churn: how long does a user stay active, given that users still
active at the observation edge are censored, not churned.

Input is one row per subject: an integral `duration` (days from
first to last activity) and a `censored` flag (still active at the
horizon -- their true lifetime is only known to EXCEED duration).
Output is the KM table at distinct-duration grain:

    n_risk(t)   = subjects with duration >= t (standard convention:
                  deaths at t precede censorings at t, so both kinds
                  at t are still at risk for t)
    d(t), c(t)  = churn events / censorings exactly at t
    log_survival(t) = sum over event times u <= t of
                      round(ln((n_risk(u) - d(u)) / n_risk(u)), 9)

Distributed shape: ONE groupBy collapses subjects to duration grain
(distinct durations are bounded by the observation window in days --
thousands at most -- regardless of subject count), then every
statistic is a window over that reduced table: n_risk is
total - running-count-before (a suffix count), the survival curve a
running sum. The lint-critical property: the only single-partition
window runs over the duration-grain aggregate, never subjects.

Cross-engine exactness: counts are exact integers; each factor's
(n-d)/n is one long/long IEEE division (bit-identical); its ln is
rounded to 9dp (the repo-wide libm-parity idiom, see
operators/lm_score.py) and accumulated as DECIMAL(20,9) -- an
order-independent sum -- then string-routed to double. The curve is
shipped in LOG form: a final exp() would be the one expression whose
libm implementations may differ at 1 ulp between engines WITHOUT a
rounding step to absorb it, so exponentiation is left to the caller
(tests pin S(t) = exp(log_survival) monotone and in (0, 1]).

When every at-risk subject churns at some time t* (n = d), survival
hits exactly 0 and ln is undefined: rows from t* onward carry
survival_zero = true and a NULL log_survival -- loud, not NaN.

Reference scope note: the reference engine (greeter_client.cc:398-416)
has no survival/temporal surface; this extends the SURVEY temporal
family (retention, streaks, CUSUM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CENSORED_COL = "censored"


def kaplan_meier(subjects: DataFrame) -> DataFrame:
    """subjects[duration (integral), censored (bool)] -> KM table
    [duration, n_risk, n_events, n_censored, survival_zero,
    log_survival] ordered by duration."""
    grain = subjects.groupBy("duration").agg(
        F.sum((~F.col(CENSORED_COL)).cast("long")).alias("n_events"),
        F.sum(F.col(CENSORED_COL).cast("long")).alias("n_censored"),
        F.count("*").alias("_n_total"),
    )
    # at-risk at t = subjects with duration >= t: a suffix sum over
    # the duration grain -- no separate totals pass, and the one
    # single-partition window runs strictly over aggregated rows
    w_risk = Window.orderBy("duration").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = (
        grain.withColumn("n_risk", F.sum("_n_total").over(w_risk))
        .withColumn(
            "_term",
            F.when(
                F.col("n_risk") > F.col("n_events"),
                F.round(
                    F.log(
                        (F.col("n_risk") - F.col("n_events")).cast("double")
                        / F.col("n_risk").cast("double")
                    ),
                    9,
                ).cast("decimal(20,9)"),
            ),
        )
        .withColumn(
            "survival_zero",
            F.max((F.col("n_risk") == F.col("n_events")).cast("int")).over(w_cum)
            > 0,
        )
        .withColumn(
            "log_survival",
            F.when(
                ~F.col("survival_zero"),
                F.sum("_term").over(w_cum).cast("string").cast("double"),
            ),
        )
    )
    return km.select(
        "duration",
        F.col("n_risk").cast("long").alias("n_risk"),
        "n_events",
        "n_censored",
        "survival_zero",
        "log_survival",
    ).orderBy("duration")


def user_lifetimes(events: DataFrame) -> DataFrame:
    """Per-user activity lifetime from an events table: duration =
    last active day - first active day; censored if the user was
    still active within 7 days of the corpus edge (their
    lifetime is a lower bound, not an observation)."""
    spans = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_first"),
        F.max(F.to_date("ts")).alias("_last"),
    )
    edge = events.agg(F.max(F.to_date("ts")).alias("_edge"))
    return spans.crossJoin(F.broadcast(edge)).select(
        "user_id",
        F.datediff("_last", "_first").cast("long").alias("duration"),
        (F.datediff("_edge", "_last") < F.lit(7)).alias("censored"),
    )


def nelson_aalen(subjects: DataFrame) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the same
    right-censored lifetimes as `kaplan_meier`: H(t) = sum over event
    times u <= t of d(u) / n_risk(u) -- the integral-of-risk
    companion to the KM curve (Nelson 1972, Aalen 1978), preferred
    when hazard RATES (churn intensity per day at risk) are the
    object, and the quantity -ln(KM) approximates.

    Output [duration, n_risk, n_events, n_censored, cum_hazard]
    ordered by duration. Each increment d/n is ONE long/long IEEE
    division (no transcendental anywhere -- unlike the KM factors
    there is no ln to absorb), rounded 12dp into an order-independent
    DECIMAL running sum and string-routed back to double.

    Distributed shape: identical to `kaplan_meier` -- one groupBy to
    duration grain (bounded by the observation window in days), then
    a suffix-count window for n_risk and a prefix sum for the
    hazard; the only single-partition windows run over that reduced
    grain, never subjects."""
    grain = subjects.groupBy("duration").agg(
        F.sum((~F.col(CENSORED_COL)).cast("long")).alias("n_events"),
        F.sum(F.col(CENSORED_COL).cast("long")).alias("n_censored"),
        F.count("*").alias("_n_total"),
    )
    w_risk = Window.orderBy("duration").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    na = grain.withColumn("n_risk", F.sum("_n_total").over(w_risk)).withColumn(
        "_term",
        F.round(
            F.col("n_events").cast("double") / F.col("n_risk").cast("double"),
            12,
        ).cast("decimal(20,12)"),
    )
    return na.select(
        "duration",
        F.col("n_risk").cast("long").alias("n_risk"),
        "n_events",
        "n_censored",
        F.sum("_term").over(w_cum).cast("string").cast("double").alias(
            "cum_hazard"
        ),
    ).orderBy("duration")
