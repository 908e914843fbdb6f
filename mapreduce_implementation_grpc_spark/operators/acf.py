"""Exact sample autocorrelation (ACF) of grouped integer time
series -- the lag-correlogram every seasonality/anomaly pipeline
reads before picking window sizes (Box & Jenkins).

For a complete series y_0..y_{n-1} per group, the sample ACF at lag k
is
    r_k = sum_{t<n-k} (y_t - ybar)(y_{t+k} - ybar)
        / sum_t (y_t - ybar)^2 .

Cross-engine exactness via the mean-clearing trick: ybar = S/n is not
exactly representable, but substituting z_t = n*y_t - S = n(y_t-ybar)
scales numerator and denominator by the same n^2, which cancels in
the ratio -- so r_k = sum(z_t * z_{t+k}) / sum(z_t^2) holds EXACTLY
with every term an integer. Both sums accumulate as DECIMAL(38,0)
(order-independent), ship through the string-routed decimal->double
cast, and the single IEEE division is bit-identical in Spark and
DuckDB. No rounding anywhere.

Distributed shape: the series is an aggregate (e.g. day-grain counts
per event type), so it is tiny relative to the fact table no matter
the fact scale; lag alignment is lead(z, k) inside ONE window pass
over the series (r11 -- the r9 shape exploded the 1..max_lag lag
list and equi-joined the series against itself, re-evaluating the
unpinned series subtree once per consumer: 4+ upstream scans plus a
max_lag-times-multiplied join input; now the group stats, every
lagged product and the denominator all ride a single shuffle on the
group key, and the series subtree is evaluated exactly once).
Group count x series length x max_lag bounds all downstream work.

Magnitude headroom: |z| <= n * max|y|; with day counts up to 1e10
and n up to ~4000 days, z^2 sums stay ~1e29 << 1e38, and ANSI
decimal overflow raises loudly rather than wrapping past that.

Contract: the input must be a COMPLETE series per group (every t in
0..n-1 present exactly once -- zero-fill gaps upstream; the registry
query builds a dense day spine). lead() aligns by POSITION, so a gap
or a repeated t would silently pair the wrong points; the plan checks
the contract on every row (min t = 0 and each next t = t + 1 within
the group) and fails via raise_error inside the same window pass, no
extra job. A constant series (z = 0, den = 0)
has no defined autocorrelation and is excluded, mirroring the OLS
constant-x rule in regression.py.

Reference scope note: the reference engine (greeter_client.cc:398-416)
has no time-series surface; ACF extends the temporal family
(EWMA/CUSUM/seasonality) of the SURVEY extension brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ACF_MAX_LAG = 7


def autocorrelation(
    series: DataFrame,
    group_col: str,
    t_col: str,
    y_col: str,
) -> DataFrame:
    """series[group, t (0..n-1 dense), y (integral)] ->
    [group, lag, n_points, acf] for lag 1..ACF_MAX_LAG, constant groups
    dropped. A group whose t is not exactly 0..n-1 fails the query
    (raise_error) instead of returning misaligned lags.

    One window pass: per-group n and S are whole-partition window
    aggregates and the k-step alignment is lead(z, k) over the same
    partitioning, so the series subtree is scanned once and the only
    exchange is the group-key window shuffle (the groupBy that
    follows reuses that partitioning). Every decimal cast is the
    identical expression of the r9 join form -- the numerator term
    for lag k is z_t (decimal(18,0)) times z_{t+k} (decimal(19,0)),
    summed and cast decimal(38,0) -- so the result is bit-identical;
    a (group, lag) with no aligned pair produced no join row before
    and produces a NULL sum now, dropped by the same contract."""
    from pyspark.sql import Window

    wp = Window.partitionBy(group_col)
    wo = Window.partitionBy(group_col).orderBy(F.asc("_t"))
    next_t = F.lead("_t", 1).over(wo)
    dense = (F.col("_t0") == 0) & (next_t.isNull() | (next_t == F.col("_t") + 1))
    z = series.select(
        group_col,
        F.count("*").over(wp).alias("_n"),
        (
            F.count("*").over(wp) * F.col(y_col) - F.sum(y_col).over(wp)
        )
        .cast("decimal(19,0)")
        .alias("_z"),
        F.col(t_col).alias("_t"),
        F.min(t_col).over(wp).alias("_t0"),
    ).select(
        group_col,
        "_n",
        # the contract check rides the column every row's aggregate
        # reads, so it cannot be pruned away
        F.when(dense, F.col("_z"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"autocorrelation: {t_col} of group "),
                    F.col(group_col).cast("string"),
                    F.lit(" is not the dense series 0..n-1"),
                )
            )
        )
        .alias("_z"),
        *[
            F.lead("_z", k).over(wo).alias(f"_z{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    agg = z.groupBy(group_col).agg(
        F.max("_n").alias("n_points"),
        F.sum(
            F.col("_z").cast("decimal(18,0)") * F.col("_z").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("_den"),
        *[
            F.sum(
                F.col("_z").cast("decimal(18,0)")
                * F.col(f"_z{k}").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias(f"_num{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stacked = agg.filter(F.col("_den") != 0).selectExpr(
        group_col,
        "n_points",
        "_den",
        "stack({n}, {parts}) AS (lag, _num)".format(
            n=ACF_MAX_LAG,
            parts=", ".join(
                f"CAST({k} AS BIGINT), _num{k}" for k in range(1, ACF_MAX_LAG + 1)
            ),
        ),
    )
    return (
        stacked.filter(F.col("_num").isNotNull())
        .select(
            group_col,
            "lag",
            "n_points",
            (
                F.col("_num").cast("string").cast("double")
                / F.col("_den").cast("string").cast("double")
            ).alias("acf"),
        )
        .orderBy(group_col, "lag")
    )
