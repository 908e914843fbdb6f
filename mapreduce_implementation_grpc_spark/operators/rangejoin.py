"""Bucketed time-range join: all (left, right) pairs with the same
key where right_ts falls in [left_ts - max_gap, left_ts] -- the
attribution / feature-window primitive (e.g. every click within 24 h
before a purchase by the same user).

The reference has no joins at all (SURVEY.md section 2a "What the
reference does NOT have"); this is extension surface alongside the
as-of join (operators/asof.py), which keeps only the LATEST
preceding row -- a range join keeps EVERY row in the window.

Spark executes a raw inequality join (`ON key AND r.ts BETWEEN ...`)
as a shuffled equi-join on key followed by a per-key pair filter --
fine for uniform keys, quadratic in the hottest key's row count. The
scale-safe shape used here removes the per-key blow-up *before* the
join, with time bucketing:

  1. pick bucket width W = max_gap; left rows get their single
     bucket floor(ts/W);
  2. right rows are exploded into TWO buckets, floor(ts/W) and
     floor(ts/W)+1 -- every window of length W that covers a right
     row starts in one of those two buckets;
  3. equi-join on (key, bucket) -- a plain shuffled hash/sort-merge
     join with NO inequality residual on the join key space -- then
     filter the exact time predicate.

Each qualifying pair is emitted exactly once (the left row's bucket
is unique, so a right row's two candidate buckets can match it at
most once). Join fan-out per (key, bucket) is bounded by the rows in
a 2W time slice, not the key's whole history: at 100 TB the shuffle
is uniform in (key, time), and a year-long hot key no longer
produces a year x year pair explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def time_range_pairs(
    left: DataFrame,
    right: DataFrame,
    key: str,
    max_gap_s: int,
) -> DataFrame:
    """All (left, right) pairs sharing `key` with
    left_ts - max_gap_s <= right_ts <= left_ts (bounds inclusive).

    Returns the left columns plus every right column suffixed `_r`
    and `gap_us` = left_ts - right_ts in exact integer microseconds.
    """
    w_us = int(max_gap_s) * 1_000_000

    # exact integer division for the bucket id: floor(double) could
    # mis-bucket a timestamp within a few ulp of a boundary and
    # silently drop a pair (epoch micros are positive, so truncating
    # `div` == floor)
    # cast("timestamp") first: parquet TIMESTAMP_NTZ columns are not
    # accepted by unix_micros, and with the session TZ pinned to UTC
    # (session.py) the cast is value-preserving for both variants
    l_us = F.unix_micros(F.col("ts").cast("timestamp"))
    l = left.withColumn("_us", l_us).withColumn(
        "_bucket", F.expr(f"_us div {w_us}")
    )

    r_us = F.unix_micros(F.col("ts").cast("timestamp"))
    r = (
        right.withColumn("_us_r", r_us)
        .withColumn("_b0", F.expr(f"_us_r div {w_us}"))
        # a window of width W covering this row starts in _b0 or _b0+1
        .withColumn("_bucket", F.explode(F.array(F.col("_b0"), F.col("_b0") + 1)))
        .drop("_b0")
    )
    r = r.select(
        F.col(key).alias("_key_r"),
        F.col("_bucket"),
        F.col("_us_r"),
        *[F.col(c).alias(f"{c}_r") for c in right.columns if c != key],
    )

    pairs = l.join(
        r,
        on=[l[key] == r["_key_r"], l["_bucket"] == r["_bucket"]],
        how="inner",
    ).filter(
        (F.col("_us_r") <= F.col("_us"))
        & (F.col("_us_r") >= F.col("_us") - F.lit(w_us))
    )
    return pairs.select(
        *left.columns,
        *[f"{c}_r" for c in right.columns if c != key],
        (F.col("_us") - F.col("_us_r")).alias("gap_us"),
    )
