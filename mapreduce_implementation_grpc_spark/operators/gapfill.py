"""Time-series gap filling with forward fill (LOCF).

The classic sparse-to-dense resample: observations arrive at
irregular timestamps; downstream consumers (feature stores, charting,
training-curriculum schedulers) want one row per key per fixed time
bucket, with missing buckets carrying the last observed value
forward. The reference engine has no time-series surface at all, so
this is pure extension surface in the spirit of its aggregation
pipeline (greeter_server.cc:105-110 reduces per key; this reduces per
key per bucket and then DENSIFIES).

Spark-first shape, per stage:

1. bucket + keep the LAST observation per (key, bucket) — one
   `row_number` window, descending (ts, tiebreak) so the pick is
   deterministic under concurrent-timestamp data;
2. per-key span [min(bucket), max(bucket)] — one partial-aggregated
   groupBy;
3. dense grid = `explode(sequence(span_lo, span_hi, interval))` —
   generated DISTRIBUTED, each key's grid materializes on the
   executor that owns the key's span row; no driver-side loop, no
   cross join against a calendar table;
4. left join observations onto the grid (same key+bucket partitioning
   as stage 1 — AQE reuses the shuffle layout);
5. forward fill = `last(value, ignoreNulls=True)` over
   (key ORDER BY bucket ROWS UNBOUNDED PRECEDING..CURRENT) — the
   standard LOCF window, one shuffle on key.

Scale: everything partitions by key; the only fan-out is the grid
itself (rows = key-span / step), which is the OUTPUT size — a
gap-fill cannot do less work than its result. Skewed key spans (one
key alive for years, most for hours) are ordinary AQE-split
territory because the explode happens after the span shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_fill_forward(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Densify `df` to one row per `key` per one-hour bucket between
    that key's first and last observation, forward-filling
    `value_col`. Output: [key, bucket (timestamp), filled_value,
    is_gap] where is_gap marks synthesized rows. The last observation
    per bucket wins, ordered by (ts, all remaining columns) so ties
    are deterministic."""
    tie_cols = [c for c in df.columns if c not in (key, ts_col, value_col)]
    pick = Window.partitionBy(key, "bucket").orderBy(
        F.desc(ts_col), *[F.desc(c) for c in tie_cols]
    )
    obs = (
        df.withColumn("bucket", F.date_trunc("hour", F.col(ts_col)))
        .withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(key, "bucket", F.col(value_col).alias("_obs"))
    )
    span = obs.groupBy(key).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    grid = span.select(
        key,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("INTERVAL 1 hour"))
        ).alias("bucket"),
    )
    fill = Window.partitionBy(key).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(obs, [key, "bucket"], "left")
        .select(
            key,
            "bucket",
            F.last("_obs", ignorenulls=True).over(fill).alias("filled_value"),
            F.col("_obs").isNull().alias("is_gap"),
        )
    )
