"""Distributed exact global ranking -- row_number/percent_rank over
an arbitrarily large table WITHOUT a single-partition sort.

The naive form (`row_number() OVER (ORDER BY k)` with no PARTITION BY)
plans `Exchange SinglePartition -> Sort` over every input row: the
reference's single-reducer bug (greeter_server.cc:105-110, O15) in
window-function clothing, and the one plan shape the repo's plan lint
forbids over unreduced rows. This module computes the identical
numbers with a two-level scheme:

1. a VALUE-RANGE bucket id, monotone in the sort key (IEEE
   subtraction / division by a positive constant round monotonically,
   so `floor((k - lo)/w)` never inverts an ordering, and equal keys
   always share a bucket);
2. per-bucket totals -> cumulative offsets. Only this
   <= n_buckets-row AGGREGATE table ever crosses a single-partition
   exchange;
3. a within-bucket window partitioned by bucket id (one hash
   shuffle, parallel per-bucket sorts);
4. global position = bucket offset + within-bucket position.

`bucketize_by_key` + `bucket_offsets` are the shared machinery;
`with_global_row_number` composes them for per-row ranks, and
plans/analytics.orders_price_deciles composes them cnt-WEIGHTED for
rank ranges over a grouped distribution.

Key precision: the sort key is compared as DOUBLE on both paths
(ascending casts, descending negates), exact for doubles and for
integer keys up to 2^53 -- long keys beyond that can collapse to the
same double and fall through to the tiebreaks, where the naive window
would order them by the exact integer.

Scale: one pass for the key stats, one partial-agg'd shuffle for the
bucket totals, one hash shuffle for the per-bucket window. Skewed key
distributions put many rows in one bucket (one big sort task) --
n_buckets trades skew resistance against offset-table size; heavy
single-VALUE skew is inherent to ranking (ties must meet anyway).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize


def bucketize_by_key(
    df: DataFrame,
    key: str,
    ascending: bool = True,
    n_buckets: int = 1024,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Append `_ak` (the key as an ascending double) and `_bkt` (a
    value-range bucket id, monotone non-decreasing in `_ak`; equal
    keys always share a bucket). The input is lazily checkpointed --
    the stats aggregate and every downstream consumer read ONE
    materialization of the lineage instead of recomputing it.

    The key must be non-null and non-NaN: a NULL `_bkt` would silently
    DROP the row at the offsets equi-join (diverging from the naive
    window, which ranks nulls). Enforced per-row with a raise_error
    guard inside the `_ak` projection -- fails the job loudly at
    execution time, costs no extra Spark job."""
    raw = F.col(key).cast("double")
    bad = F.col(key).isNull() | F.isnan(raw) | raw.isNull()
    ak = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"bucketize_by_key: NULL/NaN/uncastable '{key}' key "
                    f"(value: "
                ),
                F.coalesce(F.col(key).cast("string"), F.lit("NULL")),
                F.lit(") -- global ranking requires a total order; filter "
                      "or impute null keys explicitly before ranking"),
            )
        ).cast("double"),
    ).otherwise(raw if ascending else -raw)
    # the stats aggregate + every downstream consumer share ONE
    # materialization of the (table-sized) input
    base = materialize(df.withColumn("_ak", ak))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets))
    bucket = F.when(F.col("_hi") <= F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1), F.floor((F.col("_ak") - F.col("_lo")) / width)
        )
    )
    if group_cols:
        # GROUP-SCOPED variant: per-group value ranges, so every
        # group gets its own 1024-bucket ladder and the downstream
        # windows partition by (group, _bkt) -- no per-group sort of
        # a fact-sized grain anywhere (the weighted-median wall in
        # SCALING.md's "robust-aggregate ladder"). The stats table is
        # group-sized; the join back is a plain equi-join (AQE
        # broadcasts it when the group count is small).
        stats = base.groupBy(*group_cols).agg(
            F.min("_ak").alias("_lo"), F.max("_ak").alias("_hi")
        )
        return (
            base.join(stats, list(group_cols))
            .withColumn("_bkt", bucket.cast("long"))
            .drop("_lo", "_hi")
        )
    stats = base.agg(F.min("_ak").alias("_lo"), F.max("_ak").alias("_hi"))
    return (
        base.crossJoin(F.broadcast(stats))
        .withColumn("_bkt", bucket.cast("long"))
        .drop("_lo", "_hi")
    )


def bucket_offsets(
    bucketed: DataFrame,
    weight: Column | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-bucket cumulative offsets [*group_cols, _bkt, _off, _tot]:
    _off = total weight of all LOWER buckets (of the same group when
    `group_cols` is given), _tot = the (group's) grand total.
    `weight` defaults to row counts. Ungrouped, the only
    single-partition windows run over this <= n_buckets-row
    aggregate; grouped, the windows are PARTITIONED by group over
    <= n_buckets rows each -- no single-partition exchange at all,
    at any group count."""
    agg = F.count("*") if weight is None else F.sum(weight)
    keys = [*group_cols, "_bkt"]
    totals = bucketed.groupBy(*keys).agg(agg.cast("long").alias("_bcnt"))
    if group_cols:
        w_off = (
            Window.partitionBy(*group_cols)
            .orderBy("_bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_all = (
            Window.partitionBy(*group_cols)
            .orderBy("_bkt")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
    else:
        w_off = Window.orderBy("_bkt").rowsBetween(
            Window.unboundedPreceding, -1
        )
        w_all = Window.orderBy("_bkt").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    return totals.select(
        *keys,
        F.coalesce(F.sum("_bcnt").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_bcnt").over(w_all).alias("_tot"),
    )


def with_global_row_number(
    df: DataFrame,
    key: str,
    tiebreaks: Sequence[Column] = (),
    ascending: bool = True,
    out_col: str = "rn",
    total_col: str | None = None,
) -> DataFrame:
    """Append the exact global `row_number() OVER (ORDER BY key
    [DESC], *tiebreaks)` as `out_col` (and optionally the total row
    count as `total_col`, for percent_rank/cume_dist arithmetic)
    without any single-partition exchange over `df`'s rows.

    `key` must be a non-null numeric column (see the module docstring
    for the 2^53 caveat on huge integer keys); `tiebreaks` are
    F.asc/F.desc columns applied after the key, exactly as in a
    window ORDER BY."""
    bk = bucketize_by_key(df, key, ascending=ascending)
    offsets = bucket_offsets(bk)
    w_local = Window.partitionBy("_bkt").orderBy(F.asc("_ak"), *tiebreaks)
    ranked = (
        bk.withColumn("_lrn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_bkt")
        .withColumn(out_col, F.col("_off") + F.col("_lrn"))
    )
    if total_col is not None:
        ranked = ranked.withColumn(total_col, F.col("_tot"))
    return ranked.drop("_ak", "_bkt", "_lrn", "_off", "_tot")
