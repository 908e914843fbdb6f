"""As-of (point-in-time) join: for each left row, attach the latest
right row with right_ts <= left_ts for the same key -- the
feature-store operation of a training pipeline (join each example to
the freshest feature snapshot that existed at example time, never a
future one: leakage-free by construction).

Spark has no native ASOF JOIN (DuckDB/pandas do). A naive range
join (l JOIN r ON key AND r.ts <= l.ts, then max) explodes to every
(left, earlier-right) pair -- quadratic per key. The scale-safe shape
used here is the union + ordered-window trick:

  1. tag left rows side=1, right rows side=0, union them;
  2. one window per key ordered by (ts, side): running
     last(value, ignoreNulls) carries the newest right payload
     forward;
  3. keep only left rows.

Cost: ONE shuffle on the key (the window), linear rows, no pair
blow-up -- at 100 TB this is the same price as any keyed window.
Right rows sort before left rows at equal ts, so matching is
inclusive (right_ts == left_ts matches).

Requirement: the right side must be unique per (key, ts) -- callers
pre-aggregate (a feature snapshot table is). The whole right payload
is carried as ONE struct, so the attached values are always an
atomic snapshot from a single right row, never a column-wise mix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

LEFT_TS = "ts"
RIGHT_TS = "ts"  # asof_join_nearest's right-side timestamp column


def _micros(c: Column) -> Column:
    """Epoch microseconds for TIMESTAMP or TIMESTAMP_NTZ input: NTZ
    casts through TIMESTAMP first (identity under the UTC session
    timezone this engine pins; testdata timestamps are wall-UTC)."""
    return F.unix_micros(c.cast("timestamp"))


def _validate_asof_columns(
    left: DataFrame,
    right: DataFrame,
    left_payload: list[str],
    value_cols: list[str],
    reserved: set[str],
) -> None:
    """Loud build-time guard (ADVICE r5): a left payload column that
    shares a name with a right value column would silently SHADOW one
    of the two in the output (duplicate names resolve positionally),
    and a user column named like an internal staging column (`_t`,
    `_tus`, `_side`, `_snap`) or the `asof_ts_us` output would be
    clobbered mid-plan. Wrong-but-plausible feature frames are worse
    than an error, so both collisions raise."""
    clash = set(left_payload) & set(value_cols)
    if clash:
        raise ValueError(
            "asof join: left payload and right value columns must be "
            f"disjoint, got both-sides columns {sorted(clash)} -- "
            "rename one side before joining"
        )
    used = set(left.columns) | set(right.columns)
    hit = used & reserved
    if hit:
        raise ValueError(
            f"asof join: column names {sorted(hit)} are reserved for "
            "internal staging / the asof_ts_us output -- rename them "
            "before joining"
        )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    by: str,
    value_cols: list[str] | None = None,
    tolerance_us: int | None = None,
) -> DataFrame:
    """Nearest as-of join: every left row plus the right row (same
    `by` key) whose RIGHT_TS is CLOSEST to left_ts in either
    direction, optionally within +-tolerance_us microseconds; ties
    (one candidate exactly as far in the past as another is in the
    future) prefer the PAST row, matching the leakage bias of the
    backward join. NULL payload when no candidate is in tolerance.

    Same scale shape as asof_join -- union + keyed windows, never a
    pair join: a BACKWARD pass (order ts asc) carries the latest
    earlier snapshot, a FORWARD pass (order ts desc) carries the
    earliest later one. Both windows share partitionBy(by), so Spark
    plans ONE exchange with two sorts; rows stay linear at 100 TB.
    At equal timestamps the right row sorts before the left row in
    BOTH passes (side asc), so an exact-ts match is inclusive and the
    tie resolves to that same row.

    Requirement (as asof_join): right unique per (by, RIGHT_TS) --
    callers pre-aggregate. The matched right timestamp is returned as
    `asof_ts_us` (microseconds, long) so callers can compute signed
    gaps; it is NULL exactly when the payload is NULL."""
    value_cols = value_cols or [
        c for c in right.columns if c not in (by, RIGHT_TS)
    ]
    left_payload = [c for c in left.columns if c not in (by, LEFT_TS)]
    _validate_asof_columns(
        left, right, left_payload, value_cols,
        reserved={"_t", "_tus", "_side", "_snap", "_rts", "asof_ts_us"},
    )
    snap_type = StructType(
        [StructField("_rts", LongType())]
        + [StructField(c, right.schema[c].dataType) for c in value_cols]
    )

    l_side = left.select(
        F.col(by),
        _micros(F.col(LEFT_TS)).alias("_tus"),
        F.col(LEFT_TS).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left_payload],
        F.lit(None).cast(snap_type).alias("_snap"),
    )
    r_side = right.select(
        F.col(by),
        _micros(F.col(RIGHT_TS)).alias("_tus"),
        F.col(RIGHT_TS).cast(left.schema[LEFT_TS].dataType).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        F.struct(
            _micros(F.col(RIGHT_TS)).alias("_rts"),
            *[F.col(c) for c in value_cols],
        ).alias("_snap"),
    )
    u = l_side.unionByName(r_side)
    w_back = (
        Window.partitionBy(by)
        .orderBy(F.asc("_tus"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(by)
        .orderBy(F.desc("_tus"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.select(
        by,
        "_tus",
        "_t",
        "_side",
        *left_payload,
        F.last("_snap", ignorenulls=True).over(w_back).alias("_b"),
        F.last("_snap", ignorenulls=True).over(w_fwd).alias("_f"),
    ).filter(F.col("_side") == 1)

    lt = F.col("_tus")
    d_back = lt - F.col("_b._rts")           # >= 0 by construction
    d_fwd = F.col("_f._rts") - lt            # >= 0 by construction
    tol_ok_b = F.lit(True) if tolerance_us is None else d_back <= F.lit(tolerance_us)
    tol_ok_f = F.lit(True) if tolerance_us is None else d_fwd <= F.lit(tolerance_us)
    b_ok = F.col("_b").isNotNull() & tol_ok_b
    f_ok = F.col("_f").isNotNull() & tol_ok_f
    chosen = (
        F.when(b_ok & (~f_ok | (d_back <= d_fwd)), F.col("_b"))
        .when(f_ok, F.col("_f"))
    )
    return carried.select(
        by,
        F.col("_t").alias(LEFT_TS),
        *left_payload,
        chosen["_rts"].alias("asof_ts_us"),
        *[chosen[c].alias(c) for c in value_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    right_ts: str = "ts",
) -> DataFrame:
    """Left as-of join. Returns every left row plus, for each right
    column other than `by` and right_ts, the value from the latest right
    row whose right_ts <= the left row's ts (same `by` key); NULL when
    no such row."""
    value_cols = [c for c in right.columns if c not in (by, right_ts)]
    left_payload = [c for c in left.columns if c not in (by, LEFT_TS)]
    _validate_asof_columns(
        left, right, left_payload, value_cols,
        reserved={"_t", "_side", "_snap"},
    )
    snap_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in value_cols]
    )

    l_side = left.select(
        F.col(by),
        F.col(LEFT_TS).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left_payload],
        F.lit(None).cast(snap_type).alias("_snap"),
    )
    r_side = right.select(
        F.col(by),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        F.struct(*[F.col(c) for c in value_cols]).alias("_snap"),
    )
    u = l_side.unionByName(r_side)
    w = (
        Window.partitionBy(by)
        .orderBy(F.asc("_t"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.select(
        by,
        "_t",
        "_side",
        *left_payload,
        F.last("_snap", ignorenulls=True).over(w).alias("_snap"),
    )
    return carried.filter(F.col("_side") == 1).select(
        by,
        F.col("_t").alias(LEFT_TS),
        *left_payload,
        *[F.col(f"_snap.{c}").alias(c) for c in value_cols],
    )
