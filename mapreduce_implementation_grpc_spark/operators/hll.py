"""Portable HyperLogLog (Flajolet et al. 2007) -- the deterministic,
cross-engine-checkable twin of Spark's built-in approx_count_distinct
(whose HLL++ registers live behind an engine-private hash, so the
registry's `approx_distinct_users` can only ever be a rows-only
check). Here every step is reproducible arithmetic:

- register index = low 8 bits of the 60-bit portable md5 hash
  (m = 256 registers), rho = leading-zero rank of the remaining 52
  bits via binary-string length (`conv(w, 10, 2)` / DuckDB `bin(w)`
  -- both minimal-width);
- the harmonic sum uses NO floating accumulation: each register
  contributes the exact integer 2^(53 - M_j), summed as BIGINT
  (max 256 * 2^53 = 2^61, no overflow), and empty registers add
  2^53 each -- one exact integer total, one double division at the
  end;
- the small-range (linear counting) correction applies below 2.5m
  with empty registers, matching the published estimator.

Estimate quality is the standard ~1.04/sqrt(256) = 6.5% relative
error; the registry query reports it side by side with the exact
distinct count so the error is measured, not asserted away.

Scale: one groupBy((group, register)) with partial max -- 256 rows
per group out of any row count; this is the mergeable-sketch layout
(register maxes union by max), the same shape a 1000-executor
rollup would ship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash60

M_REGISTERS = 256
ALPHA = 0.7213 / (1.0 + 1.079 / M_REGISTERS)
W_BITS = 52  # 60-bit hash minus the 8 register-index bits
POW53 = float(1 << 53)
RAW_SCALE = ALPHA * M_REGISTERS * M_REGISTERS * POW53  # the raw estimate's numerator


def hll_registers(df: DataFrame, group_cols: list[str], item_col: str) -> DataFrame:
    """The stored sketch table [*group_cols, reg, mj]: per group and
    register, the max leading-zero rank. This is the MERGEABLE layout
    -- coarser grains derive from it by reg-wise max alone, never by
    re-reading the raw rows (see registry.curation.q_hll_user_rollup)."""
    h = portable_hash60(F.col(item_col).cast("string"))
    w = F.shiftright(h, 8)
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(W_BITS + 1)).otherwise(F.lit(W_BITS + 1) - bitlen)
    return (
        df.select(*group_cols, (h % M_REGISTERS).alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("mj"))
    )


def merge_registers(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll a register table up to a coarser grain: reg-wise max over
    whatever grouping columns are dropped. max is associative and
    commutative, so any merge tree -- per-executor partials, daily ->
    monthly, per-shard -> global -- yields identical registers."""
    return regs.groupBy(*group_cols, "reg").agg(F.max("mj").alias("mj"))


def estimate_from_registers(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """[*group_cols, est_distinct] from a register table: exact
    integer harmonic sum (each register contributes 2^(53-Mj) as
    BIGINT), one double division, linear-counting correction below
    2.5m with empty registers."""
    per_group = regs.groupBy(*group_cols).agg(
        F.count("*").alias("n_filled"),
        # exact integer harmonic sum: 2^-Mj scaled by 2^53
        F.sum(F.expr("shiftleft(1L, cast(53 - mj as int))")).alias("s_filled"),
    )
    total = F.col("s_filled") + (F.lit(M_REGISTERS) - F.col("n_filled")) * F.lit(
        1 << 53
    )
    e_raw = F.lit(RAW_SCALE) / total.cast("double")
    v_empty = F.lit(M_REGISTERS) - F.col("n_filled")
    est = F.when(
        (e_raw <= F.lit(2.5 * M_REGISTERS)) & (v_empty > 0),
        F.lit(float(M_REGISTERS)) * F.log(F.lit(float(M_REGISTERS)) / v_empty.cast("double")),
    ).otherwise(e_raw)
    return per_group.select(*group_cols, F.round(est, 6).alias("est_distinct"))


def hll_estimate(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """[<group_col>, est_distinct]: portable-HLL distinct estimate of
    `item_col` per group."""
    return estimate_from_registers(
        hll_registers(df, [group_col], item_col), [group_col]
    )
