"""Robust-aggregate scaling ladder: trimmed mean / weighted median /
MAD at 1M/4M/16M fact rows -- numbers recorded in SCALING.md.

All three operators share the same scale architecture: ONE
partial-agg'd groupBy collapses facts to the (group, distinct value)
grain, and every window/sort after that runs on the GRAIN, never the
facts. Their cost model therefore has two regimes:

  - tie-heavy values (2dp money drawn from a bounded range -- the
    realistic case): the grain saturates at |groups| x |distinct
    values| and stops growing with the facts, so window cost is flat
    and total cost converges to the one groupBy scan: ~linear in
    rows with slope -> scan cost.
  - adversarial all-distinct values: the grain IS fact-sized and the
    per-group window sort dominates; with few groups that is the
    documented skew wall (the same one the MAD/trimmed docstrings
    pin: callers quantize or pre-bucket such data).

The probe measures both regimes so the boundary is a recorded
number, not a docstring claim.

Usage: python tools/robust_probe.py [n_rows ...]
       (default ladder: 1_000_000 4_000_000 16_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.materialize import materialize_eager
from mapreduce_implementation_grpc_spark.operators.robust import (
    trimmed_mean,
    weighted_median,
)
from mapreduce_implementation_grpc_spark.session import get_spark

N_GROUPS = 8


def build_facts(spark, n_rows: int, distinct_vals: int):
    """Deterministic synthetic facts: group = id % N_GROUPS, value =
    a hash-scattered integer in [0, distinct_vals) (cents), weight =
    1..100."""
    return (
        spark.range(n_rows)
        .select(
            (F.col("id") % N_GROUPS).cast("string").alias("g"),
            (F.abs(F.xxhash64("id")) % distinct_vals).alias("v"),
            (F.abs(F.xxhash64("id", F.lit(1))) % 100 + 1).alias("w"),
        )
    )


def timed(df) -> tuple[float, int]:
    # collect(), not count(): count() lets Catalyst PRUNE any column
    # the row count doesn't depend on -- trimmed_mean's whole window
    # stage vanished under count() (its filter keeps every row), so
    # the first version of this probe timed an empty plan for it
    t0 = time.perf_counter()
    n = len(df.collect())
    return time.perf_counter() - t0, n


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [
        1_000_000,
        4_000_000,
        16_000_000,
    ]
    spark = get_spark(app_name="robust_probe")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for n_rows in sizes:
        for regime, distinct_vals in (
            ("tie_heavy", 50_000),      # 2dp money in [0, 500.00)
            ("all_distinct", n_rows * 4),  # grain ~= facts
        ):
            facts = materialize_eager(
                build_facts(spark, n_rows, distinct_vals)
            )
            grain = facts.select("g", "v").distinct().count()
            t_trim, _ = timed(trimmed_mean(facts, "g", "v"))
            t_wmed, _ = timed(weighted_median(facts, "g", "v", "w"))
            row = {
                "regime": regime,
                "n_rows": n_rows,
                "grain_rows": grain,
                "grain_ratio": round(grain / n_rows, 4),
                "trimmed_mean_sec": round(t_trim, 2),
                "weighted_median_sec": round(t_wmed, 2),
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
            facts.unpersist()
    print(json.dumps({"ladder": rows}))


if __name__ == "__main__":
    main()
