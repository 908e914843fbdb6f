"""operators/ranking.with_global_row_number: exactness vs the naive
unpartitioned window, plus the plan shape that justifies it (no
global sort / no single-partition exchange over the ranked rows)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.ranking import (
    with_global_row_number,
)
from mapreduce_implementation_grpc_spark.registry import QUERIES


CASES = [
    # (rows, ascending) -- ties, negatives, single value, skew
    ([(1.0, "a"), (1.0, "b"), (2.0, "a"), (0.5, "z")], True),
    ([(1.0, "a"), (1.0, "b"), (2.0, "a"), (0.5, "z")], False),
    ([(-3.5, "x"), (-3.5, "y"), (7.0, "x"), (0.0, "q"), (0.0, "a")], True),
    ([(4.0, "only")], True),
    ([(9.0, c) for c in "abcdefgh"], False),  # every row the same key
]


@pytest.mark.parametrize("rows,asc", CASES)
def test_matches_naive_window(spark, rows, asc):
    df = spark.createDataFrame(rows, "k double, t string")
    got = with_global_row_number(
        df, "k", tiebreaks=[F.asc("t")], ascending=asc
    )
    w = Window.orderBy(F.asc("k") if asc else F.desc("k"), F.asc("t"))
    want = df.withColumn("rn", F.row_number().over(w))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_total_col(spark):
    df = spark.createDataFrame([(float(i), str(i)) for i in range(17)], "k double, t string")
    out = with_global_row_number(df, "k", total_col="n").select("n").distinct().collect()
    assert [r["n"] for r in out] == [17]


@pytest.mark.parametrize(
    "name", ["customer_spend_percentiles_scalable", "vocab_ids_scalable"]
)
def test_scalable_variants_have_no_global_sort(spark, sf_check, name):
    """The whole point of the variants: no `Sort [...], true` (global
    sort => Exchange rangepartitioning or SinglePartition of the
    ranked table) anywhere in the executed plan. The shared-oracle
    hash match (driver + tools/check_correctness) proves they still
    return identical numbers."""
    plan = (
        QUERIES[name](spark, sf_check)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"Sort \[[^\]]*\], true", plan), plan[:1500]
    assert "rangepartitioning" not in plan


def test_null_and_nan_keys_fail_loudly(spark):
    """A NULL (or NaN) key used to become a NULL _bkt and silently
    vanish at the offsets equi-join -- row loss the naive window would
    not have (it ranks nulls). Contract now: raise at execution."""
    import pytest

    # AQE wraps USER_RAISED_EXCEPTION in a stage-materialization error
    # whose python-side type varies -- match on the message instead
    df = spark.createDataFrame(
        [(1.0, "a"), (None, "b"), (2.0, "c")], "k double, t string"
    )
    with pytest.raises(Exception, match="bucketize_by_key"):
        with_global_row_number(df, "k").collect()
    nan = spark.createDataFrame(
        [(1.0, "a"), (float("nan"), "b")], "k double, t string"
    )
    with pytest.raises(Exception, match="bucketize_by_key"):
        with_global_row_number(nan, "k").collect()


def test_exact_ntile_matches_sql_semantics(spark):
    """_exact_ntile's closed form == the SQL-standard distribution for
    every (n, k) in a grid, including n < k and n % k != 0."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.registry.events_analytics import _exact_ntile

    for n in (1, 3, 5, 7, 10, 23):
        for k in (2, 5, 8):
            df = spark.range(1, n + 1).select(
                F.col("id").alias("rn"), F.lit(n).alias("total")
            )
            got = [
                r.t
                for r in df.select(
                    _exact_ntile(F.col("rn"), F.col("total"), k).alias("t")
                )
                .orderBy("rn")
                .collect()
            ]
            q, r = divmod(n, k)
            want = []
            for tile in range(1, k + 1):
                size = (q + 1 if tile <= r else q) if n >= k else (1 if tile <= n else 0)
                want += [tile] * size
            assert got == want[:n], (n, k, got)


def test_customer_rfm_no_single_partition_and_plan(spark, sf_check):
    """All three ntiles come from the two-level ranking: the plan must
    contain no SinglePartition exchange feeding unaggregated rows (the
    registry-wide lint also covers this) and scores must span 1..5."""
    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = QUERIES["customer_rfm"](spark, sf_check).collect()
    assert rows
    for col in ("r_score", "f_score", "m_score"):
        vals = {getattr(r, col) for r in rows}
        assert vals <= set(range(1, 6)) and len(vals) == 5
    for r in rows:
        assert r.rfm_cell == f"{r.r_score}{r.f_score}{r.m_score}"
