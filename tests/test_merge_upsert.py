"""snapshot_diff: keyed change capture between two table versions
(insert / delete / update, null-safe), on crafted rows and against
its DuckDB oracle."""

from __future__ import annotations


def test_snapshot_diff_semantics(spark):
    """Crafted: insert / delete / update / unchanged / NULL payload.
    A key whose payload is entirely NULL in both versions is
    UNCHANGED (null-safe equality), and NULL -> value is an update."""
    from mapreduce_implementation_grpc_spark.operators.diffing import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, None, None), (4, 40, None), (5, 50, 5.0)],
        "k long, a long, b double",
    )
    new = spark.createDataFrame(
        [(1, 10, 1.0), (3, None, None), (4, 40, 4.0), (5, 51, 5.5), (6, 60, 6.0)],
        "k long, a long, b double",
    )
    got = {
        r.k: (r.change, r.changed_cols, r.old_a, r.new_a)
        for r in snapshot_diff(old, new, keys=["k"], compare_cols=["a", "b"]).collect()
    }
    assert 1 not in got and 3 not in got          # unchanged (incl. all-NULL)
    assert got[2][0] == "delete" and got[2][2] == 20 and got[2][3] is None
    assert got[4] == ("update", "b", 40, 40)      # NULL -> 4.0 is a change
    assert got[5][0] == "update" and got[5][1] == "a,b"
    assert got[6][0] == "insert" and got[6][2] is None and got[6][3] == 60


def test_snapshot_diff_oracle_parity(spark, sf_check):
    from mapreduce_implementation_grpc_spark import registry
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["user_day_snapshot_diff"](spark, sf_check),
        registry.ORACLES["user_day_snapshot_diff"],
        sf_check,
    )
