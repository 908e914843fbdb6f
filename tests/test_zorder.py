"""Z-order layout: Morton-code properties and the measured skipping
advantage.

Oracle parity for zorder_cells / zorder_skipping_summary runs in the
registry-wide sweep (test_oracle_coverage); these tests pin the
properties the hash can't express: the interleave is a bijection, the
layout actually bounds BOTH dimensions, and written files carry the
bounded footer ranges the whole design exists to produce.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.zorder import (
    BITS,
    morton_col,
    morton_sql,
)
from mapreduce_implementation_grpc_spark.sources.catalog import load_table


def _deinterleave(z: int, bits: int = BITS) -> tuple[int, int]:
    x = y = 0
    for i in range(bits):
        x |= ((z >> (2 * i)) & 1) << i
        y |= ((z >> (2 * i + 1)) & 1) << i
    return x, y


def test_morton_col_is_exact_interleave(spark):
    pairs = [(x, y) for x in (0, 1, 5, 170, 255) for y in (0, 3, 128, 255)]
    df = spark.createDataFrame(pairs, "bx long, by long")
    rows = df.select("bx", "by", morton_col(F.col("bx"), F.col("by")).alias("z")).collect()
    for r in rows:
        assert _deinterleave(r.z) == (r.bx, r.by)
    # and the generated SQL text computes the identical code JVM-side
    sql_rows = df.selectExpr("bx", "by", morton_sql("bx", "by") + " AS z").collect()
    assert sorted((r.bx, r.by, r.z) for r in rows) == sorted(
        (r.bx, r.by, r.z) for r in sql_rows
    )


def test_zorder_bounds_both_dimensions(spark, sf_smoke):
    rows = {
        r["layout"]: r
        for r in registry.QUERIES["zorder_skipping_summary"](spark, sf_smoke).collect()
    }
    z, lin = rows["zorder"], rows["linear_ts"]
    assert z["rows_total"] == lin["rows_total"]
    # The point of the layout: z-chunks cover far less of the user
    # range than time-sorted chunks (which each span ~all users)...
    assert z["sum_u_span"] * 2 < lin["sum_u_span"]
    # ...while staying bounded in time (well under n_chunks * full
    # range -- each z-chunk is a rectangle, not a random subset).
    ev = load_table(spark, sf_smoke, "events")
    t_range = ev.agg(
        (F.max(F.unix_micros(F.col("ts").cast("timestamp"))) - F.min(F.unix_micros(F.col("ts").cast("timestamp")))).alias("r")
    ).collect()[0]["r"]
    assert z["sum_t_span_us"] < z["n_chunks"] * t_range / 4


def test_hilbert_chain_matches_reference_xy2d(spark, sf_smoke):
    """The unrolled SQL column chain must equal the classic xy2d
    recurrence (quadrant + rotate, flip with n-1) exactly -- the pure
    Python twin here is the pinned reference implementation, itself
    validated by the adjacency property below."""
    from mapreduce_implementation_grpc_spark.operators.zorder import (
        BITS,
        _binned_events,
        with_hilbert,
    )

    def xy2d(bits, x, y):
        n = 1 << bits
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    # adjacency property: consecutive curve indices are neighboring
    # cells -- a curve that passes this and bijectivity IS a Hilbert
    # curve (locality is the whole point of choosing it)
    for bits in (2, 4):
        n = 1 << bits
        pts = {xy2d(bits, x, y): (x, y) for x in range(n) for y in range(n)}
        assert len(pts) == n * n
        for d in range(n * n - 1):
            (x1, y1), (x2, y2) = pts[d], pts[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1

    rows = (
        with_hilbert(_binned_events(spark, sf_smoke))
        .select("bx", "bt", "h")
        .limit(300)
        .collect()
    )
    assert rows and all(xy2d(BITS, r.bx, r.bt) == r.h for r in rows)


def test_hilbert_locality_beats_morton(spark, sf_check):
    """The measured reason to offer the Hilbert layout: walking
    occupied cells in curve order, Hilbert's total successor distance
    must beat Morton's, and Morton's worst step (the cross-grid
    diagonal jump) must dwarf Hilbert's."""
    from mapreduce_implementation_grpc_spark.operators.zorder import (
        curve_locality_stats,
    )

    got = {r.layout: r for r in curve_locality_stats(spark, sf_check).collect()}
    assert got["hilbert"].n_steps == got["zorder"].n_steps
    assert got["hilbert"].total_dist < got["zorder"].total_dist
    assert got["hilbert"].max_step * 4 < got["zorder"].max_step


def test_aligned_chunk_skipping_is_a_tie_by_geometry(spark, sf_check):
    """hilbert_skipping_summary's documented result: power-of-4
    aligned chunks of either curve tile the grid into the SAME
    squares, so the span sums must be EQUAL -- a regression guard on
    both the claim and the chunking arithmetic."""
    from mapreduce_implementation_grpc_spark.operators.zorder import (
        hilbert_skipping_summary,
    )

    got = {r.layout: r for r in hilbert_skipping_summary(spark, sf_check).collect()}
    h, z = got["hilbert"], got["zorder"]
    assert (h.sum_u_span, h.sum_t_span_us, h.rows_total) == (
        z.sum_u_span,
        z.sum_t_span_us,
        z.rows_total,
    )
