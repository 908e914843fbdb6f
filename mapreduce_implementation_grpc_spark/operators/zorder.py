"""Z-order (Morton-curve) multi-dimensional data layout.

At 100 TB the dominant cost of a selective query is how many files its
filters let the scan SKIP via parquet footer min/max stats. A layout
sorted on one column skips perfectly on that column and not at all on
any other; interleaving the bits of two (or more) dimension ranks --
the Z-order / Morton curve -- yields a single sort key whose
contiguous ranges cover BOUNDED rectangles in every interleaved
dimension, so range filters on ANY of them prune files. This is the
layout strategy behind Delta/Iceberg `OPTIMIZE ZORDER BY` and the
classic UB-tree literature, rebuilt here from public bit arithmetic.

Reference lineage: the reference engine has a 4-way contiguous range
partitioner as its only layout operator (greeter_client.cc:362-390) --
one-dimensional by construction. This module is the multi-dimensional
generalization its HDFS output never had.

Everything is exact BIGINT arithmetic (bin ranks via integer floor
division, Morton interleave via shift/mask), so even the layout
metrics are DuckDB-hash-checkable:

1. per-dimension bin rank over [min, max]:
   ``bx = ((x - lo) * 2^BITS) div (hi - lo + 1)`` -- monotone, exact,
   in [0, 2^BITS) for every in-range x (positive operands, so Spark's
   truncating `div` == DuckDB's floor `//`);
2. Morton code ``z = interleave(bx, bt)`` -- bit i of bx lands at
   2i, bit i of bt at 2i+1 (statically unrolled shift/mask sum, the
   same expression text generated for both engines);
3. quadtree cell = high bits of z (``z >> CELL_SHIFT``): each cell is
   an axis-aligned rectangle of at most
   2^ceil(CELL_SHIFT/2) x 2^floor(CELL_SHIFT/2) bins.

Scale: one stats aggregate (4 numbers, broadcast), then a map-only
bin/interleave projection -- no shuffle until the consumer's own
groupBy. The module measures layouts; it writes none.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from ..materialize import materialize

from ..sources.catalog import load_table

BITS = 8  # bins per dimension = 2^8; z fits in 16 bits
CELL_SHIFT = 6  # cells = z >> 6 -> up to 1024 quadtree cells

OUT_CTE = "hb"


def morton_col(bx: Column, by: Column) -> Column:
    """Interleave two BITS-wide non-negative ints: bit i of `bx` ->
    bit 2i, bit i of `by` -> bit 2i+1. Statically unrolled; every term
    touches disjoint output bits so plain + is a bitwise OR."""
    z = F.lit(0).cast("long")
    for i in range(BITS):
        z = z + F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def morton_sql(bx: str, by: str) -> str:
    """The identical interleave as SQL text (DuckDB and Spark SQL both
    accept >> << &) -- generated from the same loop so the oracle
    cannot drift from the Spark column expression."""
    terms = []
    for i in range(BITS):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _binned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with exact integer bin ranks `bx` (user_id) and `bt`
    (epoch-microsecond ts) plus the Morton code `z`. One stats
    aggregate (4 values, broadcast) + a map-only projection; lazily
    checkpointed because every layout metric reads it twice."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("tus")
    )
    base = materialize(ev)
    stats = base.agg(
        F.min("user_id").alias("lo_u"),
        F.max("user_id").alias("hi_u"),
        F.min("tus").alias("lo_t"),
        F.max("tus").alias("hi_t"),
    )
    bx = F.expr(f"((user_id - lo_u) * {1 << BITS}) div (hi_u - lo_u + 1)")
    bt = F.expr(f"((tus - lo_t) * {1 << BITS}) div (hi_t - lo_t + 1)")
    return (
        base.crossJoin(F.broadcast(stats))
        .withColumn("bx", bx.cast("long"))
        .withColumn("bt", bt.cast("long"))
        .withColumn("z", morton_col(F.col("bx"), F.col("bt")))
        .drop("lo_u", "hi_u", "lo_t", "hi_t")
    )


def zorder_cells(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Per-quadtree-cell layout statistics: row count and the raw
    (user_id, epoch-us) spans each contiguous z-range actually covers
    -- exactly the parquet footer min/max a scan would prune with.
    Cells are aggregates of the binned rows: one hash shuffle on the
    cell id, nothing single-partition."""
    return (
        _binned_events(spark, sf_dir)
        .groupBy(F.shiftright(F.col("z"), CELL_SHIFT).alias("cell"))
        .agg(
            F.count("*").alias("cnt"),
            (F.max("user_id") - F.min("user_id")).alias("u_span"),
            (F.max("tus") - F.min("tus")).alias("t_span_us"),
        )
        .orderBy("cell")
    )


def zorder_skipping_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file-skipping tradeoff, measured: chunk the same events two
    ways -- 256 contiguous Z-curve ranges (`z >> BITS`) vs 256
    contiguous time bins (`bt`, the single-column layout the
    reference's range partitioner generalizes to) -- and total each
    chunk's per-dimension spans. Z-order bounds BOTH dimensions
    (user-range filters prune files; time filters still prune, one
    resolution coarser); the linear layout leaves every chunk spanning
    the full user range. All-integer output, hash-exact."""
    binned = _binned_events(spark, sf_dir)

    def spans(chunk: Column, layout: str) -> DataFrame:
        per = binned.groupBy(chunk.alias("chunk")).agg(
            F.count("*").alias("cnt"),
            (F.max("user_id") - F.min("user_id")).alias("u_span"),
            (F.max("tus") - F.min("tus")).alias("t_span_us"),
        )
        return per.agg(
            F.lit(layout).alias("layout"),
            F.count("*").alias("n_chunks"),
            F.sum("cnt").alias("rows_total"),
            F.sum("u_span").alias("sum_u_span"),
            F.sum("t_span_us").alias("sum_t_span_us"),
        )

    return spans(F.shiftright(F.col("z"), BITS), "zorder").unionByName(
        spans(F.col("bt"), "linear_ts")
    )


def _hilbert_level_sql(i: int, s: int, n: int) -> tuple[str, str, str]:
    """One Hilbert xy2d level as SQL text over the previous level's
    columns hx{i-1}/hy{i-1}/hd{i-1} -- the classic quadrant+rotate
    recurrence (Wikipedia xy2d form, flip constant n-1), with the
    quadrant's (3*rx) XOR ry rewritten as a CASE: rx=0 -> ry,
    rx=1 -> 3-ry. XOR-free on purpose -- DuckDB's `^` is
    exponentiation, so sharing literal text between engines forbids
    the operator. The text is generated once and used verbatim as
    both the Spark F.expr and the DuckDB oracle CTE, so the two
    engines cannot drift."""
    px, py, pd = f"hx{i - 1}", f"hy{i - 1}", f"hd{i - 1}"
    rx = f"(CASE WHEN ({px} & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN ({py} & {s}) > 0 THEN 1 ELSE 0 END)"
    quad = f"(CASE WHEN {rx} = 0 THEN {ry} ELSE 3 - {ry} END)"
    d_sql = f"({pd} + {s * s} * {quad})"
    x_sql = (
        f"(CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN {n - 1} - {py} ELSE {py} END) "
        f"ELSE {px} END)"
    )
    y_sql = (
        f"(CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN {n - 1} - {px} ELSE {px} END) "
        f"ELSE {py} END)"
    )
    return x_sql, y_sql, d_sql


def with_hilbert(df: DataFrame) -> DataFrame:
    """Append the Hilbert curve index of the integer bin ranks `bx`,
    `bt` in [0, 2^BITS) as `h`. Unlike the Morton interleave (a single
    flat expression), the Hilbert recurrence rotates state between
    levels, so it is unrolled as a CHAIN of named columns (hx1..hd8,
    dropped at the end) -- each level references the previous by
    name, keeping the expression tree linear in BITS where naive
    substitution would grow 3^BITS. The chain is one map-only
    projection pipeline: no shuffle, stays in whole-stage codegen."""
    n = 1 << BITS
    cur = (
        df.withColumn("hx0", F.col("bx"))
        .withColumn("hy0", F.col("bt"))
        .withColumn("hd0", F.lit(0).cast("long"))
    )
    for i in range(1, BITS + 1):
        s = 1 << (BITS - i)
        xs, ys, ds = _hilbert_level_sql(i, s, n)
        cur = (
            cur.withColumn(f"hx{i}", F.expr(xs))
            .withColumn(f"hy{i}", F.expr(ys))
            .withColumn(f"hd{i}", F.expr(ds))
        )
    drop = [
        c
        for i in range(BITS + 1)
        for c in (f"hx{i}", f"hy{i}", f"hd{i}")
    ]
    return cur.withColumn("h", F.col(f"hd{BITS}")).drop(*drop)


def hilbert_ctes_sql(base: str) -> str:
    """The identical level chain as DuckDB CTE text: `base` must
    provide hx0/hy0/hd0 (plus any passthrough columns); each level is
    `SELECT *, <generated exprs>` so the chain is linear in size. The
    final CTE `hb` exposes hd{BITS} -- alias it in the
    consumer."""
    n = 1 << BITS
    parts = []
    prev = base
    for i in range(1, BITS + 1):
        s = 1 << (BITS - i)
        xs, ys, ds = _hilbert_level_sql(i, s, n)
        name = OUT_CTE if i == BITS else f"{OUT_CTE}_{i}"
        parts.append(
            f"{name} AS (SELECT *, {xs} AS hx{i}, {ys} AS hy{i}, "
            f"{ds} AS hd{i} FROM {prev})"
        )
        prev = name
    return ",\n      ".join(parts)


def hilbert_cells(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """zorder_cells' twin on the Hilbert index: per-cell row count and
    raw per-dimension spans for contiguous Hilbert ranges. Same scale
    shape (stats broadcast + map-only projection + one hash shuffle
    on the cell id)."""
    return (
        with_hilbert(_binned_events(spark, sf_dir))
        .groupBy(F.shiftright(F.col("h"), CELL_SHIFT).alias("cell"))
        .agg(
            F.count("*").alias("cnt"),
            (F.max("user_id") - F.min("user_id")).alias("u_span"),
            (F.max("tus") - F.min("tus")).alias("t_span_us"),
        )
        .orderBy("cell")
    )


def hilbert_skipping_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Morton under the same file-skipping metric as
    zorder_skipping_summary: 256 contiguous curve ranges each, total
    per-dimension spans. Expected (and oracle-pinned) result: the two
    layouts TIE here -- a 2^(2k)-aligned chunk of either curve is the
    SAME axis-aligned square (both curves fully visit each order-k
    subsquare before leaving it), only the visit order inside
    differs. The curves separate on successor LOCALITY (Morton makes
    long diagonal jumps between squares; Hilbert never does), which
    matters for range-query caching and unaligned file boundaries --
    measured by curve_locality_stats. Keeping the tie as a checked
    result documents where curve choice does NOT matter."""
    binned = with_hilbert(_binned_events(spark, sf_dir))

    def spans(chunk: Column, layout: str) -> DataFrame:
        per = binned.groupBy(chunk.alias("chunk")).agg(
            F.count("*").alias("cnt"),
            (F.max("user_id") - F.min("user_id")).alias("u_span"),
            (F.max("tus") - F.min("tus")).alias("t_span_us"),
        )
        return per.agg(
            F.lit(layout).alias("layout"),
            F.count("*").alias("n_chunks"),
            F.sum("cnt").alias("rows_total"),
            F.sum("u_span").alias("sum_u_span"),
            F.sum("t_span_us").alias("sum_t_span_us"),
        )

    return spans(F.shiftright(F.col("h"), BITS), "hilbert").unionByName(
        spans(F.shiftright(F.col("z"), BITS), "zorder")
    )


def curve_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where Hilbert actually beats Morton, measured: walk the OCCUPIED
    grid cells in curve order and total the Manhattan distance of each
    successor step in bin space. Morton's order makes long diagonal
    jumps every time it crosses a block boundary (the worst step spans
    half the grid); Hilbert's successor is always an adjacent cell on
    the full curve, so occupied-cell steps stay short. Short steps =
    consecutive rows land in nearby rectangles = unaligned file
    boundaries and range scans touch fewer distinct regions.

    Scale shape: the window ORDER BY runs over the DISTINCT-reduced
    occupied-cell table (<= 4^BITS aggregate rows, never the fact
    rows) -- the same only-aggregates-cross-SinglePartition discipline
    as the two-level ranking module."""
    from pyspark.sql import Window

    occ = (
        with_hilbert(_binned_events(spark, sf_dir))
        .select("bx", "bt", "z", "h")
        .distinct()
    )

    def stats(curve: str, layout: str) -> DataFrame:
        w = Window.orderBy(curve)
        step = (
            F.abs(F.col("bx") - F.lag("bx").over(w))
            + F.abs(F.col("bt") - F.lag("bt").over(w))
        )
        return (
            occ.select(step.alias("step"))
            .filter(F.col("step").isNotNull())
            .agg(
                F.lit(layout).alias("layout"),
                F.count("*").alias("n_steps"),
                F.sum("step").alias("total_dist"),
                F.max("step").alias("max_step"),
                F.sum(F.when(F.col("step") == 1, 1).otherwise(0)).alias(
                    "adjacent_steps"
                ),
            )
        )

    return stats("h", "hilbert").unionByName(stats("z", "zorder"))
