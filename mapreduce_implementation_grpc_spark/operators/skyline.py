"""Skyline (Pareto-frontier) queries: the maximal non-dominated set
under coordinate-wise >= with strict > in at least one dimension
(Borzsonyi, Kossmann & Stocker, "The Skyline Operator", ICDE 2001).

The classic multi-criteria shortlist: "customers that are best on
(spend, order count, recency) simultaneously" -- no single point in
the answer is beaten on every axis by another point.

Two exact distributed shapes, chosen by dimensionality:

1. `skyline_2d` -- the sort/staircase form, ZERO self-joins: with
   both dims maximized, a point survives iff its `b` strictly
   exceeds every `b` at strictly larger `a` (one RANGE window
   ordered a desc) and equals the max `b` among its exact-`a` peers
   (one partition-by-a max). Both windows share the same exchange on
   nothing-but-sort, so the whole operator is sort + two window
   functions over the aggregated input -- linear at any scale.

2. `skyline` (any d >= 2) -- grid-pruned candidate generation, then
   an exact dominance anti-join on the (tiny) surviving candidate
   set:
     a. one global min/max agg per dim (1-row broadcast);
     b. every point mapped to a B^d fixed-width grid cell with pure
        integer arithmetic (inputs are required to be integral, so
        both engines bucket identically);
     c. a cell is FULLY dominated if some non-empty cell sits at
        index >= +1 in EVERY dim -- then any real point of that cell
        beats every point of the dominated cell strictly in all
        dims. The cell table is metadata-sized (<= B^d non-empty
        rows), so the cell-vs-cell dominance check is a broadcast
        nested-loop semi-join over metadata, never over data;
     d. points in dominated cells are dropped (provably sound:
        strict-all-dims dominance between non-empty cells is a
        strict partial order, so every dropped point is dominated by
        a point of some maximal non-dominated cell, which survives);
     e. the survivors -- O(skyline-size * cell fan-in), tiny on any
        data whose dims are not a pure antichain -- get the exact
        pairwise NOT-EXISTS dominance filter as a broadcast
        anti-join.

Scale: the only full-data passes are the per-dim stats agg and the
map-side cell assignment; everything quadratic runs on the pruned
candidate set. Worst case (all points mutually non-dominated) the
skyline IS the input and output-sized work is unavoidable -- the
operator degrades to the oracle's quadratic form only when the
answer itself is quadratic to state. Dominated-cell pruning keeps
the candidate count near the true skyline size on independent dims
(skyline ~ O(ln^(d-1) n), Bentley et al.).

All dims are MAXIMIZED; callers minimize a dim by negating it
(see parts_skyline_2d: price minimized as negated micros).

Reference scope note: the reference engine (greeter_client.cc:398-416)
has a single fixed word-count query and no multi-criteria surface;
skyline is SURVEY extension surface for the relational-analytics
family.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GRID_BUCKETS = 16


def skyline_2d(df: DataFrame, a: str, b: str) -> DataFrame:
    """Exact 2-D skyline of `df` maximizing integral columns (a, b):
    staircase windows, no self-join. Keeps all input columns."""
    w_gt = (
        Window.orderBy(F.col(a).desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy(a)
    out = df.withColumn("_b_gt", F.max(b).over(w_gt)).withColumn(
        "_b_eq", F.max(b).over(w_eq)
    )
    return out.filter(
        (F.col("_b_gt").isNull() | (F.col(b) > F.col("_b_gt")))
        & (F.col(b) == F.col("_b_eq"))
    ).drop("_b_gt", "_b_eq")


def _dominates(t: str, s: str, dims: list[str]):
    """t >= s on every dim, > on at least one."""
    ge = reduce(
        lambda x, y: x & y, [F.col(f"{t}.{d}") >= F.col(f"{s}.{d}") for d in dims]
    )
    gt = reduce(
        lambda x, y: x | y, [F.col(f"{t}.{d}") > F.col(f"{s}.{d}") for d in dims]
    )
    return ge & gt


def skyline(
    df: DataFrame,
    dims: list[str],
) -> DataFrame:
    """Exact d-dimensional skyline of `df` maximizing the integral
    columns `dims`: grid-prune, then per-partition local skyline,
    then the pairwise dominance anti-join. Keeps all input columns.

    The local stage is what makes the final quadratic check safe at
    scale: grid pruning leaves the cells ALONG the frontier
    (~2n/B of the input in 2-D -- measured in the SCALING.md
    "skyline pruning ladder"), which still squares to an infeasible
    candidate join at 10^7+ points. A partition-local skyline
    (the divide step of Borzsonyi's partitioned skyline) cuts those
    survivors to per-partition frontiers, and is sound by
    transitivity: a dominator dropped locally was itself dominated
    by something its partition kept. The local result set depends on
    partitioning, but the final anti-join makes the OUTPUT exactly
    the mathematical skyline regardless -- partition-invariance is
    pytest-pinned."""
    survivors = local_skyline(grid_survivors(df, dims), dims)
    return survivors.alias("s").join(
        F.broadcast(survivors.alias("t")),
        _dominates("t", "s", dims),
        "left_anti",
    )


def local_skyline(df: DataFrame, dims: list[str]) -> DataFrame:
    """Per-partition skyline via mapInPandas (the one genuinely
    imperative step: a running-frontier scan has no relational
    form). Sorts the partition by coordinate sum descending -- a
    point can only be dominated by one of GREATER-OR-EQUAL sum, so
    each row is checked against the small kept-frontier matrix with
    one vectorized comparison. Output is a superset of the global
    skyline; every globally-dominated point that survives here is
    removed by the final pairwise stage."""
    import numpy as np
    import pandas as pd

    schema = df.schema

    def part(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        arr = pdf[dims].to_numpy()
        order = np.argsort(-arr.sum(axis=1), kind="stable")
        kept_rows: list[int] = []
        frontier = np.empty((0, arr.shape[1]), dtype=arr.dtype)
        for i in order:
            p = arr[i]
            if len(kept_rows) and bool(
                np.any(
                    (frontier >= p).all(axis=1) & (frontier > p).any(axis=1)
                )
            ):
                continue
            kept_rows.append(int(i))
            frontier = np.vstack([frontier, p])
        yield pdf.iloc[sorted(kept_rows)]

    return df.mapInPandas(part, schema)


def grid_survivors(df: DataFrame, dims: list[str]) -> DataFrame:
    """The grid-prune stage alone: every point NOT in a fully
    dominated cell -- a provably-sound superset of the skyline whose
    size is the operator's cost driver (the SCALING.md "skyline
    pruning ladder" measures it against the final skyline size)."""
    if len(dims) < 2:
        raise ValueError("skyline needs >= 2 dimensions")
    stats = df.agg(
        *[F.min(d).alias(f"_min_{d}") for d in dims],
        *[F.max(d).alias(f"_max_{d}") for d in dims],
    )
    pts = df.crossJoin(F.broadcast(stats))
    # fixed-width integer bucketing: idx in [0, GRID_BUCKETS-1]; a
    # degenerate (constant) dim collapses to bucket 0
    for d in dims:
        rng = F.col(f"_max_{d}") - F.col(f"_min_{d}") + 1
        pts = pts.withColumn(
            f"_cell_{d}",
            F.floor((F.col(d) - F.col(f"_min_{d}")) * GRID_BUCKETS / rng).cast("int"),
        )
    cell_cols = [f"_cell_{d}" for d in dims]
    pts = pts.drop(*[f"_min_{d}" for d in dims], *[f"_max_{d}" for d in dims])
    cells = pts.select(*cell_cols).distinct()
    strictly_above = reduce(
        lambda x, y: x & y,
        [F.col(f"d.{c}") >= F.col(f"c.{c}") + 1 for c in cell_cols],
    )
    dominated_cells = cells.alias("c").join(
        F.broadcast(cells.alias("d")), strictly_above, "left_semi"
    )
    return pts.join(
        F.broadcast(dominated_cells), cell_cols, "left_anti"
    ).drop(*cell_cols)
