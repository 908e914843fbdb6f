"""Random-projection dimensionality reduction over embedding columns
(Johnson-Lindenstrauss): project array<float> vectors onto k
deterministic pseudo-random directions, producing k scalar columns.

The companion to the LSH *sign* projection (operators/similarity.py):
LSH keeps only the sign bit per plane (a bucket id); this keeps the
real-valued coordinates, the cheap dense representation used for
coarse clustering, visualization, or as the input to an exact search
over a smaller dimension.

Projection directions come from the same splitmix64 scheme as
similarity.lsh_planes (round 9: the previous LCG's low-order
structure correlated consecutive coordinates, the same defect that
collapsed banded-LSH recall) -- pure integer arithmetic on the flat
index, reproducible in any engine -- so the query is
DuckDB-oracle-checkable (list_dot_product over the identical
literals) even though it is a "random" projection. A distinct seed
offset keeps these planes different from the LSH ones.

Scale: per-row map work only -- k fused zip_with/aggregate folds in
one codegen stage, no shuffle, no Python. The projection matrix is
k x dim literals in the plan (64*8 doubles), never broadcast state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import DIM, _mix64

# offset the flat index so projection planes differ from LSH planes
PROJ_SEED = 7_777_777


def projection_planes() -> list[list[float]]:
    """8 deterministic pseudo-random DIM-wide directions in [-0.5, 0.5)."""
    return [
        [_mix64(PROJ_SEED + p * DIM + d) / 2.0**64 - 0.5 for d in range(DIM)]
        for p in range(8)
    ]


def project_embeddings(emb: DataFrame) -> DataFrame:
    """(id, p0..p7): the vector's coordinates along the 8
    projection directions, rounded to 6 decimals for cross-engine
    comparison. Sequential double fold in element order == DuckDB
    list_dot_product, so results hash-match exactly."""
    planes = projection_planes()
    cols = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias(f"p{p}")
        for p, plane in enumerate(planes)
    ]
    return emb.select(F.col("vec_id"), *cols)
