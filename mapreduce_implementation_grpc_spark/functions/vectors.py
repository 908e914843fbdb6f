"""Vector column functions over array<float> embedding columns.

Pure JVM-side higher-order functions (zip_with / aggregate) -- no
Python, no UDF: the dot product and norms run inside codegen and
vectorize with the rest of the stage. Accumulation is in double, in
element order, which makes results bit-identical to DuckDB's
list_dot_product/list_cosine_similarity sequential fold -- required
for oracle hash parity.

At 100 TB these expressions are the per-row map work of similarity
scans; the scale levers live in operators/similarity.py (broadcasting
the query side, LSH bucketing to kill the cross join).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_col(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_col(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
