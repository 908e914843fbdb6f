"""K-means coarse quantizer properties."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.kmeans import (
    _assign,
    _centroids_from,
    kmeans_cells,
    kmeans_fit,
)


@pytest.fixture(scope="module")
def clustered_emb(spark):
    # two tight clusters around (1,0) and (0,1), plus one dup pair
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.05]),
        Row(vec_id=1, embedding=[0.95, 0.0]),
        Row(vec_id=2, embedding=[1.0, 0.05]),   # dup of 0
        Row(vec_id=3, embedding=[0.0, 1.0]),
        Row(vec_id=4, embedding=[0.05, 0.95]),
        Row(vec_id=5, embedding=[0.0, 1.05]),
    ]
    return spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_kmeans_separates_clusters_and_groups_dups(clustered_emb):
    cells = {r.vec_id: r.cell for r in kmeans_cells(clustered_emb, k=2).collect()}
    assert cells[0] == cells[1] == cells[2]       # cluster A together (incl. dup)
    assert cells[3] == cells[4] == cells[5]       # cluster B together
    assert cells[0] != cells[3]


def test_kmeans_inertia_nonincreasing(clustered_emb):
    prev = None
    for n in (1, 2, 4):
        assigned = _assign(clustered_emb, kmeans_fit(clustered_emb, 2, n), "embedding")
        inertia = assigned.agg(F.sum("obj")).collect()[0][0]
        if prev is not None:
            assert inertia <= prev + 1e-9
        prev = inertia


def test_kmeans_cells_on_real_embeddings(spark, sf_check):
    from mapreduce_implementation_grpc_spark import registry

    cells = registry.QUERIES["kmeans_cells"](spark, sf_check)
    counts = cells.groupBy("cell").count().collect()
    assert cells.count() == 500
    assert len(counts) == 8                       # all 8 cells survive
    assert all(r["count"] > 0 for r in counts)
