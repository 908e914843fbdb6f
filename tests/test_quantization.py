"""Embedding scalar quantization: code-range/reconstruction
properties + oracle parity."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.quantization import (
    DEFAULT_PQ_K,
    DEFAULT_PQ_M,
    quantize_embeddings,
)
from mapreduce_implementation_grpc_spark.operators.similarity import DIM, TOPK


def test_codes_in_range_and_error_bounded(spark, sf_check):
    emb = spark.read.parquet(f"{sf_check}/embeddings.parquet")
    q = quantize_embeddings(emb)
    stats = q.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.max("mse").alias("worst_mse"),
    ).collect()[0]
    assert 0 <= stats.lo and stats.hi <= 255
    # per-dim error <= half a cell width; mse <= max over dims of
    # ((mx-mn)/255/2)^2. Bound loosely via the global value range.
    rng = emb.select(F.posexplode("embedding").alias("p", "x")).agg(
        (F.max("x") - F.min("x")).alias("spread")
    ).collect()[0].spread
    assert stats.worst_mse <= (float(rng) / 255.0) ** 2


def test_degenerate_dimension_codes_zero(spark):
    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 5.0]), Row(vec_id=2, embedding=[1.0, 7.0])]
    )
    got = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    # dim 1 is constant -> code 0, zero error contribution
    assert got[1].codes[0] == 0 and got[2].codes[0] == 0
    # dim 2: min->code 0, max->code 255
    assert got[1].codes[1] == 0 and got[2].codes[1] == 255


def test_quantize_oracle_parity(spark, sf_check):
    from tests.oracle_utils import assert_matches_oracle

    name = "embedding_quantize"
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_pq_codes_properties(spark, sf_check):
    from mapreduce_implementation_grpc_spark.operators.quantization import pq_codes

    emb = spark.read.parquet(f"{sf_check}/embeddings.parquet")
    pq = pq_codes(emb)
    rows = pq.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r.codes) == DEFAULT_PQ_M
        assert all(0 <= c < DEFAULT_PQ_K for c in r.codes)
        assert r.recon_err >= -1e-9


def test_pq_identical_vectors_same_codes(spark):
    from mapreduce_implementation_grpc_spark.operators.quantization import pq_codes

    base = [float(i % 7) for i in range(DIM)]
    other = [float((i * 3) % 5) for i in range(DIM)]
    emb = spark.createDataFrame(
        [(0, base), (1, other), (2, base), (3, [x + 0.01 for x in base])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in pq_codes(emb).collect()}
    assert got[0].codes == got[2].codes
    assert got[0].recon_err == got[2].recon_err


def test_pq_adc_planted_duplicate_ranks_first(spark):
    """A corpus vector identical to the query shares its codes, so
    its ADC distance is the minimum possible -- it must rank 1."""
    from mapreduce_implementation_grpc_spark.operators.quantization import pq_adc_topk

    import random

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(2, 40)]
    q = [0.9, -0.8, 0.7, -0.6, 0.5, -0.4, 0.3, -0.2] * (DIM // 8)
    emb = spark.createDataFrame(
        [(0, q), (1, list(q))] + vecs, "vec_id long, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    top = pq_adc_topk(emb, queries).collect()
    assert [r.rank for r in top] == list(range(1, TOPK + 1))
    assert top[0].neighbor_id == 1  # the planted duplicate


def test_pq_oracle_parity(spark, sf_check):
    from tests.oracle_utils import assert_matches_oracle

    for name in ("pq_codes", "pq_search"):
        assert_matches_oracle(
            registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
        )


def test_ivfpq_restricts_to_probed_cells(spark, sf_check):
    """Every IVF-PQ neighbor must live in one of its query's probed
    coarse cells -- the scan-restriction contract."""
    from mapreduce_implementation_grpc_spark.operators.kmeans import (
        _assign,
        kmeans_fit,
    )
    from mapreduce_implementation_grpc_spark.operators.quantization import ivfpq_topk

    emb = spark.read.parquet(f"{sf_check}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    top = ivfpq_topk(emb, queries).collect()
    assert top and all(1 <= r.rank <= 5 for r in top)
    coarse = kmeans_fit(emb, 8, 3)
    cells = {
        r.vec_id: r.cell for r in _assign(emb, coarse, "embedding").collect()
    }
    # a neighbor's cell must be probed; its own cell is always the
    # query's nearest-or-second cell set member for self-similar data,
    # so just assert neighbors' cells come from <= 2 distinct cells
    # per query (n_probe = 2)
    from collections import defaultdict

    per_q = defaultdict(set)
    for r in top:
        per_q[r.query_id].add(cells[r.neighbor_id])
    assert all(len(cs) <= 2 for cs in per_q.values())


def test_ivfpq_oracle_parity(spark, sf_check):
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["ann_ivfpq"](spark, sf_check),
        registry.ORACLES["ann_ivfpq"],
        sf_check,
    )


def test_ivfpq_residual_planted_duplicate_ranks_first(spark):
    """A corpus vector identical to the query lands in the same
    coarse cell with the same residual codes -> minimal ADC -> rank 1."""
    from mapreduce_implementation_grpc_spark.operators.quantization import (
        ivfpq_residual_topk,
    )

    import random

    rng = random.Random(23)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(2, 60)]
    q = [0.7, -0.6, 0.5, -0.4, 0.3, -0.2, 0.1, -0.9] * (DIM // 8)
    emb = spark.createDataFrame(
        [(0, q), (1, list(q))] + vecs, "vec_id long, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    top = ivfpq_residual_topk(emb, queries).collect()
    assert top[0].neighbor_id == 1 and top[0].rank == 1


def test_ivfpq_residual_oracle_parity(spark, sf_check):
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["ann_ivfpq_residual"](spark, sf_check),
        registry.ORACLES["ann_ivfpq_residual"],
        sf_check,
    )
