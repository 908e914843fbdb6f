"""Similarity search over embedding columns (extension surface,
SURVEY.md section 2b).

- knn_brute_force: exact top-k cosine for a (small) query set.
  The query side is broadcast -- the big side streams through one
  map stage; the only shuffle is the per-query top-k, executed as
  a window over rows already partitioned by query. At 100 TB the
  corpus scan is embarrassingly parallel and the broadcast is k*dim
  floats.
- random_hyperplane_lsh / ann_lsh_topk: sign-random-projection LSH.
  Planes come from a deterministic splitmix64 mix of the flat index
  (same literals embedded in the DuckDB oracle, so even the ANN path
  is hash-checkable). Candidates = bucket collisions only; the cross
  join never exists.
- ann_lsh_banded_topk: banded OR-of-ANDs candidates + exact re-rank
  -- the recall>=0.8 serving path (round 9).
- embedding_dup_pairs: exact near-duplicate vector pairs (cosine >=
  threshold) -- brute force within LSH buckets for scale, or global
  brute force for the oracle-checked variant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot_col, l2_norm_col
from ..materialize import materialize

DEFAULT_NUM_PLANES = 8

_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB
_U64 = 0xFFFFFFFFFFFFFFFF

VEC_COL = "embedding"
DIM = 64
ID_COL = "vec_id"
TOPK = 5  # neighbors kept per query by every ANN serve plan
N_PROBE = 2  # IVF cells probed per query
MIN_COSINE = 0.35  # near-duplicate threshold of the pair operators


def _mix64(x: int) -> int:
    """splitmix64 finalizer (Steele et al., 'Fast Splittable
    Pseudorandom Number Generators', OOPSLA 2014; public domain
    reference sequence): a bijective avalanche mix of the flat index.
    Pure integer arithmetic -- reproducible in any engine, no RNG
    state, no numpy."""
    z = (x + _SM_GAMMA) & _U64
    z = ((z ^ (z >> 30)) * _SM_M1) & _U64
    z = ((z ^ (z >> 27)) * _SM_M2) & _U64
    return z ^ (z >> 31)


def lsh_planes(num_planes: int = DEFAULT_NUM_PLANES) -> list[list[float]]:
    """Deterministic DIM-wide pseudo-random hyperplanes in [-0.5, 0.5):
    splitmix64 on the flat index. Reproducible in any engine (the
    oracle embeds the same double literals), no RNG state.

    Round 9: this replaced an LCG on the flat index. The LCG's
    low-order structure made consecutive plane coordinates strongly
    correlated, so the `bands x rows` OR-of-ANDs amplification never
    got independent bands -- measured recall sat FAR below theory
    (banded 48x7 query->corpus recall 0.50 measured vs 0.92 theory at
    sf0.1; the r8 mutual-NN twin's 0.587 had the same root cause).
    With the avalanche mix every plane behaves independently and the
    measured recall matches the 1-(1-p^r)^B prediction (SCALING.md
    r9 ANN ladder)."""
    return [
        [_mix64(p * DIM + d) / 2.0**64 - 0.5 for d in range(DIM)]
        for p in range(num_planes)
    ]


# Seed offset for the clustered-fixture centers: keeps the center
# index domain disjoint from the plane index domain (planes use flat
# indices < bands*rows*dim ~ 3e4; this starts at 2^32).
_CLUSTERED_SEED = 1 << 32
CLUSTERED_N_CLUSTERS = 25
CLUSTERED_SIGMA = 0.5


def clustered_centers() -> list[list[float]]:
    """Deterministic cluster centers in [-0.5, 0.5)^DIM via the same
    splitmix64 mix as lsh_planes (disjoint seed domain). Embedded as
    literals in both the Spark plan and the DuckDB oracle, so every
    clustered-fixture result stays hash-checkable."""
    return [
        [
            _mix64(_CLUSTERED_SEED + c * DIM + d) / 2.0**64 - 0.5
            for d in range(DIM)
        ]
        for c in range(CLUSTERED_N_CLUSTERS)
    ]


def synthetic_clustered_embeddings(ids: DataFrame) -> DataFrame:
    """DataFrame[vec_id, cluster, embedding(array<double>)]: a
    deterministic corpus WITH real neighborhood structure, derived
    from ids alone (VERDICT r9 #1: the driver's embeddings table is
    near-orthogonal -- sign-LSH's worst case -- so ANN selectivity
    there says nothing about clustered real embeddings).

    vector = center[vec_id % CLUSTERED_N_CLUSTERS] + CLUSTERED_SIGMA *
    noise, where
    noise_d = md5(vec_id ':' d) first-8-hex / 2^32 - 0.5 (the repo's
    standard cross-engine randomness source) and centers are
    splitmix64 literals. Every arithmetic step is exact in double
    (integer/2^32, -0.5, *0.5 are all exact; one rounding at the
    final add), so the generated doubles are bit-identical to the
    DuckDB twin. At 25 clusters and sigma 0.5 the corpus measures
    within-cluster cosine ~0.80 vs cross ~0.00 -- a realistic
    topical-cluster geometry (clustered_corpus_structure is the
    measured row).

    All JVM-side expression work (md5 + element_at over a folded
    center literal): no Python crossing, codegen-friendly, and at
    100 TB the generation is a narrow map over the id column."""
    centers = clustered_centers()
    flat = F.array(*[F.lit(float(x)) for row in centers for x in row])
    vid = F.col(ID_COL)

    def _dim_val(d):
        hx = F.substring(
            F.md5(F.concat_ws(":", vid.cast("string"), d.cast("string"))), 1, 8
        )
        u = (
            F.conv(hx, 16, 10).cast("long") / F.lit(4294967296.0)
            - F.lit(0.5)
        )
        return (
            F.element_at(flat, (F.col("cluster") * DIM + d + 1).cast("int"))
            + F.lit(float(CLUSTERED_SIGMA)) * u
        )

    return (
        ids.select(ID_COL)
        .withColumn("cluster", (vid % CLUSTERED_N_CLUSTERS).cast("long"))
        .withColumn(
            "embedding",
            F.transform(F.sequence(F.lit(0), F.lit(DIM - 1)), _dim_val),
        )
    )


def _bucket_col(vec, planes: list[list[float]]):
    """LSH bucket id = integer of sign bits of plane dot products.

    Deliberately num_planes separate flat scalar-literal arrays: a
    single nested array literal indexed per plane (element_at of an
    array<array<double>> literal) was MEASURED 3x slower end to end
    -- the subarray extraction happens per row instead of being
    constant-folded. ~80% of this query's sf0.1 latency is Catalyst
    planning of the wide literal tree, a fixed driver-side cost that
    amortizes at scale."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(w) for w in plane]), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def with_lsh_bucket(emb: DataFrame) -> DataFrame:
    return emb.withColumn("bucket", _bucket_col(F.col(VEC_COL), lsh_planes()))


LSH_BANDS = 24
LSH_ROWS_PER_BAND = 5


def with_lsh_bands(
    emb: DataFrame,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """Banded (OR-of-ANDs) hyperplane LSH: `bands` independent tables
    of `rows_per_band` planes each; a pair is a candidate if it
    collides in ANY band. The AND-only single-bucket form's recall at
    moderate cosine is tiny (p_agree^planes: 0.61^8 ~ 2% at cos 0.35
    -- measured 4.9% pair recall on the sf0.1 mutual-NN task); the
    banded form amplifies to 1-(1-p^r)^B. At 24x5 with the round-9
    splitmix64 planes the sf0.1 mutual-NN twin measures recall 0.95 /
    precision 0.95 (tests/test_mutual_nn_recall.py pins the floors;
    the r8 8x4 LCG-plane config measured 0.587 -- correlated planes,
    see lsh_planes). Same MinHash-banding geometry as
    operators/dedup.py, same deterministic planes (the oracle embeds
    them).

    Scale: row explosion factor = `bands` (one (band, bucket) row per
    band); the (band, bucket) pair is the shuffle key, so candidate
    generation shards like any equi-join."""
    planes = lsh_planes(bands * rows_per_band)

    # 32 plane dots per row as interpreted zip_with/aggregate HOFs
    # measured 7.4 s for 2000 rows (the whole banded pair scan's
    # bottleneck); one Arrow batch with numpy does the same work in
    # milliseconds. BIT-EXACTNESS: the accumulation loops over
    # dimensions IN ORDER with a vectorized `acc = acc + v_d * w_d`,
    # which is element-wise the identical left-fold
    # ((0 + x0*w0) + x1*w1) + ... the HOF form and DuckDB's
    # list_dot_product evaluate -- same IEEE ops, same order, same
    # bits, so the planes stay exactly-checkable in the oracle.
    from pyspark.sql.types import ArrayType, LongType

    plane_mat = [[float(w) for w in p] for p in planes]

    @F.pandas_udf(ArrayType(LongType()))
    def _band_buckets(vecs: pd.Series) -> pd.Series:
        # zero-pad to the longest vector in the batch: a short vector
        # contributes only its own dimensions (identical to the
        # min(dim) guard below), and a MIXED-length batch stays a
        # rectangular array instead of raising on construction
        width = max((len(v) for v in vecs), default=0)
        V = np.zeros((len(vecs), width), dtype=np.float64)
        for i, v in enumerate(vecs):
            V[i, : len(v)] = [float(x) for x in v]
        n = len(V)
        out = np.zeros((n, bands), dtype=np.int64)
        for b in range(bands):
            for p in range(rows_per_band):
                w = plane_mat[b * rows_per_band + p]
                acc = np.zeros(n, dtype=np.float64)
                # min(): a vector shorter than DIM contributes its
                # own length (equivalent to zero-padding), so crafted
                # low-dim fixtures stay usable
                for d in range(min(V.shape[1], len(w))):
                    acc = acc + V[:, d] * w[d]
                out[:, b] += (acc >= 0).astype(np.int64) << p
        return pd.Series(list(out))

    # asNondeterministic: the function is PURE (oracle-checked bit-
    # exact), but Catalyst's InferFiltersFromGenerate derives a
    # `size(_bks) > 0 AND isnotnull(_bks)` filter BELOW the
    # posexplode and, since _bks is a Python-UDF output, re-evaluates
    # the whole 448-dot Arrow batch a second time per row (measured:
    # 2 ArrowEvalPython nodes -> 1 with the marking; r9). The
    # explode itself already skips null/empty arrays, so the inferred
    # pre-filter buys nothing here.
    return (
        emb.withColumn("_bks", _band_buckets.asNondeterministic()(F.col(VEC_COL)))
        .select(
            "*", F.posexplode(F.col("_bks")).alias("band", "bucket")
        )
        .drop("_bks")
    )


def knn_brute_force(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOPK,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries: DataFrame[query_id, qvec]. Broadcast join (no shuffle of
    the corpus); per-query top-k via rank over (rounded sim desc,
    vec_id asc) -- rounding first makes the cut deterministic across
    engines whose last-ulp sums differ. Norms are projected BEFORE the
    join (once per row, not once per pair); only the dot product is
    per-pair work."""
    corpus = emb.select(
        F.col("vec_id"), F.col(VEC_COL).alias("vec"), l2_norm_col(VEC_COL).alias("vnorm")
    )
    q = queries.select("query_id", "qvec", l2_norm_col("qvec").alias("qnorm"))
    scored = F.broadcast(q).crossJoin(corpus).filter(F.col("query_id") != F.col("vec_id"))
    scored = scored.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot_col("qvec", "vec") / (F.col("qnorm") * F.col("vnorm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine within. Same output schema as
    knn_brute_force (+bucket); recall < 1 by design -- the scale path
    when the corpus is too large to scan per query batch."""
    planes = lsh_planes()
    corpus = with_lsh_bucket(emb).select(
        "vec_id", F.col(VEC_COL).alias("vec"), "bucket", l2_norm_col(VEC_COL).alias("vnorm")
    )
    q = queries.withColumn("bucket", _bucket_col(F.col("qvec"), planes)).withColumn(
        "qnorm", l2_norm_col("qvec")
    )
    scored = (
        F.broadcast(q)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "bucket",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot_col("qvec", "vec") / (F.col("qnorm") * F.col("vnorm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "bucket", "neighbor_id", "cosine", "rank")
    )


def ann_lsh_multiprobe_topk(
    emb: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB 2007): probe the query's
    own bucket PLUS every bucket at Hamming distance 1 (flip one sign
    bit) -- DEFAULT_NUM_PLANES+1 probes per query. Single-bucket LSH recall
    is bounded by p_agree^planes (all signs must match); probing the
    1-flip shells recovers the neighbors that disagree on exactly one
    plane at the cost of probing (planes+1)/2^planes of the corpus in
    expectation. Candidates never duplicate: a corpus vector lives in
    exactly one bucket and the probe set is distinct buckets.

    Output schema matches knn_brute_force: [query_id, neighbor_id,
    cosine, rank]."""
    planes = lsh_planes()
    corpus = with_lsh_bucket(emb).select(
        "vec_id",
        F.col(VEC_COL).alias("vec"),
        "bucket",
        l2_norm_col(VEC_COL).alias("vnorm"),
    )
    q = queries.withColumn(
        "qbucket", _bucket_col(F.col("qvec"), planes)
    ).withColumn("qnorm", l2_norm_col("qvec"))
    probes = q.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                    for i in range(DEFAULT_NUM_PLANES)
                ],
            )
        ),
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot_col("qvec", "vec") / (F.col("qnorm") * F.col("vnorm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


ANN_BANDS = 64
ANN_ROWS_PER_BAND = 7


def ann_lsh_banded_topk(
    emb: DataFrame,
    queries: DataFrame,
    bands: int = ANN_BANDS,
) -> DataFrame:
    """Banded-LSH ANN with exact re-ranking -- the usable-recall
    operating point of the LSH family (round 9, VERDICT r8 #1).

    Candidate generation: corpus and queries each hash into `bands`
    independent tables of ANN_ROWS_PER_BAND sign bits (with_lsh_bands);
    a corpus vector is a candidate for a query iff they collide in
    ANY band (OR-of-ANDs). Re-rank: exact cosine over the DISTINCT
    candidate set, top-k per query. Recall tracks candidate coverage
    1-(1-p^r)^B -- measured mean top-5 recall 0.92 at sf0.1 / 0.92 at
    sf0.01 / 0.88 at sf0.001 with 64x7 (~42% of the corpus probed per
    query on this gap-free synthetic corpus -- true neighbors sit at
    cosine ~0.37 vs random ~0.0, the hardest case for sign-LSH; real
    clustered embeddings collide far more selectively at the same
    recall). Single-bucket AND-only recalls 0.00 and Hamming-1
    multi-probe 0.08 on the same sf0.1 task (SCALING.md r9 ANN
    ladder).

    Scale shape: the band join carries only (ids, band, bucket) --
    vectors do NOT ride through the explosion; the distinct is at
    candidate-pair grain; scoring re-joins the corpus by vec_id
    (equi-join) and the query side by broadcast. No stage is ever
    all-pairs."""
    cand = banded_candidates(emb, queries, bands)
    return rerank_topk(cand, emb, queries)


def banded_candidates(
    emb: DataFrame,
    queries: DataFrame,
    bands: int = ANN_BANDS,
) -> DataFrame:
    """DataFrame[query_id, vec_id]: the DISTINCT banded OR-of-ANDs
    candidate set (collide in ANY band). Factored out of
    ann_lsh_banded_topk (round 10) so a caller that needs BOTH the
    re-ranked top-k and the candidate volume (the selectivity rows)
    hashes the corpus once, not twice."""
    cb = with_lsh_bands(
        emb.select("vec_id", VEC_COL), bands, ANN_ROWS_PER_BAND
    ).select("vec_id", "band", "bucket")
    qb = with_lsh_bands(
        queries.select("query_id", F.col("qvec").alias(VEC_COL)),
        bands,
        ANN_ROWS_PER_BAND,
    ).select("query_id", "band", "bucket")
    return (
        F.broadcast(qb)
        .join(cb, ["band", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )


def rerank_topk(
    cand: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    count_col: str | None = None,
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, vec_id) candidate set:
    top-k per query with deterministic tie-break. Scoring re-joins
    the corpus by vec_id (equi-join) and broadcasts the query side --
    vectors never ride through candidate generation.

    count_col: also emit the per-query candidate-set size under this
    name, computed as a whole-partition window count in the SAME
    shuffle as the ranking -- a selectivity caller gets recall AND
    probe volume from ONE evaluation of the candidate pipeline
    (referencing cand twice would re-run the band hashing: Spark
    expands shared lazy subplans per consumer)."""
    corpus = emb.select("vec_id", F.col(VEC_COL).alias("vec"), l2_norm_col(VEC_COL).alias("vnorm"))
    q = queries.select("query_id", "qvec", l2_norm_col("qvec").alias("qnorm"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(corpus, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot_col("qvec", "vec") / (F.col("qnorm") * F.col("vnorm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out_cols = ["query_id", "neighbor_id", "cosine"]
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if count_col is not None:
        ranked = ranked.withColumn(
            count_col,
            F.count("*").over(Window.partitionBy("query_id")).cast("long"),
        )
        out_cols.append(count_col)
    return (
        ranked.filter(F.col("rank") <= TOPK)
        .select(*out_cols, F.col("rank").cast("long").alias("rank"))
    )


def ivf_centroids(emb: DataFrame, by: str = "label") -> DataFrame:
    """Coarse-quantizer centroids: element-wise mean per partition key
    (the `label` column stands in for k-means cell ids -- at 100 TB
    the cells come from a sampled k-means; the serving plan below is
    identical either way). Two-stage: posexplode -> (key,pos) means ->
    reassemble ordered arrays. Centroid count = #cells: tiny,
    broadcastable.

    Means are exact decimal sums / count (order-independent, so the
    whole IVF serve plan is reproducible cross-engine and the driver
    can hash-check it; a double-fold avg would vary with partition
    splits)."""
    flat = emb.select(F.col(by).alias("cell"), F.posexplode(VEC_COL).alias("pos", "v"))
    dsum = F.sum(F.col("v").cast("double").cast("decimal(27,12)"))
    means = flat.groupBy("cell", "pos").agg(
        (dsum.cast("string").cast("double") / F.count("*")).alias("c")
    )
    return (
        means.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s["c"]).alias("cvec"))
    )


def _ivf_probes(
    emb: DataFrame,
    queries: DataFrame,
    n_probe: int = N_PROBE,
    by: str = "label",
) -> DataFrame:
    """Per-query probed cells: route each query to its n_probe
    nearest centroids (queries x centroids is tiny -- both sides
    broadcast). Shared by ann_ivf_topk (serve) and
    ann_ivf_candidate_counts (cost accounting)."""
    cents = ivf_centroids(emb, by)
    q = queries.select("query_id", "qvec", l2_norm_col("qvec").alias("qnorm"))
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id", "qvec", "qnorm", "cell",
            (dot_col("qvec", "cvec") / (F.col("qnorm") * l2_norm_col("cvec"))).alias("csim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cell"))
    return (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qvec", "qnorm", "cell")
    )


def ann_ivf_candidate_counts(
    emb: DataFrame,
    queries: DataFrame,
    by: str = "label",
) -> DataFrame:
    """DataFrame[query_id, n_candidates]: how many corpus vectors the
    IVF serve path actually scans per query (rows in the probed
    cells, excluding the query itself) -- the cost half of the
    recall-vs-probe-volume tradeoff. Same probe routing as
    ann_ivf_topk; the count is a per-(query, cell) aggregate joined
    to broadcast probes, never a row-level fan-out."""
    probes = _ivf_probes(emb, queries, by=by).select("query_id", "cell")
    cell_sizes = emb.groupBy(F.col(by).alias("cell")).agg(
        F.count("*").alias("_cn")
    )
    # self-exclusion: the query's own row sits in exactly one cell,
    # and that cell is always probed first (it contains the query)
    self_cell = emb.select(
        F.col("vec_id").alias("query_id"), F.col(by).alias("_self_cell")
    )
    return (
        F.broadcast(probes)
        .join(cell_sizes, "cell")
        .join(F.broadcast(self_cell), "query_id", "left")
        .groupBy("query_id")
        .agg(
            (
                F.sum("_cn")
                - F.max(
                    F.coalesce(
                        (F.col("cell") == F.col("_self_cell")).cast("long"),
                        F.lit(0),
                    )
                )
            ).alias("n_candidates")
        )
    )


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_probe: int = N_PROBE,
    by: str = "label",
) -> DataFrame:
    """IVF-style ANN: route each query to its n_probe nearest
    centroids, scan only those cells' inverted lists, exact cosine
    within. The corpus is touched once per probed cell (a broadcast
    semi-filter on `cell`), never cross-joined; recall is tuned by
    n_probe. Complements ann_lsh_topk: IVF wins when vectors cluster,
    LSH when they don't."""
    probes = _ivf_probes(emb, queries, n_probe, by)
    corpus = emb.select(
        F.col("vec_id"), F.col(by).alias("cell"), F.col(VEC_COL).alias("vec"),
        l2_norm_col(VEC_COL).alias("vnorm"),
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "cell",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot_col("qvec", "vec") / (F.col("qnorm") * F.col("vnorm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cell", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def embedding_dup_pairs(emb: DataFrame, use_lsh: bool = False) -> DataFrame:
    """Near-duplicate vector pairs by cosine >= MIN_COSINE.

    use_lsh=False: full O(n^2) pair scan -- the oracle-checkable
    ground truth, fine up to ~10^4 vectors per partition-side.
    use_lsh=True: BANDED LSH (round 8; re-tuned round 9) -- pairs
    form if they collide in ANY of the `with_lsh_bands` (band,
    bucket) tables, the 100 TB path. The old AND-only single-bucket
    form recalled only ~5% of the sf0.1 mutual-NN pairs at
    MIN_COSINE=0.35; the 24x5 splitmix64-plane banding measures pair
    recall 0.92 and mutual-NN recall 0.95 on the same task
    (tests/test_mutual_nn_recall.py pins the floors). Duplicate
    candidates across bands collapse via one distinct() at candidate
    grain (cosine is deterministically rounded, so duplicates are
    exact)."""
    base = with_lsh_bands(emb) if use_lsh else emb
    base = base.withColumn("nrm", l2_norm_col(VEC_COL))  # once per row, pre-join
    cols = ["vec_id", VEC_COL, "nrm"] + (["band", "bucket"] if use_lsh else [])
    a = base.select(*[F.col(c).alias(f"a_{c}") for c in cols])
    b = base.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    cond = F.col("a_vec_id") < F.col("b_vec_id")
    if use_lsh:
        # The banded inputs are row-count-tiny (n x bands) but the
        # join OUTPUT is candidate-pair-sized; AQE's coalescing sees
        # only the small shuffle inputs and folds the join to ~1
        # partition, serializing every per-pair dot product (measured
        # 3-5x on the whole scan). Pin an explicit hash partitioning
        # on the join key -- user repartitions are exempt from AQE
        # coalescing, so the pair work stays spread.
        par = emb.sparkSession.sparkContext.defaultParallelism
        join = a.repartition(par, "a_band", "a_bucket").join(
            b,
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_bucket") == F.col("b_bucket"))
            & cond,
        )
    else:
        # the theta join plans as BroadcastNestedLoopJoin; the STREAMED
        # side inherits the scan's partitioning, and a small corpus
        # arrives as ONE parquet split -- which would run the whole
        # O(n^2) dot-product scan on one core (measured 27 s -> 2.4 s
        # at 2M pairs on local[32]). Spread the streamed side across
        # the cluster and pin the broadcast side explicitly; at real
        # scale the scan has many splits and the repartition cost is
        # noise against the quadratic pair work.
        par = emb.sparkSession.sparkContext.defaultParallelism
        join = a.repartition(par).join(F.broadcast(b), cond)
    out = (
        join.select(
            F.col("a_vec_id").alias("vec_a"),
            F.col("b_vec_id").alias("vec_b"),
            F.round(
                dot_col(f"a_{VEC_COL}", f"b_{VEC_COL}") / (F.col("a_nrm") * F.col("b_nrm")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= MIN_COSINE)
    )
    if use_lsh:
        # a pair colliding in k bands appears k times with the
        # identical rounded cosine; collapse at candidate grain
        out = out.distinct()
    return out


def semantic_dedup(emb: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster the embedding space with k-means,
    then WITHIN each cell drop every vector that has a
    higher-priority near-duplicate (cosine >= MIN_COSINE and smaller
    vec_id -- the deterministic keep-the-canonical rule).

    DataFrame[vec_id, cell, keep]: keep=false iff a same-cell
    neighbor with smaller vec_id clears the threshold.

    Scale shape: pairs only ever form inside a cell (shuffle on
    cell, never a global cross join), so pair cost is bounded by the
    largest cell, tuned by KMEANS_K -- at 100 TB you raise k so
    cells stay ~10^4 vectors (SemDeDup itself uses k = 11k on
    LAION). Norms are projected once per row before the self-join;
    the drop set is a broadcast-size list of ids whenever near-dup
    density is low, and the final marking is one left-semi-shaped
    join. EAGER: the k-means fit trains at construction time.
    Deterministic (decimal-mean k-means + rounded cosine) =>
    DuckDB-oracle-checkable end to end."""
    from .kmeans import _assign, kmeans_fit

    cells = _assign(emb, kmeans_fit(emb), VEC_COL).select(
        "vec_id", "cell"
    )
    base = (
        emb.select("vec_id", VEC_COL)
        .join(cells, "vec_id")
        .withColumn("nrm", l2_norm_col(VEC_COL))
    )
    a = base.select(
        F.col("cell"),
        F.col("vec_id").alias("a_id"),
        F.col(VEC_COL).alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
    )
    b = base.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col(VEC_COL).alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.round(dot_col("a_vec", "b_vec") / (F.col("a_nrm") * F.col("b_nrm")), 6)
            >= MIN_COSINE
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return cells.join(
        dropped.withColumn("dup", F.lit(True)), "vec_id", "left"
    ).select("vec_id", "cell", F.coalesce(~F.col("dup"), F.lit(True)).alias("keep"))


def mutual_nearest_pairs(pairs: DataFrame, pin: bool = True) -> DataFrame:
    """Reciprocal nearest-neighbor pairs from a candidate pair list
    [vec_a, vec_b, cosine] (vec_a < vec_b): keep (a, b) iff b is a's
    single best partner AND a is b's -- the high-precision match
    filter used for bitext mining / duplicate canonicalization
    (margin-based mutual-NN, Artetxe & Schwenk): a one-directional
    top-1 can be a hub artifact, a reciprocal one rarely is.

    Scale: runs on the (already thresholded/bucketed) candidate
    pairs, never all-pairs -- symmetrize, one per-node window for
    argmax (deterministic tie-break cosine desc then neighbor id),
    and a self-equi-join of the two argmax directions. All shapes are
    node- or candidate-sized.

    Output: [vec_a, vec_b, cosine] with vec_a < vec_b.

    r10 pinning: `pairs` is the EXPENSIVE upstream (an all-pairs or
    LSH-bucketed cosine scan); unpinned, the symmetrizing union
    evaluated it once per branch and the reciprocity self-join then
    doubled the whole window subtree again -- up to 4 evaluations of
    the candidate generation per run (4 unions / 13 Exchanges in the
    r9 plan). Measured A/B (r10, sf0.1, both variants): pinning
    `pairs` alone is the winner (exact 5.7 -> 3.3 s, LSH 4.1 -> 3.6
    s); ALSO pinning `best` was slower than pinning nothing on the
    LSH path (the window output re-derives cheaply from the pinned
    pairs, and the extra checkpoint is a barrier + serialization),
    so `best` stays unpinned.

    r11 `pin` parameter (VERDICT r10 #4): interleaved same-JVM A/B
    (sf0.1, two rounds; OPTIMIZATION_r11.md section 5) measured the
    pin a clear win on the exact path (1.75-1.98 s vs 2.76-2.97 s
    unpinned) but EXACTLY NEUTRAL on the LSH path (2.15/2.40 vs
    2.15/2.21) -- there, runtime exchange reuse already dedups the
    bucketed candidate scan, so the pin only adds executor
    block-store state (corpus-scale at 100 TB, and lineage-cut
    executor-loss exposure on the biggest intermediate). Callers on
    bucketed/LSH candidate paths pass pin=False; the exact all-pairs
    path keeps the default."""
    if pin:
        pairs = materialize(pairs)
    sym = pairs.select(
        F.col("vec_a").alias("v"), F.col("vec_b").alias("nb"), "cosine"
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("v"), F.col("vec_a").alias("nb"), "cosine"
        )
    )
    w = Window.partitionBy("v").orderBy(F.desc("cosine"), F.asc("nb"))
    best = (
        sym.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    other = best.select(
        F.col("v").alias("_bv"), F.col("nb").alias("_bnb")
    )
    return (
        best.join(
            other,
            (F.col("nb") == F.col("_bv")) & (F.col("_bnb") == F.col("v")),
        )
        .filter(F.col("v") < F.col("nb"))
        .select(
            F.col("v").alias("vec_a"), F.col("nb").alias("vec_b"), "cosine"
        )
        .orderBy("vec_a")
    )
