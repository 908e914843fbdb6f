"""Embedding scalar quantization (extension surface, SURVEY.md 2b):
per-dimension min/max int8 codes for a 4x memory reduction on the
ANN serve path, with reconstruction-error accounting.

Spark-first shape:
- per-dimension [min, max] is a 64-row aggregate (posexplode ->
  groupBy(pos)), rebuilt into two ordered array columns in a 1-row
  DataFrame and broadcast -- the corpus never shuffles;
- encode/reconstruct are flat HOF expressions over the row's own
  vector and the broadcast stats arrays (all plain attributes, so
  Catalyst's project-collapsing cannot inline anything expensive
  into the per-element lambdas);
- codes are exact integers in both engines (floor of identical
  double arithmetic), which makes the whole pipeline DuckDB-oracle-
  checkable -- unusual for a lossy-compression operator.

At 100 TB: the dim-stats aggregate is one pass producing dim rows
(map-side partial min/max), the broadcast is 2*dim doubles, and
encoding is embarrassingly parallel. Quantized codes shrink the
serve-side working set so more of the corpus fits in executor
memory during ANN probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import DIM, N_PROBE, TOPK, VEC_COL

DEFAULT_LEVELS = 255  # int8 code range [0, 255]


def dim_minmax(emb: DataFrame) -> DataFrame:
    """1-row DataFrame[mins: array<double>, maxs: array<double>] of
    per-dimension bounds, ordered by dimension index."""
    flat = emb.select(F.posexplode(VEC_COL).alias("pos", "x"))
    st = flat.groupBy("pos").agg(
        F.min("x").cast("double").alias("mn"), F.max("x").cast("double").alias("mx")
    )
    return st.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("sm")
    ).select(
        F.transform("sm", lambda s: s["mn"]).alias("mins"),
        F.transform("sm", lambda s: s["mx"]).alias("maxs"),
    )


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """DataFrame[vec_id, codes: array<int>, mse: double].

    code_i = floor((x_i - mn_i) * DEFAULT_LEVELS / (mx_i - mn_i)), clamped to
    the degenerate-dimension case; reconstruction uses the cell
    midpoint mn_i + (code_i + 0.5) * (mx_i - mn_i) / DEFAULT_LEVELS. The
    expression order is mirrored token-for-token in the oracle SQL so
    codes match exactly and mse matches at 6 decimals."""
    one = dim_minmax(emb)
    base = emb.select("vec_id", F.col(VEC_COL).alias("v")).crossJoin(F.broadcast(one))
    lv = F.lit(float(DEFAULT_LEVELS))
    idx = F.sequence(F.lit(1), F.size("v"))

    def _parts(i):
        x = F.element_at("v", i).cast("double")
        mn = F.element_at("mins", i)
        mx = F.element_at("maxs", i)
        return x, mn, mx

    def code(i):
        x, mn, mx = _parts(i)
        return (
            F.when(mx > mn, F.floor(((x - mn) * lv) / (mx - mn)).cast("int"))
            .otherwise(F.lit(0))
        )

    def err2(i):
        x, mn, mx = _parts(i)
        xh = mn + ((code(i).cast("double") + F.lit(0.5)) * (mx - mn)) / lv
        d = x - xh
        return F.when(mx > mn, d * d).otherwise(F.lit(0.0))

    return base.select(
        "vec_id",
        F.transform(idx, code).alias("codes"),
        F.round(
            F.aggregate(F.transform(idx, err2), F.lit(0.0), lambda a, b: a + b)
            / F.size("v"),
            6,
        ).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression half of IVF-PQ,
# the standard billion-scale ANN layout (Jegou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011).
# ---------------------------------------------------------------------------

DEFAULT_PQ_M = 4       # subspaces
DEFAULT_PQ_K = 4       # codewords per subspace
DEFAULT_PQ_ITER = 2    # Lloyd rounds per subspace


def pq_fit(
    emb: DataFrame,
    vec_col: str = VEC_COL,
) -> list[list[tuple[int, list[float], float]]]:
    """Train one k-means codebook of DEFAULT_PQ_K codewords per
    contiguous DIM/m-wide subspace, m = DEFAULT_PQ_M (eager: m small
    Lloyd fits of DEFAULT_PQ_ITER rounds). Fully deterministic --
    kmeans_fit seeds from the smallest vec_ids and uses exact
    decimal-sum means -- so codes and ADC distances are DuckDB-oracle-checkable, which
    is rare for a lossy ANN compression operator."""
    from concurrent.futures import ThreadPoolExecutor

    from .kmeans import kmeans_fit

    m = DEFAULT_PQ_M
    if DIM % m != 0:
        raise ValueError(f"DIM={DIM} not divisible by m={m}")
    w = DIM // m

    def fit(j: int):
        return kmeans_fit(
            emb.select(
                "vec_id", F.slice(F.col(vec_col), j * w + 1, w).alias("subvec")
            ),
            k=DEFAULT_PQ_K,
            n_iter=DEFAULT_PQ_ITER,
            vec_col="subvec",
        )

    # the m subspace fits are INDEPENDENT deterministic jobs --
    # overlap them from a small driver thread pool (guide 2.6) so one
    # fit's aggregation tail back-fills the others' executors. Each
    # fit is unchanged (same seeds, same exact decimal means), and
    # the list stays indexed by j, so the codebooks -- and everything
    # downstream -- are bit-identical to the sequential form.
    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        return list(pool.map(fit, range(m)))


def pq_codes(
    emb: DataFrame,
    vec_col: str = VEC_COL,
    codebooks: list[list[tuple[int, list[float], float]]] | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """DataFrame[vec_id, codes: array<long>, recon_err: double]:
    per-subspace nearest-codeword ids plus the total squared
    reconstruction error ||v - decode(codes)||^2.

    Serving shape: the m tiny codebooks are embedded as
    array-of-structs literals and each subspace's argmin is a flat
    codegen'd expression over the row's own slice -- NO join, NO
    shuffle, one narrow pass at any scale (same posture as the
    k-means assign). All m best-structs are packed behind a single
    explode(array(...)) Generate barrier so reading .cell and .obj
    does not duplicate the argmin trees (the CollapseProject
    double-eval trap).

    `carry_cols` names input columns to pass through unchanged
    (r10: lets IVF-PQ serve paths keep the coarse `cell` on the code
    rows instead of re-joining the corpus to its own assignment by
    vec_id — a corpus-wide shuffle at scale)."""
    from .kmeans import _centroid_literal

    if codebooks is None:
        codebooks = pq_fit(emb, vec_col)
    m = DEFAULT_PQ_M
    w = DIM // m
    carry = [F.col(c) for c in carry_cols]

    def best(j: int):
        sub = F.slice(F.col("v"), j * w + 1, w)
        cents = _centroid_literal(codebooks[j])

        def score(c):
            dot = F.aggregate(
                F.zip_with(sub, c["cvec"], lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )
            return F.struct((c["cnorm2"] - 2 * dot).alias("obj"), c["cell"].alias("cell"))

        return F.array_min(F.transform(cents, score))

    packed = F.struct(*[best(j).alias(f"b{j}") for j in range(m)])
    rows = emb.select("vec_id", *carry, F.col(vec_col).alias("v")).select(
        "vec_id", *carry, "v", F.explode(F.array(packed)).alias("b")
    )

    def subnorm(j: int):
        return F.aggregate(
            F.slice(F.col("v"), j * w + 1, w),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x,
        )

    err = None
    for j in range(m):
        term = subnorm(j) + F.col(f"b.b{j}.obj")
        err = term if err is None else err + term
    return rows.select(
        "vec_id",
        *carry,
        F.array(*[F.col(f"b.b{j}.cell") for j in range(m)]).alias("codes"),
        F.round(err, 6).alias("recon_err"),
    )


def _codebook_df(spark, codebooks, vec: str) -> DataFrame:
    """[j, code, <vec>]: every subspace's codewords as one small table."""
    return spark.createDataFrame(
        [
            (j, int(cell), [float(x) for x in cvec])
            for j, rows in enumerate(codebooks)
            for (cell, cvec, _n2) in rows
        ],
        f"j int, code bigint, {vec} array<double>",
    )


def _adc_topk(scored: DataFrame) -> DataFrame:
    """[query_id, neighbor_id, adc_dist, rank]: the TOPK smallest
    (query_id, vec_id, adc) rows per query, ties to the smaller id."""
    from pyspark.sql import Window

    win = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("adc", 6).alias("adc_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_adc_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: approximate nearest
    neighbors scanning only the compressed codes.

    Per query, the distance to every corpus vector is approximated
    by sum_j ||q_j - codeword(code_j)||^2, read from a per-query
    lookup table of m*k precomputed cell distances -- the classic PQ
    serve plan. Spark shape: the table is (|Q| * m * k) rows --
    tiny, broadcast; codes posexplode to (vec_id, j, code) and the
    per-pair distance is ONE broadcast-join + one shuffle of
    (query_id, vec_id) partial sums. Partial d2 terms are summed as
    exact decimals (order-independent) so the ranking is
    deterministic and DuckDB-reproducible. At 100 TB the scan is
    O(n*m) tiny integer rows per query batch -- the whole point of
    PQ; compose with kmeans cells (IVF-PQ) to cut the scan to probed
    cells only."""
    codebooks = pq_fit(emb)
    codes = pq_codes(emb, codebooks=codebooks)
    w = DIM // DEFAULT_PQ_M

    spark = emb.sparkSession
    cent_df = _codebook_df(spark, codebooks, "cvec")
    qs = F.slice(F.col("qvec"), F.col("j") * w + 1, w)
    diff = F.zip_with(qs, F.col("cvec"), lambda x, y: x.cast("double") - y)
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, z: acc + z * z)
    qtab = (
        queries.select("query_id", "qvec")
        .crossJoin(F.broadcast(cent_df))
        .select("query_id", "j", "code", d2.alias("d2"))
    )

    ce = codes.select("vec_id", F.posexplode("codes").alias("j", "code"))
    dsum = F.sum(F.col("d2").cast("decimal(27,12)"))
    scored = (
        ce.join(F.broadcast(qtab), ["j", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(dsum.cast("string").cast("double").alias("adc"))
    )
    return _adc_topk(scored)


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN layout. A coarse
    k-means partitions the corpus into inverted lists; PQ codes
    compress every vector; a query routes to its N_PROBE nearest
    coarse cells (of KMEANS_K) (L2) and runs the ADC scan over ONLY
    those cells' codes.

    Scale posture: the coarse assignment bounds the scan to
    N_PROBE/KMEANS_K of the corpus, the PQ codes shrink what is
    scanned to DEFAULT_PQ_M small ints per vector, the per-query lookup table
    is broadcast, and the one aggregation shuffle carries
    (query_id, vec_id) partial decimal sums. This variant encodes
    raw vectors (IVF-Flat+PQ); residual encoding drops in by
    training pq_fit on v - coarse_centroid with the same plumbing.
    Deterministic end to end -> DuckDB-oracle-checkable."""
    from pyspark.sql import Window

    from .kmeans import _assign, kmeans_fit

    coarse = kmeans_fit(emb)
    # thread the coarse cell through the encode instead of joining
    # the code rows back to a separate assignment table by vec_id
    # (r10: the old `codes JOIN cells` was a corpus-wide shuffle the
    # narrow assign expression makes unnecessary)
    emb_cells = _assign(emb, coarse, VEC_COL).select("vec_id", VEC_COL, "cell")
    codebooks = pq_fit(emb)
    codes = pq_codes(emb_cells, codebooks=codebooks, carry_cols=("cell",))
    w = DIM // DEFAULT_PQ_M

    spark = emb.sparkSession
    coarse_df = spark.createDataFrame(
        [
            (int(cell), [float(x) for x in cvec], float(n2))
            for cell, cvec, n2 in coarse
        ],
        "cell bigint, cvec array<double>, cnorm2 double",
    )
    qdot = F.aggregate(
        F.zip_with("qvec", "cvec", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    qc = (
        queries.select("query_id", "qvec")
        .crossJoin(F.broadcast(coarse_df))
        .select("query_id", "cell", (F.col("cnorm2") - 2 * qdot).alias("obj"))
    )
    pw = Window.partitionBy("query_id").orderBy(F.asc("obj"), F.asc("cell"))
    probes = (
        qc.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= N_PROBE)
        .select("query_id", "cell")
    )

    cent_df = _codebook_df(spark, codebooks, "cvec")
    qs = F.slice(F.col("qvec"), F.col("j") * w + 1, w)
    diff = F.zip_with(qs, F.col("cvec"), lambda x, y: x.cast("double") - y)
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, z: acc + z * z)
    qtab = (
        queries.select("query_id", "qvec")
        .crossJoin(F.broadcast(cent_df))
        .select("query_id", "j", "code", d2.alias("d2"))
    )

    ce = codes.select(
        "vec_id", "cell", F.posexplode("codes").alias("j", "code")
    )
    dsum = F.sum(F.col("d2").cast("decimal(27,12)"))
    scored = (
        ce.join(F.broadcast(probes), "cell")
        .join(F.broadcast(qtab), ["query_id", "j", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(dsum.cast("string").cast("double").alias("adc"))
    )
    return _adc_topk(scored)


def _coarse_lookup_literal(coarse: list[tuple[int, list[float], float]]):
    """array<array<double>> literal mapping cell id -> centroid (one
    Catalyst Literal node; gaps from emptied cells hold zero vectors
    that nothing references). Per-row element_at by the DATA-dependent
    cell id is the one place the nested-literal form is right: the
    index isn't constant, so there is nothing to constant-fold."""
    max_cell = max(c for c, _v, _n in coarse)
    table = [[0.0] * DIM for _ in range(max_cell + 1)]
    for cell, cvec, _n2 in coarse:
        table[cell] = [float(x) for x in cvec]
    return F.lit(table)


def ivfpq_residual_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVFADC proper (Jegou et al. 2011): PQ codebooks are trained on
    RESIDUALS v - coarse_centroid(cell(v)), which concentrates the
    quantizer's capacity on within-cell variation -- tighter codes
    than raw-vector PQ at the same bit budget. The serve-side lookup
    table becomes per-(query, probed cell): d2_j = ||(q - c_cell)_j -
    codeword||^2; still |Q| * 2 * m * k rows, still broadcast.

    Same scale posture as ivfpq_topk: the residual transform is a
    narrow per-row expression (one data-indexed lookup into the
    broadcast centroid table), encode is shuffle-free, serve is one
    broadcast join chain + one decimal-sum aggregation shuffle."""
    from pyspark.sql import Window

    from .kmeans import _assign, kmeans_fit

    coarse = kmeans_fit(emb)
    lookup = _coarse_lookup_literal(coarse)

    # the assign expression is narrow and already carries the vector,
    # so the residual is one more per-row expression -- no join of
    # the corpus back to its own assignment by vec_id (r10: the old
    # emb JOIN cells + codes JOIN cells were two corpus-wide shuffles
    # the carried `cell` column makes unnecessary)
    res = _assign(emb, coarse, VEC_COL).select(
        "vec_id",
        "cell",
        F.zip_with(
            F.col(VEC_COL),
            F.element_at(lookup, (F.col("cell") + 1).cast("int")),
            lambda x, y: x.cast("double") - y,
        ).alias("res"),
    )
    codebooks = pq_fit(res, vec_col="res")
    codes = pq_codes(res, vec_col="res", codebooks=codebooks, carry_cols=("cell",))
    w = DIM // DEFAULT_PQ_M

    spark = emb.sparkSession
    coarse_df = spark.createDataFrame(
        [
            (int(cell), [float(x) for x in cvec])
            for cell, cvec, _n2 in coarse
        ],
        "cell bigint, cvec array<double>",
    )
    cent_df = _codebook_df(spark, codebooks, "cwvec")
    # probe routing: L2 argmin over coarse centroids (obj = -2 q.c + ||c||^2)
    qdot = F.aggregate(
        F.zip_with("qvec", "cvec", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    cn2 = F.aggregate("cvec", F.lit(0.0), lambda acc, x: acc + x * x)
    qc = (
        queries.select("query_id", "qvec")
        .crossJoin(F.broadcast(coarse_df))
        .select("query_id", "qvec", "cell", "cvec", (cn2 - 2 * qdot).alias("obj"))
    )
    pw = Window.partitionBy("query_id").orderBy(F.asc("obj"), F.asc("cell"))
    probes = (
        qc.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= N_PROBE)
        .select(
            "query_id",
            "cell",
            F.zip_with("qvec", "cvec", lambda x, y: x.cast("double") - y).alias("qres"),
        )
    )
    # per-(query, probed cell, subspace, codeword) distance table
    qs = F.slice(F.col("qres"), F.col("j") * w + 1, w)
    diff = F.zip_with(qs, F.col("cwvec"), lambda x, y: x - y)
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, z: acc + z * z)
    qtab = (
        probes.crossJoin(F.broadcast(cent_df))
        .select("query_id", "cell", "j", "code", d2.alias("d2"))
    )

    ce = codes.select(
        "vec_id", "cell", F.posexplode("codes").alias("j", "code")
    )
    dsum = F.sum(F.col("d2").cast("decimal(27,12)"))
    scored = (
        ce.join(F.broadcast(qtab), ["cell", "j", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(dsum.cast("string").cast("double").alias("adc"))
    )
    return _adc_topk(scored)
