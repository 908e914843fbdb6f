"""K-means coarse quantizer in pure DataFrame ops (iterative
algorithm, extension surface SURVEY.md 2b: the IVF cell assignment
ann_ivf_topk serves from when no natural partition key exists).

Lloyd's algorithm, Spark-shaped:
- init: k deterministic seeds (smallest vec_ids -- reproducible, no
  RNG state; k-means|| would sample by hash the same way);
- assign: SHUFFLE-FREE. The k centroids live on the driver (k tiny
  vectors -- inherent to broadcast-kmeans) and are embedded as an
  array-of-structs literal; each row takes
  array_min(transform(centroids, c -> struct(obj, cell))) -- a pure
  codegen'd map expression. No crossJoin, no Window, no Exchange:
  at 100 TB the assign stage is exactly one narrow pass over the
  embeddings, per iteration.
- update: groupBy(cell, pos) mean over posexploded vectors -- the
  same flat-centroid shape as similarity.ivf_centroids. This is the
  ONE shuffle per Lloyd round, keyed on (cell, pos): k*dim groups,
  map-side partial aggregation does most of the work.
- the k centroid rows are collect()ed per round (driver-scalar,
  k*dim doubles); fixed iteration count (coarse quantizers don't
  need convergence detection -- a few rounds of Lloyd on a sample is
  the standard IVF recipe).

The returned assignment DataFrame is LAZY: it is a map expression
over the input against the final collected centroids (training
itself runs eagerly during the call, as any iterative fit must).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KMEANS_K = 8  # cells
KMEANS_ITER = 3  # Lloyd rounds


def _centroid_literal(cent_rows: list[tuple[int, list[float], float]]) -> Column:
    """Array-of-structs literal [(cell, cvec, cnorm2), ...] from the
    driver-side centroid rows."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cell)).cast("long").alias("cell"),
                F.array(*[F.lit(float(x)) for x in cvec]).alias("cvec"),
                F.lit(float(cnorm2)).alias("cnorm2"),
            )
            for cell, cvec, cnorm2 in cent_rows
        ]
    )


def _assign(
    emb: DataFrame, cent_rows: list[tuple[int, list[float], float]], vec_col: str
) -> DataFrame:
    """argmin_c ||v - c||^2 == argmin_c (||c||^2 - 2 v.c) per row,
    as a single shuffle-free expression: transform the centroid
    literal into (obj, cell) structs, take array_min (lexicographic
    struct ordering = min obj, ties broken by smallest cell).

    The lambda only references the row's own vector column (a plain
    attribute, cheap to re-evaluate) and literals, so Catalyst's
    project-collapsing cannot inline an expensive subtree into the
    per-element loop -- the known HOF performance trap. The struct IS
    evaluated behind an explode(array(...)) Generate barrier so that
    reading .cell and .obj doesn't duplicate the whole argmin tree
    (CollapseProject would otherwise inline it twice -- measured
    ~1.4x slower)."""
    cents = _centroid_literal(cent_rows)

    def score(c: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), c["cvec"], lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.struct((c["cnorm2"] - 2 * dot).alias("obj"), c["cell"].alias("cell"))

    best = F.array_min(F.transform(cents, score))
    return emb.select(
        "vec_id", vec_col, F.explode(F.array(best)).alias("best")
    ).select(
        "vec_id", vec_col, F.col("best.cell").alias("cell"), F.col("best.obj").alias("obj")
    )


def _centroids_from(assigned: DataFrame, vec_col: str) -> DataFrame:
    """DataFrame[cell, cvec, cnorm2] of per-cell element-wise means:
    posexplode -> (cell, pos) mean -> reassemble ordered arrays. The
    one shuffle of each Lloyd round.

    Means are exact decimal sums / count (same recipe as
    similarity.ivf_centroids): order-independent, so every Lloyd
    round -- and therefore the whole iterative fit -- is
    deterministic and reproducible cross-engine; the DuckDB oracle
    (registry.oracle_builders._kmeans_cells_sql) unrolls the identical iterations. A
    double-fold avg would vary with partition splits."""
    flat = assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
    dsum = F.sum(F.col("v").cast("double").cast("decimal(27,12)"))
    means = flat.groupBy("cell", "pos").agg(
        (dsum.cast("string").cast("double") / F.count("*")).alias("c")
    )
    cents = (
        means.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s["c"]).alias("cvec"))
    )
    return cents.withColumn(
        "cnorm2",
        F.aggregate("cvec", F.lit(0.0), lambda acc, x: acc + x * x),
    )


def _collect_centroids(cents: DataFrame) -> list[tuple[int, list[float], float]]:
    rows = cents.select("cell", "cvec", "cnorm2").collect()
    return sorted((r.cell, list(r.cvec), r.cnorm2) for r in rows)


def kmeans_fit(
    emb: DataFrame,
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITER,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Train Lloyd's k-means and return the final centroid rows
    [(cell, cvec, cnorm2), ...] (driver-side: k tiny vectors).
    Eager: n_iter jobs, one shuffle each. Deterministic end to end
    (seed = smallest vec_ids, exact decimal-sum means), so consumers
    like product quantization stay oracle-checkable."""
    seed_rows = (
        emb.orderBy("vec_id").limit(k).select("vec_id", vec_col).collect()
    )
    cent_rows = []
    for cell, r in enumerate(seed_rows):
        cvec = [float(x) for x in r[vec_col]]
        cent_rows.append((cell, cvec, sum(x * x for x in cvec)))

    for _ in range(n_iter):
        assigned = _assign(emb, cent_rows, vec_col)
        cent_rows = _collect_centroids(_centroids_from(assigned, vec_col))
    return cent_rows


def kmeans_cells(emb: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """DataFrame[vec_id, cell, obj]: k-means cell per vector (obj =
    final assignment objective, for inertia checks).

    Training is eager (KMEANS_ITER jobs, one shuffle each); the returned
    assignment is a lazy narrow map against the final centroids.
    For very large k (where a k*dim literal tree would bloat
    codegen), the same argmin is expressible as an explode +
    groupBy("vec_id").agg(min(struct(obj, cell))) -- one narrow
    shuffle -- but coarse quantizers live at k <= a few hundred,
    where the literal wins outright."""
    cent_rows = kmeans_fit(emb, k)
    return _assign(emb, cent_rows, "embedding").select(
        "vec_id", "cell", F.round("obj", 6).alias("obj")
    )
