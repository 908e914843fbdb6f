"""Portable KMV (k-minimum-values) sketch (Bar-Yossef et al. 2002;
Beyer et al. 2007) -- the SET-OPERATION member of the deterministic
sketch family. HLL estimates one set's cardinality but cannot
intersect; KMV sketches compose: the k smallest hash values of A and
of B merge (union + re-trim) into the sketch of A ∪ B, and the
fraction of the union's k-mins present in both input sketches is a
Jaccard estimator -- so |A ∩ B| is estimable from two 256-row
summaries of arbitrarily large sets. This is the theta-sketch
set-algebra layout in its simplest form.

Determinism: the hash is the portable 60-bit md5 prefix (shared with
the HLL/CMS/Bloom family), the k-mins are an ORDER BY h LIMIT k
(Spark plans TakeOrdered -- per-partition heaps + merge, never a
global sort), and the estimators are fixed-order double arithmetic
rounded to 6dp -- so even the APPROXIMATE estimates hash-match a
DuckDB twin.

Estimators (k = 256, hash space [0, 2^60)):
- |A ∪ B|: exact count when the merged sketch holds fewer than k
  values (the sketch IS the set); else (k-1) * 2^60 / h_k with h_k
  the k-th smallest hash of the union -- the standard KMV estimator.
- Jaccard: |kmin(A∪B) ∩ kmin(A) ∩ kmin(B)| / |kmin(A∪B)| -- computed
  purely from the SKETCHES (the protocol two sites would run after
  shipping 256 rows each), never from the raw sets.
- |A ∩ B| = Jaccard * |A ∪ B| (inclusion-exclusion-free form).

Scale: per set, one distinct-hash aggregate bounded by the set's
cardinality, then a TakeOrdered to k rows; everything downstream
joins 256-row tables. The exact intersection is computed alongside
(one more semi join of the distinct-hash sets) so the estimate's
error is measured, not asserted away.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..materialize import materialize

from .dedup import portable_hash60

KMV_K = 256
HASH_SPACE = float(1 << 60)


def kmin_values(df: DataFrame, col: Column) -> DataFrame:
    """[h]: the KMV_K smallest distinct portable hashes of `col` -- the
    KMV sketch, as a KMV_K-row table (mergeable by union + re-trim)."""
    return (
        df.select(portable_hash60(col.cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )


def kmv_intersection_report(
    a: DataFrame,
    b: DataFrame,
    col_a: Column,
    col_b: Column,
) -> DataFrame:
    """One row: [est_union, est_jaccard, est_intersection,
    exact_intersection, rel_err] for the value sets a[col_a], b[col_b].
    Estimates derive ONLY from the two KMV_K-row sketches; the exact
    intersection rides along to measure the error."""
    ka = materialize(kmin_values(a, col_a))
    kb = materialize(kmin_values(b, col_b))
    ku = materialize(ka.unionByName(kb).distinct().orderBy("h").limit(KMV_K))
    stats = ku.agg(F.max("h").alias("hk"), F.count("*").alias("kct"))
    common = (
        ku.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count("*").alias("cj"))
    )
    ha = a.select(portable_hash60(col_a.cast("string")).alias("h")).distinct()
    hb = b.select(portable_hash60(col_b.cast("string")).alias("h")).distinct()
    exact = ha.join(hb, "h", "left_semi").agg(
        F.count("*").alias("exact_intersection")
    )
    row = stats.crossJoin(F.broadcast(common)).crossJoin(F.broadcast(exact))
    est_union = F.when(
        F.col("kct") < KMV_K, F.col("kct").cast("double")
    ).otherwise(F.round(F.lit(float(KMV_K - 1)) * F.lit(HASH_SPACE) / F.col("hk"), 6))
    row = row.withColumn("est_union", est_union)
    est_j = F.round(F.col("cj") / F.col("kct"), 6)
    est_i = F.round(F.col("cj") * F.col("est_union") / F.col("kct"), 6)
    return row.select(
        "est_union",
        est_j.alias("est_jaccard"),
        est_i.alias("est_intersection"),
        "exact_intersection",
        F.round(
            (est_i - F.col("exact_intersection"))
            / F.nullif(F.col("exact_intersection").cast("double"), F.lit(0.0)),
            6,
        ).alias("rel_err"),
    )
