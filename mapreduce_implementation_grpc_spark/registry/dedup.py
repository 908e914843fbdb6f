"""Registry queries for deduplication (exact, MinHash, SimHash, prefix-
filtered Jaccard, clusters) plus a few event-profile queries.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    analytics,
    dedup_clusters,
    exact_dedup,
    label_propagation,
    load_table,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    quality_score_col,
    simhash_fp,
    simhash_near_dup_pairs,
    with_token_array,
)



def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked exact dedup (operators/dedup.keep_best_dedup):
    among exact duplicates keep the cleanest raw copy, not the
    smallest id -- one digest-keyed window shuffle."""
    from ..operators.dedup import keep_best_dedup

    return keep_best_dedup(load_table(spark, sf_dir, "documents"))


def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_unpivot(spark, sf_dir)


SAMPLE_PER_LANG = 20


def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, per
    stratum (Efraimidis-Spirakis A-ES): each doc draws u from a
    CONTENT-FREE hash of its id (portable md5 -> (0,1)), gets key =
    ln(u)/quality, and the top-SAMPLE_PER_LANG keys per lang are the sample --
    inclusion probability proportional to the quality weight, fully
    reproducible (no RNG state, same sample in any engine or rerun).
    The quality-weighted step up from stratified_sample's uniform
    slices: the curation move 'keep SAMPLE_PER_LANG docs per language, preferring
    clean ones'.

    Exactness: u is exact integer arithmetic; ln runs JVM-side and is
    rounded to 9dp before the /quality division (the BM25-idf
    recipe); zero-quality docs are filtered (their key would be
    -inf). Scale: per-doc map work + one top-k window per lang
    partition."""
    from pyspark.sql import Window

    from ..functions.text_stats import quality_score_col, with_token_array
    from ..operators.dedup import portable_hash32

    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    u = (portable_hash32(F.col("doc_id").cast("string")) + 1).cast("double") / F.lit(
        float(2**32 + 1)
    )
    scored = docs.select(
        "doc_id",
        "lang",
        quality_score_col("text", toks=F.col("toks")).alias("quality"),
        F.round(F.log(u), 9).alias("lnu"),
    ).filter(F.col("quality") > 0)
    key = F.col("lnu") / F.col("quality")
    w = Window.partitionBy("lang").orderBy(F.desc(key), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SAMPLE_PER_LANG)
        .select("doc_id", "lang", "quality", "rank")
    )


def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the Deequ-style data-quality report): per
    column, row count, null count, and EXACT distinct count -- the
    first thing a pipeline owner asks of a new 100 TB drop. One
    single-column pruned scan + partial-agg'd aggregate per column
    (a single multi-countDistinct aggregate would plan an Expand
    replay of the scan per column -- measured 1.9x slower on the
    waiting_suppliers shape); the approx companion for trillion-row
    tables is approx_distinct_users' HLL path."""
    from functools import reduce

    ev = load_table(spark, sf_dir, "events")
    parts = [
        ev.select(F.col(c)).agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
        )
        for c in ("event_id", "ts", "user_id", "event_type", "value", "props")
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def q_user_activity_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.user_activity_decay(spark, sf_dir)


def q_user_activity_decay_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.user_activity_decay_fold(spark, sf_dir)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join at Jaccard >= 0.8 via lossless
    prefix filtering (operators/setjoin.py); oracle is the naive
    all-pairs SQL, so the hash match proves completeness."""
    from ..operators.setjoin import jaccard_prefix_pairs

    return jaccard_prefix_pairs(load_table(spark, sf_dir, "documents"))


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dup_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected components over the MinHash near-dup
    graph. max_iter=20 so min-label propagation provably reaches the
    transitive closure the DuckDB recursive-CTE oracle computes even
    on long chain components (early exit keeps extra rounds free).
    EAGER: propagation rounds run at DataFrame-construction time."""
    return dedup_clusters(load_table(spark, sf_dir, "documents"))


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: membership is decided per
    NEAR-DUP CLUSTER, not per document, so two near-duplicates can
    never straddle the split and leak training text into validation
    (the published split-hygiene rule behind benchmark-decontamination
    practice). Singletons form their own cluster (cluster = doc_id);
    the split is a content-free hash of the cluster id -- deterministic
    under any partitioning. ~1/16 of clusters go to val.
    EAGER: cluster propagation runs at build time."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", F.col("cluster").alias("cl"))
    assigned = docs.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cl"), F.col("doc_id")).alias("cluster")
    )
    bucket = F.substring(F.md5(F.col("cluster").cast("string")), 1, 1)
    return assigned.select(
        "doc_id",
        "cluster",
        F.when(bucket == "0", F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


def q_dedup_clusters_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT ngram-Jaccard pair graph:
    the same iterative min-label propagation as dedup_clusters, but
    with SQL-reproducible edges -- so the whole iterative algorithm
    is oracle-checked (DuckDB recursive CTE computes the identical
    transitive min-label closure). EAGER: propagation rounds run at
    DataFrame-construction time."""
    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b"
    )
    return label_propagation(pairs)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: treat doc_id % 10 == 0 as today's
    new batch and the rest as the existing corpus; return the novel
    new docs (content fingerprint unseen in the corpus). Anti-join
    keyed on the md5 digest -- uniform, skew-free; corpus side
    reduced to distinct fingerprints before the join."""
    from ..operators.incremental import incremental_dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_dedup_exact(new_docs, corpus)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fp(load_table(spark, sf_dir, "documents"))


SIMHASH_MAX_HAMMING = 8


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming <= SIMHASH_MAX_HAMMING of 60 bits: close fingerprints only (16+ admits
    vocabulary-level noise on this small-vocab corpus). Recall is
    FULL at this threshold: the banding adapts to max_hamming
    (9 blocks for d<=8, pigeonhole) -- so the banded result equals
    the brute-force all-pairs oracle exactly."""
    return simhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=SIMHASH_MAX_HAMMING
    )
