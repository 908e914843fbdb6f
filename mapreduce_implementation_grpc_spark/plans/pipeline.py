"""End-to-end training-data curation pipeline: the composed job this
engine exists for.

    documents
      -> exact dedup        (md5 fingerprint, keep min doc_id)
      -> near-dup removal   (MinHash clusters, keep cluster canonical)
      -> quality filter     (composite score threshold)
      -> annotate           (token counts, fingerprint, language)

Every stage is one of the engine's tested operators; the composition
itself adds no new semantics -- which is the point: curation at
100 TB is exactly these shuffles, nothing more. Returns the curated
DataFrame; the caller chooses the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..materialize import materialize

from ..functions.text_stats import (
    bpe_like_token_count_col,
    quality_score_col,
)
from ..operators.dedup import dedup_clusters, exact_dedup
from ..operators.normalize import normalized_col
from ..sources.catalog import load_table

MIN_QUALITY = 0.5


def curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    # 1. exact dedup: keep the canonical (min doc_id) of each
    #    identical-content group. The keep-set is a SMALL id list
    #    consumed by three downstream subplans (cluster signatures,
    #    the anti-join, the final annotate) -- checkpoint it lazily so
    #    the md5 aggregate runs once. (docs1 itself is deliberately
    #    NOT checkpointed: materializing the whole corpus is not a
    #    100 TB pattern; the extra scans are parquet-speed.)
    keep_exact = (
        exact_dedup(docs)
        .select(F.col("keep_doc_id").alias("doc_id"))
        .transform(materialize)
    )
    docs1 = docs.join(keep_exact, "doc_id", "left_semi")

    # 2. near-dup removal: within each MinHash cluster keep only the
    #    cluster id doc (= min member); docs without near-dups pass
    # max_iter=20: min-label propagation must reach the full
    # transitive closure (early exit keeps short components cheap) so
    # the result matches the oracle's recursive-CTE closure exactly
    clusters = dedup_clusters(docs1)
    drop_near = clusters.filter(F.col("doc_id") != F.col("cluster")).select("doc_id")
    docs2 = docs1.join(drop_near, "doc_id", "left_anti")

    # 3+4. quality gate + annotations in one projection pass; the
    # token array is materialized once behind a Generate barrier so
    # quality + bpe-count don't each re-run the tokenize regex
    from ..functions.text_stats import with_token_array

    toks = F.col("toks")
    return (
        with_token_array(docs2)
        .select(
            "doc_id",
            "text",
            "lang",
            "source",
            quality_score_col("text", toks=toks).alias("quality"),
            bpe_like_token_count_col("text", toks=toks).alias("n_bpe_tokens"),
            F.md5(normalized_col("text")).alias("fingerprint"),
        )
        .filter(F.col("quality") >= MIN_QUALITY)
    )


def select_pretraining_corpus(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """End-to-end DATA-SELECTION pipeline (the importance-resampling
    counterpart of curate_documents' cleaning pipeline):

        documents
          -> exact dedup              (md5 fingerprint, keep min doc_id)
          -> DSIR importance filter   (target-vs-raw log-likelihood
                                       ratio >= 0: keep raw docs
                                       at least as target-like as the
                                       raw average)
          -> temperature rebalancing  (mT5 alpha=0.5 language shares)

    Returns DataFrame[doc_id, lang, source, dsir_logw] -- the selected
    mixture, each doc carrying its importance weight. Every stage is
    an existing tested operator; DSIR trains on the DEDUPED corpus
    (train-on-clean, the published recipe) and the temperature rates
    are computed over the POST-SELECTION pool, so small languages are
    boosted within what the importance filter kept."""
    from ..operators.curation import temperature_sample
    from ..operators.dsir import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    # the dedup keep-set and the DSIR-selected set are each consumed
    # by MULTIPLE downstream subplans (DSIR training scans docs1
    # several times; temperature rates scan docs2; the final join
    # reuses sel) -- lazily checkpointing these two SMALL id-sets pays
    # the dedup aggregate and the DSIR training exactly once
    # (measured 3.5x at sf0.1: 7.5 s -> 2.2 s warm)
    keep = (
        exact_dedup(docs)
        .select(F.col("keep_doc_id").alias("doc_id"))
        .transform(materialize)
    )
    docs1 = docs.join(keep, "doc_id", "left_semi")

    w = dsir_weights(docs1)
    sel = (
        w.filter(F.col("dsir_logw") >= 0.0)
        .select("doc_id", "dsir_logw")
        .transform(materialize)
    )
    docs2 = docs1.join(sel.select("doc_id"), "doc_id", "left_semi")

    return temperature_sample(docs2).join(sel, "doc_id")
