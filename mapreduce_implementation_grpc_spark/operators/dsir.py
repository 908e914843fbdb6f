"""DSIR-style importance weighting for data selection (extension
surface, SURVEY.md 2b: the reference — a word-count system,
greeter_server.cc:72–110 — has no data-selection surface; this is the
LLM-pipeline capability the BASELINE.json north star mandates).

Data Selection via Importance Resampling (Xie et al., 2023, public):
score each raw-pool document by the log-likelihood ratio of a
TARGET-domain unigram LM vs the RAW-pool unigram LM (both bag-of-
words with add-1 smoothing over the shared corpus vocabulary):

    log w(d) = sum_w m_d(w) * (ln p_t(w) - ln p_r(w))

High-scoring raw docs "look like" the target domain and are the ones
importance resampling keeps for pretraining mixture construction.

Plan shape (the NB-classifier recipe, operators/nb_classify.py):
training is two vocab-sized aggregations of the token stream (target
counts, raw counts) — far smaller than the corpus; the per-token
log-ratio table joins into the per-doc token histogram (pre-grouped
on (doc, w), so hot stopwords are one row per doc). AQE chooses
broadcast vs shuffle join for the ratio table at runtime (a 100 TB
vocabulary does not fit an executor). No driver collection anywhere.

Cross-engine determinism: each ln term is rounded to 9 decimals and
accumulated as exact DECIMAL (the lm_score recipe), so the weights
reproduce bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import normalized_col
from .tokenize import tokens_col

TARGET_SOURCE = "src0"


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "source",
        F.explode(tokens_col(normalized_col("text"))).alias("w"),
    )


def dsir_log_ratios(docs: DataFrame) -> DataFrame:
    """DataFrame[w, lr]: per-token log-likelihood ratio
    ln p_t(w) - ln p_r(w) (decimal(14,9)) — the trained DSIR model.
    This is the reusable serve artifact: join it onto any per-doc
    token stream (as dsir_weights does) and sum."""
    toks = _tokens(docs)
    is_target = F.col("source") == TARGET_SOURCE
    # Both LMs trained in ONE pass over the token stream: conditional
    # counts per token, plus the two totals from the same aggregates.
    tc = toks.groupBy("w").agg(
        F.sum(F.when(is_target, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_target, 0).otherwise(1)).alias("cr"),
    )
    totals = tc.agg(
        F.sum("ct").alias("nt_t"),
        F.sum("cr").alias("nt_r"),
        F.count("*").alias("v"),
    )

    ln_t = F.round(
        F.log((F.col("ct") + F.lit(1)).cast("double") / (F.col("nt_t") + F.col("v")).cast("double")),
        9,
    ).cast("decimal(13,9)")
    ln_r = F.round(
        F.log((F.col("cr") + F.lit(1)).cast("double") / (F.col("nt_r") + F.col("v")).cast("double")),
        9,
    ).cast("decimal(13,9)")
    return tc.crossJoin(F.broadcast(totals)).select("w", (ln_t - ln_r).alias("lr"))


def dsir_weights(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, lang, source, dsir_logw]: importance log-
    weight for every RAW-pool doc (source != TARGET_SOURCE) under a
    target unigram LM trained on TARGET_SOURCE docs vs a raw LM
    trained on the pool. Raw docs with zero tokens are excluded (no
    evidence). dsir_logw is the decimal-exact sum cast to double and
    rounded to 6dp."""
    ratios = dsir_log_ratios(docs)
    raw_hist = (
        _tokens(docs)
        .filter(F.col("source") != TARGET_SOURCE)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("m"))
    )
    logw = (
        raw_hist.join(ratios, "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("m").cast("decimal(10,0)") * F.col("lr")).alias("s"))
    )
    return (
        logw.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            F.round(F.col("s").cast("string").cast("double"), 6).alias("dsir_logw"),
        )
    )
