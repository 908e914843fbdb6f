"""Registry queries for text analysis and training-data shaping: text
stats, language ID, BPE, chunking, packing, n-grams and vocabularies.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    bpe_like_token_count_col,
    corpus_from_documents,
    doc_fingerprint_cols,
    lang_score_cols,
    load_table,
    quality_score_col,
    text_stats_cols,
    with_token_array,
    word_count,
)



# ---------------------------------------------------------------------------
# text analysis (extension surface, SURVEY.md section 2b)
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", *text_stats_cols("text", toks=F.col("toks")))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", quality_score_col("text", toks=F.col("toks")).alias("quality")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", *lang_score_cols("text", toks=F.col("toks")))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_ws_tokens"),
        bpe_like_token_count_col("text", toks=F.col("toks")).alias("n_bpe_tokens"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *doc_fingerprint_cols("text"))


# ---------------------------------------------------------------------------
# training-data shaping (chunking / packing / vocab)
# ---------------------------------------------------------------------------

def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase inverted index (3-token shingles, df in [2, 20]): the
    search-side generalization of word count -- phrase -> document
    frequency + sorted posting list (comma-joined so the gate can
    hash it). Posting rows are bounded by INDEX_MAX_DF, so no reducer row
    can blow up on a boilerplate phrase."""
    from ..functions.indexing import inverted_index

    return inverted_index(load_table(spark, sf_dir, "documents"))


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations over adjacent-token bigrams (count >= 5):
    phrase mining for corpus analysis. Vocab-sized joins only; the
    corpus-sized work is the two token aggregations."""
    from ..functions.indexing import bigram_pmi

    return bigram_pmi(load_table(spark, sf_dir, "documents"))


def q_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent terms per language: per-group top-k over
    the post-aggregation (lang, word) table with deterministic
    tie-breaks -- never a global sort."""
    from ..functions.indexing import top_terms_per_group

    return top_terms_per_group(load_table(spark, sf_dir, "documents"))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (32-token windows, stride 24)."""
    from ..operators.chunking import doc_chunks

    return doc_chunks(load_table(spark, sf_dir, "documents"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard sequential sequence packing into 256-token blocks."""
    from ..operators.chunking import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"))


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus bigrams (all occurrences, not per-doc distinct):
    the n-gram LM statistics pass. Uses the shuffle-free flat shingle
    builder -- the aggregation keys on the gram itself, so the
    window variant's doc_id Exchange would be pure overhead."""
    from ..operators.dedup import shingle_rows_flat

    grams = shingle_rows_flat(load_table(spark, sf_dir, "documents"), k=2)
    return (
        grams.groupBy(F.col("sh").alias("gram"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(100)
    )


def q_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: words with count >= 5, ranked into
    contiguous ids by (cnt desc, word asc). The global window runs
    over the POST-AGGREGATION table (vocab size, not corpus size) --
    the single-partition rank of a small aggregate, same shape as
    top-N."""
    from pyspark.sql import Window

    wc = word_count(corpus_from_documents(spark, sf_dir)).filter(F.col("cnt") >= 5)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    return wc.select(
        "word", "cnt", F.row_number().over(w).cast("long").alias("vocab_id")
    )


def q_vocab_ids_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vocab_ids without the unpartitioned rank window: exact ids
    from operators/ranking.with_global_row_number (two-level bucketed
    ranking -- no single-partition exchange over the vocab), for
    vocabularies too large for a one-task sort. Shares vocab_ids'
    oracle: the hash match proves the decomposition exact."""
    from ..operators.ranking import with_global_row_number

    wc = word_count(corpus_from_documents(spark, sf_dir)).filter(F.col("cnt") >= 5)
    ranked = with_global_row_number(
        wc, "cnt", tiebreaks=[F.asc("word")], ascending=False, out_col="vocab_id"
    )
    return ranked.select("word", "cnt", F.col("vocab_id").cast("long").alias("vocab_id"))


def q_training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle of the training corpus --
    the epoch-ordering primitive of every pretraining run: each doc's
    position is its exact global rank under a keyed portable hash
    (seed in the hash input; change the seed string, get an
    independent permutation). Composed from existing machinery:
    portable_hash32 (32-bit, so the rank key is double-exact) +
    operators/ranking.with_global_row_number -- NO single-partition
    sort over the corpus; the oracle's naive row_number() OVER
    (ORDER BY hash) proves the two-level decomposition exact.
    At 100 TB the positions feed a range-partitioned write, giving
    shuffled shards without any global sort task."""
    from ..operators.dedup import portable_hash32
    from ..operators.ranking import with_global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = docs.withColumn(
        "hk",
        portable_hash32(F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string"))),
    )
    ranked = with_global_row_number(
        hashed, "hk", tiebreaks=[F.asc("doc_id")], out_col="position"
    )
    return ranked.select(
        "doc_id", "hk", F.col("position").cast("long").alias("position")
    )


def _bpe_docs(spark: SparkSession, sf_dir: str):
    """(documents with their `toks`, per-doc token count under the
    BPE_MERGES merges trained on the corpus). Training is eager."""
    from ..functions.text_stats import with_token_array
    from ..operators import bpe

    merges = bpe.trained_merges(spark, sf_dir)
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    n_bpe = F.aggregate(
        F.transform(F.col("toks"), lambda w: bpe.encoded_len_col(w, merges)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return docs, n_bpe


BPE_PAIR_TOPN = 50


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-trainer kernel: adjacent-symbol pair frequencies over
    the word-frequency table (corpus scanned once; the pair stage runs
    on |vocab| rows). Top-N with deterministic tie-break."""
    from ..operators import bpe

    vocab = bpe.word_freqs(spark, sf_dir).select(
        bpe.symbolized(F.col("w")).alias("ws"), "c"
    )
    return (
        bpe.pair_counts(vocab)
        .orderBy(F.desc("pair_freq"), "left", "right")
        .limit(BPE_PAIR_TOPN)
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE training (Sennrich et al. 2016): BPE_MERGES
    greedy merge rounds; each round re-counts pairs over the merged
    vocab and picks the max (1-row collect, k-means driver-loop
    pattern). Oracle: the rounds unrolled in SQL (_bpe_ctes)."""
    from ..operators import bpe

    merges, _ = bpe.bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, merged string, pair_freq long"
    ).orderBy("rank")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained merges to every document: per-doc real BPE
    token count next to the whitespace count. The k learned merges are
    literal replace() calls -- encode is MAP-ONLY over the corpus."""
    docs, n_bpe = _bpe_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
    )
