"""Corpus indexing & collocation statistics (extension surface,
SURVEY.md section 2b text analysis).

The reference's single job is the word-count histogram
(greeter_server.cc:105-110); these operators are its natural
generalizations for an LLM-data pipeline: the inverted index (the
search-side view of word count), PMI collocations (the n-gram LM
statistic built from the same token stream), and per-group top terms
(the per-language vocabulary report).

100 TB posture:
- every operator keys its shuffle on the term (uniformly distributed
  after tokenization except stopword-like heavy hitters, which the
  df/min-count bounds drop from the OUTPUT but which still aggregate
  safely because the partial hash-agg collapses them map-side);
- posting lists are bounded by INDEX_MAX_DF, so no reducer row can
  exceed INDEX_MAX_DF ids -- the classic unbounded-posting skew (stopwords) is
  excluded by construction, which is what production indexes do
  anyway (stopword posting lists are useless for retrieval);
- PMI joins are aggregate-to-aggregate (vocab-sized, orders of
  magnitude smaller than the corpus), never corpus-to-corpus; the
  two scalar totals ride in via broadcast;
- per-group top-k windows run over the post-aggregation table
  (n_groups x vocab), not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.normalize import normalized_col
from ..operators.tokenize import tokens_col

TEXT_COL = "text"
GROUP_COL = "lang"
INDEX_MAX_DF = 20  # inverted_index drops phrases in more docs than this
PMI_MIN_COUNT = 5  # bigram_pmi keeps bigrams seen at least this often
TOP_TERMS_K = 5  # top_terms_per_group's terms per group


def _doc_tokens(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """DataFrame[doc_id, *extra, tok]: one row per token occurrence,
    tokenization identical to the word-count pipeline (O2+O5)."""
    return docs.select(
        "doc_id",
        *extra,
        F.explode(tokens_col(normalized_col(TEXT_COL))).alias("tok"),
    )


def inverted_index(docs: DataFrame) -> DataFrame:
    """Phrase (k-token shingle) inverted index with df bounds: for
    each phrase appearing in [2, INDEX_MAX_DF] distinct docs, the
    document frequency and the sorted posting list (comma-joined
    string, so the gate can hash it). The same index shape that backs
    contamination lookup and phrase search over a training corpus.

    Plan: distinct (sh, doc_id) pairs from the shuffle-free flat
    shingle builder -> one hash aggregation keyed on the phrase
    building the posting list. The df bounds make every output row
    O(INDEX_MAX_DF); phrases outside the band (hapaxes and boilerplate)
    are dropped. At 100 TB the same plan holds: the distinct and the
    groupBy share the phrase-keyed Exchange, and no posting list
    exceeds INDEX_MAX_DF entries."""
    from ..operators.dedup import shingle_rows_flat

    pairs = shingle_rows_flat(docs).distinct()
    agg = pairs.groupBy(F.col("sh").alias("phrase")).agg(
        F.count("*").alias("df"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"),
    )
    return agg.filter((F.col("df") >= 2) & (F.col("df") <= INDEX_MAX_DF))


def bigram_pmi(docs: DataFrame) -> DataFrame:
    """Pointwise mutual information for adjacent-token bigrams with
    count >= PMI_MIN_COUNT:

        pmi = ln( (c_xy * N * N) / (Nb * c_x * c_y) )

    where N = total tokens, Nb = total bigrams (both corpus scalars).
    The collocation-extraction statistic for phrase mining.

    Plan: unigram and bigram counts are two aggregations over the
    exploded token stream; the PMI join is vocab-sized x vocab-sized
    (post-aggregation), never corpus-sized, and the two scalar totals
    are 1-row broadcasts. The PMI_MIN_COUNT filter is applied to the
    bigram side BEFORE the joins, shrinking the join probe to the
    surviving collocations."""
    toks = docs.select(F.explode(F.array(tokens_col(normalized_col(TEXT_COL)))).alias("toks"))
    n_tok = F.size("toks")
    idx = F.when(n_tok >= 2, F.sequence(F.lit(1), n_tok - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = toks.select(
        F.explode(
            F.transform(idx, lambda i: F.struct(
                F.element_at("toks", i).alias("w1"),
                F.element_at("toks", i + 1).alias("w2"),
            ))
        ).alias("g")
    ).select("g.w1", "g.w2")

    uni = (
        docs.select(F.explode(tokens_col(normalized_col(TEXT_COL))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    big = (
        grams.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= PMI_MIN_COUNT)
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("n_tok_total")
    )
    # Nb = total adjacent bigrams = sum over docs of max(len-1, 0); compute
    # from the per-doc token counts so it is exact even for 0/1-token docs.
    nb = (
        docs.select(
            F.greatest(F.size(tokens_col(normalized_col(TEXT_COL))) - 1, F.lit(0)).alias("nb")
        )
        .agg(F.sum("nb").cast("double").alias("n_big_total"))
    )

    cxy = F.col("cnt").cast("double")
    cx = F.col("c1").cast("double")
    cy = F.col("c2").cast("double")
    pmi = F.log(
        (cxy * F.col("n_tok_total") * F.col("n_tok_total"))
        / (F.col("n_big_total") * cx * cy)
    )
    return (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(nb))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("gram"),
            F.col("cnt").cast("long").alias("cnt"),
            F.round(pmi, 6).alias("pmi"),
        )
    )


def top_terms_per_group(docs: DataFrame) -> DataFrame:
    """Top-TOP_TERMS_K most frequent terms per group (per-language vocabulary
    report), deterministic tie-break (cnt desc, word asc).

    Plan: one aggregation keyed on (group, word), then the top-k
    window runs over the post-aggregation table partitioned BY GROUP
    -- n_groups * vocab rows, not corpus rows, and never a single-
    partition global sort."""
    counts = (
        _doc_tokens(docs, extra=(GROUP_COL,))
        .groupBy(GROUP_COL, F.col("tok").alias("word"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(GROUP_COL).orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.select(GROUP_COL, "word", "cnt", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= TOP_TERMS_K)
    )
