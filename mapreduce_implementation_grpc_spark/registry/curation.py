"""Registry queries for data curation: decontamination, sketches (CMS,
HLL, KMV, Bloom), BM25 retrieval, PageRank, PII redaction and mixture
sampling.
"""

from __future__ import annotations

from .shared import (
    DEFAULT_PACK_BUDGET,
    DataFrame,
    F,
    SparkSession,
    Window,
    analytics,
    corpus_from_documents,
    decontaminate,
    eval_overlap_report,
    load_table,
    materialize,
    mixture_sample,
    normalized_col,
    pii_redact,
    repetition_stats,
    shard_manifest,
    tokenize,
    with_token_array,
    word_count,
)
from .text_shaping import _bpe_docs



# ---------------------------------------------------------------------------
# curation / filtering (decontamination, quality, PII, mixing)
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 20 != 0)
    sharing any 6-gram with the held-out eval slice (doc_id % 20 == 0),
    with the distinct shared-n-gram count. Eval n-gram set broadcast;
    corpus side never shuffles before the match."""
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    train_docs = docs.filter(F.col("doc_id") % 20 != 0)
    return decontaminate(train_docs, eval_docs)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch frequency estimates for the top-20 corpus
    words, next to the truth (operators/cms.py): est >= true always
    -- the one-sided CMS guarantee, test-pinned; the oracle checks
    the approximate path itself."""
    from ..operators.cms import cms_heavy_hitters

    return cms_heavy_hitters(word_count(corpus_from_documents(spark, sf_dir)))


def q_cms_screened_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase sketch-screened exact heavy hitters: a map-side CMS
    pass finds candidate words (threshold = token total div 500,
    read off the sketch itself), and only candidate occurrences ever
    shuffle on the word key -- the 100 TB replacement for a
    full-vocabulary groupBy when only frequent words matter. CMS
    one-sidedness guarantees zero false negatives; false positives
    appear as confirmed=false rows (operators/cms.py)."""
    from ..operators.cms import cms_screened_wordcount

    corpus = corpus_from_documents(spark, sf_dir)
    tokens = tokenize(corpus.select(normalized_col("line").alias("norm")))
    return cms_screened_wordcount(tokens)


def q_kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation sketch: estimate the overlap between
    purchasing users (events) and BUILDING-segment customer keys
    (customer) from two 256-row k-min-value summaries
    (operators/kmv.py -- HLL can count but not intersect; KMV
    sketches compose), with the exact intersection and relative
    error alongside. A CROSS-TABLE set intersection with a
    non-trivial Jaccard, and both estimator branches exercised
    across SFs: below 256 union values the sketch IS the set
    (exact), above it the (k-1)*2^60/h_k estimator engages."""
    from ..operators.kmv import kmv_intersection_report

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return kmv_intersection_report(a, b, F.col("user_id"), F.col("c_custkey"))


def q_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern, built manually and proven exact:
    revenue of lineitems belonging to URGENT orders of
    BUILDING-segment customers. The qualifying orderkey set (~4% of
    orders) is compacted to a 2^17-bit Bloom bitmap (4096 rows,
    broadcast); the lineitem side probes it MAP-SIDE
    (operators/bloom.bloom_prune) so only survivors -- members plus
    ~0.4% false positives -- enter the exact semi join's shuffle. At
    100 TB this is the difference between shuffling every lineitem
    and shuffling the selected few; the oracle is the PLAIN semi-join
    SQL, so the hash match proves the pruned plan drops nothing and
    the exact join cleans every false positive."""
    from ..operators.bloom import bloom_bitmap, bloom_prune

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .join(cust, "o_custkey", "left_semi")
        .select("o_orderkey")
        .transform(materialize)  # bitmap build + exact join share it
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    bitmap = bloom_bitmap(keys.select(F.col("o_orderkey").cast("string").alias("sh")))
    survivors = bloom_prune(li, F.col("l_orderkey").cast("string"), bitmap)
    exact = survivors.join(
        keys, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return exact.agg(
        analytics._dec2dbl(F.sum(revenue)).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q_hll_users_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate per event type,
    reported NEXT TO the exact count with the relative error -- the
    oracle-checkable twin of approx_distinct_users (whose Spark-
    internal HLL++ hash makes it rows-only by necessity). See
    operators/hll.py for the exact-integer register-sum design."""
    from ..operators.hll import hll_estimate

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    est = hll_estimate(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "est_distinct",
        "exact_distinct",
        F.round(
            (F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


def q_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style sketch rollup: ONE pass over events builds a
    per-(event_type, day) HLL register table -- the stored fine-grain
    continuous aggregate -- and every coarser grain (per event_type,
    grand total) derives from that table by reg-wise max alone,
    never re-reading raw rows. max is associative/commutative, so the
    merged registers are bit-identical to a direct sketch (pinned by
    the mergeability test); this is the layout a 1000-executor
    daily-rollup pipeline stores and serves. Output: [grain, gkey,
    est_distinct, exact_distinct, rel_err] -- estimate quality
    measured, not asserted."""
    from ..operators.hll import (
        estimate_from_registers,
        hll_registers,
        merge_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    day_regs = materialize(hll_registers(ev, ["event_type", "d"], "user_id"))
    t_est = estimate_from_registers(
        merge_registers(day_regs, ["event_type"]), ["event_type"]
    ).select(
        F.lit("event_type").alias("grain"),
        F.col("event_type").alias("gkey"),
        "est_distinct",
    )
    a_est = estimate_from_registers(merge_registers(day_regs, []), []).select(
        F.lit("total").alias("grain"), F.lit("*").alias("gkey"), "est_distinct"
    )
    exact = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
        .select(F.col("event_type").alias("gkey"), "exact_distinct")
        .unionByName(
            ev.agg(F.count_distinct("user_id").alias("exact_distinct")).select(
                F.lit("*").alias("gkey"), "exact_distinct"
            )
        )
    )
    return (
        t_est.unionByName(a_est)
        .join(exact, "gkey")
        .select(
            "grain",
            "gkey",
            "est_distinct",
            "exact_distinct",
            F.round(
                (F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("grain", "gkey")
    )


def q_copurchase_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite butterfly support among BUILDING-segment customers:
    top pairs by shared suppliers (see operators/graph_motifs.py for
    the wedge-join algorithm and the degree/segment scale knobs).
    Exact within the segment (max_degree=None) so the naive
    all-pairs oracle hash-checks the wedge join; the segment scope
    is what keeps the synthetic graph's ~4%-dense supplier degrees
    (measured: full exact = ~170 M wedges at sf0.1) out of the
    per-round gates."""
    from ..operators.graph_motifs import copurchase_butterflies

    return copurchase_butterflies(spark, sf_dir, segment=PPR_SEGMENT)


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination audit (operators/bloom.py): the
    2^17-bit portable bloom probe vs the exact n-gram match, as a
    confusion matrix. The (bloom=false, exact=true) cell is
    structurally impossible (no false negatives); (true, false) is
    the measured FP rate the exact re-check cleans up."""
    from ..operators.bloom import bloom_decontaminate_audit

    docs = load_table(spark, sf_dir, "documents")
    return bloom_decontaminate_audit(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


def q_eval_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side leakage report: per held-out doc (doc_id % 20 == 0),
    its distinct 6-grams, how many the train slice contains anywhere,
    and the leaked fraction. Corpus side never shuffles (broadcast
    probe -> tiny hit set -> broadcast back)."""
    docs = load_table(spark, sf_dir, "documents")
    return eval_overlap_report(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


def q_fuzzy_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-banded fuzzy vocabulary match: every word pair within
    Levenshtein distance 2, found via deletion-neighborhood buckets
    (keyed join, never all-pairs) + exact-distance filter. The oracle
    is the NAIVE all-pairs SQL, so hash parity proves the banding
    loses no pair."""
    from ..operators import bpe
    from ..operators.fuzzy import fuzzy_word_pairs

    return fuzzy_word_pairs(bpe.word_freqs(spark, sf_dir))


def q_bpe_compression_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-parity report: chars-per-BPE-token by language. The
    fairness metric tokenizer owners publish (a language with a much
    higher ratio is under-served by the learned merges and pays more
    tokens for the same text). Composes the trained encode with a
    one-shuffle rollup; the ratio is a division of two exact counts,
    so it is bit-identical cross-engine."""
    docs, n_bpe = _bpe_docs(spark, sf_dir)
    n_chars = F.aggregate(
        F.transform(F.col("toks"), lambda w: F.length(w)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    per_doc = docs.select("lang", n_bpe.alias("nb"), n_chars.alias("nc"))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("nc").alias("total_chars"),
            F.sum("nb").alias("total_bpe_tokens"),
        )
        .select(
            "lang",
            "total_chars",
            "total_bpe_tokens",
            F.round(
                F.col("total_chars").cast("double")
                / F.col("total_bpe_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing by the TRAINED tokenizer's real token counts
    (train BPE -> measure each doc -> lay head-to-tail into
    DEFAULT_PACK_BUDGET-token blocks) -- the packing a training job actually does,
    vs pack_sequences' length heuristic. Same scale-safe per-shard
    window; the count column is the map-only encode."""
    from pyspark.sql import Window

    docs, n_bpe = _bpe_docs(spark, sf_dir)
    base = docs.select("doc_id", "source", n_bpe.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(prefix / DEFAULT_PACK_BUDGET).cast("long").alias("bin_id"),
        (prefix % DEFAULT_PACK_BUDGET).cast("long").alias("offset"),
    )


BM25_QUERY = ("spark", "join", "fast")
BM25_TOPN = 50
BM25_B = 0.75
BM25_K1 = 1.2


def _eq_lit(t: str):
    """Single-arg HOF lambda factory: a two-parameter lambda would be
    treated by PySpark as an (element, index) function."""
    return lambda x: x == F.lit(t)


def q_bm25_topk(spark: SparkSession, sf_dir: str, topn: int = BM25_TOPN) -> DataFrame:
    """Lexical retrieval: Okapi BM25 top-k for a fixed query -- the
    sparse complement of the ANN dense-retrieval suite (hybrid search
    runs both and fuses). Plan: one corpus pass computes per-doc term
    frequencies and length from the materialized token array; the
    collection statistics (N, per-term df, avg doc length) are ONE
    tiny aggregate broadcast back (scalar-subquery pattern), so there
    is no shuffle proportional to the corpus beyond the single stats
    aggregate; top-k is TakeOrderedAndProject.

    Cross-engine exactness: idf = ln((N - df + 0.5)/(df + 0.5) + 1)
    is rounded to 9dp (the lm_score ln recipe); every other factor is
    arithmetic on identical doubles; contributions are summed as a
    FIXED-ORDER expression chain (query terms are literals), not an
    aggregation, so no reassociation can occur; final score rounds
    to 6dp."""
    from ..functions.text_stats import with_token_array

    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    per_doc = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, _eq_lit(t))).cast("long").alias(f"tf_{i}")
            for i, t in enumerate(BM25_QUERY)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    score = F.lit(0.0)
    for i in range(len(BM25_QUERY)):
        df_ = F.col(f"df_{i}").cast("double")
        idf = F.round(F.log((n - df_ + 0.5) / (df_ + 0.5) + 1.0), 9)
        tf = F.col(f"tf_{i}").cast("double")
        dl = F.col("dl").cast("double")
        denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
        score = score + idf * (tf * (BM25_K1 + 1.0)) / denom
    return (
        scored.select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(topn)
    )


PRF_FEEDBACK = 10
PRF_TOPN = 20


def q_prf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback rerank (Rocchio-style): BM25
    retrieves 50 candidates; the top PRF_FEEDBACK docs' embedding
    CENTROID becomes the dense pseudo-query; candidates re-rank by
    cosine to it -- the classic sparse-retrieve -> dense-rerank
    composition (the other fusion besides hybrid_rrf_topk's rank
    fusion).

    Scale: the candidate list is 50 rows (lazily checkpointed so the
    corpus-wide BM25 pass runs once, not once per consumer); the
    centroid is a 64-row decimal-exact aggregate of 10 vectors folded
    to a 1-row array and broadcast; the rerank window orders 50 rows.
    Nothing corpus-sized shuffles beyond BM25's own stats aggregate.

    Exactness: centroid dims use the label_centroids recipe
    (DECIMAL(27,12) sums -> string-route -> /n -> round 6); cosine is
    the element-order fold that is bit-identical to DuckDB's
    list_cosine_similarity (functions/vectors.py)."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_col, l2_norm_col

    cand = materialize(q_bm25_topk(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    fb = cand.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(PRF_FEEDBACK)
    dims = (
        fb.join(emb, "doc_id")
        .select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(27,12)")).cast("string").cast("double")
                / F.count("*"),
                6,
            ).alias("c")
        )
    )
    cvec = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cvec")
    )
    scored = (
        cand.join(emb, "doc_id")
        .crossJoin(F.broadcast(cvec))
        .select(
            "doc_id",
            "bm25",
            F.round(
                dot_col("embedding", "cvec")
                / (l2_norm_col("embedding") * l2_norm_col("cvec")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= PRF_TOPN)
    )


PPR_SEGMENT = "BUILDING"


def q_segment_affinity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: teleport mass on one market segment's
    customers; the top-50 SUPPLIER nodes by resulting rank are the
    suppliers most proximate to that segment in the purchase graph --
    graph-walk recommendation, oracle-exact (unrolled CTEs with a
    seeded teleport)."""
    from ..operators.pagerank import personalized_pagerank

    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_mktsegment") == PPR_SEGMENT).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("node")
    )
    r = personalized_pagerank(spark, sf_dir, seeds)
    return (
        r.filter(F.col("node").startswith("s"))
        .orderBy(F.desc("r"), F.asc("node"))
        .limit(50)
        .select("node", F.round("r", 6).alias("rank"))
    )



def q_purchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 power iterations) over the customer-supplier
    purchase graph; top-100 authority report with deterministic
    tie-break. No driver collects: the whole loop is one fixed-depth
    lazy plan (see operators/pagerank.py for the scale notes)."""
    from ..operators.pagerank import pagerank

    r = pagerank(spark, sf_dir)
    return (
        r.orderBy(F.desc("r"), F.asc("node"))
        .limit(100)
        .select("node", F.round("r", 6).alias("rank"))
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (top-token / top-bigram
    fraction, longest same-token run) per document."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature (alpha=0.5) language rebalancing with
    content-hash membership -- exact cross-engine kept set."""
    from ..operators.curation import temperature_sample

    return temperature_sample(load_table(spark, sf_dir, "documents"))


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. ACL 2022 shape):
    maximal per-doc token intervals covered by corpus-repeated
    8-gram windows."""
    from ..operators.curation import duplicate_spans

    return duplicate_spans(load_table(spark, sf_dir, "documents"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: typed placeholder substitution with
    per-type counts. The synthetic corpus is PII-free, so this is an
    identity pass here (counts 0) -- the crafted-fixture tests in
    tests/test_curation.py exercise the actual redaction; the oracle
    proves both engines run the identical regex pipeline."""
    return pii_redact(load_table(spark, sf_dir, "documents"))


def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture: fill each language's 3000-token budget
    greedily with its highest-quality docs (per-group audit rows);
    the rate-based complements are mixture_sample/temperature_sample.
    Integer cumulative window over a 6dp-rounded quality key -> the
    exact kept set is oracle-checked."""
    from ..operators.curation import token_budget_mixture

    return token_budget_mixture(load_table(spark, sf_dir, "documents"))


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-balanced sampling: down-sample each language to the
    smallest language's size via deterministic content hashing."""
    return mixture_sample(load_table(spark, sf_dir, "documents"))


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard manifest for a sharded training-data export:
    per-shard doc/token totals and doc_id bounds."""
    return shard_manifest(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def q_documents_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~1/8 of docs): the
    reproducible train/test-split primitive -- membership depends only
    on content, never on partitioning, ordering, or RNG state."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(normalized_col("text")), 1, 1)
    return docs.filter(bucket.isin("0", "1")).select("doc_id", "lang", "source")
