"""Training-data curation operators (extension surface, SURVEY.md
section 2b): benchmark decontamination, repetition-based quality
filters (Gopher-style), PII redaction, and mixture-balanced
sampling.

The reference engine (greeter_server.cc / greeter_client.cc) has no
curation surface at all -- its one job is word count -- so these are
part of the LLM-pipeline extension mandated by BASELINE.json, built
as pure declarative DataFrame plans:

- every per-document metric is a JVM Column expression or a
  window/groupBy over an exploded token stream (whole-stage codegen,
  no Python);
- the only corpus-wide joins are either broadcast (eval n-gram set,
  per-group counts) or keyed on doc_id, which every post-explode
  aggregate already hash-partitions on;
- sampling membership is a deterministic function of content, never
  of partitioning or RNG state, so results are reproducible and
  DuckDB-oracle-checkable.

100 TB posture, per operator:
- decontaminate: the eval/benchmark side is tiny (~1e5 docs) next to
  the corpus; its distinct n-gram set is broadcast, so the corpus
  side is a map-side hash join -- no corpus shuffle. Only matching
  (doc_id, ngram) rows -- a vanishing fraction -- reach the final
  per-doc aggregation.
- repetition_stats: map-only -- per-row array folds, no explode, no
  window, no shuffle; runs at scan speed regardless of corpus size.
- pii_redact: zero shuffles -- a chain of regexp_replace column
  expressions evaluated in one codegen'd projection per row.
- mixture_sample: per-group counts are a tiny aggregate broadcast
  back; the keep/drop decision is then a per-row expression, so the
  corpus is filtered in place with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingle_rows_flat
from .normalize import normalized_col
from .tokenize import tokens_col

DECONTAM_NGRAM_K = 6

# (name, java+RE2-safe pattern, replacement) -- applied IN ORDER, each
# on the output of the previous replace; the oracle mirrors the same
# order so overlapping matches resolve identically in both engines.
# Patterns avoid lookarounds/backrefs so Java regex and DuckDB's RE2
# accept the same language.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)

SPAN_NGRAM_K = 8
SPAN_MIN_COUNT = 2  # occurrences that make a window a duplicate
GROUP_COL = "lang"


def decontaminate(train_docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: for each training doc, the number
    of distinct DECONTAM_NGRAM_K-token n-grams it shares with the eval
    corpus.

    Docs that appear here at all are contaminated; callers anti-join
    the result against the corpus to drop them. k=6 follows the
    published 8-13-gram practice scaled to this corpus's short docs.

    Plan: the eval n-gram set is broadcast (benchmarks are ~1e5 docs
    vs a 100 TB corpus), making the join map-side; the corpus side
    uses the shuffle-FREE flat shingle builder (no window, no
    Exchange), so distinct-counting AFTER the join is the only
    corpus-side shuffle -- and it sees matched rows only, a vanishing
    fraction."""
    train_sh = shingle_rows_flat(train_docs, DECONTAM_NGRAM_K)
    eval_sh = shingle_rows_flat(eval_docs, DECONTAM_NGRAM_K).select("sh").distinct()
    hits = train_sh.join(F.broadcast(eval_sh), "sh")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("sh").alias("n_shared_ngrams")
    )


def eval_overlap_report(
    train_docs: DataFrame,
    eval_docs: DataFrame,
) -> DataFrame:
    """The eval-side complement of `decontaminate`: for each EVAL doc,
    how much of it the training corpus has already seen — distinct
    k-gram count, how many of those appear anywhere in train, and the
    leaked fraction. This is the leakage report benchmark owners
    publish alongside a decontamination pass (a 0.9-leaked eval doc
    makes its benchmark score meaningless even after the train side
    is scrubbed).

    Plan: eval is the small side (~1e5 docs vs a 100 TB corpus), so
    its distinct shingle set broadcasts; the corpus is scanned ONCE
    with the shuffle-free flat shingle builder and only MATCHED
    shingles reach the distinct (a vanishing fraction). The per-doc
    report then joins eval's own shingles against that tiny hit set
    by broadcast — the corpus never shuffles at all."""
    ev_sh = shingle_rows_flat(eval_docs, DECONTAM_NGRAM_K).distinct()
    ev_set = ev_sh.select("sh").distinct()
    train_sh = shingle_rows_flat(train_docs, DECONTAM_NGRAM_K)
    hit_set = (
        train_sh.join(F.broadcast(ev_set), "sh").select("sh").distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    marked = ev_sh.join(F.broadcast(hit_set), "sh", "left")
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.coalesce(F.sum("hit"), F.lit(0).cast("long")).alias("n_shared"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("leak_frac"),
    )


def _longest_equal_run(arr):
    """Length of the longest run of equal adjacent elements in a
    string array, as a single aggregate() fold (prev, current-run,
    best-run accumulator). Over a SORTED array this is the maximum
    element multiplicity (mode count); over the raw array it is the
    longest consecutive repeat. Empty arrays fold to 0. The array
    argument is evaluated once per row (it is the fold's input, not
    referenced inside the lambda -- the HOF re-evaluation trap this
    repo measured at 50x does not apply)."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
    )

    def merge(acc, x):
        new_run = (
            F.when(x == acc["prev"], acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    return F.aggregate(arr, init, merge, lambda acc: acc["best"])


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition metrics per document:

    - n_tokens
    - top_token_frac: occurrences of the most frequent token / n_tokens
    - top_bigram_frac: occurrences of the most frequent bigram /
      (n_tokens - 1)
    - max_run_len: longest run of one token repeated consecutively

    High values of any of these mark boilerplate / degenerate text
    (the Gopher rules drop docs with top-2-gram fraction > 0.18).

    Plan shape: MAP-ONLY. All three metrics are longest-equal-run
    folds over per-row arrays (sorted tokens -> max token
    multiplicity; sorted bigram array -> max bigram multiplicity; raw
    tokens -> max consecutive run), so there is no explode, no window,
    and no shuffle anywhere -- at 100 TB this runs embarrassingly
    parallel at scan speed. Replaced the previous 3-branch
    explode+window+join shape (3 corpus tokenizations, 4 shuffles);
    measured 1.24 s -> 0.83 s at sf0.1, identical oracle output."""
    toks_df = docs.select("doc_id", tokens_col(normalized_col("text")).alias("toks"))
    n = F.size("toks")
    # bigram array: zip the tokens with themselves shifted by one
    # (slice args evaluated once per row); < 2 tokens -> no bigrams
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("toks", 1, n - 1),
            F.slice("toks", 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = toks_df.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        _longest_equal_run(F.array_sort("toks")).alias("top_tok"),
        _longest_equal_run(F.array_sort(bigrams)).alias("top_bg"),
        _longest_equal_run(F.col("toks")).alias("max_run_len"),
    )
    nn = F.col("n_tokens")
    return staged.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("top_tok") / F.greatest(nn, F.lit(1)), 6).alias("top_token_frac"),
        F.round(F.col("top_bg") / F.greatest(nn - 1, F.lit(1)), 6).alias(
            "top_bigram_frac"
        ),
        F.col("max_run_len"),
    )


def pii_cols():
    """(count_cols, redacted_col) column expressions for the PII
    pass."""
    cur = F.col("text")
    count_cols = []
    for name, pat, repl in PII_PATTERNS:
        count_cols.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return count_cols, cur


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII redaction: replace emails / IPv4s / SSN-shaped / phone-
    shaped substrings with typed placeholder tokens, counting each.

    Counts are taken on the progressively-redacted string in pattern
    order, so an overlapping match is attributed to exactly one type
    in both engines. Pure column expressions -- one codegen'd
    projection, zero shuffles, linear scan at any scale."""
    count_cols, redacted = pii_cols()
    return docs.select(
        "doc_id",
        *count_cols,
        redacted.alias("redacted"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


def token_budget_mixture(docs: DataFrame) -> DataFrame:
    """Token-budget corpus composition: fill each group's TOKEN budget
    greedily with its highest-quality documents -- the primitive for
    assembling a pretraining mixture specified in tokens per language
    rather than document rates (mixture_sample / temperature_sample
    are the rate-based complements). A doc is kept iff the total
    tokens of strictly-better docs in its group is still under the
    budget, so exactly the greedy prefix survives (the crossing doc is
    included; a group whose best doc alone exceeds the budget still
    keeps that one doc). Returns the per-group audit [lang,
    n_docs_kept, tokens_kept, min_quality].

    Exactness: token counts are integers, the quality key is the
    6dp-rounded score (ties broken by doc_id), and the cumulative sum
    is a plain integer window -- fully oracle-checkable. Scale: one
    hash shuffle on the group for the window; nothing global."""
    from ..functions.text_stats import quality_score_col, with_token_array

    scored = with_token_array(docs).select(
        "doc_id",
        F.col(GROUP_COL),
        F.size("toks").cast("long").alias("n_toks"),
        quality_score_col("text", toks=F.col("toks")).alias("quality"),
    )
    w = (
        Window.partitionBy(GROUP_COL)
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = scored.withColumn(
        "cum_before", F.coalesce(F.sum("n_toks").over(w), F.lit(0))
    ).filter(F.col("cum_before") < 3000)
    return kept.groupBy(GROUP_COL).agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_toks").alias("tokens_kept"),
        F.min("quality").alias("min_quality"),
    )


def mixture_sample(docs: DataFrame) -> DataFrame:
    """Mixture-balanced deterministic sampling: down-sample every
    group to (approximately) the size of the smallest group, so the
    kept corpus is balanced across `lang` (the data-mixing
    primitive for training-set composition).

    Membership is a pure function of content -- u = first 8 hex chars
    of md5(normalized text) scaled to [0,1), kept iff u < min_n/n_g --
    so the sample is reproducible under any partitioning and exactly
    mirrored by the DuckDB oracle. The per-group counts are a tiny
    aggregate joined back by broadcast; the corpus itself is filtered
    in place with no shuffle."""
    counts = docs.groupBy(GROUP_COL).agg(F.count("*").alias("n_g"))
    min_n = counts.agg(F.min("n_g").alias("min_n"))
    u = (
        F.conv(F.substring(F.md5(normalized_col("text")), 1, 8), 16, 10).cast("long")
        / F.lit(4294967296.0)
    )
    keep = ["doc_id"] + [
        c for c in (GROUP_COL, "source") if c in docs.columns
    ]
    return (
        docs.join(F.broadcast(counts), GROUP_COL)
        .crossJoin(F.broadcast(min_n))
        .filter(u < F.col("min_n") / F.col("n_g"))
        .select(*keep)
    )


def shard_manifest(docs: DataFrame) -> DataFrame:
    """Deterministic output-shard manifest: assign each doc to
    shard = doc_id // ceil((max_id+1)/8) and report per-shard
    doc/token totals and doc_id bounds -- the bookkeeping a sharded
    training-data export writes next to its files.

    Shard width derives from a 1-row max aggregate broadcast back, so
    assignment is a per-row expression; the only shuffle is the final
    8-row aggregation."""
    bounds = docs.agg(F.max("doc_id").alias("max_id"))
    width = F.ceil((F.col("max_id") + 1) / F.lit(8))
    shard = F.floor(F.col("doc_id") / width).cast("long")
    n_toks = F.size(tokens_col(normalized_col("text")))
    return (
        docs.crossJoin(F.broadcast(bounds))
        .select(shard.alias("shard_id"), "doc_id", n_toks.alias("n_toks"))
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def duplicate_spans(docs: DataFrame) -> DataFrame:
    """Exact-substring duplicate spans (the distributed shape of Lee
    et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022): every SPAN_NGRAM_K-token window whose exact text
    occurs >= SPAN_MIN_COUNT times anywhere in the corpus (any doc,
    including the same one) marks its token positions as duplicated; overlapping
    marked windows merge into maximal spans per doc.

    DataFrame[doc_id, span_start, span_end, n_tokens] -- token
    offsets, end exclusive. Downstream curation cuts these spans out
    (the suffix-array pipeline's verbatim-memorization fix).

    Scale shape: one shuffle groups the k-gram occurrences (uniform
    text keys; at extreme scale swap the join key for
    portable_hash60(sh) to move 8-byte ints instead of strings --
    collisions would only over-mark, never miss), one join marks
    positions, and span merging is the classic gaps-and-islands
    window per doc_id: running max of window ends, flag on gap,
    running sum of flags as island id -- per-doc partitions, no
    global sort."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(tokens_col(normalized_col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, SPAN_NGRAM_K)]
    sh = (
        toks.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.when(
                F.lead("tok", SPAN_NGRAM_K - 1).over(w).isNotNull(), F.concat_ws(" ", *parts)
            ).alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
    )
    # Occurrence counting via a window over sh, NOT groupBy + self-
    # join: the join shape evaluates the k-gram subplan (posexplode +
    # k lead windows) twice; the window computes it once and shuffles
    # once on sh. Same rows out — count(*) over (partition by sh) is
    # exactly the group size. Measured 1.56 s -> ~1.0 s at sf0.1.
    occ = Window.partitionBy("sh")
    marked = (
        sh.withColumn("c", F.count("*").over(occ))
        .filter(F.col("c") >= SPAN_MIN_COUNT)
        .select("doc_id", "pos")
    )

    prev = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    upto = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    x = marked.withColumn("e_pos", F.col("pos") + SPAN_NGRAM_K).withColumn(
        "run_max", F.max("e_pos").over(prev)
    )
    flag = (
        F.when(
            F.col("run_max").isNull() | (F.col("pos") > F.col("run_max")),
            F.lit(1).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    g = x.withColumn("island", F.sum(flag).over(upto))
    return (
        g.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("span_start"), F.max("e_pos").alias("span_end"))
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        )
    )


def temperature_sample(docs: DataFrame) -> DataFrame:
    """Temperature-based group rebalancing (the mT5 / multilingual-
    pretraining recipe, alpha = 0.5): target share of group g is
    proportional to (n_g / N)^alpha -- larger than proportional for
    small groups, smaller for dominant ones -- then each group is
    down-sampled to its target rate (no upsampling: rate caps at 1).

    alpha is fixed at 0.5 so the power is sqrt(), which IEEE
    specifies correctly-rounded in every engine; each sqrt term is
    rounded to 12 decimals and the normalizer accumulated as exact
    DECIMAL, making the rates -- and therefore the exact kept set --
    cross-engine-reproducible. Membership is the same content-hash
    u < rate rule as mixture_sample: reproducible under any
    partitioning, no shuffle of the corpus.

    Plan: n_tot and the normalizer both derive from the per-group
    counts via global windows OVER THE TINY AGGREGATE (group-count
    rows, not fact rows), so the whole rates table is one linear
    chain off a single corpus aggregation -- the corpus is scanned
    exactly twice (once for counts, once for the final broadcast-join
    filter), versus the 4+ scans the earlier crossJoin-of-aggregates
    shape re-derived (the r2 bench's 6 s outlier)."""
    from pyspark.sql import Window

    everything = Window.partitionBy()
    t = F.round(
        F.sqrt(F.col("n_g").cast("double") / F.col("n_tot").cast("double")), 12
    ).cast("decimal(14,12)")
    rates = (
        docs.groupBy(GROUP_COL)
        .agg(F.count("*").alias("n_g"))
        .withColumn("n_tot", F.sum("n_g").over(everything))
        .withColumn("t", t)
        .withColumn("s", F.sum("t").over(everything).cast("string").cast("double"))
        .select(
            GROUP_COL,
            F.least(
                F.lit(1.0),
                (
                    (F.col("t").cast("string").cast("double") / F.col("s"))
                    * F.col("n_tot")
                )
                / F.col("n_g"),
            ).alias("rate"),
        )
    )
    u = (
        F.conv(F.substring(F.md5(normalized_col("text")), 1, 8), 16, 10).cast("long")
        / F.lit(4294967296.0)
    )
    keep = ["doc_id"] + [
        c for c in (GROUP_COL, "source") if c in docs.columns
    ]
    return (
        docs.join(F.broadcast(rates), GROUP_COL)
        .filter(u < F.col("rate"))
        .select(*keep)
    )


STRATIFIED_DEN = 10  # stratified_sample keeps N div 10 of N docs


def stratified_sample(docs: DataFrame) -> DataFrame:
    """EXACT proportional stratified sample over GROUP_COL with
    largest-remainder (Hamilton) apportionment: total sample size
    n = N div STRATIFIED_DEN,
    per-stratum quota q_h = (n*N_h) div N, and the d = n - sum(q_h)
    leftover slots go to the strata with the largest remainders
    (n*N_h mod N, ties broken by stratum name) -- the apportionment
    rule that makes the quotas sum EXACTLY to n while every stratum
    stays within 1 of its ideal share. mixture_sample's Bernoulli
    filter only hits its target in expectation; this one hits it
    exactly, which is what a fixed-token-budget training mix needs.

    Determinism: all quota arithmetic is integer (ANSI overflow
    raises -- at corpus sizes where n*N_h exceeds 2^63, widen to
    decimal rather than silently wrapping); within a stratum the
    kept docs are the quota-first rows in md5(doc_id) hex order
    (portable string compare, mirrored exactly by the oracle), so
    membership is a pure function of the data.

    Shapes: quota logic runs entirely on the |strata|-row aggregate
    (windows over that grain only); selection is one rank window
    partitioned by stratum over the docs. With few huge strata that
    per-stratum sort is the cost -- at 100 TB either run the
    two-level bucketed ranking (operators/ranking.py) per stratum or
    accept mixture_sample's Bernoulli approximation; this exact form
    is sized for stratum sorts that fit an executor's spill budget.

    Output: [group, doc_id, n_h, quota], ordered."""
    c = docs.groupBy(F.col(GROUP_COL).alias("g")).agg(
        F.count("*").alias("n_h")
    )
    # NB: Spark resolves column names case-insensitively by default,
    # so _n/_N would silently collide (withColumn REPLACES the other)
    wall = Window.partitionBy()
    t = (
        c.withColumn("_tot", F.sum("n_h").over(wall))
        .withColumn("_n", F.expr(f"_tot div {STRATIFIED_DEN}"))
        .withColumn("_q0", F.expr("(_n * n_h) div _tot"))
        .withColumn("_r", F.expr("(_n * n_h) % _tot"))
    )
    wrank = Window.orderBy(F.desc("_r"), F.asc("g"))
    quota = (
        t.withColumn("_deficit", F.col("_n") - F.sum("_q0").over(wall))
        .withColumn("_rr", F.row_number().over(wrank))
        .select(
            "g",
            "n_h",
            (
                F.col("_q0")
                + F.when(F.col("_rr") <= F.col("_deficit"), 1).otherwise(0)
            ).cast("long").alias("quota"),
        )
    )
    wsel = Window.partitionBy(GROUP_COL).orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    ranked = docs.select(GROUP_COL, "doc_id").withColumn(
        "_rnk", F.row_number().over(wsel)
    )
    return (
        ranked.join(
            F.broadcast(quota),
            ranked[GROUP_COL] == quota["g"],
        )
        .filter(F.col("_rnk") <= F.col("quota"))
        .select(GROUP_COL, "doc_id", "n_h", "quota")
        .orderBy(GROUP_COL, "doc_id")
    )
