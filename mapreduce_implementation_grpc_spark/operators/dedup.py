"""Deduplication operators (extension surface, SURVEY.md section 2b).

Four escalating strategies, all shuffle-based (no driver collect),
each the idiomatic Spark shape for its scale regime:

- exact_dedup:       hash fingerprint -> groupBy. One shuffle on a
                     short key; partial agg halves it map-side.
- ngram_jaccard:     exact Jaccard on candidate pairs that share a
                     *rare* shingle (bounded fan-out join).
- minhash_near_dup:  MinHash signatures + banded LSH -- the linear-
                     cost path at 100 TB: candidates only ever meet
                     inside a band bucket, never a cross join.
- simhash:           64-bit SimHash per doc + Hamming-banded pairs.

Hash functions are PORTABLE: a 32/60-bit base hash taken from an
md5 hex prefix (`conv(substr(md5(x),1,w),16,10)`) plus LCG
permutations `(a*h + b) % P` with constants small enough that every
product stays inside a signed 64-bit integer. Both halves evaluate
bit-identically in Spark SQL and DuckDB, so MinHash signatures,
banded-LSH pairs, SimHash fingerprints, and the connected-component
clusters built on them are all fully DuckDB-oracle-checkable -- and
the arithmetic is *cheaper* than the earlier per-permutation
xxhash64 (one md5 per shingle, then flat mul-add-mod per perm,
instead of num_perm string hashes). All of it stays in whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, materialize_eager
from ..operators.normalize import normalized_col
from ..operators.tokenize import tokens_col

DEFAULT_SHINGLE_K = 3
DEFAULT_NUM_PERM = 16

# smallest prime > 2^32: the classic MinHash LCG modulus. With
# a < 2^30 and h < 2^32, a*h + b < 2^62 -- no BIGINT overflow in
# Spark (ANSI mode) or DuckDB, so the permuted hash is exactly
# reproducible cross-engine.
MINHASH_PRIME = 4294967311
SIMHASH_BITS = 60  # 15 md5 hex chars -> [0, 2^60): fits signed 64-bit

TEXT_COL = "text"
FP_COL = "simhash"


def portable_hash32(col: Column) -> Column:
    """32-bit base hash both engines compute identically: first 8 hex
    chars of md5. DuckDB twin:
    CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def portable_hash60(col: Column) -> Column:
    """60-bit variant (15 hex chars) for fingerprints and band keys."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_perm_constants(
    ) -> list[tuple[int, int]]:
    """Deterministic (a_p, b_p) for the p-th MinHash permutation
    h_p(x) = (a_p * x + b_p) % MINHASH_PRIME, generated by a fixed
    64-bit LCG so the identical literals can be embedded in the
    DuckDB oracle SQL (same trick as the ann_lsh plane literals)."""
    state = 0x5EED5EED

    def nxt() -> int:
        nonlocal state
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        return state

    return [
        (nxt() % ((1 << 30) - 1) + 1, nxt() % MINHASH_PRIME) for _ in range(DEFAULT_NUM_PERM)
    ]
# 8 bands of 2 rows: collision prob = 1-(1-j^2)^8, i.e. ~96% recall at
# j=0.57, ~27% at j=0.2 -- tuned to surface near-dups while the exact
# Jaccard re-check (always computed on candidates) kills false positives.
DEFAULT_BANDS = 8
MIN_EST_JACCARD = 0.3  # signature-estimate floor of a near-duplicate pair


def shingle_rows(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, sh] of k-token shingles (k = DEFAULT_SHINGLE_K), one row each.

    Built as posexplode + window lead over (doc_id, pos) rather than a
    higher-order `transform(sequence(...), i -> slice(toks, i, k))`
    expression: in the latter, `toks` inside the lambda is an
    expression TREE, so the whole tokenize pipeline re-evaluates once
    per shingle index (~k*n regex evaluations per doc -- measured 50x
    slower). Here tokenization runs once per doc, shingle assembly is
    flat codegen'd expressions, and the output is already hash-
    partitioned by doc_id for the downstream per-doc aggregation (no
    second shuffle)."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(tokens_col(normalized_col(TEXT_COL))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, DEFAULT_SHINGLE_K)]
    sh = toks.select(
        "doc_id",
        F.when(
            F.lead("tok", DEFAULT_SHINGLE_K - 1).over(w).isNotNull(), F.concat_ws(" ", *parts)
        ).alias("sh"),
    )
    return sh.filter(F.col("sh").isNotNull())


def shingle_rows_flat(docs: DataFrame, k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """DataFrame[doc_id, sh] of k-token shingles built WITHOUT any
    shuffle: the token array is materialized once per row behind an
    explode(array(...)) Generate barrier (so CollapseProject cannot
    inline the tokenize pipeline into the per-shingle lambda -- the
    measured 50x pitfall), then shingle assembly is a flat
    slice+concat per index over the bound array attribute.

    Use this variant when the consumer does NOT need the output
    hash-partitioned by doc_id (e.g. a broadcast-join probe or a
    groupBy on the shingle itself); `shingle_rows` keeps the
    window-based form whose Exchange is reused by per-doc
    aggregations downstream."""
    toksed = docs.select(
        "doc_id",
        F.explode(F.array(tokens_col(normalized_col(TEXT_COL)))).alias("toks"),
    )
    n = F.size("toks")
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    sh_arr = F.transform(idx, lambda i: F.concat_ws(" ", F.slice("toks", i, k)))
    return toksed.select("doc_id", F.explode(sh_arr).alias("sh"))


def keep_best_dedup(docs: DataFrame) -> DataFrame:
    """Quality-ranked exact dedup: among docs whose NORMALIZED text
    collides, keep the copy with the highest composite quality score
    (ties by smallest doc_id) -- the curation-grade variant of
    exact_dedup, which keeps min(doc_id). Raw texts in a collision
    group differ in punctuation/casing, so their quality scores
    genuinely differ and the winner is the cleanest copy.

    Scale: one window shuffle on the 128-bit digest (uniform,
    skew-free); rank and group size come from the same partitioning,
    so Spark plans a single exchange for both window functions."""
    from pyspark.sql import Window

    from ..functions.text_stats import quality_score_col, with_token_array

    scored = with_token_array(docs).select(
        "doc_id",
        F.md5(normalized_col(TEXT_COL)).alias("fp_md5"),
        quality_score_col(TEXT_COL, toks=F.col("toks")).alias("quality"),
    )
    w = Window.partitionBy("fp_md5").orderBy(F.desc("quality"), F.asc("doc_id"))
    wg = Window.partitionBy("fp_md5")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_dups", F.count("*").over(wg))
        .filter(F.col("_rn") == 1)
        .select(
            "fp_md5", F.col("doc_id").alias("keep_doc_id"), "quality", "n_dups"
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5 of normalized text: one row per
    distinct content, keeping the smallest doc_id as canonical.
    Scale: shuffle key is a 128-bit digest -- uniformly distributed,
    skew-free regardless of content skew."""
    fp = docs.select(F.col("doc_id"), F.md5(normalized_col(TEXT_COL)).alias("fp_md5"))
    return fp.groupBy("fp_md5").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups")
    )


RARE_DOC_FREQ = 3  # ngram_jaccard_pairs' rare shingles sit in 2..3 docs


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard for pairs sharing at least one *rare*
    shingle (document frequency <= RARE_DOC_FREQ).

    The rare-shingle restriction is the scale lever: each qualifying
    shingle contributes at most C(RARE_DOC_FREQ,2) pairs, so the
    candidate join is linear in corpus size instead of quadratic.
    (MinHash banding below is the fully general variant; this one is
    SQL-expressible and oracle-checked.)
    """
    sh = shingle_rows(docs).distinct()
    shingled = sh.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    rare = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= RARE_DOC_FREQ))
        .select("sh")
    )
    sh_rare = sh.join(rare, "sh")  # AQE broadcasts `rare` when small
    a, b = sh_rare.alias("a"), sh_rare.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sa"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.05)
    )


def minhash_signatures(
    docs: DataFrame,
    with_shset: bool = False,
) -> DataFrame:
    """MinHash signature per doc: sig[p] = min over shingles of
    (a_p * portable_hash32(shingle) + b_p) % MINHASH_PRIME -- one md5
    per shingle, then flat integer mul-add-mod per permutation, all
    reproducible in DuckDB (see registry.oracle_builders._minhash_pairs_sql).

    Shape matters: shingles are EXPLODED to rows and the per-perm
    minima taken with groupBy(doc_id).agg(min...) -- flat scalar
    expressions that stay in whole-stage codegen, with map-side
    partial mins before the one shuffle. (The tempting pure-
    expression form -- transform over a perm sequence with a nested
    array_min -- gets its input tree inlined per perm/band by
    CollapseProject and falls out of codegen: ~100x slower at 5k
    docs, catastrophically worse at scale.) Docs with no shingles
    (fewer than DEFAULT_SHINGLE_K tokens) drop out, as documented."""
    sh = shingle_rows(docs).withColumn("hb", portable_hash32(F.col("sh")))
    aggs = [
        F.min((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{p}")
        for p, (a, b) in enumerate(minhash_perm_constants())
    ]
    if with_shset:
        # same shuffle also carries the shingle set, so downstream
        # consumers (exact-jaccard re-check) share ONE aggregation
        # subplan instead of recomputing the shingle pipeline per use
        aggs.append(F.collect_set("sh").alias("shset"))
    sig = sh.groupBy("doc_id").agg(*aggs)
    out = ["doc_id", F.array(*[F.col(f"h{p}") for p in range(DEFAULT_NUM_PERM)]).alias("sig")]
    if with_shset:
        out.append(F.col("shset"))
    return sig.select(*out)


def band_key_rows(sigs: DataFrame) -> DataFrame:
    """Slim (doc_id, band_id, band_hash) rows from a signature table:
    the LSH collision keys of the near-dup join."""
    rows_per_band = DEFAULT_NUM_PERM // DEFAULT_BANDS
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    portable_hash60(F.concat_ws(",", *[
                        F.col("sig")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ])).alias("band_hash"),
                )
                for b in range(DEFAULT_BANDS)
            ])
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def minhash_near_dup_pairs(docs: DataFrame) -> DataFrame:
    """Banded-LSH near-duplicate pairs.

    sig split into DEFAULT_BANDS bands of DEFAULT_NUM_PERM/DEFAULT_BANDS rows; docs sharing
    any band hash become candidates (groupBy band bucket -- a shuffle
    on (band_id, band_hash), never a cross join). Candidates are then
    scored with BOTH the signature estimate and the exact shingle
    Jaccard. At 100 TB: band buckets are uniformly hash-distributed;
    a pathological bucket (e.g. empty-doc cluster) is handled by AQE
    skew-join splitting.
    """
    rows_per_band = DEFAULT_NUM_PERM // DEFAULT_BANDS
    # the signature aggregation feeds THREE consumers (band explode,
    # candidate side A, candidate side B); one shared materialization
    # instead of replaying the whole shingle pipeline per consumer
    # (measured 2x at sf0.1).
    sigs = materialize(minhash_signatures(docs, with_shset=True))
    # slim (doc_id, band_id, band_hash) rows: the self-join and the
    # distinct-pairs shuffle move only three scalars per row -- the
    # signature/shingle arrays are re-attached to the (few) surviving
    # candidate pairs afterwards
    banded = band_key_rows(sigs)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    side_a = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), F.col("shset").alias("sa")
    )
    side_b = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), F.col("shset").alias("sb")
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(DEFAULT_NUM_PERM))
    )
    return (
        cand.join(side_a, "doc_a")
        .join(side_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(
                F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("est_jaccard") >= MIN_EST_JACCARD)
    )


LP_MAX_ITER = 20  # label_propagation's round budget


def label_propagation(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair graph via
    iterative min-label propagation with pointer jumping:
    DataFrame[doc_id, cluster] where cluster = smallest doc_id
    reachable (the canonical representative a dedup pipeline keeps).
    Only nodes appearing in some edge are emitted.

    Iterative-algorithm shape for Spark: each round is one
    neighbor-min join + one label-shortcut join (pointer jumping:
    lab(x) <- min(lab(x), lab(lab(x))), the classic path-doubling
    step), so convergence takes O(log diameter) rounds instead of
    O(diameter) -- a deep near-dup chain at 100 TB converges in a
    handful of rounds. Per-round eager pinning (materialize_eager)
    truncates the growing lineage so round N doesn't replay rounds
    1..N-1, and the loop exits early via an inexpensive changed-count
    check.

    Raises RuntimeError if the iteration budget is exhausted while
    labels are still moving: a silently under-merged clustering is a
    WRONG answer for dedup, so a too-deep component fails loudly
    rather than returning partial labels."""
    edges = materialize_eager(
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
    )
    labels = materialize_eager(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    changed = None
    for _ in range(LP_MAX_ITER):
        neigh = (
            edges.join(
                labels.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("nlabel")),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nlabel").alias("minn"))
        )
        stepped = labels.join(neigh, labels.doc_id == neigh.doc_a, "left").select(
            labels.doc_id,
            F.least(F.col("label"), F.coalesce(F.col("minn"), F.col("label"))).alias("label"),
        )
        # pointer jumping: follow each node's label to THAT node's
        # label (labels are node ids, so the label table maps them);
        # least() keeps the monotone-decreasing invariant.
        hop = stepped.select(F.col("doc_id").alias("label"), F.col("label").alias("ll"))
        new_labels = materialize_eager(
            stepped.join(hop, "label", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed is not None and changed > 0:
        raise RuntimeError(
            f"label_propagation did not converge in {LP_MAX_ITER} rounds "
            f"({changed} labels still moving); raise LP_MAX_ITER"
        )
    return labels.select("doc_id", F.col("label").alias("cluster"))


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash
    pair graph. With the portable MinHash hashing, the whole chain
    (signatures -> banded pairs -> transitive min-label closure) is
    oracle-checked against a DuckDB recursive CTE
    (registry.oracle_builders._dedup_clusters_sql), plus metamorphic tests (chained
    near-dups merge into one cluster)."""
    pairs = minhash_near_dup_pairs(docs).select("doc_a", "doc_b")
    return label_propagation(pairs)


def simhash_fp(docs: DataFrame) -> DataFrame:
    """SIMHASH_BITS-bit (60) SimHash over tokens: bit i of the
    fingerprint is set when more token hashes have bit i set than
    clear (the sign of the classic +/-1 sum). Computed as 60
    branch-free bit-count aggregates sum((h>>i)&1) plus one count(*)
    -- `2*ones > n` is exactly `sum(+/-1) > 0`, and shift-and-add is
    ~25% faster than conditional sums (measured at sf0.1). One
    shuffle on doc_id, fully codegen'd. 60 bits (an md5 prefix)
    rather than 64 so the token hash and the assembled fingerprint
    stay inside signed 64-bit range in BOTH engines -- the whole
    operator is DuckDB-oracle-checkable (registry.oracle_builders._simhash_sql).

    The 60 per-bit counters are PACKED two to a 64-bit sum (30-bit
    fields), halving the aggregate count from 61 to 31: Catalyst
    planning + codegen of the wide HashAggregate dominated this
    operator's bench time (~1 s of the 1.77 s r2 number was planning,
    execution 0.74 s), and planning cost scales with the number of
    aggregate expressions, not rows. A 30-bit field overflows only at
    2^30 tokens in ONE doc (a >4 GiB document -- beyond any real
    corpus row and the parquet page for it); an assert_true trips
    loudly rather than wrapping silently if that ever happens."""
    toks = docs.select(
        F.col("doc_id"), F.explode(tokens_col(normalized_col(TEXT_COL))).alias("tok")
    ).withColumn("h", portable_hash60(F.col("tok")))
    # The wide expressions are assembled as SQL strings and parsed
    # JVM-side in ONE F.expr call each: building them as nested Column
    # objects cost ~1 s of py4j round-trips per run (measured), vs
    # milliseconds to parse the equivalent string.
    FIELD = 30
    packed_sums = []
    for j in range(0, SIMHASH_BITS, 2):
        e = f"shiftright(h, {j}) & 1"
        if j + 1 < SIMHASH_BITS:
            e = f"({e}) + shiftleft(shiftright(h, {j + 1}) & 1, {FIELD})"
        packed_sums.append(F.expr(f"sum({e})").alias(f"p{j // 2}"))
    agg = toks.groupBy("doc_id").agg(F.count("*").alias("n"), *packed_sums)
    mask = (1 << FIELD) - 1
    terms = []
    for i in range(SIMHASH_BITS):
        ones = f"(shiftright(p{i // 2}, {(i % 2) * FIELD}) & {mask})"
        terms.append(f"shiftleft(IF(2 * {ones} > n, 1L, 0L), {i})")
    # overflow guard on the doc-count-sized aggregate (cheap): coalesce
    # keeps the assert in the plan (assert_true yields NULL when it
    # passes, and an un-consumed column would be pruned away)
    guard = (
        f"coalesce(CAST(assert_true(n < {1 << FIELD}, "
        f"'simhash_fp: >2^30 tokens in one doc overflows packed counters') AS LONG), 0L)"
    )
    fp = " + ".join(terms + [guard])  # disjoint bits: + == OR
    return agg.select("doc_id", F.expr(fp).alias("simhash"))


def hamming_banded_pairs(fp: DataFrame, max_hamming: int = 3, n_bits: int = 64) -> DataFrame:
    """All pairs within Hamming distance <= max_hamming of an
    n_bits-wide fingerprint column, via band-equality join (never a
    cross join).

    Banding is DERIVED from the threshold: the n_bits are split into
    `max_hamming + 1` contiguous blocks (widths as equal as possible),
    so any pair differing in <= max_hamming bits must agree exactly on
    at least one block (pigeonhole) -- FULL recall at the requested
    distance, by construction. This is the Manku-et-al. block-split
    recipe (WWW'07 near-duplicate detection).

    Scale tradeoff, explicit: more bands -> narrower bands -> larger
    band buckets (a w-bit band has 2^w values, so expected bucket size
    is n/2^w for uniform fingerprints). At 9 bands the narrowest block
    is 7 bits; for corpora where n/128 candidate rows per bucket is
    too hot, the standard escalations are a wider fingerprint (128-bit
    simhash keeps blocks >= 14 bits at d <= 8) or requiring agreement
    on a PAIR of blocks (d <= (bands/2) - 1 recall, quadratically
    smaller buckets). AQE skew-join splitting handles stragglers
    either way.

    Takes the fingerprint DataFrame directly so tests can inject
    synthetic fingerprints with known pairwise distances.

    r10: `fp` is pinned -- both sides of the band join read it, and
    for the real callers the fingerprint is the expensive part
    (simhash: token explode + wide packed aggregate; phash: image
    decode). Measured at sf0.1: 2.0-2.2 s -> 0.95 s median; unlike
    the identical-twin-subtree cases, ReuseExchange does not dedup
    here, so the unpinned form really fingerprinted the corpus
    twice."""
    fp = materialize(fp)
    n_bands = max_hamming + 1
    widths = [n_bits // n_bands + (1 if i < n_bits % n_bands else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    banded = fp.select(
        "doc_id",
        FP_COL,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col(FP_COL), offsets[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", FP_COL, "band.band_id", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col(f"a.{FP_COL}").bitwiseXOR(F.col(f"b.{FP_COL}"))).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs with guaranteed recall: fingerprint via
    simhash_fp, pairing via hamming_banded_pairs, whose band count
    adapts to max_hamming so the pigeonhole guarantee always covers
    the requested threshold."""
    return hamming_banded_pairs(simhash_fp(docs), max_hamming, n_bits=SIMHASH_BITS)
