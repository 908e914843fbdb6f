"""Registry queries for drift, anomaly and robust statistics: PSI/KS
drift, MAD anomalies, Benford, Lorenz, trimmed/winsorized means and
the DQ audit.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    load_table,
    materialize,
    with_token_array,
)
from ..operators.basket import MIN_ORDERS




def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture drift between two corpus halves
    (operators/drift.categorical_drift): even doc_ids are the frozen
    baseline, odd the current snapshot; per-lang PSI and KL terms.
    Proportions are int/int divisions; each ln ratio is rounded to
    9dp (one value per row, never cross-engine-summed). A lang with
    zero mass on either side raises loudly."""
    from ..operators.drift import categorical_drift

    docs = load_table(spark, sf_dir, "documents")
    return categorical_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "lang",
    )


def q_value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic
    (operators/drift.ks_test) between purchase and click value
    distributions: the numeric-feature drift monitor. Cumulative
    fractions ride the two-level bucketed cumsum (no row table
    crosses SinglePartition); the statistic is a TakeOrdered(1) with
    a smallest-value tie-break. Oracle = native-window CDF SQL."""
    from ..operators.drift import ks_test

    ev = load_table(spark, sf_dir, "events")
    return ks_test(
        ev.filter(F.col("event_type") == "purchase").select(
            F.col("value").alias("v")
        ),
        ev.filter(F.col("event_type") == "click").select(
            F.col("value").alias("v")
        ),
    )


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier report (operators/robust.mad_outliers):
    exact lower-median + MAD + Hampel cut (k=3, sigma scale 1.4826).
    The robust twin of events_anomaly_zscore -- judged against the
    median, so the outliers can't inflate their own yardstick. Lower
    medians are integer-rank SELECTION (no midpoint interpolation to
    diverge cross-engine)."""
    from ..operators.robust import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "events"))


def q_events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile per event type: [event_type, dow
    (0=Sunday), n, mean_value, seasonal_index = dow mean / overall
    type mean]. The classical seasonal-index decomposition at the
    weekly grain -- the monitoring companion to revenue_forecast's
    trend fit. Means accumulate 9dp-decimal terms (order-independent)
    string-routed to double; the index is one division of those
    deterministic doubles. Two partial-agg'd passes collapse to
    |types| x 7 rows; the per-type totals broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.round(F.col("value"), 9).cast("decimal(20,9)")
    per = ev.groupBy(
        "event_type", (F.dayofweek("ts") - F.lit(1)).alias("dow")
    ).agg(F.count("*").alias("n"), F.sum(dec).alias("_sv"))
    tot = ev.groupBy("event_type").agg(
        F.count("*").alias("_nt"), F.sum(dec).alias("_st")
    )
    mean_dow = F.col("_sv").cast("string").cast("double") / F.col("n").cast(
        "double"
    )
    mean_typ = F.col("_st").cast("string").cast("double") / F.col(
        "_nt"
    ).cast("double")
    return (
        per.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n",
            mean_dow.alias("mean_value"),
            (mean_dow / mean_typ).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


def q_frequent_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining (operators/seqmine.py): top-20
    contiguous event-type trigrams by distinct-user support. One
    user-keyed window (total order via the unique event_id tiebreak)
    chains two lead()s; exact distinct support via the two-phase
    (gram, user) -> (gram) groupBy. Oracle = native lead() SQL."""
    from ..operators.seqmine import contiguous_sequences

    return contiguous_sequences(load_table(spark, sf_dir, "events"))


def q_user_day_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reload reconciliation via operators/diffing.snapshot_diff: the
    OLD per-(user, day) rollup was built from a load that missed every
    10th event (late data); the NEW reload has all events but starts
    at Jan 5 (retention purge). The diff is the changeset a downstream
    consumer must apply: 'delete' = purged days, 'insert' = days whose
    events were ALL late, 'update' = days where stragglers changed the
    aggregates (changed_cols says which); untouched days don't appear.
    One full-outer join on (user_id, day); both rollups use the
    decimal-sum recipe so equality compares are engine-exact."""
    from ..operators.diffing import snapshot_diff

    ev = load_table(spark, sf_dir, "events")

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("string")
                .cast("double"),
                6,
            ).alias("sum_value"),
        )

    old = snap(ev.filter(F.col("event_id") % 10 != 0))
    new = snap(ev.filter(F.col("ts") >= F.expr("TIMESTAMP_NTZ '2024-01-05 00:00:00'")))
    d = snapshot_diff(
        old, new, keys=["user_id", "day"], compare_cols=["n_events", "sum_value"]
    )
    return d.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        "change",
        "changed_cols",
        "old_n_events",
        "new_n_events",
        "old_sum_value",
        "new_sum_value",
    )


def q_market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori level-3 triple mining (operators/basket.py): frequent
    pairs extended per order, downward-closure pruned; naive
    all-triples oracle proves the pruning lossless."""
    from ..operators.basket import market_basket_triples

    return market_basket_triples(spark, sf_dir)


# RAKE delimiter set for the synthetic corpus: the two true function
# words plus the high-frequency modifier vocabulary, so candidate
# phrases are short noun runs. Real corpora swap in a full stopword
# list -- the operator shape (delimit -> islands -> deg/freq -> sum)
# is unchanged. The SQL oracle reads the same tuple.
RAKE_STOPWORDS = ("the", "a", "join", "merge", "small", "fast", "slow", "big")
RAKE_MAX_LEN = 4
RAKE_TOPN = 20


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-delimited token runs (capped at RAKE_MAX_LEN, the
    standard RAKE cut); word score = deg(w)/freq(w) where deg counts
    phrase-mate co-occurrence including self; phrase score = sum of
    member word scores. Returns the top phrases by score with their
    corpus frequency -- the cheap unsupervised 'what is this corpus
    about' report.

    Scale: one doc-keyed window builds the islands (running stopword
    count); word stats are one groupBy over phrase members; the
    per-phrase score sum uses the round-9dp decimal-sum recipe so
    member order can't move the hash. Everything is token-count
    linear."""
    from pyspark.sql import Window

    from ..functions.text_stats import with_token_array

    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.posexplode("toks").alias("pos", "word")
    ).withColumn("is_stop", F.col("word").isin(*RAKE_STOPWORDS).cast("long"))
    wd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    members = (
        words.withColumn("phrase_id", F.sum("is_stop").over(wd))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "phrase_id", "pos", "word")
    )
    members = materialize(members)  # word stats + phrase build share it
    phr = members.groupBy("doc_id", "phrase_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"],
            ),
        ).alias("phrase"),
        F.count("*").alias("plen"),
    ).filter(F.col("plen") <= RAKE_MAX_LEN)
    wstat = (
        members.join(
            phr.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"]
        )
        .groupBy("word")
        .agg(
            F.count("*").alias("freq"),
            F.sum("plen").alias("deg"),
        )
        .select(
            "word", (F.col("deg") / F.col("freq")).alias("wscore")
        )
    )
    pscore = (
        members.join(phr.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"])
        .join(wstat, "word")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.sum(
                F.round(F.col("wscore"), 9).cast("decimal(20,9)")
            ).cast("string").cast("double").alias("score")
        )
    )
    agg = (
        phr.join(pscore, ["doc_id", "phrase_id"])
        .groupBy("phrase")
        .agg(F.count("*").alias("n"), F.max("score").alias("score"))
    )
    return (
        agg.select("phrase", "n", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(RAKE_TOPN)
    )


NEGATIVES_PER_POSITIVE = 3


def q_training_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for (customer, part) training
    pairs -- the contrastive-training data op: every positive
    interaction gets NEGATIVES_PER_POSITIVE pseudo-random negative
    parts, drawn by portable hash (seeded, reproducible across runs
    AND engines) over the DENSE part id space, then FALSE negatives (parts the customer actually
    bought) are dropped by one anti-join against the positive set --
    rejection without iteration, the scale-safe form (retry loops
    serialize; an anti-join is one shuffle). Expected loss is
    |positives per user| / |parts| -- negligible, and exactly
    reproducible.

    Plan: positives = one distinct over the order->part join; the
    slots are a bounded explode; the candidate draw is map-only
    hashing; the anti-join is the only extra shuffle. Output keeps the
    slot so the (pos, slot) -> negative mapping is stable for epoch
    replay."""
    from ..operators.dedup import portable_hash32

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), F.col("o_custkey").alias("custkey")
    )
    pos = li.join(orders, "okey").select("custkey", "part").distinct()
    pos = materialize(pos)  # consumed by the explode AND the anti-join
    n_parts = load_table(spark, sf_dir, "part").agg(
        F.count("*").alias("n_parts")
    )
    cand = (
        pos.crossJoin(F.broadcast(n_parts))
        .select(
            "custkey",
            F.col("part").alias("pos_part"),
            F.explode(
                F.sequence(F.lit(1), F.lit(NEGATIVES_PER_POSITIVE))
            ).alias("slot"),
            "n_parts",
        )
        .withColumn(
            "neg_part",
            portable_hash32(
                F.concat_ws(
                    ":",
                    F.lit("neg1"),
                    F.col("custkey").cast("string"),
                    F.col("pos_part").cast("string"),
                    F.col("slot").cast("string"),
                )
            )
            % F.col("n_parts"),
        )
    )
    return cand.join(
        pos.select("custkey", F.col("part").alias("neg_part")),
        ["custkey", "neg_part"],
        "left_anti",
    ).select("custkey", "pos_part", F.col("slot").cast("long").alias("slot"), "neg_part")


CF_TOPN = 5


def q_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al., WWW'01) over
    binary order baskets: cosine sim(p1, p2) = c12 / sqrt(c1 * c2),
    top-CF_TOPN neighbors per part -- the 'customers who bought this also
    bought' table. Reuses the A-priori pair machinery: pair counts
    pruned to MIN_ORDERS co-orders, symmetrized, then a per-item window over the pruned
    neighbor lists (never the full item x item matrix).

    Exactness: c1*c2 is an exact integer < 2^53 at every tested SF,
    so sqrt and the division are engine-identical; round 6; ties on
    neighbor id."""
    from pyspark.sql import Window

    b = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = materialize(b)
    item = b.groupBy("p").agg(F.count("*").alias("item_n"))
    a1 = b.select("o", F.col("p").alias("p1"))
    a2 = b.select("o", F.col("p").alias("p2"))
    pairs = (
        a1.join(a2, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= MIN_ORDERS)
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("p2").alias("p1"), F.col("p1").alias("p2"), "c12"
        )
    )
    scored = (
        sym.join(item.select(F.col("p").alias("p1"), F.col("item_n").alias("c1")), "p1")
        .join(item.select(F.col("p").alias("p2"), F.col("item_n").alias("c2")), "p2")
        .select(
            F.col("p1").alias("part"),
            F.col("p2").alias("neighbor"),
            "c12",
            F.round(
                F.col("c12")
                / F.sqrt((F.col("c1") * F.col("c2")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.desc("cosine"), F.asc("neighbor"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= CF_TOPN)
    )


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide data-quality audit (operators/dq.py): 17
    checks — domain, PK uniqueness, referential integrity, decimal
    reconciliation — one row [check_name, n_checked, n_violations]
    each, all row-local checks sharing one scan per table. The audit
    DOES fire on this data: 257 childless orders and a totalprice
    column that never reconciles with its lineitems."""
    from ..operators.dq import dq_audit

    return dq_audit(spark, sf_dir)


def q_brand_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median quantity per part brand
    (operators/robust.weighted_median): the quantity level below
    which half of each brand's extended-price mass sits -- the
    aggregation-weighted generalization of the median ("where does
    half the MONEY trade", not "what does the middle ROW order").
    Weights are exact integer CENTS (double -> decimal(12,2) -> *100
    -> long), so the 2*cum >= total tie-break is decided by integer
    comparisons and the answer is a value that EXISTS in the data:
    SELECTION, not interpolation, the same portability stance as the
    MAD medians. lineitem collapses to (brand, distinct quantity)
    grain in one partial-agg'd groupBy after a broadcast part join;
    windows run over that ~|brands| x 50 grain, never fact rows."""
    from ..operators.robust import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select(
        "p_brand",
        F.col("l_quantity").cast("decimal(12,2)").cast("long").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return weighted_median(j, "p_brand", "qty", "cents")


def q_segment_nation_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between market segment and
    nation (operators/evalmetrics.chi_square_cells): per observed
    contingency cell [c_mktsegment, n_name, observed, expected,
    term, chi2, dof] -- "does segment mix differ by nation" asked
    exactly, the categorical-drift sibling of corpus_drift_psi /
    value_drift_ks. Every input to the IEEE arithmetic is an exact
    integer (counts and their products, decimal-routed): the term is
    (o*n - r*c)^2 / (r*c*n), so both engines square and divide
    bit-identical doubles; the summed statistic is a 9dp-decimal
    accumulation string-routed out. One groupBy collapses customer
    x nation (broadcast dim join) to the |segments| x |nations| cell
    grain; everything after runs on that metadata-sized table."""
    from ..operators.evalmetrics import chi_square_cells

    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    j = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).select("c_mktsegment", "n_name")
    return chi_square_cells(j, "c_mktsegment", "n_name")


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals
    (operators/drift.benford_first_digit): first-digit distribution
    of o_totalprice in exact integer cents vs log10(1 + 1/d), with
    the Pearson deviation per digit and the summed chi2 -- the
    fabricated-amounts detector, and the theoretical-distribution
    twin of corpus_drift_psi. Digit extraction is by string head
    (never log-bucketing, whose boundary ulps could disagree); the
    one transcendental (benford_p) is 9dp-frozen as a decimal before
    any arithmetic touches it. One partial-agg'd groupBy collapses
    orders to <= 9 rows; everything after is constant-size."""
    from ..operators.drift import benford_first_digit

    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return benford_first_digit(
        orders.select(cents.alias("cents")), "cents"
    )


def q_customer_spend_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve by customer decile: rank customers by lifetime
    spend ascending, split into 10 equal-population deciles, report
    [decile, n_customers, cents, share_of_total, cum_share] -- the
    curve whose area complement is customer_spend_gini, shown as the
    10-point table an analyst actually reads ("the top decile holds
    X% of revenue"). Spend is exact integer cents; the global rank
    rides the two-level bucketed machinery (operators/ranking.py --
    no customer row crosses SinglePartition) and the decile boundary
    is INTEGER arithmetic ((rn-1)*10 div n, the ABC-class stance: no
    float decides a bucket). Shares divide exact longs; the only
    unpartitioned windows run over the 10-row decile aggregate."""
    from ..operators.ranking import with_global_row_number

    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(cents).alias("cents")
    )
    ranked = with_global_row_number(
        spend,
        "cents",
        tiebreaks=[F.asc("custkey")],
        out_col="rn",
        total_col="n",
    )
    per = ranked.groupBy(
        F.expr("((rn - 1) * 10) div n").alias("decile")
    ).agg(F.count("*").alias("n_customers"), F.sum("cents").alias("cents"))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "decile",
        "n_customers",
        "cents",
        (F.col("cents").cast("double") / F.sum("cents").over(w_all).cast("double")).alias(
            "share_of_total"
        ),
        (F.sum("cents").over(w_cum).cast("double") / F.sum("cents").over(w_all).cast("double")).alias(
            "cum_share"
        ),
    ).orderBy("decile")


def q_events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% two-sided trimmed mean of event value per type
    (operators/robust.trimmed_mean): the robust location estimate
    between events_anomaly_mad's median and the raw mean -- drop the
    k = n*5 div 100 cheapest and dearest rows by exact integer rank,
    average the rest. Values ride as exact integer cents; the only
    IEEE ops are two final divisions of exact longs. The (type,
    distinct cents) grain collapses ~5.6x below the facts before any
    window runs."""
    from ..operators.robust import trimmed_mean

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    return trimmed_mean(
        ev.select("event_type", cents.alias("cents")), "event_type", "cents"
    )


def q_events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% two-sided winsorized mean of event value per type
    (operators/robust.winsorized_mean): trimmed_mean's sibling that
    CLAMPS the k = n*5 div 100 cheapest/dearest rows to the exact
    rank-(k+1) / rank-(n-k) fence values instead of dropping them.
    Same (type, distinct cents) grain, same single per-group
    cumulative window; fences are SELECTED integer cents and the
    winsorized sum is exact longs -- one final IEEE division."""
    from ..operators.robust import winsorized_mean

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    return winsorized_mean(
        ev.select("event_type", cents.alias("cents")), "event_type", "cents"
    )


def q_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on 24h activation between a
    deterministic 50/50 user split (variant = user_id % 2):
    population = users with a signup event, conversion = a purchase
    within 24 hours of their FIRST signup ("does the variant
    activate users faster") -- one row [n_a, conv_a, p_a, n_b,
    conv_b, p_b, z_score], the classical pooled-variance test and
    the experimentation sibling of segment_nation_chisq /
    value_drift_ks. (Lifetime any-purchase saturates to p=1 on this
    data -- a degenerate pooled rate the guard below rejects; the
    windowed funnel is the honest metric.) Every input to the float
    arithmetic is an exact integer count over exact microsecond
    timestamp comparisons, so p's, the pooled rate, and the variance
    are identical doubles cross-engine; sqrt is
    IEEE-correctly-rounded, so z matches to the last bit. Shapes:
    signup firsts collapse at user grain, one hash join back to
    events on user_id (both sides user-partitioned; never
    broadcast -- the user dimension scales with the corpus), then
    per-user flags -> 2 variant rows -> 1."""
    ev = load_table(spark, sf_dir, "events")
    s0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s0"))
    )
    per_user = (
        s0.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("s0"))
                    & (F.col("ts") < F.col("s0") + F.expr("INTERVAL 24 HOURS")),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )
    by_var = per_user.groupBy(
        (F.col("user_id") % 2).alias("variant")
    ).agg(F.count("*").alias("n"), F.sum("conv").cast("long").alias("c"))
    one = by_var.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("conv_b"),
    )
    degenerate = (
        F.col("n_a").isNull()
        | F.col("n_b").isNull()
        | (F.col("conv_a") + F.col("conv_b") <= 0)
        | (F.col("conv_a") + F.col("conv_b") >= F.col("n_a") + F.col("n_b"))
    )
    guard = F.when(
        degenerate,
        F.raise_error(
            F.lit(
                "ab_conversion_ztest: degenerate split (empty arm or "
                "pooled rate 0/1) -- the z statistic is undefined; "
                "check the assignment and conversion event"
            )
        ).cast("double"),
    )
    p_a = guard.otherwise(
        F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    )
    p_b = guard.otherwise(
        F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    )
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (p_a - p_b) / F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return one.select(
        "n_a",
        "conv_a",
        p_a.alias("p_a"),
        "n_b",
        "conv_b",
        p_b.alias("p_b"),
        z.alias("z_score"),
    )


def q_events_trailing_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS revenue slope per event type
    (operators/regression.trailing_ols): for every (type, day), the
    least-squares trend in cents/day over the trailing calendar week
    -- the per-row "is this series accelerating NOW" detector, the
    windowed sibling of nation_revenue_trend's one-fit-per-group.
    The frame is a RANGE over the epoch-day index, so a missing day
    shrinks the fit's n instead of stretching the window into stale
    history. Facts collapse to the (type, day) grain first; the
    window sums exact DECIMAL statistics over that grain (days, not
    events cross the sort); slope_num/den are exact integers
    string-routed to double, one IEEE division; warm-up rows keep a
    NULL slope."""
    from ..operators.regression import trailing_ols

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(cents).alias("cents"))
        .withColumn(
            "x",
            F.datediff(
                F.col("day"), F.to_date(F.lit("1970-01-01"))
            ).cast("long"),
        )
    )
    return (
        trailing_ols(daily, ["event_type"], "x", "cents", 7)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            "n_points",
            "slope",
        )
        .orderBy("event_type", "day")
    )


def q_duplicate_charge_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-charge detection: CONSECUTIVE events by the same
    user, same type, same EXACT cent amount within 7 days -- the
    classic double-billing screen, the record-linkage sibling of
    orders_benford's digit audit. One lag() per (user, type, cents)
    partition finds adjacent repeats (a same-key self-join would
    emit O(m^2) pairs per hot key for the same finding;
    consecutiveness bounds output at one row per repeat, and a chain
    of m duplicates surfaces as m-1 adjacent pairs). Exact integer
    cents and exact microsecond gaps decide everything; event_id
    breaks equal-timestamp ties so the pairing is deterministic.
    Legitimately SPARSE on clean data (3 hits at sf0.01, 29 at
    sf0.1, exact-amount collisions are the anomaly being screened
    for) -- pytest injects a synthetic duplicate chain for the
    structural check. Output: [user_id, event_type, cents,
    first_event_id, second_event_id, gap_us]."""
    from ..operators.dq import duplicate_charge_pairs

    return duplicate_charge_pairs(load_table(spark, sf_dir, "events"))


def q_events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per observed day, with
    same-day actives and the DAU/WAU stickiness ratio -- the product
    health metric every event pipeline serves. Sliding DISTINCT
    counts don't decompose into window sums, so the scale-correct
    plan is the contribute-forward expansion: collapse events to the
    (user, day) grain ONCE (the only fact-sized shuffle), explode
    each row into the <=7 window-end days it contributes to, and
    count distinct per day -- cost is 7x the user-day grain, never
    7x the events, and never a per-day rescan of the fact table.
    Window-end days are restricted to OBSERVED days (broadcast day
    spine): trailing windows never invent days past the data, and a
    silent zero-DAU day would surface as a missing row, not a fake
    0/x ratio. Output: [day, dau, wau, stickiness], day formatted
    (the date-vs-timestamp dtype trap)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = ud.select("d").distinct().withColumnRenamed("d", "dx")
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("dx"))
    wau = (
        expanded.join(F.broadcast(days), "dx")
        .groupBy("dx")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, dau.d == wau.dx)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


def q_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% stratified document sample with largest-remainder
    (Hamilton) apportionment (operators/curation.stratified_sample):
    per-lang quotas q_h = (n*N_h) div N plus +1 for the largest
    remainders, so the sample size is EXACTLY N div 10 and every
    stratum is within 1 doc of its ideal share -- the
    fixed-token-budget mixing rule mixture_sample's Bernoulli filter
    only achieves in expectation. Membership is the quota-first md5
    (doc_id) hex order within each lang: a pure function of the
    data, mirrored exactly by the oracle."""
    from ..operators.curation import stratified_sample

    return stratified_sample(load_table(spark, sf_dir, "documents"))


def q_nation_top_brands_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-with-OTHERS report: per supplier nation, the 3 highest-
    revenue part brands by exact micros plus ONE 'OTHERS' row
    rolling up the tail -- [n_name, brand, n_brands, revenue,
    share], the report shape every BI tool renders (plain top-k
    queries drop the tail; the OTHERS row is what makes shares sum
    to 1). Rank ties break deterministically (micros desc, brand
    asc). Facts collapse to the |nations| x |brands| grain in ONE
    partial-agg'd groupBy after two broadcast dim joins; the rank
    window and the re-aggregation run on that metadata-sized grain;
    share divides exact longs by the nation total (a window over the
    post-rollup <= 4-rows-per-nation grain)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nat = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    base = (
        li.join(
            F.broadcast(
                sup.join(
                    F.broadcast(nat),
                    sup.s_nationkey == nat.n_nationkey,
                ).select("s_suppkey", "n_name")
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == part.p_partkey,
        )
        .groupBy("n_name", "p_brand")
        .agg(F.sum((rev * F.lit(1_000_000)).cast("long")).alias("micros"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("micros"), F.asc("p_brand")
    )
    rolled = (
        base.withColumn("_rk", F.row_number().over(w))
        .groupBy(
            "n_name",
            F.when(F.col("_rk") <= 3, F.col("p_brand"))
            .otherwise(F.lit("OTHERS"))
            .alias("brand"),
        )
        .agg(
            F.count("*").alias("n_brands"),
            F.sum("micros").alias("_mi"),
            F.min("_rk").alias("_ord"),
        )
    )
    wn = Window.partitionBy("n_name")
    return rolled.select(
        "n_name",
        "brand",
        "n_brands",
        (F.col("_mi").cast("double") / F.lit(1_000_000.0)).alias("revenue"),
        (
            F.col("_mi").cast("double")
            / F.sum("_mi").over(wn).cast("double")
        ).alias("share"),
        F.col("_ord"),
    ).select(
        "n_name", "brand", "n_brands", "revenue", "share"
    ).orderBy("n_name", F.desc("share"), "brand")
