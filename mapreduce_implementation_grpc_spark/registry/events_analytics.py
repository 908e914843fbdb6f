"""Registry queries for event analytics: attribution, as-of and range
joins, hopping/session windows, quantiles, CUSUM, RFM and curation.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    analytics,
    corpus_from_documents,
    curate_documents,
    load_table,
    materialize,
    word_count,
)

q_events_rollup = analytics.events_rollup
q_repeat_customers = analytics.repeat_customers
q_distinct_users = analytics.distinct_users_daily
q_approx_distinct_users = analytics.approx_distinct_users
q_orders_monthly = analytics.orders_monthly
q_events_asof_error = analytics.events_asof_last_error
q_events_pivot = analytics.events_pivot_daily
q_customers_without_orders = analytics.customers_without_orders
q_brands_shipped = analytics.brands_shipped
q_events_quantiles = analytics.events_value_quantiles
q_events_trailing_hour = analytics.events_trailing_hour
q_events_type_trend = analytics.events_type_trend
q_revenue_forecast = analytics.revenue_forecast
q_events_cube = analytics.events_cube
q_orders_price_deciles = analytics.orders_price_deciles
q_stratified_sample = analytics.stratified_sample
q_signup_funnel = analytics.signup_purchase_funnel
q_shipping_priority = analytics.shipping_priority
q_late_shipments = analytics.late_shipments
q_events_anomaly_zscore = analytics.events_anomaly_zscore
q_customer_spend_percentiles = analytics.customer_spend_percentiles
q_orders_grouping_sets = analytics.orders_grouping_sets
q_purchase_and_signup_users = analytics.purchase_and_signup_users
q_large_orders = analytics.large_orders
q_order_priority_backlog = analytics.order_priority_backlog
q_returned_items = analytics.returned_items
q_important_parts = analytics.important_parts
q_promo_revenue = analytics.promo_revenue
q_sales_opportunity = analytics.sales_opportunity
q_volume_shipping = analytics.volume_shipping
q_market_share = analytics.market_share
q_large_volume_customers = analytics.large_volume_customers
q_disjunctive_revenue = analytics.disjunctive_revenue
q_customer_distribution = analytics.customer_distribution
q_top_supplier = analytics.top_supplier
q_small_qty_revenue = analytics.small_qty_revenue
q_waiting_suppliers = analytics.waiting_suppliers
q_product_profit = analytics.product_profit
q_supplier_part_counts = analytics.supplier_part_counts
q_dominant_suppliers = analytics.dominant_suppliers
q_purchase_attribution = analytics.purchase_attribution


def q_attribution_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution REPORT: purchases and revenue rolled up by the
    session's first-touch channel -- what a growth team actually
    reads. One extra tiny aggregate over the single-shuffle
    attribution plan; revenue summed as decimal (exact)."""
    att = analytics.purchase_attribution(spark, sf_dir)
    return (
        att.groupBy("first_touch")
        .agg(
            F.count("*").alias("n_purchases"),
            analytics._dec2dbl(
                F.sum(F.col("value").cast("decimal(18,2)"))
            ).alias("total_revenue"),
        )
        .orderBy(F.desc("n_purchases"), "first_touch")
    )



def q_events_asof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature attach: each event joined (as-of) to the
    per-user stats of the latest fully COMPLETED hour before it --
    the leakage-free feature-store join, via the union+window asof
    operator (one shuffle, no range-join pair blow-up)."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count("*").alias("feat_n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("string").cast("double"), 6
        ).alias("feat_value"),
    )
    right = hourly.select(
        "user_id",
        (F.col("hour") + F.expr("INTERVAL 1 HOUR")).alias("fts"),
        "feat_n",
        "feat_value",
    )
    left = ev.select("user_id", "ts", "event_id", "event_type")
    joined = asof_join(left, right, by="user_id", right_ts="fts")
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "feat_n",
        "feat_value",
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution range join: every click within 24 h BEFORE a
    purchase by the same user. Bucketed equi-join plan
    (operators/rangejoin.py): time-bucket both sides, shuffle on
    (user, bucket), exact predicate as a post-filter -- no
    nested-loop join, no per-key pair blow-up. The reference has no
    joins at all (SURVEY.md section 2a)."""
    from ..operators.rangejoin import time_range_pairs

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    pairs = time_range_pairs(purchases, clicks, key="user_id", max_gap_s=24 * 3600)
    return pairs.select(
        "user_id", "purchase_id", F.col("click_id_r").alias("click_id"), "gap_us"
    )


def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event attach: each purchase joined to the CLOSEST click
    by the same user within +-2 h, in either direction (ties prefer
    the earlier click) -- the sensor-alignment / nearest-measurement
    join, where backward-only as-of would miss a click seconds after
    the purchase. Uses asof_join_nearest (union + two keyed windows
    sharing one exchange, linear rows); the right side is pre-deduped
    per (user, ts) with min event_id, per the operator's uniqueness
    contract. gap_us is signed microseconds (negative = click before
    purchase); unmatched purchases keep NULL click/gap."""
    from ..operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    j = asof_join_nearest(
        purchases,
        clicks,
        by="user_id",
        value_cols=["click_id"],
        tolerance_us=2 * 3600 * 1_000_000,
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "click_id",
        (F.col("asof_ts_us") - F.unix_micros(F.col("ts").cast("timestamp"))).alias(
            "gap_us"
        ),
    )


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 8 dims with
    deterministic splitmix64 directions (operators/projection.py): per-row
    map work only, oracle-checkable because the 'random' matrix is
    reproducible integer arithmetic in both engines."""
    from ..operators.projection import project_embeddings

    return project_embeddings(load_table(spark, sf_dir, "embeddings"))


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregate (1 h windows sliding every 15 min):
    each event lands in exactly 4 overlapping windows. Spark expands the
    window generator map-side; one shuffle on window start."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("string")
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


def q_word_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the distribution of per-key row counts
    (here: the word-count keys, the reference's real skew -- stopword
    tokens dwarf the median word). p50/p90/p99/max of key counts and
    the hottest key's share of all rows are exactly the numbers that
    decide whether a shuffle needs salting (wordcount_salted) or AQE
    skew-join splitting. Percentiles run over the POST-aggregation
    key-count table (vocab-sized), never the corpus."""
    counts = word_count(corpus_from_documents(spark, sf_dir))
    pct = F.expr("percentile(cnt, array(0.5, 0.9, 0.99))")
    return counts.agg(
        F.count("*").alias("n_words"),
        F.sum("cnt").alias("n_tokens"),
        F.max("cnt").alias("max_cnt"),
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top1_share"),
    )


def q_events_quantiles_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable quantile sketch: fixed-width
    histogram bins (the counts are exact integers, so unlike GK/KLL
    the sketch is order-independent and DuckDB-reproducible). Per
    event_type: bin = floor(value / width); the p-quantile estimate
    is the LEFT edge of the first bin whose cumulative count reaches
    ceil(p * n). Error is bounded by the bin width; at 100 TB the
    state is one (type, bin) count map -- a map-side-combined
    groupBy, same cost shape as a word count."""
    from pyspark.sql import Window

    width = 10.0
    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        "event_type", F.floor(F.col("value") / width).cast("long").alias("bin")
    ).groupBy("event_type", "bin").agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("event_type")
    cum = binned.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(tot)
    )

    def q_edge(p: float):
        hit = F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("bin"))
        return F.round(F.min(hit) * width, 6)

    return cum.groupBy("event_type").agg(
        q_edge(0.5).alias("p50_bin"),
        q_edge(0.9).alias("p90_bin"),
        q_edge(0.99).alias("p99_bin"),
        F.max("n").alias("n_events"),
    )


def q_events_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (Greenwald-Khanna via
    approx_percentile, rank error <= n/accuracy): the single-pass,
    bounded-memory path for 100 TB where the exact percentile's
    per-group sorted buffer is unaffordable. Rows-only (no DuckDB
    twin for the sketch); tests/test_rangejoin_projection.py bounds
    it against the exact events_quantiles."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)")
    return ev.groupBy("event_type").agg(
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
        F.count("*").alias("n_events"),
    )


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document (add-1 smoothing, model
    trained on the corpus itself) -- the perplexity quality filter of
    LLM data pipelines (operators/lm_score.py). Decimal-accumulated
    ln terms make the float sum order-independent and oracle-exact."""
    from ..operators.lm_score import bigram_cross_entropy

    return bigram_cross_entropy(load_table(spark, sf_dir, "documents"))


def q_doc_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical all-pairs similarity: token-count cosine over
    the rare-term subspace (df <= 100) via an inverted-index
    self-join (operators/sparse_sim.py) -- posting lists bounded by
    max_df, so no term creates a hot reducer; integer dot products
    and norms keep the oracle exact."""
    from ..operators.sparse_sim import tf_cosine_pairs

    return tf_cosine_pairs(load_table(spark, sf_dir, "documents"))


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline, oracle-checked end to end now
    that the MinHash cluster stage uses portable hashing. EAGER:
    cluster propagation rounds run at DataFrame-construction time."""
    return curate_documents(spark, sf_dir)
q_orders_running_total = analytics.orders_running_total
q_cheapest_supplier = analytics.cheapest_supplier
q_nation_market_share = analytics.nation_market_share
q_events_last_per_user = analytics.events_last_per_user
q_segment_event_stats = analytics.segment_event_stats_salted
q_label_centroids = analytics.label_centroids
q_revenue_by_nation = analytics.revenue_by_nation
q_top_customers = analytics.top_customers
q_customer_order_ranks = analytics.customer_order_ranks
q_events_hourly = analytics.events_hourly
q_user_retention = analytics.user_retention
q_events_sessionize = analytics.events_sessionize


def _exact_ntile(rn, total, k: int):
    """SQL-standard NTILE(k) from a 1-based global row number: the
    first n%k tiles get ceil(n/k) rows, the rest floor(n/k) -- exact
    integer arithmetic, identical to the oracle's native ntile()."""
    q = F.floor(total / k)
    r = total % k
    cut = r * (q + 1)
    return (
        F.when(total < F.lit(k), rn)  # degenerate: fewer rows than tiles
        .when(rn <= cut, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - 1 - cut) / q) + 1)
        .cast("long")
    )


RFM_TILES = 5


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation -- recency / frequency / monetary
    RFM_TILES-tile scores (RFM_TILES = best) plus a coarse segment label: the
    classic CRM table, built WITHOUT a single global sort: each of
    the three exact NTILEs comes from the two-level bucketed global
    row_number (operators/ranking.with_global_row_number) + the
    closed-form ntile arithmetic, so no customer row ever crosses a
    SinglePartition exchange. The oracle uses NATIVE ntile() windows;
    the hash match proves all three scalable decompositions exact.

    Determinism: ranking keys are (days, custkey), (count, custkey)
    and (decimal-sum-routed-to-double, custkey) -- total orders, so
    ties cannot float; the monetary double is built by the identical
    string route in both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    per = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.min(
                F.datediff(F.col("ref_date").cast("date"), F.col("o_orderdate").cast("date"))
            ).cast("long").alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("string")
            .cast("double")
            .alias("monetary"),
        )
    )
    per = materialize(per)  # three ranking passes read it
    from ..operators.ranking import with_global_row_number

    def score(df, key, ascending, out):
        ranked = with_global_row_number(
            df, key, tiebreaks=[F.asc("custkey")], ascending=ascending,
            out_col="_rn", total_col="_n",
        )
        tile = _exact_ntile(F.col("_rn"), F.col("_n"), RFM_TILES)
        return ranked.withColumn(out, (F.lit(RFM_TILES + 1) - tile).cast("long")).drop(
            "_rn", "_n"
        )

    # score = k+1-tile, so tile 1 must hold the BEST customers:
    # recency ranks ascending (smallest days-since-order first),
    # frequency and monetary rank descending (largest first)
    scored = score(per, "recency_days", True, "r_score")
    scored = score(scored, "frequency", False, "f_score")
    scored = score(scored, "monetary", False, "m_score")
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
    )
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws("", "r_score", "f_score", "m_score").alias("rfm_cell"),
        seg.alias("segment"),
    )


CUSUM_SLACK = 0.5
CUSUM_THRESHOLD = 4.0


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point monitor (Page 1954) over the daily count
    series of each event type: standardize counts against the series'
    own mean/std, then the one-sided upper CUSUM
    s_t = max(0, s_{t-1} + z_t - CUSUM_SLACK), alert when
    s_t > CUSUM_THRESHOLD --
    the sequential drift detector a pipeline runs on its volume
    metrics (z-score anomaly flags single spikes; CUSUM accumulates
    small sustained shifts).

    Cross-engine exactness: the recursion is computed in its CLOSED
    FORM s_t = P_t - min(0, min_{j<=t} P_j) with P the running prefix
    sum of (round(z, 9) - CUSUM_SLACK) accumulated in DECIMAL(20,9) --
    double running sums are NOT portable here (DuckDB's windowed sum
    aggregates via a segment tree, so its float association differs
    from Spark's sequential adds; measured: one last-ulp mismatch in
    150 rows at sf0.1). Decimal sums are exact, the min and the
    threshold compare happen on exact decimals, and only the final
    reported value string-routes to double. Scale: two type-keyed
    windows over a types x days table; everything upstream is one
    groupBy."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("cnt"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    std = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / n) / n
    )
    z = F.round((F.col("cnt").cast("double") - F.col("mean")) / F.col("std"), 9)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    y_dec = z.cast("decimal(20,9)") - F.lit(str(CUSUM_SLACK)).cast("decimal(20,9)")
    zero = F.lit("0").cast("decimal(30,9)")
    scored = (
        daily.join(
            F.broadcast(stats.select("event_type", mean.alias("mean"), std.alias("std"))),
            "event_type",
        )
        .select("event_type", "day", "cnt", y_dec.alias("y"))
        .withColumn("p", F.sum("y").over(w))
        .withColumn("mp", F.min("p").over(w))
        .withColumn("m", F.when(F.col("mp") < zero, F.col("mp")).otherwise(zero))
    )
    s_dec = F.col("p") - F.col("m")
    return scored.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        "cnt",
        s_dec.cast("string").cast("double").alias("cusum"),
        (s_dec > F.lit(str(CUSUM_THRESHOLD)).cast("decimal(20,9)")).alias("alert"),
    )


def q_user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average value per user (TWAP): each event's value
    holds until the user's next event (LOCF semantics, as the gap-fill
    and SCD2 operators); the average weights by that holding duration
    instead of by event count -- the correct aggregate whenever
    sampling is irregular (a value held for 6 h must outweigh one
    replaced after 3 s). The user's last event has no successor and
    carries no weight.

    Scale: one user-keyed window (lead) + one groupBy on the same key
    -- Catalyst reuses a single exchange. Exactness: value is exact
    DECIMAL(10,2), the holding time exact integer microseconds as
    DECIMAL(16,0); their product (27,2) never hits Spark's 38-digit
    precision reduction (the narrow-both-operands rule), so numerator
    and denominator are exact and only the final division is floating
    point (then round 6)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    dur = F.lead(us).over(w) - us
    g = ev.withColumn("dur", dur).filter(F.col("dur").isNotNull())
    num = F.sum(
        F.col("value").cast("decimal(10,2)") * F.col("dur").cast("decimal(16,0)")
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.sum("dur").cast("long").alias("active_us"),
            num.cast("string").cast("double").alias("_num"),
        )
        .select(
            "user_id",
            "active_us",
            F.round(F.col("_num") / F.col("active_us").cast("double"), 6).alias(
                "twap"
            ),
        )
    )


def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-load sweep line: per day, how many user sessions were
    active SIMULTANEOUSLY at the worst moment (capacity planning /
    peak-concurrency SLO). Sessions are 30-min-gap islands; each
    session is a CLOSED [first_event, last_event] interval, split into
    per-day segments so the sweep stays a day-keyed window.

    Scale: session build is the one user_id-keyed window chain; the
    segment explode is bounded (sessions span at most 2 days); the
    sweep is a window PARTITIONED BY day over (day, distinct ts)
    rows -- never a global sort. Tie-safety: concurrency is evaluated
    per distinct timestamp as running_net_before + starts_at_ts
    (starts count before ends at the same instant -- touching
    sessions overlap), which is invariant to any intra-timestamp
    ordering, so no tie-break is needed at all."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    chg = (gap.isNull() | (gap > analytics.SESSION_GAP_S)).cast("long")
    isl = ev.withColumn("chg", chg).withColumn(
        "island", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sess = isl.groupBy("user_id", "island").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    seg = sess.select(
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("s")),
                F.date_trunc("day", F.col("e")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "s",
        "e",
    ).select(
        "day",
        F.greatest(F.col("s"), F.col("day")).alias("a"),
        F.least(
            F.col("e"),
            F.col("day") + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND"),
        ).alias("b"),
    )
    # the start/end endpoint selects both consume seg: without pinning,
    # the union DUPLICATES the whole session-build subtree (two
    # user-keyed shuffles over events instead of one)
    seg = materialize(seg)
    pts = (
        seg.select("day", F.col("a").alias("ts"), F.lit(1).alias("cs"), F.lit(0).alias("ce"))
        .unionByName(
            seg.select("day", F.col("b").alias("ts"), F.lit(0).alias("cs"), F.lit(1).alias("ce"))
        )
        .groupBy("day", "ts")
        .agg(F.sum("cs").alias("cs"), F.sum("ce").alias("ce"))
    )
    wd = (
        Window.partitionBy("day")
        .orderBy(F.asc("ts"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    peak = (
        F.coalesce(F.sum(F.col("cs") - F.col("ce")).over(wd), F.lit(0)) + F.col("cs")
    )
    return (
        pts.withColumn("peak", peak)
        .groupBy("day")
        .agg(
            F.sum("cs").cast("long").alias("n_sessions"),
            F.max("peak").cast("long").alias("max_concurrent"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            "n_sessions",
            "max_concurrent",
        )
    )


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window operator (the
    dynamic-gap merge inside the aggregation) -- per-session rows,
    not per-user counts.
    The oracle is the classic SQL gaps-and-islands rewrite, so the
    hash match PROVES the built-in's merge semantics (half-open
    [start, last+gap): a gap of exactly 30 min starts a NEW session)
    equal the `diff >= gap` island rule at microsecond precision.
    Scale: one hash shuffle on user_id; session merging is
    per-group operator state, never a window over raw facts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "n_types",
        )
    )
q_events_json_stats = analytics.events_json_stats
