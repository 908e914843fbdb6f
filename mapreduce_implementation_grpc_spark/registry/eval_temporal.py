"""Registry queries for evaluation and temporal statistics: record
linkage, Holt/Theil-Sen trends, mutual-NN matching, Markov attribution
and rank movers.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    analytics,
    embedding_dup_pairs,
    load_table,
    materialize,
    with_token_array,
    _customer_nation_lines,
    _order_month,
    _rev_micros,
)



def q_linkage_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage
    (operators/linkage.sorted_neighborhood_pairs) over the SAME
    FEBRL-style master/corrupted-contacts pair as record_linkage_fs:
    one global bal-sorted sequence (two-level bucketed ranks), pairs
    within 10 rank positions scored with the shared FS weights. The
    point is the documented recall hole of the blocking join --
    balance nudges that cross a floor(bal) boundary -- which this
    query recovers and flags via cross_block. Top-100 report."""
    from ..operators.linkage import sorted_neighborhood_pairs

    master, contacts = _linkage_frames(spark, sf_dir)
    return sorted_neighborhood_pairs(master, contacts)


def q_nation_revenue_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double) exponential smoothing per nation over the
    SAME exact monthly integer-micros revenue series as the OLS and
    Theil-Sen trend queries -- the classic adaptive level+trend
    forecaster (Holt 1957). alpha = beta = 0.5 (exact binary) and
    every recursion step rounds to the thousand-micros grain
    (round(x, -3)): each state value is an exact-integer-valued
    double below 2^53, every multiply-by-0.5 and add is EXACT IEEE,
    so the whole recursion is bit-identical cross-engine with no
    libm, no rounding-mode edge, and no decimal accumulator. Output
    [nation, n_months, level, trend, forecast_next] (forecast = one
    exact add), nations with >= 2 observed months; gaps in the
    calendar are treated as consecutive observations (documented
    smoothing-over-observations convention).

    Scale shape: the fact-scale work is the one monthly groupBy; the
    recursion folds a <= calendar-months array per nation via
    F.aggregate, JVM-side, no driver loop and no per-step shuffle.
    The oracle is a recursive CTE stepping the same arithmetic."""
    monthly = (
        _customer_nation_lines(spark, sf_dir, load_table(spark, sf_dir, "orders"))
        .groupBy(F.col("n_name").alias("nation"), _order_month().alias("x"))
        .agg(
            F.sum(_rev_micros())
            .cast("decimal(25,0)")
            .cast("string")
            .cast("double")
            .alias("yd")
        )
    )
    arr = F.sort_array(F.collect_list(F.struct("x", "yd")))
    g = (
        monthly.groupBy("nation")
        .agg(F.count("*").alias("n_months"), arr.alias("_a"))
        .filter(F.col("n_months") >= 2)
    )
    half = F.lit(0.5)

    def lvl(acc, e):
        return F.round(half * e["yd"] + half * (acc["l"] + acc["b"]), -3)

    init = F.struct(
        F.element_at(F.col("_a"), 2)["yd"].alias("l"),
        (
            F.element_at(F.col("_a"), 2)["yd"]
            - F.element_at(F.col("_a"), 1)["yd"]
        ).alias("b"),
    )
    rest = F.slice(F.col("_a"), F.lit(3), F.size(F.col("_a")) - F.lit(2))
    folded = F.aggregate(
        rest,
        init,
        lambda acc, e: F.struct(
            lvl(acc, e).alias("l"),
            F.round(
                half * (lvl(acc, e) - acc["l"]) + half * acc["b"], -3
            ).alias("b"),
        ),
    )
    return (
        g.withColumn("_h", folded)
        .select(
            "nation",
            "n_months",
            F.col("_h.l").alias("level"),
            F.col("_h.b").alias("trend"),
            (F.col("_h.l") + F.col("_h.b")).alias("forecast_next"),
        )
        .orderBy("nation")
    )


def q_feature_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain (mutual information, nats) of three document
    features for predicting lang='en' -- the feature-selection
    primitive of a quality-classifier pipeline: which cheap signals
    carry label information at all. Features: len_bucket
    (least(9, n_chars DIV 200), a fixed INTEGER bucketing -- no
    data-driven boundary), has_digit (regex class presence), and the
    source column as-is. IG = H(Y) - H(Y|X) with every entropy term
    -(k/n) ln(k/n) computed from exact integer counts, rounded 9dp
    into order-independent DECIMAL sums, string-routed.

    Scale shape: stack() fans each row into 3 (feature, val) rows
    once; one partial-agg'd groupBy to (feature, val, y) cell grain;
    marginals are re-aggregations of the cell table (category-
    cardinality-sized). Output 3 rows [feature, h_y, h_y_given_x,
    ig_nats]."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        F.expr(
            "stack(3,"
            " 'has_digit', CASE WHEN text RLIKE '[0-9]' THEN 'y' ELSE 'n' END,"
            " 'len_bucket', CAST(least(9, n_chars DIV 200) AS STRING),"
            " 'source', source) AS (feature, val)"
        ),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    cells = f.groupBy("feature", "val", "y").agg(F.count("*").alias("nxy"))
    nx = cells.groupBy("feature", "val").agg(F.sum("nxy").alias("nx"))
    nf = cells.groupBy("feature").agg(F.sum("nxy").alias("n"))
    term = F.round(
        -(F.col("nxy").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("nxy").cast("double") / F.col("nx").cast("double")),
        9,
    ).cast("decimal(12,9)")
    hyx = (
        cells.join(nx, ["feature", "val"])
        .join(F.broadcast(nf), "feature")
        .groupBy("feature")
        .agg(F.sum(term).alias("_hyx"))
    )
    lab = docs.groupBy((F.col("lang") == "en").cast("int").alias("y")).agg(
        F.count("*").alias("ny")
    )
    ntot = lab.agg(F.sum("ny").alias("n"))
    hterm = F.round(
        -(F.col("ny").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("ny").cast("double") / F.col("n").cast("double")),
        9,
    ).cast("decimal(12,9)")
    hy = lab.crossJoin(F.broadcast(ntot)).agg(F.sum(hterm).alias("_hy"))

    def sdbl(c):
        return c.cast("string").cast("double")

    return (
        hyx.crossJoin(F.broadcast(hy))
        .select(
            "feature",
            sdbl(F.col("_hy")).alias("h_y"),
            sdbl(F.col("_hyx")).alias("h_y_given_x"),
            (sdbl(F.col("_hy")) - sdbl(F.col("_hyx"))).alias("ig_nats"),
        )
        .orderBy("feature")
    )


G2_TOP_K = 10
G2_MIN_COUNT = 5


def q_term_keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-G2_TOP_K keyness terms per language by the Dunning log-likelihood
    ratio G2 = 2 * sum over the 2x2 table of O ln(O/E) (Dunning 1993,
    "Accurate Methods for the Statistics of Surprise and
    Coincidence") -- the low-count-honest companion of
    term_chi2_keywords (chi-square overstates rare-event surprise;
    G2 is the likelihood-ratio form). Same exact token-instance
    contingency counts; each of the four O ln(O/E) terms (zero cells
    contribute 0) is rounded 9dp into a DECIMAL per-word G2, and the
    per-lang ranking happens ON that exact decimal -- ulp-identical
    ordering cross-engine with word-asc tie-break. [lang, rank, word,
    n_in_lang, g2]; candidates pruned to a >= G2_MIN_COUNT.

    Scale shape: identical to term_chi2_keywords -- everything after
    the tokenize pass lives at (lang, word) / vocab grain."""
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select("lang", F.explode("toks").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("a"))
    )
    ltot = cnt.groupBy("lang").agg(F.sum("a").alias("lt"))
    wtot = cnt.groupBy("w").agg(F.sum("a").alias("wt"))
    ntot = ltot.agg(F.sum("lt").alias("nn"))
    j = (
        cnt.filter(F.col("a") >= G2_MIN_COUNT)
        .join(F.broadcast(ltot), "lang")
        .join(wtot, "w")
        .crossJoin(F.broadcast(ntot))
        .withColumn("b", F.col("wt") - F.col("a"))
        .withColumn("c", F.col("lt") - F.col("a"))
        .withColumn("d", F.col("nn") - F.col("lt") - (F.col("wt") - F.col("a")))
    )

    def gterm(o, r, cc):
        e = (r.cast("double") * cc.cast("double")) / F.col("nn").cast("double")
        return F.when(
            o > 0,
            F.round(
                F.lit(2.0) * o.cast("double") * F.log(o.cast("double") / e), 9
            ),
        ).otherwise(F.lit(0.0)).cast("decimal(20,9)")

    lt, wt, nn = F.col("lt"), F.col("wt"), F.col("nn")
    g2d = (
        gterm(F.col("a"), lt, wt)
        + gterm(F.col("b"), nn - lt, wt)
        + gterm(F.col("c"), lt, nn - wt)
        + gterm(F.col("d"), nn - lt, nn - wt)
    )
    ranked = j.withColumn("_g2", g2d).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("_g2"), F.asc("w"))
        ),
    )
    return (
        ranked.filter(F.col("rank") <= G2_TOP_K)
        .select(
            "lang",
            F.col("rank").cast("long").alias("rank"),
            F.col("w").alias("word"),
            F.col("a").alias("n_in_lang"),
            F.col("_g2").cast("string").cast("double").alias("g2"),
        )
        .orderBy("lang", "rank")
    )


def q_nation_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation over the SAME monthly
    revenue series as nation_revenue_trend's OLS: the median of all
    pairwise slopes (rev_j - rev_i) / (month_j - month_i) -- the
    29%-breakdown estimator a single promo-spike month cannot drag
    (Theil 1950, Sen 1968). [nation, n_months, n_pairs,
    theil_sen_slope]; the median is the LOWER median by integer-rank
    selection over exact pair-slope doubles (the events_anomaly_mad
    convention -- no midpoint interpolation to diverge cross-engine).

    Scale shape: the fact-scale work is the one monthly-revenue
    groupBy (exact integer micros); pair enumeration and median
    selection happen at nation x month grain (C(n_months, 2) pairs
    per nation, bounded by the calendar, never row counts). The pair
    self-join is an equi-join on nation."""
    monthly = (
        _customer_nation_lines(spark, sf_dir, load_table(spark, sf_dir, "orders"))
        .groupBy(F.col("n_name").alias("nation"), _order_month().alias("x"))
        .agg(F.sum(_rev_micros()).cast("decimal(25,0)").alias("y"))
    )
    # NOT pinned (r10): both pair-join sides read `monthly`, but the
    # two subtrees are identical up to aliases, so ReuseExchange
    # already dedups the fact-scale work at runtime -- a
    # localCheckpoint pin measured ~12% SLOWER (barrier +
    # serialization for nothing)
    lhs = monthly.select(
        "nation", F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    rhs = monthly.select(
        "nation", F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    slopes = (
        lhs.join(rhs, "nation")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "nation",
            (
                (F.col("y2") - F.col("y1"))
                .cast("decimal(26,0)")
                .cast("string")
                .cast("double")
                / (F.col("x2") - F.col("x1")).cast("double")
            ).alias("slope"),
        )
    )
    sc = slopes.groupBy("nation", "slope").agg(F.count("*").alias("cnt"))
    tot = sc.groupBy("nation").agg(F.sum("cnt").alias("np"))
    w_cm = (
        Window.partitionBy("nation")
        .orderBy("slope")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    med = (
        sc.withColumn("cm", F.sum("cnt").over(w_cm))
        .join(F.broadcast(tot), "nation")
        .filter(
            F.col("cm")
            >= F.floor((F.col("np") + 1) / F.lit(2.0)).cast("long")
        )
        .groupBy("nation")
        .agg(F.min("slope").alias("theil_sen_slope"))
    )
    months = monthly.groupBy("nation").agg(F.count("*").alias("n_months"))
    return (
        months.join(F.broadcast(tot), "nation")
        .join(med, "nation")
        .select(
            "nation",
            "n_months",
            F.col("np").alias("n_pairs"),
            "theil_sen_slope",
        )
        .orderBy("nation")
    )


def q_lang_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased Simpson concentration per language: D = sum c(c-1) /
    (n(n-1)) -- the probability two tokens drawn WITHOUT replacement
    are the same type -- plus the inverse-Simpson effective
    vocabulary 1/D (Hill number of order 2), the concentration-side
    companions of lang_token_entropy (entropy reads the whole
    distribution; Simpson squares the head). ALL arithmetic is exact
    integers (c(c-1) products as DECIMAL(38,0)) until the one final
    division chain -- no transcendental, no rounding convention
    needed. [lang, n_tokens, vocab, simpson, inv_simpson]; n <= 1
    languages ship NULL (undefined without-replacement draw)."""
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select("lang", F.explode("toks").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    s2 = (
        F.col("c").cast("decimal(19,0)")
        * (F.col("c") - F.lit(1)).cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    g = cnt.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.sum(s2).cast("decimal(38,0)").alias("_s2"),
    )
    simpson = F.when(
        F.col("n_tokens") > 1,
        F.col("_s2").cast("string").cast("double")
        / (
            F.col("n_tokens").cast("double")
            * (F.col("n_tokens") - F.lit(1)).cast("double")
        ),
    )
    return g.select(
        "lang",
        "n_tokens",
        "vocab",
        simpson.alias("simpson"),
        F.when(
            (F.col("n_tokens") > 1) & (F.col("_s2") > 0),
            F.lit(1.0) / simpson,
        ).alias("inv_simpson"),
    ).orderBy("lang")


def q_brand_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit per supplier nation: the Herfindahl
    -Hirschman index over part-brand revenue shares (HHI = sum
    share_i^2, the antitrust-screening statistic) plus the CR4
    four-brand concentration ratio. Shares never materialize:
    HHI = sum(rev_i^2) / (sum rev_i)^2 on exact integer micros
    (DECIMAL(38,0) squares, HUGEINT twin), so the only IEEE work is
    one fixed division chain; CR4's top-4 pick is a brand-grain
    window with rev-desc brand-asc deterministic tie-break.
    [nation, n_brands, hhi, cr4].

    Scale shape: one fact-scale groupBy to (nation, brand) grain
    after broadcast dim joins; everything else (windows, squares,
    ratios) lives on that nations x brands table."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    nb = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(F.sum(_rev_micros()).cast("decimal(25,0)").alias("rev"))
    )
    w_rank = Window.partitionBy("nation").orderBy(
        F.desc("rev"), F.asc("brand")
    )
    ranked = nb.withColumn("_rk", F.row_number().over(w_rank))
    # Square at the native decimal(25,0) grain, capped to decimal(38,0).
    # A per-cell revenue >= 1e19 micros would overflow the 38-digit
    # square; rather than letting non-ANSI Spark null it (and the sum
    # silently skip the cell), raise loudly at the offending row. The
    # DuckDB oracle's HUGEINT square survives past this bound, so a
    # silent null here would surface as a confusing hash mismatch.
    _hhi_sq_bound = F.lit("9999999999999999999").cast("decimal(25,0)")
    sq = F.when(
        F.col("rev") <= _hhi_sq_bound,
        (F.col("rev") * F.col("rev")).cast("decimal(38,0)"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "brand_revenue_hhi: per-(nation,brand) revenue >= 1e19 "
                "micros overflows the decimal(38,0) square"
            )
        ).cast("decimal(38,0)")
    )
    g = ranked.groupBy("nation").agg(
        F.count("*").alias("n_brands"),
        F.sum("rev").cast("decimal(35,0)").alias("_s1"),
        F.sum(sq).cast("decimal(38,0)").alias("_s2"),
        F.sum(F.when(F.col("_rk") <= 4, F.col("rev")).otherwise(F.lit(0)))
        .cast("decimal(35,0)")
        .alias("_t4"),
    )

    def sdbl(c):
        return c.cast("string").cast("double")

    return g.select(
        "nation",
        "n_brands",
        (
            sdbl(F.col("_s2")) / (sdbl(F.col("_s1")) * sdbl(F.col("_s1")))
        ).alias("hhi"),
        (sdbl(F.col("_t4")) / sdbl(F.col("_s1"))).alias("cr4"),
    ).orderBy("nation")


def q_events_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length profile of each event type: consecutive same-type
    runs inside each user's stream (the gaps-and-islands pattern at
    event grain -- user_activity_streaks' twin on the type axis, the
    repetition diagnostic behind rage-click / retry-storm review).
    Boundary = type change or stream start (one lag() on the
    user-keyed total order), run id = running boundary count, runs
    collapse via one (user, run, type) groupBy. [event_type, n_runs,
    longest_run, mean_run_len]; mean = exact total/runs division
    (every event is in exactly one run)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    b = ev.withColumn("_prev", F.lag("event_type").over(w)).withColumn(
        "_bnd",
        (
            F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type"))
        ).cast("long"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        b.withColumn("_run", F.sum("_bnd").over(w_run))
        .groupBy("user_id", "_run", "event_type")
        .agg(F.count("*").alias("_len"))
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count("*").alias("n_runs"),
            F.max("_len").alias("longest_run"),
            (
                F.sum("_len").cast("double") / F.count("*").cast("double")
            ).alias("mean_run_len"),
        )
        .orderBy("event_type")
    )


def q_events_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) over each event type's
    daily value volume: z_t = round(0.5 x_t + 0.5 z_{t-1}) with x_t
    the day's total value in exact integer MICROS -- the same
    all-exact recursion discipline as nation_revenue_holt (alpha
    exact-binary, states integer-valued doubles < 2^53, tie rounding
    probed identical cross-engine), so the smoothing is bit-identical
    with no decimal accumulator and no libm. Output [event_type,
    n_days, ewma_last_micros, max_abs_dev_micros] where max_abs_dev
    is the largest one-step |x_t - z_{t-1}| surprise the chart saw --
    the control-limit numerator.

    Scale shape: one fact-scale groupBy to (type, day) grain (value
    6dp-decimal-summed exactly, scaled to BIGINT micros); the
    recursion folds a <= calendar-days array per type JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            (
                F.sum(F.round("value", 6).cast("decimal(18,6)"))
                .cast("decimal(20,6)")
                * F.lit(1000000).cast("decimal(7,0)")
            )
            .cast("long")
            .cast("double")
            .alias("x")
        )
    )
    arr = F.sort_array(F.collect_list(F.struct("day", "x")))
    g = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"), arr.alias("_a")
    )
    half = F.lit(0.5)
    init = F.struct(
        F.element_at(F.col("_a"), 1)["x"].alias("z"),
        F.lit(0.0).alias("md"),
    )
    rest = F.slice(F.col("_a"), F.lit(2), F.size(F.col("_a")) - F.lit(1))
    folded = F.aggregate(
        rest,
        init,
        lambda acc, e: F.struct(
            F.round(half * e["x"] + half * acc["z"], 0).alias("z"),
            F.greatest(acc["md"], F.abs(e["x"] - acc["z"])).alias("md"),
        ),
    )
    return (
        g.withColumn("_f", folded)
        .select(
            "event_type",
            "n_days",
            F.col("_f.z").alias("ewma_last_micros"),
            F.col("_f.md").alias("max_abs_dev_micros"),
        )
        .orderBy("event_type")
    )


def q_segment_order_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence profile per market segment: the distribution
    of days between a customer's consecutive orders -- median and p90
    by INTEGER-RANK SELECTION (the shipping_delay_profile /
    events_anomaly_mad convention: no interpolation, no float rank),
    mean from exact integer day sums. The replenishment-cycle readout
    behind inventory and win-back timing. [segment, n_gaps,
    mean_gap_days, median_gap_days, p90_gap_days].

    Scale shape: consecutive-order gaps are one lag() on the
    custkey-keyed total order (uniform key, one shuffle); the
    segment attach is a customer-grain equi-join; percentiles ride
    the (segment, distinct-gap) grain -- bounded by the calendar,
    never order rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    gaps = (
        orders.withColumn("_prev", F.lag("o_orderdate").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "_prev").cast("long").alias("gap"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("segment", "gap")
        .agg(F.count("*").alias("cnt"))
    )
    tot = gaps.groupBy("segment").agg(
        F.sum("cnt").alias("n_gaps"),
        F.sum(F.col("gap") * F.col("cnt")).alias("_sum_gap"),
    )
    w_cm = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = gaps.withColumn("cm", F.sum("cnt").over(w_cm)).join(
        F.broadcast(tot), "segment"
    )
    p50 = (
        cum.filter(
            F.col("cm")
            >= F.floor((F.col("n_gaps") + 1) / F.lit(2.0)).cast("long")
        )
        .groupBy("segment")
        .agg(F.min("gap").alias("median_gap_days"))
    )
    p90 = (
        cum.filter(F.col("cm") * 10 >= F.col("n_gaps") * 9)
        .groupBy("segment")
        .agg(F.min("gap").alias("p90_gap_days"))
    )
    return (
        tot.join(p50, "segment")
        .join(p90, "segment")
        .select(
            "segment",
            "n_gaps",
            (
                F.col("_sum_gap").cast("double")
                / F.col("n_gaps").cast("double")
            ).alias("mean_gap_days"),
            "median_gap_days",
            "p90_gap_days",
        )
        .orderBy("segment")
    )


def q_customer_value_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year value-quintile migration matrix: customers
    ranked into spend quintiles within 1995 and within 1996 (exact
    integer cents, rank by spend desc with custkey tie-break,
    quintile = 5*(rn-1) DIV n -- an INTEGER boundary, no ntile() and
    no float), then the 1995 -> 1996 transition counts over customers
    active in both years -- the churn-risk migration table of CRM
    practice (diagonal = retained tier, below-diagonal = upgraded).
    [q_1995, q_1996, n_customers] ordered by both tiers.

    Scale shape: per-year ranks ride the GROUP-SCOPED two-level
    bucketed machinery (bucketize group_cols=[yr]: per-year
    1024-bucket ladders, windows partitioned by (yr, bucket) -- no
    per-year SinglePartition sort of the customer grain); the pivot
    is one self-equi-join on custkey at customer grain."""
    from ..operators.ranking import bucket_offsets, bucketize_by_key

    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "decimal(25,0)"
                )
            )
            .cast("decimal(25,0)")
            .cast("string")
            .cast("double")
            .alias("cents")
        )
    )
    bk = bucketize_by_key(spend, "cents", ascending=False, group_cols=["yr"])
    offs = bucket_offsets(bk, group_cols=["yr"])
    w_loc = Window.partitionBy("yr", "_bkt").orderBy(
        F.asc("_ak"), F.asc("custkey")
    )
    ranked = (
        bk.withColumn("_lrn", F.row_number().over(w_loc))
        .join(offs, ["yr", "_bkt"])
        .select(
            "custkey",
            "yr",
            F.least(
                F.lit(4),
                F.expr("5 * (_off + _lrn - 1) DIV _tot"),
            ).cast("long").alias("q"),
        )
    )
    a = ranked.filter(F.col("yr") == 1995).select(
        "custkey", F.col("q").alias("q_1995")
    )
    b = ranked.filter(F.col("yr") == 1996).select(
        "custkey", F.col("q").alias("q_1996")
    )
    return (
        a.join(b, "custkey")
        .groupBy("q_1995", "q_1996")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("q_1995", "q_1996")
    )


def q_customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by
    first-order month, cumulative revenue per cohort member tracked
    over cohort age in months -- the user_retention counting curve
    upgraded to money (the LTV readout subscription finance runs).
    Revenue is exact integer CENTS (o_totalprice is 2dp by
    construction); the cumulative sum is a window over the
    (cohort, age) grain -- bounded by calendar^2/2, never orders --
    and the per-member division is the only IEEE op.
    [cohort_month, age_months, n_active, cohort_size, rev_cents,
    cum_ltv_cents_per_customer].

    Scale shape: first-order month is one min() groupBy on custkey
    (uniform key); the order->cohort attach is an equi-join flowing
    into the one (cohort, age) groupBy; windows never touch order
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    midx = _order_month()
    om = orders.select(
        "o_custkey",
        midx.alias("_m"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("_cents"),
    )
    firsts = om.groupBy("o_custkey").agg(F.min("_m").alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    cells = (
        om.join(firsts, "o_custkey")
        .groupBy("cohort", (F.col("_m") - F.col("cohort")).alias("age_months"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(F.col("_cents").cast("decimal(25,0)"))
            .cast("decimal(25,0)")
            .alias("_rev"),
        )
    )
    w_cum = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .withColumn("_cum", F.sum("_rev").over(w_cum))
        .select(
            F.col("cohort").alias("cohort_month"),
            "age_months",
            "n_active",
            "cohort_size",
            F.col("_rev").cast("string").cast("double").alias("rev_cents"),
            (
                F.col("_cum").cast("string").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("cum_ltv_cents_per_customer"),
        )
        .orderBy("cohort_month", "age_months")
    )


def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce-rate profile by session ENTRY event type: sessionize
    each user's stream on the repo's 30-minute gap convention (the
    events_sessionize lag shape), take each session's first event
    type as its landing page, and report how often that entry ends
    the session immediately (n_events = 1) -- the funnel-entry
    quality readout. [entry_type, n_sessions, n_bounces, bounce_rate,
    mean_events_per_session]; both ratios exact long/long IEEE
    divisions.

    Scale shape: the sessionize lag and the session-id running count
    share ONE user-keyed window shuffle; sessions collapse via one
    (user, session) groupBy with a min(struct) entry pick (no second
    window)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = ev.withColumn(
        "_st", F.when(gap.isNull() | (gap > analytics.SESSION_GAP_S), 1).otherwise(0)
    ).withColumn("_sid", F.sum("_st").over(w_run))
    sess = s.groupBy("user_id", "_sid").agg(
        F.count("*").alias("_n"),
        F.min(
            F.struct(
                F.col("ts").alias("t"),
                F.col("event_id").alias("e"),
                F.col("event_type").alias("v"),
            )
        )["v"].alias("entry_type"),
    )
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("_n") == 1).cast("long")).alias("n_bounces"),
            (
                F.sum((F.col("_n") == 1).cast("long")).cast("double")
                / F.count("*").cast("double")
            ).alias("bounce_rate"),
            (
                F.sum("_n").cast("double") / F.count("*").cast("double")
            ).alias("mean_events_per_session"),
        )
        .orderBy("entry_type")
    )


def q_shipping_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay distribution per order month: exact mean
    plus p50/p90 by INTEGER-RANK SELECTION over the (month, distinct
    delay-days) grain -- the late_shipments count query upgraded to a
    full latency profile, with the repo's interpolation-free
    percentile convention (events_anomaly_mad): p50 = smallest delay
    with cum >= (n+1) div 2, p90 = smallest with 10*cum >= 9*n, all
    integer comparisons, no float decides a rank. [month, n_items,
    mean_delay_days, p50_delay_days, p90_delay_days].

    Scale shape: one equi-join on the uniform orderkey, one groupBy
    to (month, delay) grain (bounded by calendar x delay range);
    the percentile windows never touch lineitem rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    month = _order_month()
    d = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            month.alias("month"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("dd"),
        )
        .groupBy("month", "dd")
        .agg(F.count("*").alias("cnt"))
    )
    tot = d.groupBy("month").agg(
        F.sum("cnt").alias("n_items"),
        F.sum(F.col("dd") * F.col("cnt")).alias("_sum_dd"),
    )
    w_cm = (
        Window.partitionBy("month")
        .orderBy("dd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cm", F.sum("cnt").over(w_cm)).join(
        F.broadcast(tot), "month"
    )
    p50 = (
        cum.filter(
            F.col("cm")
            >= F.floor((F.col("n_items") + 1) / F.lit(2.0)).cast("long")
        )
        .groupBy("month")
        .agg(F.min("dd").alias("p50_delay_days"))
    )
    p90 = (
        cum.filter(F.col("cm") * 10 >= F.col("n_items") * 9)
        .groupBy("month")
        .agg(F.min("dd").alias("p90_delay_days"))
    )
    return (
        tot.join(p50, "month")
        .join(p90, "month")
        .select(
            "month",
            "n_items",
            (
                F.col("_sum_dd").cast("double")
                / F.col("n_items").cast("double")
            ).alias("mean_delay_days"),
            "p50_delay_days",
            "p90_delay_days",
        )
        .orderBy("month")
    )


def q_embedding_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs over the embedding corpus
    (similarity.mutual_nearest_pairs): candidates come from the
    thresholded pair scan, the reciprocity filter is two node-grain
    argmax windows + one equi-join. The high-precision subset of
    embedding_dup_pairs."""
    from ..operators.similarity import mutual_nearest_pairs

    pairs = embedding_dup_pairs(load_table(spark, sf_dir, "embeddings"))
    return mutual_nearest_pairs(pairs)


def q_embedding_mutual_nn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB wiring of mutual-NN (VERDICT r6 #4): candidates come
    from the LSH-bucketed pair scan (pairs only form inside a
    hyperplane-sign bucket -- the embedding_dup_pairs_lsh path)
    instead of the global O(n^2) scan; the reciprocity filter
    (mutual_nearest_pairs) is unchanged node-grain windows. Recall<1
    by design but deterministic: the splitmix64 planes are embedded in the
    oracle, so the approximate path hash-checks exactly.
    `embedding_mutual_nn` remains the exact small-corpus twin."""
    from ..operators.similarity import mutual_nearest_pairs

    pairs = embedding_dup_pairs(load_table(spark, sf_dir, "embeddings"), use_lsh=True)
    # pin=False: measured neutral on the bucketed path (exchange
    # reuse already dedups the candidate scan) and avoids pinning
    # corpus-scale candidate blocks at 100 TB -- see
    # mutual_nearest_pairs docstring / OPTIMIZATION_r11.md section 5
    return mutual_nearest_pairs(pairs, pin=False)


def _markov_transitions(spark: SparkSession, sf_dir: str):
    """Shared first-order event-chain pieces: (events, transition
    matrix [_s, _t2, _T], state list) -- the one corpus-scale pass is
    the lead() window; everything downstream is event-TYPE grain."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    nxt = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    c = nxt.groupBy("event_type", "next_type").agg(F.count("*").alias("_n"))
    tot = c.groupBy("event_type").agg(F.sum("_n").alias("_t"))
    # PIN the k x k matrix (and the k-row state list): every unrolled
    # value-iteration round references tr once and states once, so an
    # unpinned tr re-plans (and re-executes) the corpus-scale lead()
    # window per reference -- measured r10: the 8-step absorption
    # plan carried ~130 Exchanges / 308 HashAggregates before the pin
    # (one transition-build subtree per round) and collapses to one
    # corpus pass + k-grain iteration after. Lazy pin (localCheckpoint
    # eager=False), so query construction stays job-free.
    tr = materialize(
        c.join(tot, "event_type").select(
            F.col("event_type").alias("_s"),
            F.col("next_type").alias("_t2"),
            (F.col("_n") / F.col("_t")).alias("_T"),
        )
    )
    states = materialize(
        tr.select(F.col("_s").alias("node"))
        .unionByName(tr.select(F.col("_t2").alias("node")))
        .distinct()
    )
    return ev, tr, states


MARKOV_STEPS = 8
ABSORB_STATE = "purchase"


def _absorb_p(tr: DataFrame, states: DataFrame, steps: int) -> DataFrame:
    """`steps` unrolled value-iteration rounds of p(reach ABSORB_STATE
    within k steps) with the absorbing state clamped to 1; 12dp
    decimal per-step contributions (bit-identical cross-engine). All
    work at state grain."""
    absorb = F.when(F.col("node") == ABSORB_STATE, F.lit(1.0))

    def sdbl(col):
        return col.cast("string").cast("double")

    p = states.select("node", absorb.otherwise(F.lit(0.0)).alias("p"))
    for _ in range(steps):
        stepped = (
            tr.join(F.broadcast(p), F.col("_t2") == F.col("node"))
            .groupBy(F.col("_s").alias("node"))
            .agg(
                sdbl(
                    F.sum(
                        F.round(F.col("_T") * F.col("p"), 12).cast(
                            "decimal(24,12)"
                        )
                    )
                ).alias("_sm")
            )
        )
        # stepped is a k-row aggregate: broadcast it so the per-round
        # left join never plans a sort-merge over the pinned states
        p = states.join(F.broadcast(stepped), "node", "left").select(
            "node",
            absorb.otherwise(F.coalesce("_sm", F.lit(0.0))).alias("p"),
        )
    return p


def q_event_conversion_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain conversion probability: for each event type,
    the probability that a user's Markov walk (first-order, the
    event_transitions matrix) reaches 'purchase' within MARKOV_STEPS
    steps -- the attribution-modeling primitive behind Markov
    removal-effect analysis, computed by MARKOV_STEPS unrolled
    value-iteration rounds p_k(s) = sum_t T[s,t] * p_{k-1}(t) with
    'purchase' clamped to 1 (absorbing). ALL iteration work happens
    at event-TYPE grain (a k x k matrix, k = |event types|): the one
    corpus-scale pass is the lead() window that builds the
    transition counts. Per-step contributions are 12dp-decimal
    summed (the pagerank recipe) so every round is bit-identical
    cross-engine. [event_type, p_convert]."""
    _, tr, states = _markov_transitions(spark, sf_dir)
    p = _absorb_p(tr, states, MARKOV_STEPS)
    return p.select(
        F.col("node").alias("event_type"), F.col("p").alias("p_convert")
    ).orderBy("event_type")


# Single source of truth for the Markov removal-effect channel
# universe: the oracle SQL unrolls one absorbing-chain CTE per channel
# at authoring time, and the Spark query asserts its data-derived set
# equals this tuple (loud desync detection, advice r7).
MARKOV_ORACLE_CHANNELS = ("click", "error", "signup", "view")


def q_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect channel attribution (Anderl et al.,
    "Mapping the customer journey"): credit each non-converting event
    type by how much the MARKOV_STEPS-step conversion reach drops when walks can
    no longer ENTER it. p_base = sum_s pi(s) p(s) with pi the
    first-event (journey-start) distribution and p the absorbing-
    chain reach of q_event_conversion_absorption; for each channel c,
    p_removed(c) re-runs the SAME value iteration on the transition
    matrix with every edge INTO c dropped (that probability mass
    walks to nowhere = null, the standard removal semantics) and
    drops journeys STARTING at c. Output [channel, p_base, p_removed,
    removal_effect, attribution_share] with effect = 1 - p_rm/p_base
    rounded 12dp (a nonneg decimal -- removal only deletes paths) and
    share = effect / sum(effects) on the exact decimal total
    (NULL when no channel has any effect).

    Scale shape: the two corpus passes are the transition lead()
    window and the first-event row_number -- both one user-keyed
    shuffle; EVERYTHING else (4 channels x 8 unrolled rounds) runs at
    event-TYPE grain. The |channels|-sized collect() is model state
    (the Lloyd-centroid convention), not data."""
    ev, tr, states = _markov_transitions(spark, sf_dir)

    def sdbl(col):
        return col.cast("string").cast("double")

    w_first = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    first = (
        ev.withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") == 1)
        .groupBy(F.col("event_type").alias("node"))
        .agg(F.count("*").alias("_c"))
    )
    # pin first/pi (k rows): the base reach plus one reach per
    # channel each read pi, and unpinned every reach re-ran the
    # corpus-scale first-event window (8 events scans in the r10
    # plan audit, now 1)
    first = materialize(first)
    users = first.agg(F.sum("_c").alias("_u"))
    pi = materialize(
        first.crossJoin(F.broadcast(users)).select(
            "node", (F.col("_c") / F.col("_u")).alias("pi")
        )
    )

    def reach(p: DataFrame, skip: str | None = None) -> DataFrame:
        src = pi if skip is None else pi.filter(F.col("node") != skip)
        return src.join(p, "node").agg(
            sdbl(
                F.sum(
                    F.round(F.col("pi") * F.col("p"), 12).cast(
                        "decimal(24,12)"
                    )
                )
            ).alias("val")
        )

    base = reach(_absorb_p(tr, states, MARKOV_STEPS)).select(
        F.col("val").alias("p_base")
    )
    channels = sorted(
        r.node for r in states.collect() if r.node != ABSORB_STATE
    )
    # The oracle pins this channel universe at authoring time (it is
    # unrolled into the SQL); if the generator's event-type set ever
    # drifts, fail HERE with both sets named instead of surfacing as
    # an inscrutable oracle hash mismatch (advice r7). Crafted-fixture
    # universes (disjoint channel names, oracle not in play) skip the
    # check; any drift of the REAL universe still overlaps and trips.
    if set(channels) & set(MARKOV_ORACLE_CHANNELS) and tuple(
        channels
    ) != MARKOV_ORACLE_CHANNELS:
        raise RuntimeError(
            "attribution_markov_removal: data-derived channel set "
            f"{tuple(channels)} != oracle's pinned universe "
            f"{MARKOV_ORACLE_CHANNELS}; regenerate the oracle via "
            "_markov_removal_sql with the new tuple"
        )
    # ONE (removed, node)-keyed value iteration instead of the old
    # one-plan-per-channel Python loop (round 8, VERDICT r7 #5): the
    # removed channel is a COLUMN, so the 8 unrolled rounds exist
    # once in the plan regardless of |channels|. SCALING.md "Round-8:
    # Markov removal-effect" measured the loop shape superlinear in
    # channels (7.5 s at C=4, 91 s at C=50) vs the keyed shape flat
    # (5.6 / 9.1 / 22.6 s at C=4/50/200) with 9dp-identical results;
    # per-step arithmetic is the same 12dp order-independent decimal
    # chain, so the oracle hash is unchanged. State stays model-grain:
    # |channels| x |states| rows.
    ch_df = spark.createDataFrame([(c,) for c in channels], "removed string")
    trx = tr.crossJoin(F.broadcast(ch_df)).filter(
        F.col("_t2") != F.col("removed")
    )
    sx = states.crossJoin(F.broadcast(ch_df))
    absorb_k = F.when(F.col("node") == ABSORB_STATE, F.lit(1.0))
    p_k = sx.select(
        "removed", "node", absorb_k.otherwise(F.lit(0.0)).alias("p")
    )
    for _ in range(MARKOV_STEPS):
        # rename the state side's keys before the join: both sides'
        # `removed` descends from the SAME broadcast ch_df lineage,
        # so an attribute-equality condition is ambiguous (Spark
        # warns "trivially true equals predicate")
        p_r = p_k.select(
            F.col("removed").alias("_rm_p"),
            F.col("node").alias("_nd_p"),
            "p",
        )
        stepped = (
            trx.join(
                p_r,
                (F.col("_t2") == F.col("_nd_p"))
                & (F.col("removed") == F.col("_rm_p")),
            )
            .groupBy("removed", F.col("_s").alias("node"))
            .agg(
                sdbl(
                    F.sum(
                        F.round(F.col("_T") * F.col("p"), 12).cast(
                            "decimal(24,12)"
                        )
                    )
                ).alias("_sm")
            )
        )
        p_k = sx.join(stepped, ["removed", "node"], "left").select(
            "removed",
            "node",
            absorb_k.otherwise(F.coalesce("_sm", F.lit(0.0))).alias("p"),
        )
    rem = (
        p_k.join(F.broadcast(pi), "node")
        .filter(F.col("node") != F.col("removed"))
        .groupBy(F.col("removed").alias("channel"))
        .agg(
            sdbl(
                F.sum(
                    F.round(F.col("pi") * F.col("p"), 12).cast("decimal(24,12)")
                )
            ).alias("p_removed")
        )
    )
    eff = rem.crossJoin(F.broadcast(base)).withColumn(
        "_eff",
        F.round(
            F.lit(1.0) - F.col("p_removed") / F.col("p_base"), 12
        ).cast("decimal(24,12)"),
    )
    # total effect as a 1-row aggregate broadcast back (identical
    # order-independent decimal sum as the old whole-frame window,
    # without the SinglePartition window exchange)
    te = eff.agg(F.sum("_eff").cast("decimal(24,12)").alias("_te"))
    out = eff.crossJoin(F.broadcast(te))
    return out.select(
        "channel",
        "p_base",
        "p_removed",
        sdbl(F.col("_eff")).alias("removal_effect"),
        F.when(
            F.col("_te") != F.lit(0), sdbl(F.col("_eff")) / sdbl(F.col("_te"))
        ).alias("attribution_share"),
    ).orderBy("channel")


def _absorption_ctes() -> str:
    """Unrolled value-iteration oracle for q_event_conversion_absorption."""
    parts = [f"""nxt AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events),
  c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS nn
        FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
  tot AS (SELECT event_type, CAST(sum(nn) AS BIGINT) AS t
          FROM c GROUP BY 1),
  tr AS (SELECT c.event_type AS s, next_type AS t2, nn / t AS T
         FROM c JOIN tot ON c.event_type = tot.event_type),
  st AS (SELECT s AS node FROM tr UNION SELECT t2 FROM tr),
  p0 AS (SELECT node,
                CASE WHEN node = '{ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END AS p
         FROM st)"""]
    for k in range(1, MARKOV_STEPS + 1):
        parts.append(f"""p{k} AS (
    SELECT st.node,
           CASE WHEN st.node = '{ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                ELSE coalesce(x.sm, CAST(0.0 AS DOUBLE)) END AS p
    FROM st LEFT JOIN (
      SELECT s AS node,
             CAST(CAST(sum(CAST(round(T * p, 12) AS DECIMAL(24,12)))
                       AS VARCHAR) AS DOUBLE) AS sm
      FROM tr JOIN p{k - 1} ON tr.t2 = p{k - 1}.node GROUP BY 1) x
    USING (node))""")
    return ",\n  ".join(parts) + f"""
  SELECT node AS event_type, p AS p_convert FROM p{MARKOV_STEPS} ORDER BY node"""


def _label_centroid_dots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[vec_id, label, clabel, dot, vnorm2, cnorm2]: every embedding
    against every label centroid (the label_centroids recipe: exact
    decimal sums, 6dp means), dots and squared norms as 12dp-decimal
    sums string-routed to double. Centroids (k x dims) are broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))

    def sdbl(c):
        return c.cast("string").cast("double")

    cent = flat.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.round(
            sdbl(F.sum(F.col("v").cast("decimal(27,12)"))) / F.count("*"), 6
        ).alias("c")
    )
    cn = cent.groupBy("clabel").agg(
        sdbl(F.sum((F.col("c") * F.col("c")).cast("decimal(24,12)"))).alias(
            "cnorm2"
        )
    )
    vn = flat.groupBy("vec_id").agg(
        sdbl(F.sum((F.col("v") * F.col("v")).cast("decimal(24,12)"))).alias(
            "vnorm2"
        )
    )
    dots = (
        flat.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            sdbl(
                F.sum((F.col("v") * F.col("c")).cast("decimal(24,12)"))
            ).alias("dot")
        )
    )
    return dots.join(vn, "vec_id").join(F.broadcast(cn), "clabel")


def q_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label over the
    embedding corpus: s_i = (b_i - a_i) / max(a_i, b_i) with a_i the
    SQUARED distance to the own-label centroid and b_i the minimum
    over other labels' centroids -- the O(n*k) silhouette every
    clustering-quality dashboard uses when the O(n^2) medoid form is
    unaffordable (Hruschka et al.'s simplified silhouette; also the
    nearest_centroid_confusion's quality twin). [label, n_vecs,
    mean_silhouette], silhouette terms 9dp-decimal-summed
    (order-independent) and string-routed.

    Scale shape: identical to nearest_centroid_confusion -- broadcast
    k x dims centroids, per-(vec, label) squared distance via
    ||v||^2 - 2<v,c> + ||c||^2 from the same decimal-exact dot/norm
    aggregates, one vec-grain window for the b_i argmin."""
    d2 = _label_centroid_dots(spark, sf_dir).withColumn(
        "_d2", F.col("vnorm2") - F.lit(2.0) * F.col("dot") + F.col("cnorm2")
    )
    a = d2.filter(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("_d2").alias("_a")
    )
    b = (
        d2.filter(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(F.min("_d2").alias("_b"))
    )
    s = a.join(b, "vec_id").withColumn(
        "_s",
        F.round(
            (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b"), 9
        ).cast("decimal(12,9)"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("_s").cast("string").cast("double") / F.count("*")).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


def q_cosupply_nation_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the thresholded
    co-supply graph: per nation, Q_c = intra_c/m - (d_c/(2m))^2 --
    "is co-supply structured by geography?" A positive term means the
    nation's suppliers co-supply each other more than a degree-
    preserving random rewiring predicts. No clustering is run: the
    partition is a dimension attribute, so the whole operator is
    exact integers (m, intra-edge counts, degree sums) into one fixed
    IEEE chain per nation.

    Scale shape: the edge list is node-pair-sized and joined twice to
    the supplier->nation map (node-table-sized, AQE-broadcastable);
    m is a 1-row broadcast; everything else is nation-grain.
    [nation, n_suppliers, degree_sum, intra_edges, modularity_term]."""
    from ..operators.graph_motifs import cosupply_edges

    e = materialize(cosupply_edges(spark, sf_dir))
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation")
    sn = sup.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("sk", F.col("n_name").alias("nation"))
    m1 = e.agg(F.count("*").alias("m"))
    und = e.select(F.col("s1").alias("node")).unionByName(
        e.select(F.col("s2").alias("node"))
    )
    dnat = (
        und.join(sn, F.col("node") == F.col("sk"))
        .groupBy("nation")
        .agg(
            F.count("*").alias("degree_sum"),
            F.count_distinct("node").alias("n_suppliers"),
        )
    )
    intra = (
        e.join(
            sn.select(F.col("sk").alias("_k1"), F.col("nation").alias("_n1")),
            F.col("s1") == F.col("_k1"),
        )
        .join(
            sn.select(F.col("sk").alias("_k2"), F.col("nation").alias("_n2")),
            F.col("s2") == F.col("_k2"),
        )
        .filter(F.col("_n1") == F.col("_n2"))
        .groupBy(F.col("_n1").alias("nation"))
        .agg(F.count("*").alias("intra_edges"))
    )
    md = F.col("m").cast("double")
    half = F.col("degree_sum").cast("double") / (F.lit(2) * F.col("m")).cast(
        "double"
    )
    return (
        dnat.join(intra, "nation", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "nation",
            "n_suppliers",
            "degree_sum",
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
            (
                F.coalesce("intra_edges", F.lit(0)).cast("double") / md
                - half * half
            ).alias("modularity_term"),
        )
        .orderBy("nation")
    )


def q_cosupply_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman) of the co-supply graph: Pearson
    correlation of endpoint degrees across all directed edge
    instances -- do high-degree suppliers co-supply with each other
    (r > 0, social-network-like) or with the periphery (r < 0,
    internet-like)? One row [m_directed, sum_j, assortativity].
    Moments accumulate as exact DECIMAL (the ols_fit cast family --
    j*k products dec(18)x dec(19) -> dec(38)), so a 10^9-edge hub
    graph widens instead of wrapping; r is one IEEE chain over the
    string-routed exact moments (sum_j == sum_k by symmetry, both
    orientations counted)."""
    from ..operators.graph_motifs import cosupply_edges

    e = materialize(cosupply_edges(spark, sf_dir))
    und = e.select(F.col("s1").alias("src"), F.col("s2").alias("dst")).unionByName(
        e.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    deg = und.groupBy(F.col("src").alias("_n")).agg(F.count("*").alias("_d"))
    ed = (
        und.join(deg.select(F.col("_n").alias("src"), F.col("_d").alias("j")), "src")
        .join(deg.select(F.col("_n").alias("dst"), F.col("_d").alias("k")), "dst")
    )
    agg = ed.agg(
        F.count("*").alias("m_directed"),
        F.sum("j").alias("sum_j"),
        F.sum(F.col("j").cast("decimal(18,0)") * F.col("k").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("_sjk"),
        F.sum(F.col("j").cast("decimal(18,0)") * F.col("j").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("_sjj"),
    )

    def sdbl(c):
        return c.cast("string").cast("double")

    num = sdbl(
        F.col("m_directed").cast("decimal(8,0)") * F.col("_sjk").cast("decimal(30,0)")
        - F.col("sum_j").cast("decimal(18,0)") * F.col("sum_j").cast("decimal(19,0)")
    )
    den = sdbl(
        F.col("m_directed").cast("decimal(8,0)") * F.col("_sjj").cast("decimal(30,0)")
        - F.col("sum_j").cast("decimal(18,0)") * F.col("sum_j").cast("decimal(19,0)")
    )
    return agg.select(
        "m_directed", "sum_j", (num / den).alias("assortativity")
    )


def q_events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interarrival-time burstiness per event type: gaps between a
    user's consecutive events of the same type (exact microseconds
    via one lag window on the sessionize shuffle), then per-type
    exact moments -> mean, sample variance, coefficient of variation,
    and the Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu)
    (B ~ -1 periodic, 0 Poisson, -> 1 bursty). Variance numerator
    n*s2 - s^2 rides the ols_fit decimal family (gap us as dec(18),
    squares to dec(38)); the only IEEE ops are the final chain.
    [event_type, n_gaps, mean_gap_us, var_gap_us, cv, burstiness]."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("_gap", us - F.lag(us).over(w))
        .filter(F.col("_gap").isNotNull())
    )
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("_gap").alias("_s"),
        F.sum(
            F.col("_gap").cast("decimal(18,0)") * F.col("_gap").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("_s2"),
    )

    def sdbl(c):
        return c.cast("string").cast("double")

    n = F.col("n_gaps")
    mean = F.col("_s").cast("double") / n.cast("double")
    num = sdbl(
        n.cast("decimal(8,0)") * F.col("_s2").cast("decimal(30,0)")
        - F.col("_s").cast("decimal(18,0)") * F.col("_s").cast("decimal(19,0)")
    )
    var = num / (n * (n - F.lit(1))).cast("double")
    sd = F.sqrt(var)
    return (
        agg.filter(F.col("n_gaps") >= 2)
        .select(
            "event_type",
            "n_gaps",
            mean.alias("mean_gap_us"),
            var.alias("var_gap_us"),
            (sd / mean).alias("cv"),
            ((sd - mean) / (sd + mean)).alias("burstiness"),
        )
        .orderBy("event_type")
    )


def q_nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of the embedding corpus against
    its own per-label centroids, reported as a confusion matrix
    [label, pred_label, n_vecs] -- the cheapest embedding-space
    sanity check of labels (Rocchio classification): if the corpus
    labels are coherent, the diagonal dominates; off-diagonal mass
    localizes label noise. Centroids use the label_centroids recipe
    (exact decimal sums, 6dp means); every dot/norm accumulates
    12dp-decimal terms (order-independent) string-routed to double,
    so cosine is one deterministic IEEE chain; argmax tie-breaks on
    label asc.

    Scale shape: centroids are a k x dims aggregate BROADCAST to the
    flat (vec, pos, v) table; the k-way fan-out is per-element with
    k = |labels| (small by construction). One shuffle on vec_id for
    the per-(vec, label) dot aggregate; the confusion matrix is a
    k x k aggregate."""
    scored = _label_centroid_dots(spark, sf_dir).withColumn(
        "csim", F.col("dot") / (F.sqrt("vnorm2") * F.sqrt("cnorm2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("clabel"))
    pred = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        pred.groupBy("label", F.col("clabel").alias("pred_label"))
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("label", "pred_label")
    )


def q_nation_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period league table: each nation's revenue rank in
    1995 vs 1996 and the rank delta (positive = climbed). Ranks are
    per-year windows over the 25-row nation aggregate (reduced rows);
    revenue is exact integer micros so ranking and deltas are
    engine-exact."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    yearly = (
        _customer_nation_lines(spark, sf_dir, orders)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(F.sum(_rev_micros()).cast("decimal(25,0)").alias("rev_micros"))
    )
    w = Window.partitionBy("yr").orderBy(F.desc("rev_micros"), F.asc("nation"))
    ranked = yearly.withColumn("rnk", F.row_number().over(w).cast("long"))
    a = ranked.filter(F.col("yr") == 1995).select(
        "nation",
        F.col("rnk").alias("rank_1995"),
        F.col("rev_micros").cast("string").cast("double").alias("rev_1995"),
    )
    b = ranked.filter(F.col("yr") == 1996).select(
        "nation",
        F.col("rnk").alias("rank_1996"),
        F.col("rev_micros").cast("string").cast("double").alias("rev_1996"),
    )
    return (
        a.join(b, "nation")
        .select(
            "nation",
            "rank_1995",
            "rank_1996",
            (F.col("rank_1995") - F.col("rank_1996")).alias("rank_delta"),
            "rev_1995",
            "rev_1996",
        )
        .orderBy(F.desc("rank_delta"), "nation")
    )


def q_nation_rank_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-agreement between the 1995 and 1996 nation revenue league
    tables: one row [n_nations, sum_d2, spearman, n_concordant,
    n_discordant, kendall_tau]. Spearman rho = 1 - 6*sum(d^2) /
    (n(n^2-1)) on the exact integer rank deltas; Kendall tau-a from
    the concordant/discordant pair counts (row_number ranks are
    tie-free, so tau-a == tau-b). The pair enumeration is a theta
    self-join of the 25-row NATION-GRAIN aggregate -- O(nations^2)
    pairs at aggregate grain, never at fact grain, so the shape is
    scale-free in the corpus size (the skyline/ztest stance). Both
    correlation chains are single IEEE expressions over exact longs,
    bit-identical cross-engine."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    yearly = (
        _customer_nation_lines(spark, sf_dir, orders)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(F.sum(_rev_micros()).cast("decimal(25,0)").alias("rev_micros"))
    )
    w = Window.partitionBy("yr").orderBy(F.desc("rev_micros"), F.asc("nation"))
    ranked = yearly.withColumn("rnk", F.row_number().over(w).cast("long"))
    a = ranked.filter(F.col("yr") == 1995).select(
        "nation", F.col("rnk").alias("r95")
    )
    b = ranked.filter(F.col("yr") == 1996).select(
        F.col("nation").alias("_nb"), F.col("rnk").alias("r96")
    )
    both = a.join(b, F.col("nation") == F.col("_nb")).select(
        "nation", "r95", "r96"
    )
    d = F.col("r95") - F.col("r96")
    s = both.agg(
        F.count("*").alias("n_nations"),
        F.sum(d * d).alias("sum_d2"),
    )
    lhs = both.select(
        F.col("nation").alias("_na"),
        F.col("r95").alias("_a95"),
        F.col("r96").alias("_a96"),
    )
    rhs = both.select(
        F.col("nation").alias("_nb2"),
        F.col("r95").alias("_b95"),
        F.col("r96").alias("_b96"),
    )
    prod = (F.col("_a95") - F.col("_b95")) * (F.col("_a96") - F.col("_b96"))
    # broadcast the build side: the theta join then plans as
    # BroadcastNestedLoopJoin over the 25-row NATION-GRAIN aggregate
    # (never a shuffled CartesianProduct -- plan-lint enforced)
    pairs = lhs.join(F.broadcast(rhs), F.col("_na") < F.col("_nb2")).agg(
        F.sum(F.when(prod > 0, 1).otherwise(0)).cast("long").alias(
            "n_concordant"
        ),
        F.sum(F.when(prod < 0, 1).otherwise(0)).cast("long").alias(
            "n_discordant"
        ),
    )
    n = F.col("n_nations")
    spearman = F.lit(1.0) - (
        F.lit(6.0) * F.col("sum_d2").cast("double")
    ) / (n * (n * n - F.lit(1))).cast("double")
    kendall = (
        F.col("n_concordant") - F.col("n_discordant")
    ).cast("double") / F.expr("(n_nations * (n_nations - 1)) div 2").cast(
        "double"
    )
    return s.crossJoin(F.broadcast(pairs)).select(
        "n_nations",
        "sum_d2",
        spearman.alias("spearman"),
        "n_concordant",
        "n_discordant",
        kendall.alias("kendall_tau"),
    )


def q_user_wallet_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance per user (credits on purchase,
    debits on click) WITHOUT iteration: the Lindley recursion
    B_t = max(0, B_{t-1} + x_t) looks inherently sequential, but its
    closed form is B_t = S_t - min(0, min_{u<=t} S_u) (the reflected
    random walk), so the whole operator is two per-user cumulative
    windows sharing ONE exchange+sort -- the same rewrite class as
    the CUSUM/decay operators (registry events_cusum). Everything is
    exact integer cents; ordering is the unique (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    sign = F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
        F.lit(-1)
    )
    flow = sign * (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = ev.select(
        "user_id", "event_id", "ts", flow.alias("flow_cents")
    ).withColumn("_run", F.sum("flow_cents").over(w))
    return base.withColumn(
        "balance_cents",
        F.col("_run") - F.least(F.lit(0), F.min("_run").over(w)),
    ).select("user_id", "event_id", "flow_cents", "balance_cents")


def q_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record linkage (operators/linkage.py) between
    customers and a deterministically-corrupted contacts copy (the
    FEBRL-style benchmark construction: every 5th contact's name is
    truncated, every 3rd's balance nudged +0.01). Blocking on
    (nation, floor(balance)); per-field log-likelihood weights as
    PRE-COMPUTED double literals shared with the oracle. Pairs with
    two corrupted fields fall below threshold -- the documented FS
    false-negative class, visible in the output as is_match=false
    true pairs."""
    from ..operators.linkage import fs_score_pairs

    master, contacts = _linkage_frames(spark, sf_dir)
    return fs_score_pairs(master, contacts, ["nat", "blk"])


def _linkage_frames(spark: SparkSession, sf_dir: str):
    """The FEBRL-style master/corrupted-contacts pair shared by the
    linkage report and the golden-record merge."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.lower(F.col("c_name")).alias("nm"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    )
    master = cust.withColumn("blk", F.floor("bal"))
    contacts = cust.select(
        (F.col("custkey") + F.lit(10_000_000)).alias("contact_id"),
        F.when(
            F.col("custkey") % 5 == 0,
            F.expr("substring(nm, 1, length(nm) - 3)"),
        )
        .otherwise(F.col("nm"))
        .alias("nm"),
        F.when(F.col("custkey") % 3 == 0, F.col("bal") + F.lit(0.01))
        .otherwise(F.col("bal"))
        .alias("bal"),
        "seg",
        "nat",
    ).withColumn("blk", F.floor("bal"))
    return master, contacts


def q_linkage_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship over the FS linkage matches
    (operators/linkage.golden_records): master-anchored clusters,
    longest-name / most-frequent-value survivorship as min(struct)
    argmax aggregates -- no iteration, no window over fact rows. The
    repair is REAL on this data: truncated contact names lose to the
    master's full name, nudged balances are outvoted back to the
    original cents."""
    from ..operators.linkage import fs_match_pairs, golden_records

    master, contacts = _linkage_frames(spark, sf_dir)
    matches = fs_match_pairs(master, contacts, ["nat", "blk"])
    return golden_records(master, contacts, matches)
