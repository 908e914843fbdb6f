"""Composed relational analytics plans over the TPC-H-ish tables and
the events stream table.

The reference has NO joins, windows, sets, or date functions
(SURVEY.md section 2a, 'what the reference does NOT have') -- this
module is part of the mandated extension surface: the relational
operator classes any analytics engine user needs, each expressed so
Catalyst picks the scalable physical plan:

- star joins: dimension sides broadcast (nation/region always;
  customer at low SF via AQE) -- no shuffle of the fact table for
  dimension lookups;
- aggregations: partial agg map-side before the exchange;
- money arithmetic summed as DECIMAL(18,x): exact, associative, and
  therefore bit-identical across engines and partitionings (double
  sums are neither);
- windows: partitioned by a high-cardinality key (custkey/user_id),
  never a global unpartitioned window;
- top-k: orderBy+limit => TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.normalize import normalized_col
from ..sources.catalog import load_table

SESSION_GAP_S = 1800  # a longer gap between a user's events starts a new session
ASOF_AT = "2024-01-15 00:00:00"  # user_state_asof's point in time
REGION = "ASIA"  # the customer region of the TPC-H Q5/Q8 shapes
LATE_DAYS = 90  # late_shipments' and waiting_suppliers' "late" cutoff
PART_NAME_WORD = "red"  # the part-name filter of product_profit, dominant_suppliers


def _dec(col, scale: int = 2):
    return col.cast(f"decimal(18,{scale})")


def _dec2dbl(col):
    """Decimal -> double via the exact decimal string: both engines
    correctly-round the parse, so the output double is bit-identical
    (direct decimal->double casts differ by 1 ulp across engines)."""
    return col.cast("string").cast("double")


def _avg6(dec_sum: str, n: str, scale: int):
    """`dec_sum / n` rounded HALF_UP to 6 decimals, as a double, for a
    non-negative exact decimal sum column with `scale` digits over a
    count column `n`. The rounding is integer arithmetic on the sum in
    10^-scale units, so the 6-dp value is the exact quotient's, and the
    one IEEE op left (an exact integer over 10^6) is correctly rounded
    in every engine. `round(sum_double / n, 6)` is not portable: Spark
    rounds the double's shortest decimal string, DuckDB the binary
    value, so a quotient ending in 5 at the 7th decimal (264573.6778125
    = 50798146.14 / 192) splits .813 / .812."""
    units = f"cast({dec_sum} * {10 ** scale} as bigint)"
    return F.expr(
        f"cast((2 * {units} * {10 ** (6 - scale)} + {n}) div (2 * {n}) as double)"
        " / 1000000"
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate on the fact table.
    Filter + column pruning push into the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    # money math in DECIMAL end-to-end: casting a double *product* to
    # decimal rounds a 6-decimal value at scale 4, and engines disagree
    # on halfway cases -- so cast the 2-decimal inputs (safely far from
    # any rounding boundary) and multiply exactly in decimal
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(8,4)")
    disc_price = ep * (one - F.col("l_discount").cast("decimal(8,4)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(8,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).alias("_sq"),
            _dec2dbl(F.sum(_dec(F.col("l_extendedprice")))).alias("sum_base_price"),
            _dec2dbl(F.sum(disc_price)).alias("sum_disc_price"),
            _dec2dbl(F.sum(charge)).alias("sum_charge"),
            F.sum(_dec(F.col("l_discount"), 4)).alias("_sd"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            _dec2dbl(F.col("_sq")).alias("sum_qty"),
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            _avg6("_sq", "count_order", 2).alias("avg_qty"),
            _avg6("_sd", "count_order", 4).alias("avg_disc"),
            "count_order",
        )
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact table joined through a broadcast star of
    dimensions; revenue summed as exact decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg.filter(F.col("r_name") == REGION)),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_dec2dbl(F.sum(revenue)).alias("revenue"), F.count("*").alias("n_items"))
    )


TOP_CUSTOMERS_K = 10


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per customer + name lookup, deterministic top-k."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        _dec2dbl(F.sum(_dec(F.col("o_totalprice")))).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"),
                "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(TOP_CUSTOMERS_K)
    )


ORDER_RANKS_TOP_N = 3


def customer_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: top-N orders per customer by totalprice (row_number
    over a high-cardinality partition key -- shuffles once on
    custkey, no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ORDER_RANKS_TOP_N)
        .select(F.col("o_custkey").alias("custkey"), F.col("o_orderkey").alias("orderkey"),
                F.col("o_totalprice").alias("totalprice"), F.col("rn").cast("long").alias("rn"))
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation: events per type per hour.
    Bucket emitted as a formatted string so engines hash identically."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), _dec2dbl(F.sum(_dec(F.col("value")))).alias("sum_value"))
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag: a session starts where the gap from
    the previous event of the same user exceeds SESSION_GAP_S. Output:
    per-user session count + event count. Scales as one shuffle on
    user_id; state never leaves the executor."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    return (
        ev.withColumn("session_start", starts)
        .groupBy("user_id")
        .agg(F.sum("session_start").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals built from an event stream: each
    user's consecutive run of one event_type becomes one
    [valid_from, valid_to) row, with the open current row flagged --
    the slowly-changing-dimension type-2 table every warehouse
    maintains, derived with gaps-and-islands (change marker via lag,
    island id via running sum, interval close via lead).

    Scale: every window and the island aggregate partition by
    user_id, so the whole chain is ONE hash shuffle (Catalyst reuses
    the exchange across the window passes); per-user state never
    crosses executors. Determinism: event order is (ts, event_id) --
    a total order -- and interval bounds format to whole seconds the
    same way in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("event_type").over(w)
    marked = ev.withColumn(
        "chg", (prev.isNull() | (prev != F.col("event_type"))).cast("long")
    )
    grp = marked.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = grp.groupBy("user_id", "island", F.col("event_type").alias("state")).agg(
        F.min("ts").alias("vf"), F.count("*").alias("n_events")
    )
    wl = Window.partitionBy("user_id").orderBy("island")
    fin = iv.withColumn("vt", F.lead("vf").over(wl))
    return fin.select(
        "user_id",
        "state",
        F.date_format("vf", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("vt", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "n_events",
        F.col("vt").isNull().alias("is_current"),
    )


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (event_type, day): subtotals per type, per
    (type, day), and a grand total -- one pass, one shuffle (Spark
    expands grouping sets map-side). The reference has no grouping
    sets at all (SURVEY.md 2a)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    return (
        ev.select(F.col("event_type"), day, F.col("value"))
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n_events"), _dec2dbl(F.sum(_dec(F.col("value")))).alias("sum_value"))
    )


def repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference): customers ordering
    in consecutive years 1995 AND 1996 but NOT in 1997, via
    INTERSECT/EXCEPT -- planned as semi/anti joins over pre-aggregated
    keys, no row explosion."""
    orders = load_table(spark, sf_dir, "orders")

    def in_year(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y).select("o_custkey").distinct()
        )

    return (
        in_year(1995).intersect(in_year(1996)).subtract(in_year(1997))
        .select(F.col("o_custkey").alias("custkey"))
    )


def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent from the reference): exact
    count(DISTINCT user_id) per event_type. Spark plans this as a
    two-phase expand + aggregation; see approx_distinct_users for the
    sketch-based form that avoids the distinct shuffle entirely."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts: one pass, fixed-size sketch per
    group, no distinct expansion -- the 100 TB path for cardinality.
    No oracle (sketch internals are engine-specific); pytest asserts
    relative error vs the exact count."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"),
        F.count("*").alias("n_events"),
    )


def orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order histogram: date_trunc bucketing + decimal money
    aggregation, the canonical reporting scan."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec(F.col("o_totalprice"))).alias("_s"),
        )
        .select(
            "month",
            "n_orders",
            _dec2dbl(F.col("_s")).alias("revenue"),
            _avg6("_s", "n_orders", 2).alias("avg_order_value"),
        )
    )


def events_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of-style lookup inside one stream: for every event, the
    timestamp of that user's most recent *earlier* 'error' event --
    a conditional running max window (the general as-of-join shape
    when the probe and build sides share a partition key). One
    shuffle on user_id, no join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_err = F.max(
        F.when(F.col("event_type") == "error", F.col("ts"))
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.date_format(last_err, "yyyy-MM-dd HH:mm:ss").alias("last_error_ts"),
    )


def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: multi-predicate scan-aggregate; all three range
    predicates push into the parquet scan, result is one row. The
    discount*price product is exact decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast("decimal(8,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.04, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(_dec2dbl(F.sum(rev)).alias("revenue"), F.count("*").alias("n_items"))
    )


SHIPPING_PRIORITY_K = 10


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on all three tables, join,
    aggregate, top-k. Filters sit below the joins (pushed to scans);
    top-k is TakeOrdered with full tie-breaks."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1996-06-30"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-06-30"))
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(_dec2dbl(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("orderkey"))
        .limit(SHIPPING_PRIORITY_K)
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping sets -- per
    (type, day), per type, per day, grand total -- in ONE pass/one
    shuffle (Spark expands grouping sets map-side; a UNION of four
    aggregations would scan four times). Complements events_rollup,
    which only produces the hierarchy's prefixes."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    return (
        ev.select(F.col("event_type"), day, F.col("value"))
        .cube("event_type", "day")
        .agg(F.count("*").alias("n_events"), _dec2dbl(F.sum(_dec(F.col("value")))).alias("sum_value"))
    )


def orders_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) decile summary of order value: each decile's row
    count and min/max price -- the distribution-summary shape for
    curriculum bucketing / data balancing.

    Scale design: a naive ``ntile(10) OVER (ORDER BY price)`` plans
    an Exchange SinglePartition + global Sort over EVERY order row
    (the reference's single-reducer bug, O15, reborn), so no raw
    fact row may cross a single-partition exchange here. Instead:

    1. aggregate to the (price, cnt) distribution -- one partial-agg
       shuffle keyed on price;
    2. exact global rank range [s, e] of each price run via a
       two-level cumulative sum: a value-range bucket id (monotone in
       price, so bucket order == price order), per-bucket totals
       (<= 1024 aggregate rows; the only single-partition window
       in the plan runs over THAT), plus a within-bucket running sum
       partitioned by bucket;
    3. the 10 ntile intervals in closed form from the 1-row count
       aggregate (ntile over N rows: the first N%10 tiles get
       floor(N/10)+1 rows, the rest floor(N/10));
    4. a 10-row broadcast interval join distribution x deciles, then
       the per-decile rollup: overlap sizes sum to the tile counts
       and min/max price come from the overlapping runs.

    Tie-break note: the oracle's ntile orders by (price, o_orderkey),
    but a price run occupies a contiguous rank range regardless of
    how ties are ordered inside it, so per-decile count/min/max are
    identical -- the hash match against the naive ntile SQL proves
    the decomposition exact."""
    from ..operators.ranking import bucket_offsets, bucketize_by_key

    prices = load_table(spark, sf_dir, "orders").select("o_totalprice")
    dist = prices.groupBy("o_totalprice").agg(F.count("*").alias("cnt"))
    # shared two-level machinery (operators/ranking.py), cnt-WEIGHTED:
    # the distribution is lazily checkpointed inside bucketize, so the
    # within-bucket cumsum, the offsets, and the N aggregate all read
    # one materialization instead of re-scanning orders
    db = bucketize_by_key(dist, "o_totalprice")
    boff = bucket_offsets(db, weight=F.col("cnt"))
    wl = (
        Window.partitionBy("_bkt")
        .orderBy("_ak")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = (
        db.withColumn("lbefore", F.coalesce(F.sum("cnt").over(wl), F.lit(0)))
        .join(F.broadcast(boff), "_bkt")
        .select(
            "o_totalprice",
            (F.col("_off") + F.col("lbefore") + F.lit(1)).alias("s"),
            (F.col("_off") + F.col("lbefore") + F.col("cnt")).alias("e"),
        )
    )
    base = F.floor(F.col("n") / 10)
    rem = F.col("n") % 10
    start = (F.col("decile") - 1) * base + F.least(F.col("decile") - 1, rem) + 1
    deciles = (
        boff.agg(F.max("_tot").alias("n"))  # grand total = N order rows
        .select("n", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"))
        .select(
            F.col("decile").cast("long").alias("decile"),
            start.alias("d_start"),
            (start + base + F.when(F.col("decile") <= rem, 1).otherwise(0) - 1).alias(
                "d_end"
            ),
        )
        .filter(F.col("d_end") >= F.col("d_start"))
    )
    return (
        runs.join(
            F.broadcast(deciles),
            (F.col("s") <= F.col("d_end")) & (F.col("e") >= F.col("d_start")),
        )
        .groupBy("decile")
        .agg(
            F.sum(
                F.least(F.col("e"), F.col("d_end"))
                - F.greatest(F.col("s"), F.col("d_start"))
                + F.lit(1)
            ).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling: even-numbered sources keep
    a ~1/8 content-hash slice, odd-numbered keep ~1/4 -- the
    per-domain mixture-weighting primitive of corpus curation.
    Membership depends only on (content, stratum), never on
    partitioning or RNG state, so samples are reproducible and
    refreshable incrementally."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(normalized_col("text")), 1, 1)
    src_num = F.regexp_replace(F.col("source"), "[^0-9]", "").cast("long")
    keep = F.when(src_num % 2 == 0, bucket.isin("0", "1")).otherwise(
        bucket.isin("0", "1", "2", "3")
    )
    return docs.filter(keep).select("doc_id", "lang", "source")


LARGE_ORDER_QTY = 150.0


def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate joined back to the
    order/customer dimensions. The heavy groupBy runs on the narrow
    (orderkey, quantity) projection; only qualifying keys join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec2dbl(F.sum(_dec(F.col("l_quantity")))).alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_ORDER_QTY)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("c_name").alias("customer"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "total_qty",
        )
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_activity_decay_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOLD form of user_activity_decay: per user, left-fold the
    chronologically ordered values through decayed = (decayed + v)/2.
    Same quantity as the window form's sum of v_i * 0.5^k_i, but as
    an O(1)-state recursion; the DuckDB list_reduce oracle folds in
    the same order, so this form is hash-checkable too. The two batch
    forms agree to float reassociation (the fold re-rounds one
    addition per event; the window form rounds each term to 9dp once).

    Scale note: collect_list buffers one user's history per group --
    bounded by per-user event counts (thousands)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    hist = F.array_sort(F.collect_list(F.struct("ts", "event_id", "v")))
    return (
        ev.groupBy("user_id")
        .agg(hist.alias("h"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.round(
                F.aggregate(
                    "h", F.lit(0.0), lambda acc, x: (acc + x["v"]) * F.lit(0.5)
                ),
                6,
            ).alias("decayed_value"),
        )
    )


def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the dense daily pivot back to long form -- one
    (day, event_type, n) row per cell, INCLUDING the zero cells the
    sparse groupBy form never materializes (that density is what
    downstream models want from a melt). Spark's native unpivot is a
    narrow Expand over the pivoted aggregate: no extra shuffle beyond
    the pivot's own."""
    return events_pivot_daily(spark, sf_dir).unpivot(
        "day", list(EVENT_TYPES), "event_type", "n"
    )


def user_activity_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially decayed activity value (EWMA-style,
    alpha = 1/2): the most recent event contributes value/2, the one
    before value/4, ... -- the recency-weighted engagement feature of
    ranking/curation pipelines, computed EXACTLY:

    - the decay factor is a power of two, so v * 0.5^k is pure IEEE
      exponent arithmetic -- no rounding, bit-identical in any engine;
    - each term is then rounded to 9 decimals and summed as DECIMAL
      (associative -> partition-independent), string-routed back to
      double: the lm_score/pagerank exactness recipe.

    Scale: one window shuffle on user_id (high cardinality, uniform)
    + one grouped sum with map-side partials over the same key."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    term = F.round(
        F.col("v") * F.pow(F.lit(0.5), F.row_number().over(w)), 9
    ).cast("decimal(20,9)")
    return (
        ev.withColumn("term", term)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(_dec2dbl(F.sum("term")), 6).alias("decayed_value"),
        )
    )


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per day, one count column per event type. The
    pivot values are declared explicitly -- with them, Spark skips the
    extra distinct-values job and plans a single aggregation."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    return (
        ev.select(day, "event_type")
        .groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
    )


def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregate: per-customer running revenue in
    order-date order. The running sum is decimal (exact at every
    prefix) and string-routed to double per row, so engines agree on
    every partial, not just the final total."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        _dec2dbl(F.sum(_dec(F.col("o_totalprice"))).over(w)).alias("running_revenue"),
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, emitted flat as (label, pos,
    centroid): posexplode -> groupBy(label, pos) -> mean. The flat
    shape is the scalable one -- element-wise means need no array
    reassembly shuffle, and downstream consumers (e.g. IVF-style
    coarse quantization) join on (label, pos) directly.

    The mean is computed as an EXACT decimal sum divided by the
    count: decimal addition is associative-commutative, so the result
    is independent of partitioning/summation order -- which makes it
    oracle-checkable (DuckDB computes the identical decimal sum),
    where a double-fold avg() would drift by ulps per partition
    split."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    dsum = F.sum(F.col("v").cast("double").cast("decimal(27,12)"))
    return (
        flat.groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(F.round(dsum.cast("string").cast("double") / F.count("*"), 6).alias("centroid"))
    )


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event_type (linear interpolation --
    matches DuckDB quantile_cont bit-for-bit). Exact percentile sorts
    each group; the approx_percentile sketch is the 100 TB path when
    a bounded-memory one-pass answer suffices."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n_events"),
    )


def events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: for each event, how many of the same
    user's events fall in the trailing hour (inclusive). Range frames
    over epoch seconds -- the time-decayed-feature shape (rate
    limiting, burst detection) computed in one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_hour"),
    )


LAPSED_SINCE = "2000-01-01"


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders since a cutoff (lapsed
    customers). Planned as a hash anti join; the date filter pushes
    into the orders scan so the build side only carries recent keys."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(LAPSED_SINCE)
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
    )


def brands_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join + aggregation: parts that actually shipped, counted
    per brand. Semi join keeps the probe side narrow (no row
    multiplication from the many-lineitem side)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


def events_type_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per event_type, least-squares slope
    of hourly event counts (numpy inside, one Arrow batch per group).
    The grouped-map shape is the hook for any per-group model fit;
    the group here is low-cardinality so each fit sees a small
    pre-aggregated frame, not raw events."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("n"))
    )

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n_hours", LongType()),
            StructField("slope_per_hour", DoubleType()),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour")
        x = np.arange(len(pdf), dtype=np.float64)
        y = pdf["n"].to_numpy(dtype=np.float64)
        slope = float(np.polyfit(x, y, 1)[0]) if len(pdf) > 1 else 0.0
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [len(pdf)],
                "slope_per_hour": [round(slope, 6)],
            }
        )

    return hourly.groupBy("event_type").applyInPandas(fit, out_schema)


def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel: of users who signed up, how many purchased strictly
    after their first signup, by signup day. One aggregation pass
    computes both milestone timestamps per user (conditional min/max
    -- no self-join), then a day-level rollup."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    funnel = per_user.filter(F.col("first_signup").isNotNull()).select(
        F.date_format(F.date_trunc("day", "first_signup"), "yyyy-MM-dd").alias("signup_day"),
        F.when(
            F.col("last_purchase") > F.col("first_signup"), F.lit(1)
        ).otherwise(F.lit(0)).alias("converted"),
    )
    return funnel.groupBy("signup_day").agg(
        F.count("*").alias("n_signups"),
        F.sum("converted").alias("n_converted"),
        F.round(F.sum("converted") / F.count("*"), 6).alias("conversion_rate"),
    )


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull props.$.k out of the JSON
    payload column, aggregate by event_type. JVM-side JSON path --
    no Python in the loop."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted
    on each later active day (day_offset = days since cohort entry).
    The product-analytics retention-curve query.

    Plan: first-activity day via min() over the user partition (one
    shuffle on user_id, uniform key), per-(user, day) de-dup rides
    the same partitioning, and the final (cohort, offset) aggregate
    is tiny. No self-join of the event log."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    act = ev.select(
        "user_id",
        F.to_date(F.min("ts").over(w)).alias("cohort"),
        F.to_date("ts").alias("act_day"),
    ).distinct()
    return act.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff("act_day", "cohort").cast("long").alias("day_offset"),
    ).agg(F.count("*").alias("n_users"))


def cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-cost supplier per part (TPC-H Q2 flavor, over lineitem
    offers instead of partsupp, which this schema does not have).

    The reference engine has no join or argmin at all
    (greeter_server.cc:61-112 is a single word-count reducer); this is
    the extension-surface "argmin per group" pattern done WITHOUT a
    window: two narrow hash aggregations.

    Plan: (1) min offer per (partkey, suppkey) -- map-side partial
    min, uniform composite key; (2) per partkey, min of
    struct(best_price, suppkey): lexicographic struct comparison IS
    the argmin with a deterministic suppkey tie-break, so no
    Window.partitionBy + row_number sort of the exploded offer set,
    and no shuffle carries more than (part x supplier) distinct rows.
    Supplier dim joined AFTER both reductions (one row per part), so
    the name lookup touches n_parts rows, not n_lineitems.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("offer")
    )
    best = (
        offers.groupBy("l_partkey")
        .agg(F.min(F.struct("offer", "l_suppkey")).alias("b"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("b.offer").alias("best_price"),
            F.col("b.l_suppkey").alias("s_suppkey"),
        )
    )
    return (
        best.join(F.broadcast(sup), "s_suppkey")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "best_price", "s_suppkey", "s_name", "n_name")
    )


NATION_MARKET_SHARE_NATION = "NATION_2"


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier-nation's share of yearly revenue
    to customers in a region.

    Plan: the fact table flows through the star once; nation/region
    are explicit broadcasts, supplier is left to AQE (broadcast at
    low SF, shuffle at scale). The share is a conditional decimal sum
    over the SAME pass as the total -- no second scan, no self-join.
    Decimal sums are associative => partitioning-independent; the
    final share division happens on 5 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    cnat = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    snat = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cnat), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(reg.filter(F.col("r_name") == REGION)),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("sn_key"))
    )
    zero = F.lit(0).cast("decimal(12,2)") * F.lit(0).cast("decimal(8,4)")
    agg = joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.sum(disc_price).alias("total_dec"),
        F.sum(
            F.when(
                F.col("supp_nation") == NATION_MARKET_SHARE_NATION, disc_price
            ).otherwise(zero)
        ).alias("nation_dec"),
    )
    return agg.select(
        "o_year",
        _dec2dbl(F.col("total_dec")).alias("total_revenue"),
        _dec2dbl(F.col("nation_dec")).alias("nation_revenue"),
        F.round(_dec2dbl(F.col("nation_dec")) / _dec2dbl(F.col("total_dec")), 6).alias(
            "mkt_share"
        ),
    )


def events_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user as ONE narrow aggregation:
    max(struct(ts, event_id, ...)) is the argmax with deterministic
    event_id tie-break -- map-side partial max means each partition
    contributes one candidate row per user to the shuffle, vs a
    Window.partitionBy(user).row_number plan that shuffles and sorts
    EVERY event. At 100 TB of events this is the difference between
    an exchange of n_users rows and an exchange+sort of n_events."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias("last"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("last.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.event_type").alias("event_type"),
            F.col("last.value").alias("value"),
            "n_events",
        )
    )


SEGMENT_SALTS = 8


def segment_event_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact-to-dimension join: events.user_id is a
    HOT-KEY column (150 distinct users at sf0.01 -- a plain shuffle
    join puts entire users on single tasks). Salting spreads each
    user's events over SEGMENT_SALTS tasks: the dim side is exploded
    that many ways (tiny: n_customers x SEGMENT_SALTS rows), the fact
    side computes salt = pmod(xxhash64(event_id), SEGMENT_SALTS) -- uniform and
    deterministic -- and the equi-join runs on (key, salt).

    The join result is identical to the unsalted join (the oracle IS
    the plain join), only the task-level balance changes; the
    mktsegment rollup then reduces to 5 rows. Same technique as
    wordcount_salted (operators/wordcount.py:61) but for joins, the
    other half of the skew story. At scale, prefer AQE skew-join
    for ad-hoc queries; explicit salting is for the case where the
    skew is KNOWN and the optimizer's post-shuffle split is too late
    (e.g. a single key larger than one executor's memory)."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(SEGMENT_SALTS)]))
    )
    fact = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(SEGMENT_SALTS)).cast("int")
    )
    joined = fact.join(
        dim, (F.col("user_id") == F.col("c_custkey")) & (fact["salt"] == dim["salt"])
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        _dec2dbl(F.sum(F.col("value").cast("decimal(18,2)"))).alias("sum_value"),
    )


def late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to this schema: per order priority,
    how many lineitems shipped more than LATE_DAYS after the order
    date. One equi-join on the uniform orderkey + a conditional
    aggregation -- both map-side-combinable; the date arithmetic is
    exact integer day math in both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > LATE_DAYS).cast(
        "long"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(late).alias("n_late"),
            F.round(F.sum(late) / F.count("*"), 6).alias("late_frac"),
        )
    )


def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id: per-priority, per-year, and
    grand-total order rollups in ONE pass -- Spark expands the sets
    into a single aggregation (partial agg per set member), no
    re-scan per grouping. Null-ambiguity is resolved the standard
    way: gid distinguishes 'aggregated over' from a genuinely null
    key."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.year("o_orderdate").alias("o_year"), "o_totalprice"
    )
    df = orders.groupingSets(
        [["o_orderpriority"], ["o_year"], []],
        "o_orderpriority",
        "o_year",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_orders"),
        _dec2dbl(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias("total_price"),
    )
    return df.select(
        "gid",
        "o_orderpriority",
        F.col("o_year").cast("long").alias("o_year"),
        "n_orders",
        "total_price",
    )


def purchase_and_signup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set operation: users seen in BOTH purchase and
    signup events. Executes as an aggregate + semi-join on the
    uniform user_id key (Spark plans INTERSECT as a left-semi over
    distincts -- no row explosion)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id")
    return a.intersect(b)


ANOMALY_Z = 3.0


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection: events whose value sits
    more than ANOMALY_Z standard deviations from their type's mean. Moments
    are exact decimal sums (sum and sum-of-squares), so mean/std --
    and the exact outlier set -- reproduce cross-engine; the
    population variance uses the computational formula
    E[x^2] - E[x]^2 on the decimal-derived doubles. Two passes over
    the fact table: one tiny per-type aggregate broadcast back, one
    filter -- no shuffle of the events themselves."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    vdec = F.col("value").cast("double").cast("decimal(27,12)")
    v2dec = (F.col("value").cast("double").cast("decimal(18,6)")
             * F.col("value").cast("double").cast("decimal(18,6)"))
    stats = ev.groupBy("event_type").agg(
        _dec2dbl(F.sum(vdec)).alias("s1"),
        _dec2dbl(F.sum(v2dec)).alias("s2"),
        F.count("*").alias("n"),
    ).select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt((F.col("s2") / F.col("n")) - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))).alias("sd"),
    )
    # nullif guards the degenerate sd=0 case (constant-valued type):
    # the null zscore fails abs()>ANOMALY_Z in both engines, so such rows are
    # dropped identically here and in the DuckDB oracle (no ANSI
    # DIVIDE_BY_ZERO vs inf divergence).
    out = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn(
            "zscore",
            (F.col("value").cast("double") - F.col("mu"))
            / F.nullif(F.col("sd"), F.lit(0.0)),
        )
        .filter(F.abs(F.col("zscore")) > ANOMALY_Z)
    )
    return out.select(
        "event_id",
        "event_type",
        F.round(F.col("value").cast("double"), 6).alias("value"),
        F.round("zscore", 6).alias("zscore"),
    )


def customer_spend_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over per-customer spend: where each
    customer sits in the spend distribution (the ranking-window
    surface beyond row_number/rank). One aggregation shuffle on the
    uniform custkey, one global-order window over the small
    aggregate (customer-count rows, not fact rows)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        _dec2dbl(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias("spend")
    )
    w = Window.orderBy(F.asc("spend"), F.asc("o_custkey"))
    return spend.select(
        F.col("o_custkey").alias("custkey"),
        "spend",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def customer_spend_percentiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as customer_spend_percentiles, but the global rank
    comes from operators/ranking.with_global_row_number instead of an
    unpartitioned window: for when the per-customer aggregate is
    ITSELF huge (a 100 TB corpus has ~1e9 customers), no
    single-partition exchange may carry it. percent_rank/cume_dist
    reduce to (rn-1)/(N-1) and rn/N because the ordering tuple
    (spend, custkey) is unique -- the shared-oracle hash match proves
    the decomposition."""
    from ..operators.ranking import with_global_row_number

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        _dec2dbl(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias("spend")
    )
    r = with_global_row_number(
        spend,
        "spend",
        tiebreaks=[F.asc("o_custkey")],
        out_col="_rn",
        total_col="_n",
    )
    pct = F.when(
        F.col("_n") > 1, (F.col("_rn") - 1) / (F.col("_n") - 1)
    ).otherwise(F.lit(0.0))
    return r.select(
        F.col("o_custkey").alias("custkey"),
        "spend",
        F.round(pct, 6).alias("pct_rank"),
        F.round(F.col("_rn") / F.col("_n"), 6).alias("cume"),
    )


BACKLOG_DAYS = 60


def order_priority_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per priority, how many ORDERS have at least
    one lineitem shipped more than BACKLOG_DAYS after the order date
    -- the EXISTS pattern. Spark plans the exists as a LEFT SEMI join
    on the uniform orderkey (no row explosion: an order with 7 late
    lineitems counts once, without a distinct), then a tiny
    per-priority count."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    backlogged = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > BACKLOG_DAYS),
        "left_semi",
    )
    return (
        backlogged.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_backlogged"))
    )


RETURNED_TOP_K = 20


def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the top-k customers by revenue lost to
    returns (l_returnflag = 'R'), with their nation. The fact-side
    filter pushes into the parquet scan; revenue sums as exact
    DECIMAL; customer/nation dimensions join AFTER the per-customer
    aggregate (aggregate first, enrich later: the join input is
    customer-count rows, not lineitem rows); top-k is
    orderBy+limit => TakeOrderedAndProject, deterministic via the
    (revenue desc, custkey asc) tie-break."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(8,4)")
    rev = ep * (one - F.col("l_discount").cast("decimal(8,4)"))
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            _dec2dbl(F.col("rev_dec")).alias("returned_revenue"),
        )
        .orderBy(F.desc("returned_revenue"), F.asc("custkey"))
        .limit(RETURNED_TOP_K)
    )


IMPORTANT_RATIO = 1.5


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp-free variant): parts whose total
    sold value exceeds IMPORTANT_RATIO times the AVERAGE part's value -- the
    HAVING-against-a-global-aggregate pattern, scale-invariant (a
    fixed absolute share would go empty as the part count grows).
    The global total and part count derive from the per-part
    aggregate via a window over the PARTS-SIZED table (one
    fact-table scan total; parts are orders of magnitude fewer than
    lineitems, so the single-partition window pass is bounded), and
    the comparison happens on decimal-derived doubles identically in
    both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(8,4)")
    rev = ep * (one - F.col("l_discount").cast("decimal(8,4)"))
    everything = Window.partitionBy()
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(rev).alias("val_dec"))
        .withColumn("tot_dec", F.sum("val_dec").over(everything))
        .withColumn("n_parts", F.count("*").over(everything))
    )
    return (
        per_part.filter(
            _dec2dbl(F.col("val_dec"))
            > F.lit(IMPORTANT_RATIO) * _dec2dbl(F.col("tot_dec")) / F.col("n_parts")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            _dec2dbl(F.col("val_dec")).alias("part_value"),
            F.round(
                _dec2dbl(F.col("val_dec")) / _dec2dbl(F.col("tot_dec")), 9
            ).alias("value_share"),
        )
    )


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: per ship-month, the share of revenue from
    PROMO-type parts. The part dimension broadcasts into the fact
    scan (no lineitem shuffle for the type lookup); promo and total
    revenue accumulate as exact decimals in ONE conditional
    aggregation pass; the share divides the decimal-derived doubles
    at 6dp."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(8,4)")
    rev = ep * (one - F.col("l_discount").cast("decimal(8,4)"))
    zero = F.lit(0).cast("decimal(16,6)")
    promo = F.when(F.col("p_type") == "PROMO", rev.cast("decimal(16,6)")).otherwise(zero)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            _dec2dbl(F.sum(promo)).alias("promo_revenue"),
            _dec2dbl(F.sum(rev)).alias("total_revenue"),
        )
        .select(
            "ship_month",
            "promo_revenue",
            "total_revenue",
            F.round(F.col("promo_revenue") / F.col("total_revenue"), 6).alias(
                "promo_share"
            ),
        )
    )


OPPORTUNITY_SINCE = "1998-06-01"


def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone-code-free variant): per market segment,
    the customers with above-average positive account balance and no
    order since OPPORTUNITY_SINCE (lapsed high-value accounts) -- the
    scalar-subquery + anti-join pattern. The global average is a
    broadcast 1-row aggregate; the anti-join keys on the uniform
    custkey with the date filter pushed into the orders scan; output
    is a segment-count-sized aggregate."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(OPPORTUNITY_SINCE))
        .select("o_custkey")
    )
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(bal).cast("string").cast("double") / F.count("*")
            ).alias("avg_bal")
        )
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            _dec2dbl(F.sum(bal)).alias("total_balance"),
        )
    )


VOLUME_NATIONS = ("NATION_1", "NATION_2")


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between two nations, grouped
    by (supplier nation, customer nation, ship year).

    Plan shape: the nation filter is applied on the DIMENSION sides
    before the fact joins -- supplier and customer are each
    pre-joined (broadcast) to the two-nation slice, so the lineitem
    and orders scans only carry rows that can survive; the final
    predicate merely drops same-nation pairs. The big joins
    (lineitem-orders on orderkey, orders-customer on custkey) stay
    key-partitioned shuffles that AQE can re-plan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    two = nation.filter(F.col("n_name").isin(*VOLUME_NATIONS))
    s2 = supp.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("s_nk"),
                               F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    c2 = cust.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("c_nk"),
                               F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey", "cust_nation")

    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(F.broadcast(s2), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c2, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            _dec2dbl(F.sum(revenue)).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


MARKET_SHARE_NATION = "NATION_1"
MARKET_SHARE_PART_TYPE = "PROMO"


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the target nation's share of revenue for one
    part type sold into one region, per order year.

    Plan shape: part is filtered to the type and broadcast (the join
    prunes lineitem to matching parts map-side); supplier+nation is a
    broadcast lookup attaching supp_nation; the customer->nation->
    region chain restricts the demand side before the orderkey join.
    Share = exact-decimal conditional sum / exact-decimal total, cast
    to double through strings so both engines round identically."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    p = part.filter(F.col("p_type") == MARKET_SHARE_PART_TYPE).select("p_partkey")
    sn = supp.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("s_nk"),
                               F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    cr = (
        cust.join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.filter(F.col("r_name") == REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )

    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    zero = F.lit(0).cast("decimal(16,6)")
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cr, F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            _dec2dbl(F.sum(F.when(F.col("supp_nation") == MARKET_SHARE_NATION,
                                  revenue.cast("decimal(16,6)")).otherwise(zero)))
            .alias("nation_revenue"),
            _dec2dbl(F.sum(revenue)).alias("total_revenue"),
        )
        .select(
            "o_year",
            "nation_revenue",
            "total_revenue",
            F.round(F.col("nation_revenue") / F.col("total_revenue"), 6).alias("mkt_share"),
        )
    )


LARGE_VOLUME_QTY = 180


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed a total
    line quantity — an IN-subquery over an aggregate, planned as an
    inner join against the aggregated (and therefore tiny post-HAVING)
    subquery result, which also carries the total so lineitem is not
    re-aggregated. The aggregate side shuffles once on orderkey;
    orders joins it on the same key; customer attaches by custkey."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("tq"))
        .filter(F.col("tq") > F.lit(LARGE_VOLUME_QTY).cast("decimal(12,2)"))
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _dec2dbl(F.col("o_totalprice").cast("decimal(18,2)")).alias("totalprice"),
            _dec2dbl(F.col("tq")).alias("total_qty"),
        )
    )


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    part attributes (brand, size) and lineitem attributes (quantity).
    The part dimension is broadcast; the disjunction evaluates inside
    the join's codegen stage — one pass over lineitem, no shuffle
    before the single global aggregate (whose partials merge k rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("double")
    cond = (
        ((F.col("p_brand") == "Brand#4") & (F.col("p_size") <= 10)
         & qty.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20)
           & qty.between(10, 30))
        | ((F.col("p_brand") == "Brand#19") & (F.col("p_size") <= 30)
           & qty.between(20, 40))
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            _dec2dbl(F.sum(revenue)).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of order counts per customer,
    INCLUDING zero-order customers -- the canonical left-outer-join-
    then-double-aggregate. Canonical Q13 excludes orders by a comment
    pattern; this schema has no o_comment, so the exclusion is an
    order-priority predicate applied to the orders side BEFORE the
    outer join (equivalent to the ON-clause filter, and lets the scan
    prune). One shuffle on custkey for the join+first aggregate; the
    second aggregate runs over <=|customers| tiny rows."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TOP_SUPPLIER_QUARTER = ("1996-01-01", "1996-04-01")  # [start, end)


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over one
    quarter -- the revenue 'view' plus a scalar max subquery. The view
    aggregates lineitem once (decimal-exact, so the equality against
    the max is safe cross-engine); the 1-row max is broadcast and the
    equality filter evaluates map-side over the tiny per-supplier
    aggregate. Ties all surface, as in the spec."""
    start, end = TOP_SUPPLIER_QUARTER
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(revenue).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            _dec2dbl(F.col("total_rev")).alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


SMALL_QTY_BRAND = "Brand#3"


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly-average revenue lost to small-quantity
    orders -- the correlated AVG subquery per part, decorrelated into a
    per-part aggregate joined back to the lines. The 0.2*avg threshold
    is compared WITHOUT division: qty < sum/(5*cnt) <=> 5*qty*cnt < sum
    (cnt > 0), keeping the predicate in exact integer/decimal math so
    both engines keep identical rows. lineitem shuffles once on partkey
    for the aggregate and reuses that partitioning for the join; the
    brand filter lands on the broadcast part side."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == SMALL_QTY_BRAND)
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    qty = F.col("l_quantity").cast("decimal(12,2)")
    per_part = li.groupBy(F.col("p_partkey").alias("agg_partkey")).agg(
        F.sum(qty).alias("sum_qty"), F.count("*").alias("cnt_qty")
    )
    small = li.join(
        per_part, F.col("l_partkey") == F.col("agg_partkey")
    ).filter(
        qty * F.lit(5).cast("decimal(3,0)") * F.col("cnt_qty").cast("decimal(10,0)")
        < F.col("sum_qty")
    )
    total = F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
    return small.agg(
        (_dec2dbl(total) / F.lit(7.0)).alias("avg_yearly"),
        F.count("*").alias("n_lines"),
    )


WAITING_TOP_N = 25


def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order. Canonical Q21 is an EXISTS plus a
    NOT-EXISTS self-join on lineitem; the scalable decorrelation is a
    single per-order aggregate -- count distinct suppliers, count
    distinct late suppliers, and carry the late supplier key (well-
    defined exactly when that count is 1). Written as a MANUAL
    two-level aggregate -- (orderkey, suppkey) with max(late), then
    orderkey -- instead of two countDistincts, because the mixed
    distinct-aggregate form plans an Expand x3 replay of the whole
    joined fact before the shuffle (measured 1.9x slower at sf0.1);
    the two-level form's second shuffle is over the already-tiny
    per-(order,supplier) rows. 'Late' adapts the missing
    l_receiptdate/l_commitdate as shipping > LATE_DAYS after the order
    date. Top-N by waiting count => TakeOrderedAndProject."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {LATE_DAYS} DAYS"
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(F.max(late).alias("late"))
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.col("late").cast("long")).alias("n_late"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("late_supp"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("numwait"),
        )
        .orderBy(F.desc("numwait"), F.asc("suppkey"))
        .limit(WAITING_TOP_N)
    )


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for
    parts matching a name word. This schema has no partsupp, so the
    ps_supplycost term becomes a retail-price cost proxy
    (0.6 * p_retailprice * quantity) -- same expression shape, all
    decimal so the sum is exact. part is filtered THEN broadcast, so
    the name predicate prunes lineitem map-side; supplier/nation
    broadcast; orders joins on orderkey for the year."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(PART_NAME_WORD)
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    ) - F.col("p_retailprice").cast("decimal(12,2)") * F.lit(0.6).cast(
        "decimal(4,2)"
    ) * F.col("l_quantity").cast("decimal(12,2)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(_dec2dbl(F.sum(amount)).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can supply each
    (brand, type, size) combination, excluding flagged suppliers.
    partsupp is absent, so 'supplies' derives from observed lineitem
    (partkey, suppkey) pairs; the canonical complaint-comment exclusion
    becomes a negative account balance, applied as a broadcast
    ANTI-join (never materializing the excluded rows). The pair
    distinct and the count-distinct share the partkey-prefixed shuffle;
    part attributes attach by broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 25)
    )
    pairs = li.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    ).distinct()
    return (
        pairs.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "type", "size")
    )


DOMINANT_YEAR = 1997


def dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding 'excess' share of a part --
    availqty > half the year's shipped quantity in the canonical query;
    without partsupp this becomes suppliers who themselves shipped MORE
    THAN HALF of a matching part's total shipped quantity that year
    (share > 0.5 in exact decimal: 2*qty > total). Two-level aggregate
    over one partkey shuffle, then a DISTINCT supplier semi-set joined
    to the supplier dimension by broadcast."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(PART_NAME_WORD)
    ).select("p_partkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == DOMINANT_YEAR)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    qty = F.col("l_quantity").cast("decimal(12,2)")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(qty).alias("sq"))
    w_tot = per_ps.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("sq").alias("total_q"), F.count("*").alias("n_supp")
    )
    dom = (
        per_ps.join(w_tot, F.col("l_partkey") == F.col("tp"))
        .filter(
            (F.col("n_supp") >= 2)
            & (F.col("sq") * F.lit(2).cast("decimal(2,0)") > F.col("total_q"))
        )
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        dom.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .orderBy("suppkey")
    )


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase attributed to the FIRST
    event of its session (lag-gap sessions, same 30-min rule as
    events_sessionize) -- the marketing-analytics query behind 'which
    entry point drives revenue'. Window-only plan: the running-sum
    session id and the session's first touch both hang off the single
    (user_id, ts) sort, so the whole query is ONE shuffle on user_id
    -- the naive form self-joins purchases back to a sessions table.
    The second window partitions by (user_id, session_id): user_id
    hash partitioning already satisfies that clustering, so Catalyst
    inserts only a sort, not a second Exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(starts).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        sess.withColumn("first_touch", F.first("event_type").over(w2))
        .withColumn("first_ts", F.first("ts").over(w2))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_s"),
            "value",
            "first_touch",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start_s"),
        )
    )


def attribution_position_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    session's FIRST purchase distributes its value across the
    non-purchase touches that precede it in the session -- 40% to the
    first touch, 40% to the last touch before the purchase, 20%
    split evenly over the middle (1 touch keeps 100%, 2 split
    50/50). The standard position-based model between the two
    single-touch extremes (purchase_attribution is first-touch).

    Shape: sessionization is the same one-sort window stack as
    purchase_attribution; the first purchase per session is a
    row_number pick; touches attach via ONE equi-join on
    (user_id, session_id) with fan-out bounded by session length.
    Credits: weights are IEEE expressions both engines build from
    identical integers (0.4, 0.5, 0.2/(n-2)); each per-touch credit
    rounds to 6dp and sums as DECIMAL(20,6), so the per-type totals
    are order-independent and hash-exact.

    Output: [touch_type, position, n_touches, credit_total] with
    position in first/middle/last."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(starts).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wp = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    firstp = (
        sess.filter(F.col("event_type") == "purchase")
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "session_id",
            F.col("ts").alias("_p_ts"),
            F.col("event_id").alias("_p_id"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("_p_cents"),
        )
    )
    touches = (
        sess.filter(F.col("event_type") != "purchase")
        .select(
            "user_id", "session_id", "ts", "event_id",
            F.col("event_type").alias("touch_type"),
        )
        .join(firstp, ["user_id", "session_id"])
        .filter(
            (F.col("ts") < F.col("_p_ts"))
            | ((F.col("ts") == F.col("_p_ts")) & (F.col("event_id") < F.col("_p_id")))
        )
    )
    wt = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wn = Window.partitionBy("user_id", "session_id")
    scored = (
        touches.withColumn("_idx", F.row_number().over(wt))
        .withColumn("_n", F.count("*").over(wn))
        .withColumn(
            "position",
            F.when(F.col("_idx") == 1, F.lit("first"))
            .when(F.col("_idx") == F.col("_n"), F.lit("last"))
            .otherwise(F.lit("middle")),
        )
        .withColumn(
            "_w",
            F.when(F.col("_n") == 1, F.lit(1.0))
            .when(
                F.col("_idx") == 1,
                F.when(F.col("_n") == 2, F.lit(0.5)).otherwise(F.lit(0.4)),
            )
            .when(
                F.col("_idx") == F.col("_n"),
                F.when(F.col("_n") == 2, F.lit(0.5)).otherwise(F.lit(0.4)),
            )
            .otherwise(F.lit(0.2) / (F.col("_n") - 2)),
        )
        .withColumn(
            "_credit",
            F.round(F.col("_p_cents") * F.col("_w"), 6).cast("decimal(20,6)"),
        )
    )
    return (
        scored.groupBy("touch_type", "position")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("_credit").cast("string").cast("double").alias("credit_total"),
        )
        .orderBy("touch_type", "position")
    )


def user_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup over the SCD2 interval table: every
    user's state AS OF ASOF_AT -- the time-travel query the interval
    representation exists to answer (half-open [valid_from,
    valid_to) semantics: a row closing exactly at ASOF_AT has already
    yielded to its successor). Users whose history starts after
    ASOF_AT are absent, as they should be.

    Scale: a filter over the interval table (user-grain islands, far
    smaller than events); no new shuffle beyond the intervals' own
    single exchange. At most one row per user survives by interval
    disjointness -- asserted by the SCD2 contract tests."""
    iv = user_state_intervals(spark, sf_dir)
    at_lit = F.lit(ASOF_AT)
    return (
        iv.filter(
            (F.col("valid_from") <= at_lit)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > at_lit))
        )
        .select(
            "user_id",
            "state",
            F.col("valid_from").alias("since_s"),
            "n_events",
            "is_current",
        )
        .orderBy("user_id")
    )
