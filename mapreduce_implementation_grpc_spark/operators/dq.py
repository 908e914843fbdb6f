"""Declarative data-quality audit over the warehouse tables.

The dbt-test / Deequ-style constraint sweep every ingestion pipeline
runs before training data is allowed downstream: row-local domain
checks, primary-key uniqueness, referential integrity, and one
cross-table reconciliation — emitted as one row per check
[check_name, n_checked, n_violations] so a scheduler can gate on
`max(n_violations) == 0` per severity class.

Scale shape (the part Deequ gets right and naive per-check SQL gets
wrong): ALL row-local checks for a table ride ONE scan — a single
aggregate of `sum(CASE WHEN violated)` columns, unpivoted to rows
with `stack`. Ten checks on a 100 TB lineitem cost one pass, not
ten. The relational checks are each one semi/anti-join keyed on the
FK (broadcast when the PK side is dim-sized; AQE decides), and the
reconciliation is a partial-aggregated groupBy on the FK followed by
a key-to-key join — no check ever materializes violating ROWS, only
counts (the violating-row drill-down is a separate query you run on
the check that fired).

Decimal discipline for the reconciliation: the lineitem total is
summed in DECIMAL (inputs cast, multiplied in decimal — never a
double product cast) so the sum is associative and both engines
count the identical violation set regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table


def _stack_checks(agg_row: DataFrame, checks: list[str]) -> DataFrame:
    """Unpivot a 1-row aggregate with `<name>__checked` /
    `<name>__viol` columns into [check_name, n_checked,
    n_violations] rows."""
    parts = ", ".join(
        f"'{c}', {c}__checked, {c}__viol" for c in checks
    )
    return agg_row.selectExpr(
        f"stack({len(checks)}, {parts}) AS (check_name, n_checked, n_violations)"
    )


def _sum0(col: F.Column) -> F.Column:
    """sum() that reports 0, not NULL, over an empty input (an
    ungrouped aggregate over no rows)."""
    return F.coalesce(F.sum(col), F.lit(0))


def _row_local(df: DataFrame, checks: dict[str, F.Column]) -> DataFrame:
    """One scan: every check is a conditional count over the same
    pass; `checks` maps name -> violation predicate."""
    aggs = []
    for name, pred in checks.items():
        aggs.append(F.count(F.lit(1)).alias(f"{name}__checked"))
        aggs.append(
            F.sum(F.when(pred, 1).otherwise(0)).alias(f"{name}__viol")
        )
    return _stack_checks(df.agg(*aggs), list(checks))


def events_row_checks() -> dict[str, F.Column]:
    """Row-local violation predicates for the events table -- shared
    by the batch audit below and the streaming monitor
    (streaming/pipelines.dq_monitor_sink), so both paths enforce the
    identical contract."""
    return {
        "events_value_nonnull": F.col("value").isNull(),
        "events_props_json_valid": F.try_parse_json(F.col("props")).isNull(),
        "events_event_id_nonnull": F.col("event_id").isNull(),
    }


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-warehouse audit: [check_name, n_checked, n_violations].

    r11 restructure (guide section 6 / 2.4), MEASURED shape: the
    three order-grain relational checks -- lineitem_fk_orders,
    orders_have_lineitems and the price reconciliation, previously
    two whole-table anti-joins plus an inner join over a separate
    line-total groupBy -- now ride ONE full-outer join between the
    orders projection and a single per-order lineitem aggregate
    (count + decimal line total). Side indicators (never-null lits)
    classify unmatched rows exactly like the anti-joins did (a NULL
    key matches nothing on either side). That removes two of the
    three order-keyed lineitem/orders shuffles and two scans.

    Measured and REJECTED (tools/dq_variants_probe.py, interleaved
    same-JVM A/B at sf0.1): the "one scan per table" maximal form --
    all lineitem checks folded into the groupBy pass, uniqueness
    count_distincts merged into the row-local aggregates, pinned
    intermediates. It planned at 4 scans total but measured 3.5-3.8 s
    vs 2.1-2.6 s for this shape (and 2.3-2.8 s for the r10 shape):
    the count_distinct merge plans an Expand that doubles the fact
    stream through the aggregate, and the pins serialize stages that
    the union otherwise runs concurrently -- both cost more than the
    (columnar, pruned) re-scans they saved. Row-local checks
    therefore keep their one-scan-per-table conditional-sum form and
    uniqueness its separate count-distinct aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    li_checks = _row_local(
        li,
        {
            "lineitem_qty_in_1_50": (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50),
            "lineitem_discount_in_0_01": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 0.1),
            "lineitem_returnflag_domain": ~F.col("l_returnflag").isin(
                "A", "N", "R"
            ),
            "lineitem_pk_nonnull": F.col("l_orderkey").isNull()
            | F.col("l_linenumber").isNull(),
        },
    )
    ord_checks = _row_local(
        orders,
        {
            "orders_totalprice_positive": F.col("o_totalprice") <= 0,
        },
    )
    ev_checks = _row_local(ev, events_row_checks())
    doc_checks = _row_local(
        docs,
        {
            "documents_nchars_consistent": F.col("n_chars")
            != F.length("text"),
            "documents_text_nonempty": F.col("text").isNull()
            | (F.length("text") == 0),
        },
    )

    # uniqueness: count vs count-distinct, one aggregate per table
    uniq = []
    for name, df, cols in (
        ("orders_pk_unique", orders, ["o_orderkey"]),
        ("events_pk_unique", ev, ["event_id"]),
        ("lineitem_pk_unique", li, ["l_orderkey", "l_linenumber"]),
    ):
        uniq.append(
            df.agg(
                F.lit(name).alias("check_name"),
                F.count(F.lit(1)).alias("n_checked"),
                (
                    F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols])
                ).alias("n_violations"),
            )
        )

    # customer FK: one anti-join (the only check that needs customer)
    def _orphans(name: str, fk_df: DataFrame, fk: str, pk_df: DataFrame, pk: str) -> DataFrame:
        keys = fk_df.select(F.col(fk).alias("_k"))
        missing = keys.join(
            pk_df.select(F.col(pk).alias("_k")), "_k", "left_anti"
        )
        return keys.agg(F.count(F.lit(1)).alias("n_checked")).crossJoin(
            F.broadcast(missing.agg(F.count(F.lit(1)).alias("n_violations")))
        ).select(
            F.lit(name).alias("check_name"), "n_checked", "n_violations"
        )

    fk_customer = _orphans(
        "orders_fk_customer", orders, "o_custkey", cust, "c_custkey"
    )

    # the order-grain trio on ONE join: per-order lineitem partials
    # (count + the decimal line total -- the identical reconciliation
    # expression) full-outer-joined to orders once
    lik = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)"))
                * (F.lit(1).cast("decimal(8,4)") + F.col("l_tax").cast("decimal(8,4)"))
            ),
            2,
        ).alias("_lt"),
    )
    j = (
        orders.select("o_orderkey", "o_totalprice", F.lit(1).alias("_o"))
        .join(
            lik.select("l_orderkey", "_cnt", "_lt", F.lit(1).alias("_l")),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "full_outer",
        )
        .agg(
            _sum0(F.when(F.col("_o").isNull(), F.col("_cnt")).otherwise(0)).alias(
                "_fk_viol"
            ),
            _sum0(F.when(F.col("_l").isNull(), 1).otherwise(0)).alias(
                "_noline_viol"
            ),
            _sum0(
                F.when(F.col("_o").isNotNull() & F.col("_l").isNotNull(), 1)
                .otherwise(0)
            ).alias("_recon_n"),
            _sum0(
                F.when(
                    F.col("_o").isNotNull()
                    & F.col("_l").isNotNull()
                    & (
                        F.abs(
                            F.col("o_totalprice").cast("decimal(18,2)")
                            - F.col("_lt")
                        )
                        > F.lit(0.01).cast("decimal(18,2)")
                    ),
                    1,
                ).otherwise(0)
            ).alias("_recon_viol"),
        )
    )
    # n_checked for the FK checks is the full fk-side row count
    li_n = li.agg(F.count(F.lit(1)).alias("_li_n"))
    ord_n = orders.agg(F.count(F.lit(1)).alias("_ord_n"))
    fk_li_orders = j.crossJoin(F.broadcast(li_n)).select(
        F.lit("lineitem_fk_orders").alias("check_name"),
        F.col("_li_n").alias("n_checked"),
        F.col("_fk_viol").alias("n_violations"),
    )
    orders_have_li = j.crossJoin(F.broadcast(ord_n)).select(
        F.lit("orders_have_lineitems").alias("check_name"),
        F.col("_ord_n").alias("n_checked"),
        F.col("_noline_viol").alias("n_violations"),
    )
    recon = j.select(
        F.lit("orders_totalprice_reconciles").alias("check_name"),
        F.col("_recon_n").alias("n_checked"),
        F.col("_recon_viol").alias("n_violations"),
    )

    out = li_checks
    for part in [
        ord_checks,
        ev_checks,
        doc_checks,
        *uniq,
        fk_customer,
        fk_li_orders,
        orders_have_li,
        recon,
    ]:
        out = out.unionByName(part)
    return out.select(
        "check_name",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
    )


def duplicate_charge_pairs(events: DataFrame) -> DataFrame:
    """Duplicate-charge screen over an events frame: CONSECUTIVE
    events by the same user, same type, same EXACT cent amount
    within 7 days -- adjacent repeats found by ONE lag() per
    (user, type, cents) partition (a same-key self-join would emit
    O(m^2) pairs per hot key; consecutiveness bounds output at one
    row per repeat, and a chain of m duplicates surfaces as m-1
    adjacent pairs). Exact integer cents and exact microsecond gaps
    decide everything; event_id breaks equal-timestamp ties so the
    pairing is deterministic. Shared by the registry batch query and
    the streaming twin's parity test (both sides must run the
    identical arithmetic on the identical frame).

    Output: [user_id, event_type, cents, first_event_id,
    second_event_id, gap_us], ordered."""
    from pyspark.sql import Window

    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    base = events.select(
        "user_id",
        "event_type",
        cents.alias("cents"),
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
    )
    w = Window.partitionBy("user_id", "event_type", "cents").orderBy(
        F.asc("_us"), F.asc("event_id")
    )
    lagged = base.select(
        "user_id",
        "event_type",
        "cents",
        F.lag("event_id").over(w).alias("first_event_id"),
        F.col("event_id").alias("second_event_id"),
        (F.col("_us") - F.lag("_us").over(w)).alias("gap_us"),
    )
    return (
        lagged.filter(
            F.col("first_event_id").isNotNull()
            & (F.col("gap_us") <= F.lit(604_800_000_000))  # 7d in us
        )
        .orderBy("user_id", "event_type", "cents", "second_event_id")
    )
