"""Relational analytics plans: oracle parity + plan-shape assertions
(the scale posture is part of the contract, not just the values)."""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark import registry
from tests.oracle_utils import assert_matches_oracle

RELATIONAL = [
    "pricing_summary",
    "revenue_by_nation",
    "top_customers",
    "customer_order_ranks",
    "events_hourly",
    "events_sessionize",
    "events_json_stats",
    "user_retention",
    "cheapest_supplier",
    "nation_market_share",
    "events_last_per_user",
    "segment_event_stats",
]


@pytest.mark.parametrize("name", RELATIONAL)
def test_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_revenue_join_broadcasts_dimensions(spark, sf_check):
    plan = registry.QUERIES["revenue_by_nation"](spark, sf_check)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # dims must not shuffle the fact table


def test_pricing_summary_pushes_filter_to_scan(spark, sf_check):
    plan = registry.QUERIES["pricing_summary"](spark, sf_check)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_topn_uses_take_ordered(spark, sf_check):
    plan = registry.QUERIES["top_customers"](spark, sf_check)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_argmin_queries_use_agg_not_window(spark, sf_check):
    """cheapest_supplier and events_last_per_user promise argmin/argmax
    via struct-min/max aggregation: the plan must contain no Window
    (which would sort every fact row) and must partial-aggregate."""
    for name in ("cheapest_supplier", "events_last_per_user"):
        plan = (
            registry.QUERIES[name](spark, sf_check)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan, name
        assert "partial" in plan, name  # map-side combine before the exchange


def test_salted_join_replicates_dim_not_fact(spark, sf_check):
    """The salted join must explode the dimension side only; the join
    itself stays an equi-join (no nested-loop fallback)."""
    plan = (
        registry.QUERIES["segment_event_stats"](spark, sf_check)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # salt replication of the dim side


def test_user_state_intervals_partition_events_and_single_shuffle(spark, sf_check):
    """SCD2 invariants: per user exactly one open (is_current) row,
    interval event counts sum to the user's event total, and each
    interval closes exactly where the next opens. The whole chain
    must plan as ONE hash exchange on user_id (the windows and the
    island aggregate all reuse the same partitioning)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.plans.analytics import (
        user_state_intervals,
    )
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    df = user_state_intervals(spark, sf_check)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    rows = df.collect()
    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append(r)
    totals = {
        r.user_id: r.n
        for r in load_table(spark, sf_check, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(per_user) == set(totals)
    for uid, ivs in per_user.items():
        assert sum(r.n_events for r in ivs) == totals[uid]
        assert sum(1 for r in ivs if r.is_current) == 1
        ivs = sorted(ivs, key=lambda r: r.valid_from)
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from
            assert a.state != b.state or a.valid_to is not None


def test_session_concurrency_crafted_and_bruteforce(spark, tmp_path, sf_smoke):
    """Crafted midnight-spanning + touching cases against hand-counted
    peaks, then an independent O(n^2) point-probe brute force over the
    real sf_smoke data (concurrency at t = segments with a<=t<=b; the
    peak is always attained at some segment start)."""
    import datetime as dt

    from mapreduce_implementation_grpc_spark.registry import QUERIES

    def _t(d, h, m):
        return dt.datetime(2024, 1, d, h, m)

    rows = [
        # user 1: one session 10:00-10:10
        (1, 1, _t(1, 10, 0)), (2, 1, _t(1, 10, 10)),
        # user 2: zero-length session at 10:05
        (3, 2, _t(1, 10, 5)),
        # user 3: lone event at noon
        (4, 3, _t(1, 12, 0)),
        # user 4: session spanning midnight (gap 15 min < 30)
        (5, 4, _t(1, 23, 50)), (6, 4, _t(2, 0, 5)),
    ]
    import pandas as pd

    pd.DataFrame(rows, columns=["event_id", "user_id", "ts"]).to_parquet(
        tmp_path / "events.parquet"
    )
    got = {
        r.day_s: (r.n_sessions, r.max_concurrent)
        for r in QUERIES["session_concurrency"](spark, str(tmp_path)).collect()
    }
    # day 1: u1+u2 overlap at 10:05 -> peak 2; 4 session-segments
    # day 2: only u4's tail
    assert got == {"2024-01-01": (4, 2), "2024-01-02": (1, 1)}

    # brute force over real data
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    evs = sorted(
        (r.user_id, r.ts, r.event_id)
        for r in load_table(spark, sf_smoke, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    )
    sessions = []
    last = {}
    for u, ts, eid in sorted(evs, key=lambda x: (x[0], x[1], x[2])):
        if u in last and (int(ts.timestamp()) - int(last[u][1].timestamp())) <= 1800:
            sessions[last[u][0]][1] = ts
        else:
            sessions.append([ts, ts])
            last[u] = (len(sessions) - 1, ts)
            continue
        last[u] = (last[u][0], ts)
    segs = {}
    one_day = dt.timedelta(days=1)
    for s, e in sessions:
        day = s.replace(hour=0, minute=0, second=0, microsecond=0)
        end_day = e.replace(hour=0, minute=0, second=0, microsecond=0)
        while day <= end_day:
            a = max(s, day)
            b = min(e, day + one_day - dt.timedelta(microseconds=1))
            segs.setdefault(day, []).append((a, b))
            day += one_day
    expect = {}
    for day, ss in segs.items():
        peak = max(sum(1 for a2, b2 in ss if a2 <= a <= b2) for a, _ in ss)
        expect[day.strftime("%Y-%m-%d")] = (len(ss), peak)
    got2 = {
        r.day_s: (r.n_sessions, r.max_concurrent)
        for r in QUERIES["session_concurrency"](spark, sf_smoke).collect()
    }
    assert got2 == expect


def test_user_value_twap_crafted(spark, tmp_path):
    """Value 10 held 3 h then 20 held 1 h -> TWAP 12.5, count-mean 15;
    a lone-event user has no held interval and no row."""
    import datetime as dt

    import pandas as pd

    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = [
        (1, 1, dt.datetime(2024, 1, 1, 0), 10.0),
        (2, 1, dt.datetime(2024, 1, 1, 3), 20.0),
        (3, 1, dt.datetime(2024, 1, 1, 4), 99.0),   # terminal: weight 0
        (4, 2, dt.datetime(2024, 1, 1, 5), 7.0),    # lone event
    ]
    pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"]).to_parquet(
        tmp_path / "events.parquet"
    )
    got = {
        r.user_id: (r.active_us, r.twap)
        for r in QUERIES["user_value_twap"](spark, str(tmp_path)).collect()
    }
    assert got == {1: (4 * 3600 * 1_000_000, 12.5)}


def test_events_cusum_recursion_equivalence_and_shift_alert(spark, tmp_path):
    """The closed form P_t - min(0, min P_j) must equal the textbook
    recursion s_t = max(0, s_{t-1} + z_t - slack) computed directly
    (exact decimals, so equality is exact), and a sustained +shift in
    the back half of a flat series must raise an alert."""
    import datetime as dt
    from decimal import Decimal

    import pandas as pd

    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = []
    eid = 0
    for day in range(1, 29):
        n = 10 if day <= 14 else 18   # sustained shift, not a spike
        for k in range(n):
            rows.append((eid, 1, dt.datetime(2024, 1, day, 1 + (k % 20)), 1.0, "purchase"))
            eid += 1
    pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "value", "event_type"]
    ).to_parquet(tmp_path / "events.parquet")
    got = sorted(
        QUERIES["events_cusum"](spark, str(tmp_path)).collect(),
        key=lambda r: r.day_s,
    )
    assert any(r.alert for r in got if r.day_s >= "2024-01-16")
    assert not any(r.alert for r in got if r.day_s <= "2024-01-14")
    # direct recursion on the same z values (exact decimal arithmetic)
    cnts = [r.cnt for r in got]
    n = len(cnts)
    mean = sum(cnts) / n
    std = ((sum(c * c for c in cnts) - sum(cnts) ** 2 / n) / n) ** 0.5
    s = Decimal(0)
    for r, c in zip(got, cnts):
        z = Decimal(repr(round((c - mean) / std, 9)))
        s = max(Decimal(0), s + z - Decimal("0.5"))
        assert float(s) == r.cusum, (r.day_s, float(s), r.cusum)


def test_wallet_balance_matches_sequential_lindley(spark, sf_check):
    """The windowed closed form B = S - min(0, min-prefix S) must
    equal the naive sequential recursion B_t = max(0, B_{t-1} + x_t)
    replayed per user in Python."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    ev = (
        load_table(spark, sf_check, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            "event_id",
            "ts",
            (
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(-1)
                )
                * (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("flow"),
        )
        .collect()
    )
    seq: dict[tuple, int] = {}
    bal = defaultdict(int)
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        bal[r.user_id] = max(0, bal[r.user_id] + r.flow)
        seq[(r.user_id, r.event_id)] = bal[r.user_id]
    got = registry.QUERIES["user_wallet_balance"](spark, sf_check).collect()
    assert len(got) == len(seq)
    for r in got:
        assert r.balance_cents == seq[(r.user_id, r.event_id)], r
        assert r.balance_cents >= 0 and r.balance_cents >= 0


def test_attribution_position_weighted_hand_computed(spark, sf_smoke):
    """Crafted sessions: U-shape 40/20/40, the 1- and 2-touch edge
    cases, and credit conservation (credits sum to the purchase)."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.plans.analytics import (
        attribution_position_weighted,
    )
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    rows = []

    def ev(eid, uid, minute, etype, value=10.0):
        rows.append((eid, f"2024-01-01 10:{minute:02d}:00", uid, etype, value, "{}"))

    # user 1: 4 touches then a 100.00 purchase -> 40/10/10/40 dollars
    for i, t in enumerate(["view", "click", "click", "signup"]):
        ev(i + 1, 1, i, t)
    ev(5, 1, 4, "purchase", 100.0)
    # user 2: single touch keeps 100% of 50.00
    ev(10, 2, 0, "view")
    ev(11, 2, 1, "purchase", 50.0)
    # user 3: two touches split 50/50 of 20.00
    ev(20, 3, 0, "view")
    ev(21, 3, 1, "error")
    ev(22, 3, 2, "purchase", 20.0)
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="attr_")
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double, props string"
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props"
    )
    df.toPandas().to_parquet(os.path.join(tmp, "events.parquet"))
    got = {
        (r.touch_type, r.position): r
        for r in attribution_position_weighted(spark, tmp).collect()
    }
    # user 1 credits (cents): first view 4000, middle clicks 1000 each,
    # last signup 4000; user 2: first view 5000; user 3: view 1000,
    # error 1000 (2-touch split of 2000)
    assert got[("view", "first")].credit_total == 4000 + 5000 + 1000
    assert got[("click", "middle")].n_touches == 2
    assert got[("click", "middle")].credit_total == 2000
    assert got[("signup", "last")].credit_total == 4000
    assert got[("error", "last")].credit_total == 1000
    total = sum(r.credit_total for r in got.values())
    assert total == (100 + 50 + 20) * 100  # conservation, in cents


def test_user_state_asof_point_in_time(spark, sf_check):
    """AS-OF lookup: oracle parity, at most one row per user
    (interval disjointness), and consistency with the interval
    table at the snapshot instant."""
    from mapreduce_implementation_grpc_spark.plans.analytics import (
        user_state_asof,
        user_state_intervals,
    )

    at = "2024-01-15 00:00:00"
    df = user_state_asof(spark, sf_check)
    assert_matches_oracle(df, registry.ORACLES["user_state_asof"], sf_check)
    rows = df.collect()
    assert len({r.user_id for r in rows}) == len(rows)
    # cross-check against a python filter of the full interval table
    iv = user_state_intervals(spark, sf_check).collect()
    want = {
        r.user_id: r.state
        for r in iv
        if r.valid_from <= at and (r.valid_to is None or r.valid_to > at)
    }
    assert {r.user_id: r.state for r in rows} == want
