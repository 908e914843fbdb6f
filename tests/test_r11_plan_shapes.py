"""Round-11 optimization shape pins (mirror of test_r10_plan_shapes):
each test fails loudly if a pathology removed this round creeps back.
Each docstring names the old shape it rejects; the measurements behind
the rewrites are the interleaved A/Bs in OPTIMIZATION_r11.md."""

from __future__ import annotations

import re

from mapreduce_implementation_grpc_spark import registry


def _plan(spark, sf_dir, name) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _join_nodes(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) [A-Za-z]*Join", plan, re.M))


def _assert_long_node_keys(plan: str, max_concat: int) -> None:
    assert "shiftright" in plan, (
        "pagerank label rebuild gone -- node keys are presentation "
        "strings again, every edge-grain shuffle pays UTF8 keys"
    )
    # the r10 shape broadcast string-keyed degree/rank tables into
    # every iteration (3 in purchase_pagerank, 6 in the PPR query)
    assert "HashedRelationBroadcastMode(List(input[0, string" not in plan
    # the concats belong to the final relabel projection; the r10
    # shape carried them inside the edge build below the distinct
    assert plan.count("concat(") <= max_concat, plan.count("concat(")


def test_pagerank_iterates_on_long_keys(spark, sf_smoke):
    """The label strings are rebuilt ONCE at the end (shiftright on
    the final |V|-row projection); the edge build and iterations must
    not manufacture 'c<id>'/'s<id>' strings below the shuffles."""
    _assert_long_node_keys(_plan(spark, sf_smoke, "purchase_pagerank"), 2)


def test_personalized_pagerank_iterates_on_long_keys(spark, sf_smoke):
    """segment_affinity_suppliers runs personalized PageRank on the
    same long keys (measured 3 concats, all in the relabel)."""
    _assert_long_node_keys(
        _plan(spark, sf_smoke, "segment_affinity_suppliers"), 6
    )


def test_dq_audit_order_trio_is_one_join(spark, sf_smoke):
    """lineitem_fk_orders + orders_have_lineitems + reconciliation
    ride ONE full-outer join; only the customer FK keeps an
    anti-join. (r10: two whole-table anti-joins + an inner join.)"""
    plan = _plan(spark, sf_smoke, "dq_audit")
    assert "FullOuter" in plan, "order-grain trio join gone"
    anti = len(re.findall(r"Join type: LeftAnti|SortMergeJoin LeftAnti|"
                          r"BroadcastHashJoin LeftAnti", plan))
    assert anti <= 2, f"{anti} anti-join mentions -- trio unrolled again?"


def test_events_acf_is_single_window_pass(spark, sf_smoke):
    """Lag alignment is lead(z, k) in one window pass: the only joins
    left belong to the day-spine build (cross + left), never a
    series-vs-series lag join (r10: 17 join nodes)."""
    plan = _plan(spark, sf_smoke, "events_acf")
    joins = _join_nodes(plan)
    assert joins <= 3, f"events_acf join blowup ({joins})"
    assert "Window" in plan, "window lag pass gone"


def test_cms_probe_is_join_free(spark, sf_smoke):
    """The CMS probe attaches the 4 sketches via element_at on one
    broadcast map -- no per-sketch BroadcastHashJoin over the token
    stream (r10: 4)."""
    plan = _plan(spark, sf_smoke, "cms_screened_wordcount")
    assert "element_at" in plan, "CMS map probe gone"
    assert "BroadcastHashJoin" not in plan, (
        "per-sketch hash joins back on the token stream"
    )


def test_mutual_nn_lsh_candidates_are_not_pinned(spark, sf_smoke):
    """On the LSH path the candidate pin measured neutral (runtime
    exchange reuse already dedups the bucketed scan), so the query
    passes pin=False and holds no corpus-scale candidate blocks; the
    exact path keeps its pin (test_r10_plan_shapes)."""
    plan = _plan(spark, sf_smoke, "embedding_mutual_nn_lsh")
    assert "ExistingRDD" not in plan, "LSH mutual-NN candidates pinned again"
