"""Plan lint: systematic physical-plan assertions over EVERY registry
query -- the 100 TB posture encoded as tests.

Rules:
- no un-broadcast CartesianProduct (a broadcast nested-loop join over
  a tiny query set is fine; a shuffled cartesian product is never);
- no coalesce(1) / single-partition exchange (the reference's
  single-reducer bug must not reappear);
- every parquet scan of a wide table is column-pruned (reads fewer
  columns than the table has when the query needs fewer).
"""

from __future__ import annotations

import re

import pytest

from mapreduce_implementation_grpc_spark import registry

WIDE_TABLES = {"lineitem": 11, "orders": 6, "events": 6, "documents": 5}

# dedup_clusters / curate_documents localCheckpoint eagerly during
# DataFrame *construction* (iterative algorithm), so "building the
# plan" would run the whole job twice here; their component operators
# are already linted via minhash_near_dup and the dedup queries.
EAGER_ITERATIVE = {
    "dedup_clusters",
    "dedup_clusters_jaccard",
    "curate_documents",
    "kmeans_cells",
    "ann_ivf_kmeans",
    "ann_recall_ivf_kmeans",
    "ann_clustered_ivf_kmeans_recall",
    "cluster_topics",
}
LINTABLE = sorted(set(registry.QUERIES) - EAGER_ITERATIVE)


def _plan(spark, sf_check, name: str) -> str:
    return (
        registry.QUERIES[name](spark, sf_check)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


# the node that FEEDS a single-partition exchange must already have
# reduced the stream: an aggregate (partial or final -- both emit
# grouped rows, not raw facts) or a limit. r3's orders_price_deciles
# bug (global ntile Sort over every raw order row) slipped through a
# weaker whole-plan regex because an unrelated partial agg appeared
# elsewhere in the plan -- hence this child-subtree check.
_REDUCED_CHILD = re.compile(
    r"(HashAggregate|SortAggregate|ObjectHashAggregate)\("
    r"|(Local|Global)Limit|CollectLimit|TakeOrderedAndProject"
)


# unary row-preserving-or-narrowing nodes: seeing one below the
# exchange doesn't decide anything -- keep walking to what produced
# the rows (Filter/Project over an aggregate is still reduced rows;
# Filter/Project over a FileScan is still raw facts)
_TRANSPARENT = re.compile(r"^\*?(\(\d+\)\s*)?(Project|Filter|ColumnarToRow|InputAdapter)\b")


def single_partition_violations(plan: str) -> list[str]:
    """Every `Exchange SinglePartition` whose feeding subtree (walked
    through narrow unary nodes -- an exchange is unary) is NOT rooted
    at an aggregate or limit node."""
    lines = plan.splitlines()
    bad = []
    for idx, line in enumerate(lines):
        if "Exchange SinglePartition" not in line or "ReusedExchange" in line:
            continue
        j = idx + 1
        while j < len(lines):
            node = lines[j].lstrip(" :+-")
            if _REDUCED_CHILD.search(node):
                break
            if _TRANSPARENT.match(node):
                j += 1
                continue
            bad.append(node.strip() or line.strip())
            break
        else:
            bad.append(line.strip())
    return bad


@pytest.mark.slow  # registry-wide sweep: full sweep only (r11, VERDICT r10 #7)
@pytest.mark.parametrize("name", LINTABLE)
def test_no_shuffled_cartesian_and_no_single_partition(spark, sf_check, name):
    plan = _plan(spark, sf_check, name)
    assert "CartesianProduct" not in plan, f"{name}: shuffled cartesian product"
    assert "Coalesce 1" not in plan, f"{name}: coalesce(1) over data"
    bad = single_partition_violations(plan)
    assert not bad, (
        f"{name}: SinglePartition exchange fed by unreduced rows: {bad}"
    )


def test_single_partition_rule_catches_global_fact_sort(spark, sf_check):
    """Regression guard for the lint itself: the r3
    orders_price_deciles shape (global ntile window over raw order
    rows) must be flagged even when a downstream aggregate
    contributes partial_* nodes to the same plan."""
    from pyspark.sql import Window, functions as F

    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    orders = load_table(spark, sf_check, "orders")
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    tiled = orders.select(F.col("o_totalprice"), F.ntile(10).over(w).alias("decile"))
    buggy = tiled.groupBy("decile").agg(F.count("*").alias("n_orders"))
    plan = buggy._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" in plan  # the shape under test
    assert re.search(r"partial_(count|sum|min|max|avg)", plan)  # old rule passed it
    assert single_partition_violations(plan), "lint no longer catches the O15 shape"


@pytest.mark.slow  # registry-wide sweep: full sweep only (r11, VERDICT r10 #7)
@pytest.mark.parametrize("name", LINTABLE)
def test_parquet_scans_are_column_pruned(spark, sf_check, name):
    plan = _plan(spark, sf_check, name)
    for scan in re.finditer(r"FileScan parquet \[(.*?)\].*?/(\w+)\.parquet", plan):
        cols = [c for c in scan.group(1).split(",") if c.strip()]
        table = scan.group(2)
        if table in WIDE_TABLES:
            assert len(cols) <= WIDE_TABLES[table], (
                f"{name}: scan of {table} reads {len(cols)} columns: {scan.group(1)}"
            )


def test_kmeans_assign_is_shuffle_free(spark, sf_check):
    """The Lloyd assign step must be a narrow map expression: no
    Exchange anywhere in its plan (the crossJoin + Window argmin
    shape would shuffle n*k rows per iteration -- the one plan that
    would not survive 100 TB of embeddings)."""
    from mapreduce_implementation_grpc_spark.operators.kmeans import (
        _assign,
        _centroids_from,
        _collect_centroids,
    )
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    emb = load_table(spark, sf_check, "embeddings")
    seeded = emb.selectExpr("vec_id", "embedding", "vec_id % 4 AS cell")
    cent_rows = _collect_centroids(_centroids_from(seeded, "embedding"))
    plan = (
        _assign(emb, cent_rows, "embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, f"assign stage shuffles:\n{plan[:2000]}"
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_decontaminate_corpus_side_is_map_only(spark, sf_check):
    """Decontamination must probe the broadcast eval n-gram set
    without shuffling the corpus first: no Window anywhere, exactly
    one BroadcastHashJoin, and no Exchange between the corpus scan
    and the join (the only hash Exchanges sit above the join --
    matched rows -- or under the tiny eval-distinct side)."""
    plan = _plan(spark, sf_check, "decontaminate")
    assert "Window" not in plan, "flat shingle path regressed to window form"
    assert plan.count("BroadcastHashJoin") == 1
    # walk the BHJ's build-free (streamed) side: the text between the
    # join node and its BroadcastExchange child must hold no Exchange
    join_to_bcast = plan[plan.index("BroadcastHashJoin"): plan.index("BroadcastExchange")]
    assert "Exchange hashpartitioning" not in join_to_bcast, (
        "corpus side shuffles before the broadcast probe"
    )


def test_pq_encode_is_shuffle_free(spark, sf_check):
    """pq_codes' returned DataFrame is a pure narrow map against the
    codebook literals: scan -> project -> explode barrier, with NO
    Exchange (training already happened at construction)."""
    plan = _plan(spark, sf_check, "pq_codes")
    assert "Exchange" not in plan, f"PQ encode shuffles:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan


def test_ivfpq_serve_broadcasts_tables(spark, sf_check):
    """The IVF-PQ serve side must broadcast the probe/lookup tables
    (never shuffle the corpus against them) and keep at most the two
    legitimate hash Exchanges: the (query_id, vec_id) aggregation and
    the per-query top-k window."""
    import re

    for name in ("ann_ivfpq", "ann_ivfpq_residual", "pq_search"):
        plan = _plan(spark, sf_check, name)
        assert "BroadcastHashJoin" in plan, f"{name}: lookup join not broadcast"
        # the coarse cell rides through the encode; no join back to
        # the corpus's own cell assignment by vec_id (r9 had one per
        # side on the residual path)
        assert not re.search(r"Join \[vec_id#\d+L?\], \[vec_id#", plan), (
            f"{name}: codes rejoined to their cells by vec_id"
        )
        assert "CartesianProduct" not in plan, name
        n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_hash_exchanges <= 3, (
            f"{name}: {n_hash_exchanges} hash exchanges\n{plan[:2000]}"
        )


def test_repetition_stats_is_map_only(spark, sf_check):
    """The Gopher repetition metrics are per-row array folds: no
    Exchange, no Window, no Generate anywhere — the operator must
    stay scan-speed at any corpus size."""
    plan = _plan(spark, sf_check, "repetition_stats")
    assert "Exchange" not in plan, f"repetition_stats shuffles:\n{plan[:2000]}"
    assert "Window" not in plan and "Generate" not in plan


def test_tpch_join_queries_broadcast_dimensions(spark, sf_check):
    """The Q7/Q8/Q18/Q19 shapes must keep dimension lookups broadcast
    (no fact-table shuffle for nation/region/part/supplier) and the
    k-gram/fact joins keyed — a SortMergeJoin against `nation` would
    mean the filter slicing never pushed to the dimension side."""
    expect_min_bhj = {
        "volume_shipping": 3,   # supplier+nation x2 slices
        "market_share": 3,      # part slice, supplier+nation, cust chain
        "disjunctive_revenue": 1,  # part
    }
    for name, n in expect_min_bhj.items():
        plan = _plan(spark, sf_check, name)
        assert plan.count("BroadcastHashJoin") >= n, (
            f"{name}: expected >= {n} broadcast joins\n{plan[:1500]}"
        )
        assert "CartesianProduct" not in plan


def test_waiting_suppliers_avoids_distinct_expand(spark, sf_check):
    """Q21's per-order aggregate is a manual two-level groupBy; the
    mixed distinct-aggregate form would plan an Expand x3 replay of
    the joined fact (measured 1.9x slower) — pin its absence."""
    plan = _plan(spark, sf_check, "waiting_suppliers")
    assert "Expand" not in plan, f"waiting_suppliers re-grew an Expand:\n{plan[:2000]}"


def test_bpe_encode_corpus_pass_is_map_only(spark, sf_check):
    """After training (which runs at plan-build time), applying the
    merge rules to documents is literal replace() calls: the served
    plan must hold no Exchange and no join — scan-speed tokenization."""
    plan = _plan(spark, sf_check, "bpe_encode")
    assert "Exchange" not in plan, f"bpe_encode shuffles:\n{plan[:2000]}"
    assert "Join" not in plan


def test_pagerank_has_no_cartesian_and_bounded_joins(spark, sf_check):
    """Three power iterations = exactly three rank joins over the
    checkpointed edge list + the degree join; any cartesian or an
    unexpected join-count jump means an iteration stopped reusing the
    edge table."""
    plan = _plan(spark, sf_check, "purchase_pagerank")
    assert "CartesianProduct" not in plan
    joins = plan.count("Join")
    assert joins <= 8, f"purchase_pagerank join blowup ({joins}):\n{plan[:2000]}"


def test_eval_overlap_corpus_side_never_shuffles(spark, sf_check):
    """The train-corpus side must reach its broadcast probe join with
    no hash Exchange below it (same contract as decontaminate)."""
    plan = _plan(spark, sf_check, "eval_overlap_report")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_purchase_attribution_is_single_shuffle(spark, sf_check):
    """Both attribution windows hang off the user_id sort: the
    (user_id, session_id) window must reuse the user_id hash
    partitioning — one Exchange total, no self-join."""
    plan = _plan(spark, sf_check, "purchase_attribution")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan


def test_salted_join_spreads_hot_keys_and_never_broadcasts(spark, sf_check):
    """doc_idf_salted_join: the token->vocab join must be a
    ShuffledHashJoin keyed on (word, _salt) -- the salt in the join
    keys IS the skew remedy (a hot word occupies n_salt partitions) --
    and that join must NOT be a broadcast (at 100 TB the vocabulary
    exceeds the threshold; the bench number must measure the shuffle
    path we ship). The scalar n_docs broadcast is separate and fine."""
    plan = _plan(spark, sf_check, "doc_idf_salted_join")
    shj = [
        ln for ln in plan.splitlines() if "ShuffledHashJoin" in ln
    ]
    assert shj, f"salted join not planned as ShuffledHashJoin:\n{plan}"
    assert any("_salt" in ln and "word" in ln for ln in shj), shj
    # the word-keyed join must not have been planned as broadcast
    assert not any(
        "BroadcastHashJoin" in ln and "word" in ln for ln in plan.splitlines()
    ), plan


_PIN_CALL = re.compile(r"\.(localCheckpoint|persist|cache|checkpoint)\(")


def test_no_bare_local_checkpoint_outside_materialize():
    """Every pin of an intermediate (localCheckpoint, persist, cache,
    checkpoint) must route through materialize.py. That module is the
    one place that chooses the mechanism, and with it what an executor
    lost mid-query costs (lineage truncation fails the query; a
    lineage-keeping pin recomputes). A bare pin elsewhere would carry
    its own answer to that question, and changing the mechanism would
    no longer be a one-file edit."""
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "mapreduce_implementation_grpc_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py") or fname == "materialize.py":
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if _PIN_CALL.search(line):
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


# Pin for the asNondeterministic() optimizer workaround
# (operators/similarity.py band_buckets, round 9): Catalyst's
# InferFiltersFromGenerate would otherwise derive a size(_bks)>0
# filter below the posexplode and re-evaluate the pure band UDF a
# second time per side (2x the Arrow-batched dot products). Nothing
# but this test pins the marking -- a Spark upgrade or refactor that
# reintroduces the duplicate evaluation doubles these node counts.
_ARROW_EVAL_CEILING = {
    "ann_lsh_banded": 2,          # corpus side + query side
    "embedding_dup_pairs_lsh": 2,
    "embedding_mutual_nn_lsh": 8,  # two directions x (corpus+query) x 2 stages
    # 4 sweep arms x (corpus+query); the one-pass window-count shape
    # (r10) -- a second consumer of the candidate set doubles this
    "ann_clustered_selectivity": 8,
}


@pytest.mark.parametrize("name", sorted(_ARROW_EVAL_CEILING))
def test_banded_plans_evaluate_band_udf_once_per_side(spark, sf_check, name):
    plan = _plan(spark, sf_check, name)
    n = plan.count("ArrowEvalPython")
    assert n <= _ARROW_EVAL_CEILING[name], (
        f"{name}: {n} ArrowEvalPython nodes (ceiling "
        f"{_ARROW_EVAL_CEILING[name]}) -- the InferFiltersFromGenerate "
        "double-evaluation is back; check band_buckets' "
        ".asNondeterministic() marking (operators/similarity.py)"
    )
