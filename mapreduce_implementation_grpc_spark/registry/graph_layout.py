"""Registry queries for graphs (triangles, k-core, BFS, HITS, link
prediction), data layout (Z-order/Hilbert skipping) and distribution
statistics.
"""

from __future__ import annotations

from .shared import (
    DataFrame,
    F,
    SparkSession,
    Window,
    load_table,
    normalized_col,
    with_token_array,
    _SQL_COSUPPLY,
    _customer_nation_lines,
    _order_month,
    _rev_micros,
)
from .reference_surface import q_wordcount
from ..operators.graph_motifs import KCORE_K, REACH_HOPS
from ..operators.hits import HITS_ITERS



def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout cells: Morton-interleave (user_id, ts) bin
    ranks and report each quadtree cell's row count + raw dimension
    spans -- the footer min/max a 100 TB scan would prune with. The
    multi-dimensional generalization of the reference's contiguous
    range partitioner (greeter_client.cc:362-390); exact BIGINT
    arithmetic end to end, so the layout itself is oracle-checked."""
    from ..operators.zorder import zorder_cells

    return zorder_cells(spark, sf_dir)


def q_zorder_skipping_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured file-skipping tradeoff: total per-chunk dimension
    spans under a Z-curve layout vs a linear time sort (256 chunks
    each). Z-order bounds BOTH dimensions; the linear layout leaves
    every chunk spanning the full user range."""
    from ..operators.zorder import zorder_skipping_summary

    return zorder_skipping_summary(spark, sf_dir)


def q_hilbert_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout cells (zorder_cells' twin): the xy2d
    quadrant+rotate recurrence unrolled as a per-level column chain,
    exact BIGINT arithmetic, generated from ONE text shared by the
    Spark expression and the DuckDB oracle (operators/zorder.py
    _hilbert_level_sql) so the curve itself is hash-checked."""
    from ..operators.zorder import hilbert_cells

    return hilbert_cells(spark, sf_dir)


def q_hilbert_skipping_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Morton under the same oracle-checked skipping
    metric (256 contiguous curve chunks, total per-dimension spans).
    Oracle-pinned TIE by geometry: aligned power-of-4 chunks of
    either curve are the same axis-aligned squares; the curves
    separate on successor locality (see curve_locality_stats)."""
    from ..operators.zorder import hilbert_skipping_summary

    return hilbert_skipping_summary(spark, sf_dir)


def q_curve_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successor-locality comparison of the two space-filling curves
    over occupied cells: total/max Manhattan step in bin space and
    the count of perfectly-adjacent steps. Hilbert's total is the
    measured win; the window runs over the distinct-reduced cell
    table only."""
    from ..operators.zorder import curve_locality_stats

    return curve_locality_stats(spark, sf_dir)


def _zorder_binned_sql() -> str:
    """Shared oracle CTE: bin ranks + Morton code, generated from the
    same loop as the Spark expression (operators/zorder.morton_sql)."""
    from ..operators.zorder import morton_sql

    return f"""
      WITH s AS (SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
                        min(epoch_us(ts)) AS lo_t, max(epoch_us(ts)) AS hi_t
                 FROM events),
      b AS (SELECT user_id, epoch_us(ts) AS tus,
                   ((user_id - lo_u) * 256) // (hi_u - lo_u + 1) AS bx,
                   ((epoch_us(ts) - lo_t) * 256) // (hi_t - lo_t + 1) AS bt
            FROM events, s),
      zz AS (SELECT user_id, tus, bt, {morton_sql("bx", "bt")} AS z FROM b)
    """


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill + forward fill (LOCF) of each user's last
    purchase value (operators/gapfill.py): one dense row per user per
    hour between their first and last purchase, synthesized rows
    flagged. The sparse-to-dense resample every feature store runs;
    grid generated distributed via explode(sequence), fill is one
    keyed window — nothing driver-side, nothing cross-joined."""
    from ..operators.gapfill import gap_fill_forward

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    out = gap_fill_forward(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
        "filled_value",
        "is_gap",
    )


def q_cosupply_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-supplier triangle counts in the thresholded
    co-supply graph via degree-ordered wedge enumeration
    (operators/graph_motifs.py:cosupply_triangles). The unipartite
    complement of the butterfly counter: orientation bounds wedge
    fan-out by O(E^1.5); the naive triple-join oracle hash-matching
    proves the oriented enumeration exact."""
    from ..operators.graph_motifs import cosupply_triangles

    return cosupply_triangles(spark, sf_dir)


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics [dim, mean, std, min_v,
    max_v] -- the feature-normalization fit (what a standardizing
    preprocessor broadcasts back to scale vectors). posexplode over
    the cast-to-double array, ONE aggregate pass for count / decimal
    sums / extrema per dim (64 groups); float->double widening is
    exact in both engines, sums use the round-9dp decimal recipe,
    variance is the one-pass (E[x^2] - E[x]^2) form with identical
    double op order, clamped at 0 before sqrt."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "e")
    )
    st = emb.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("e"), 9).cast("decimal(20,9)"))
        .cast("string")
        .cast("double")
        .alias("s"),
        F.sum(F.round(F.col("e") * F.col("e"), 9).cast("decimal(20,9)"))
        .cast("string")
        .cast("double")
        .alias("sq"),
        F.min("e").alias("min_v"),
        F.max("e").alias("max_v"),
    )
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    return st.select(
        "dim",
        F.round(F.col("s") / F.col("n"), 9).alias("mean"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), var)), 9).alias("std"),
        "min_v",
        "max_v",
    ).orderBy("dim")


def q_embedding_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the first 8 embedding
    dimensions: [dim_i, dim_j, n, r] for i < j (28 pairs) -- the
    feature-redundancy screen run before whitening/PCA decisions,
    extending embedding_dim_stats' per-dim moments to CROSS moments.
    Determinism: float->double widening is exact, each product is
    rounded 9dp and summed as DECIMAL(20,9) (the dim_stats recipe,
    order-independent), the five sufficient statistics are
    string-routed doubles, and r is one fixed-shape IEEE expression
    (num / sqrt(varx * vary)) on identical inputs. Shapes: one
    posexplode restricted to dims < 8, a vec_id self-join (8 rows x
    8 rows per vector), one partial-agg'd groupBy to the 28-pair
    grain."""
    ex = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "e"
            ),
        )
        .filter(F.col("dim") < 8)
    )
    a = ex.select(
        "vec_id", F.col("dim").alias("dim_i"), F.col("e").alias("xi")
    )
    b = ex.select(
        "vec_id", F.col("dim").alias("dim_j"), F.col("e").alias("xj")
    )
    pairs = a.join(b, "vec_id").filter(F.col("dim_i") < F.col("dim_j"))

    def dsum(c):
        return (
            F.sum(F.round(c, 9).cast("decimal(20,9)"))
            .cast("string")
            .cast("double")
        )

    st = pairs.groupBy("dim_i", "dim_j").agg(
        F.count("*").alias("n"),
        dsum(F.col("xi")).alias("sx"),
        dsum(F.col("xj")).alias("sy"),
        dsum(F.col("xi") * F.col("xj")).alias("sxy"),
        dsum(F.col("xi") * F.col("xi")).alias("sxx"),
        dsum(F.col("xj") * F.col("xj")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return st.select(
        "dim_i",
        "dim_j",
        "n",
        F.round(num / F.sqrt(varx * vary), 9).alias("r"),
    ).orderBy("dim_i", "dim_j")


def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user: the
    day-grain gaps-and-islands (distinct active days; island anchor =
    day minus its per-user rank, constant exactly on consecutive
    runs). [user_id, n_active_days, longest_streak]. One user-keyed
    shuffle reused by the rank window and both aggregates."""
    from pyspark.sql import Window

    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    runs = islands.groupBy("user_id", "anchor").agg(
        F.count("*").alias("run_len")
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.sum("run_len").cast("long").alias("n_active_days"),
            F.max("run_len").alias("longest_streak"),
        )
        .orderBy(F.desc("longest_streak"), F.asc("user_id"))
    )


def q_funnel_strict_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ORDERED funnel: signup -> first view strictly after ->
    first purchase strictly after that, with the purchase inside 7
    days of the signup. [stage, n_users, rate] where rate converts
    from the previous stage. Unlike signup_funnel's two-milestone
    form, each stage anchors on the PREVIOUS stage's first-qualifying
    timestamp: one user-keyed conditional min per stage, chained by
    user-keyed joins -- no event self-join, no window over the full
    stream; counts are 1-row aggregates broadcast into the 3-row
    report."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s.agg(F.count("*").alias("n1"))
    n2 = v.agg(F.count("*").alias("n2"))
    n3 = p.agg(F.count("*").alias("n3"))
    base = F.broadcast(n1).crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))
    return base.selectExpr(
        """stack(3,
           '1_signup', n1, CAST(1.0 AS DOUBLE),
           '2_view_after_signup', n2, n2 / n1,
           '3_purchase_within_7d', n3, n3 / n2
        ) AS (stage, n_users, rate)"""
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: [event_type, next_type, n_transitions, p] where p =
    P(next | current). One lead() window keyed on user (the
    sessionize shuffle, reused shape) + two tiny type-pair
    aggregates; the user-behavior model every funnel/anomaly
    analysis starts from. p is exact-integer division -> identical
    doubles both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    nxt = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    c = nxt.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n_transitions")
    )
    tot = c.groupBy("event_type").agg(F.sum("n_transitions").alias("t"))
    return (
        c.join(tot, "event_type")
        .select(
            "event_type",
            "next_type",
            "n_transitions",
            (F.col("n_transitions") / F.col("t")).alias("p"),
        )
        .orderBy("event_type", "next_type")
    )


def q_event_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state transition-entropy of the first-order Markov chain
    over per-user event sequences (the event_transitions matrix,
    reduced): H(state) = -sum_next p*ln(p) in nats -- how predictable
    a user's next action is given the current one (uniform next-state
    = max entropy; funnel-like flows = near 0). One lead() window
    (the sessionize shuffle), two type-pair aggregates; each entropy
    term rides as round(.,9) DECIMAL so the sum is order-independent
    (the doc_perplexity recipe) and is string-routed back to double.
    p itself is exact-integer division -> identical doubles both
    engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    nxt = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    c = nxt.groupBy("event_type", "next_type").agg(
        F.count("*").alias("_n")
    )
    tot = c.groupBy("event_type").agg(
        F.sum("_n").alias("_t"), F.count("*").alias("n_next_types")
    )
    p = F.col("_n") / F.col("_t")
    term = F.round(-(p * F.log(p)), 9).cast("decimal(12,9)")
    return (
        c.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("_t").alias("n_transitions"),
            F.max("n_next_types").alias("n_next_types"),
            F.sum(term).cast("string").cast("double").alias("entropy_nats"),
        )
        .orderBy("event_type")
    )


def q_purchase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the bipartite purchase graph
    (operators/hits.py): HITS_ITERS max-normalized rounds, decimal-summed
    contributions (pagerank recipe), [node_type, node_key, score].
    The oracle unrolls the HITS_ITERS rounds as MATERIALIZED CTEs."""
    from ..operators.hits import hits_scores

    return hits_scores(spark, sf_dir)


def _hits_ctes() -> str:
    """Unrolled max-normalized HITS oracle (see operators/hits.py)."""
    parts = [
        """
  WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
  h0 AS MATERIALIZED (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM e)"""
    ]
    for i in range(1, HITS_ITERS + 1):
        parts.append(
            f""",
  ar{i} AS MATERIALIZED (
    SELECT s, CAST(CAST(sum(CAST(round(h, 9) AS DECIMAL(20,9))) AS VARCHAR) AS DOUBLE) AS ar
    FROM e JOIN h{i-1} USING (c) GROUP BY s),
  a{i} AS MATERIALIZED (
    SELECT s, ar / (SELECT max(ar) FROM ar{i}) AS a FROM ar{i}),
  hr{i} AS MATERIALIZED (
    SELECT c, CAST(CAST(sum(CAST(round(a, 9) AS DECIMAL(20,9))) AS VARCHAR) AS DOUBLE) AS hr
    FROM e JOIN a{i} USING (s) GROUP BY c),
  h{i} AS MATERIALIZED (
    SELECT c, hr / (SELECT max(hr) FROM hr{i}) AS h FROM hr{i})"""
        )
    parts.append(
        f"""
  SELECT 'hub' AS node_type, c AS node_key, round(h, 9) AS score FROM h{HITS_ITERS}
  UNION ALL
  SELECT 'authority', s, round(a, 9) FROM a{HITS_ITERS}"""
    )
    return "".join(parts)


def q_cosupply_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KCORE_K-core of the thresholded co-supply graph
    (operators/graph_motifs.kcore): iterative peeling to fixpoint,
    loud on non-convergence. EAGER (each round pins + counts). The
    oracle unrolls KCORE_ORACLE_ROUNDS peeling rounds as CTEs — more than any tested
    SF needs (4 at sf0.01); extra rounds are no-ops at fixpoint, so
    the hash match proves the loop's stopping rule exact."""
    from ..operators.graph_motifs import cosupply_kcore

    return cosupply_kcore(spark, sf_dir)


KCORE_ORACLE_ROUNDS = 8


def _kcore_ctes() -> str:
    """Unrolled peeling oracle over the shared co-supply edge CTEs."""
    parts = [
        f"""
  WITH {_SQL_COSUPPLY},
  e0 AS (SELECT s1, s2 FROM w, t WHERE c >= thr)"""
    ]
    for i in range(1, KCORE_ORACLE_ROUNDS + 1):
        # MATERIALIZED: each round references its predecessor 3x; an
        # inlined chain re-expands the base scan exponentially (4^8
        # lineitem reads blew the fd limit), a materialized one is
        # linear in rounds
        parts.append(
            f""",
  d{i} AS MATERIALIZED (SELECT v, count(*) AS dg FROM (SELECT s1 AS v FROM e{i-1}
           UNION ALL SELECT s2 FROM e{i-1}) GROUP BY 1),
  e{i} AS MATERIALIZED (SELECT s1, s2 FROM e{i-1}
           WHERE s1 IN (SELECT v FROM d{i} WHERE dg >= {KCORE_K})
             AND s2 IN (SELECT v FROM d{i} WHERE dg >= {KCORE_K}))"""
        )
    parts.append(
        f"""
  SELECT v AS suppkey, count(*) AS core_deg
  FROM (SELECT s1 AS v FROM e{KCORE_ORACLE_ROUNDS} UNION ALL SELECT s2 FROM e{KCORE_ORACLE_ROUNDS})
  GROUP BY 1"""
    )
    return "".join(parts)


REACH_NATION = "NATION_19"


def _reach_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[suppkey] of every supplier in REACH_NATION."""
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == REACH_NATION)
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey").alias("suppkey"))
    )


def q_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius reachability: BFS hop distance over the co-supply
    graph from every supplier in one nation (the risk-contagion
    question: if NATION_19's suppliers fail, which suppliers are 1, 2,
    3 co-supply hops away?). operators/graph_motifs.bfs_hops --
    synchronous frontier BFS, node-sized joins, per-round
    materialization. EAGER (each round pins). Oracle unrolls the 3
    rounds as materialized CTEs."""
    from ..operators.graph_motifs import bfs_hops, cosupply_edges

    edges = cosupply_edges(spark, sf_dir)
    return bfs_hops(edges, _reach_sources(spark, sf_dir))


def _bfs_ctes() -> str:
    """Unrolled frontier-BFS oracle over the shared co-supply edge
    CTEs (sources = REACH_NATION's suppliers)."""
    parts = [
        f"""
  WITH {_SQL_COSUPPLY},
  e AS MATERIALIZED (SELECT s1, s2 FROM w, t WHERE c >= thr),
  und AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
                       UNION ALL SELECT s2, s1 FROM e),
  v0 AS MATERIALIZED (SELECT DISTINCT s_suppkey AS suppkey
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{REACH_NATION}'),
  seen0 AS MATERIALIZED (SELECT suppkey FROM v0)"""
    ]
    for i in range(1, REACH_HOPS + 1):
        parts.append(
            f""",
  f{i} AS MATERIALIZED (SELECT DISTINCT und.v AS suppkey
    FROM und JOIN {"v0" if i == 1 else f"f{i-1}"} fr ON und.u = fr.suppkey
    WHERE und.v NOT IN (SELECT suppkey FROM seen{i-1})),
  seen{i} AS MATERIALIZED (SELECT suppkey FROM seen{i-1}
    UNION ALL SELECT suppkey FROM f{i})"""
        )
    tail = "\n  UNION ALL\n".join(
        [f"  SELECT suppkey, CAST(0 AS BIGINT) AS hops FROM v0"]
        + [
            f"  SELECT suppkey, CAST({i} AS BIGINT) FROM f{i}"
            for i in range(1, REACH_HOPS + 1)
        ]
    )
    return "".join(parts) + "\n" + tail


def q_supplier_cheapest_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted blast radius (graph_motifs.sssp_min_cost): cheapest
    <= 3-hop Bellman-Ford path cost from NATION_19's suppliers over
    the co-supply graph, edge cost = (max co-supply weight + 1) - c
    (strongest tie = cheapest hop). All-integer min-plus -- exact;
    the oracle unrolls the 3 relaxation rounds as MATERIALIZED
    CTEs."""
    from ..operators.graph_motifs import cosupply_cheapest_reach

    return cosupply_cheapest_reach(spark, sf_dir, _reach_sources(spark, sf_dir))


def _sssp_ctes() -> str:
    """Unrolled Bellman-Ford oracle over the weighted co-supply CTEs
    (sources = REACH_NATION's suppliers at cost 0)."""
    parts = [
        f"""
  WITH {_SQL_COSUPPLY},
  e AS MATERIALIZED (SELECT s1, s2, c FROM w, t WHERE c >= thr),
  mx AS (SELECT max(c) + 1 AS mx FROM e),
  we AS MATERIALIZED (SELECT s1, s2, CAST(mx.mx - c AS BIGINT) AS wt
                      FROM e, mx),
  und AS MATERIALIZED (SELECT s1 AS u, s2 AS v, wt FROM we
                       UNION ALL SELECT s2, s1, wt FROM we),
  d0 AS MATERIALIZED (SELECT DISTINCT s_suppkey AS suppkey,
                             CAST(0 AS BIGINT) AS mc
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{REACH_NATION}')"""
    ]
    for i in range(1, REACH_HOPS + 1):
        parts.append(
            f""",
  d{i} AS MATERIALIZED (
    SELECT suppkey, CAST(min(mc) AS BIGINT) AS mc FROM (
      SELECT suppkey, mc FROM d{i-1}
      UNION ALL
      SELECT und.v, d{i-1}.mc + und.wt FROM und
      JOIN d{i-1} ON und.u = d{i-1}.suppkey)
    GROUP BY 1)"""
        )
    parts.append(
        f"""
  SELECT suppkey, mc AS min_cost FROM d{REACH_HOPS}"""
    )
    return "".join(parts)


def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori pair stage with association metrics
    (operators/basket.py): top part pairs by lift among pairs
    co-ordered >= 2 times; support pruning applied before any metric
    join. All ratios are exact-integer inputs into double division,
    so the lift ordering is engine-identical."""
    from ..operators.basket import market_basket_pairs

    return market_basket_pairs(spark, sf_dir)


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules (operators/basket.association_rules):
    top-50 part rules by lift with support/confidence/lift/leverage/
    conviction; conviction is NULL for exact rules (confidence = 1),
    integer-equality guarded. The direction flip reuses the pruned
    pair aggregate -- no second pass over lineitem."""
    from ..operators.basket import association_rules

    return association_rules(spark, sf_dir)


def q_cosupply_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (operators/linkpred.py): top-20 NON-adjacent
    supplier pairs of the thresholded co-supply graph by Adamic-Adar,
    with common-neighbor count and Jaccard. Adamic-Adar is a 9dp
    decimal sum string-routed to double (order-independent); Jaccard
    is a single int/int IEEE division shipped unrounded. The oracle
    is the naive wedge-join in SQL; the hash match proves the
    anti-join + degree arithmetic exact."""
    from ..operators.linkpred import cosupply_link_prediction

    return cosupply_link_prediction(spark, sf_dir)


def q_cosupply_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB wiring of link prediction (VERDICT r6 #5): wedge
    CENTERS with degree > LINKPRED_MAX_DEGREE (256) are dropped before
    the self-join, so per-center fan-out is bounded by C(256, 2)
    regardless of hub size -- SCALING.md's link-prediction ladder
    measured one 8000-degree hub producing 32M of 40M wedges (and an
    OOM at 4M edges) in the exact form, and 11x speedup from a cap at
    1M edges. Cap choice: the
    sf0.1 co-supply graph's degree floor is 134 (min/median/max =
    134/296/559), so the r6-suggested 64 empties the benched result;
    LINKPRED_MAX_DEGREE = 256 keeps the sub-median half of centers while
    still bounding a 100TB hub to 32k wedges. The oracle's wedge CTE
    reads the same constant, so the approximate-by-design path stays
    hash-checkable; `cosupply_link_prediction` remains the exact
    oracle-of-record twin."""
    from ..operators.linkpred import LINKPRED_MAX_DEGREE, cosupply_link_prediction

    return cosupply_link_prediction(spark, sf_dir, max_degree=LINKPRED_MAX_DEGREE)


def q_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC AUC (operators/evalmetrics.py) of the
    document-length score n_chars predicting lang='en' -- the
    quality-gate evaluation primitive. One row [n_pos, n_neg, u2,
    auc]; u2 = 2U stays exact-integer DECIMAL, auc is one fixed IEEE
    double chain. The oracle computes the same per-distinct-score
    aggregate form with a native window; the hash match proves the
    two-level bucketed cumulative sum exact."""
    from ..operators.evalmetrics import auc_rank_sum

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return auc_rank_sum(docs)


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (operators/evalmetrics.py) for the
    rational pseudo-probability p = n_chars / (n_chars + 300)
    predicting lang='en' (monotone in length, purely rational -- no
    transcendental, so both engines compute bit-identical p). 10
    bins; mean_p via 9dp-decimal accumulation string-routed to
    double."""
    from ..operators.evalmetrics import calibration_bins

    docs = load_table(spark, sf_dir, "documents")
    p = F.col("n_chars").cast("double") / (
        F.col("n_chars") + F.lit(300)
    ).cast("double")
    return calibration_bins(docs, p, (F.col("lang") == "en").cast("int"))


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact directed set-containment join at C >= 9/10
    (operators/setjoin.containment_prefix_pairs): the asymmetric
    near-dup Jaccard cannot see -- a chunk quoted whole inside a
    larger document. Probe-side-only prefix filter (rarest tokens),
    integer threshold predicate. The oracle is the NAIVE all-pairs
    SQL; the hash match proves the prefix filter lossless."""
    from ..operators.setjoin import containment_prefix_pairs

    return containment_prefix_pairs(load_table(spark, sf_dir, "documents"))


def q_lang_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each language's unigram
    distribution: [lang, n_tokens, vocab, entropy_bits]. The
    compressibility/diversity gauge of a corpus slice (entropy is
    the lower bound on bits-per-token any tokenizer can reach). One
    tokenize pass (the shared with_token_array barrier), p = one
    int/int division per distinct (lang, word), -p*log2(p) rounded
    9dp into the order-independent decimal sum."""
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select("lang", F.explode("toks").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"), F.count("*").alias("vocab")
    )
    p = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    term = F.round(-(p * F.log2(p)), 9).cast("decimal(12,9)")
    return (
        cnt.join(F.broadcast(tot), "lang")
        .groupBy("lang", "n_tokens", "vocab")
        .agg(
            F.sum(term).cast("string").cast("double").alias("entropy_bits")
        )
        .orderBy("lang")
    )


def q_lang_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per language: [lang, n_tokens,
    n_types, n_hapax, ttr, hapax_share] -- type-token ratio and the
    hapax-legomena share (words seen exactly once), the classic
    corpus-linguistics vocabulary-growth gauges and the frequency-
    spectrum companions to lang_token_entropy (entropy summarizes
    the whole distribution; TTR/hapax read its head and tail). All
    counts are exact integers off the SAME one-tokenize-pass shape
    as the entropy query; the two ratios are single int/int IEEE
    divisions, identical cross-engine. Output grain |langs|."""
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select("lang", F.explode("toks").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    return (
        cnt.groupBy("lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.col("n_types").cast("double") / F.col("n_tokens").cast("double")).alias(
                "ttr"
            ),
            (F.col("n_hapax").cast("double") / F.col("n_types").cast("double")).alias(
                "hapax_share"
            ),
        )
        .orderBy("lang")
    )


K_ANON = 10


def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier (nation, market segment, balance rounded to
    1000): one row [k, n_groups, n_violating_groups, rows_at_risk,
    min_group_size] -- the privacy gate a training-data release runs
    before shipping joined user attributes. Pure integer aggregate
    over quasi-identifier groups (one partial-agg'd shuffle on the
    quasi key); rows_at_risk = rows in groups smaller than k, the
    re-identifiable population."""
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("bal_k"),
    ).agg(F.count("*").alias("g"))
    return groups.agg(
        F.lit(K_ANON).alias("k"),
        F.count("*").alias("n_groups"),
        F.sum((F.col("g") < K_ANON).cast("long")).alias("n_violating_groups"),
        F.sum(F.when(F.col("g") < K_ANON, F.col("g")).otherwise(F.lit(0))).alias(
            "rows_at_risk"
        ),
        F.min("g").alias("min_group_size"),
    )


def q_parts_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: rank parts by revenue
    desc, class A = parts up to 80% cumulative revenue share, B to
    95%, C the tail; one row per class [abc_class, n_parts, revenue,
    revenue_share]. Exactness: per-item revenue in integer MICROS
    (the scale-6 decimal product x 1e6 is integral), the cumulative
    sum rides the two-level bucketed machinery (operators/ranking.py
    -- no part row crosses SinglePartition), and the 80/95 boundaries
    are INTEGER comparisons (5*cum <= 4*tot, 20*cum <= 19*tot): no
    division decides a class. ANSI mode makes a 2^63 overflow of the
    micro sums loud, not silent."""
    from ..operators.ranking import bucket_offsets, bucketize_by_key

    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    pr = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum((rev * F.lit(1_000_000)).cast("long")).alias("micros")
    )
    bk = bucketize_by_key(pr, "micros", ascending=False)
    offs = bucket_offsets(bk, weight=F.col("micros"))
    w = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("_ak"), F.asc("partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        bk.withColumn("_lc", F.sum("micros").over(w))
        .join(F.broadcast(offs), "_bkt")
        .select(
            "partkey",
            "micros",
            (F.col("_off") + F.col("_lc")).alias("cm"),
            F.col("_tot").alias("tot"),
        )
    )
    cls = F.when(F.lit(5) * F.col("cm") <= F.lit(4) * F.col("tot"), "A").when(
        F.lit(20) * F.col("cm") <= F.lit(19) * F.col("tot"), "B"
    ).otherwise("C")
    return (
        cum.groupBy(cls.alias("abc_class"))
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("micros").alias("_mi"),
            F.max("tot").alias("_tot"),
        )
        .select(
            "abc_class",
            "n_parts",
            (F.col("_mi").cast("double") / F.lit(1_000_000.0)).alias("revenue"),
            (F.col("_mi").cast("double") / F.col("_tot").cast("double")).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc_class")
    )


def q_customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer spend concentration: one
    row [n_customers, total_cents, gini], G = (2*S - (n+1)*T) /
    (n*T) with S = sum of rank_i * spend_i (ranks ascending), all in
    exact integer/decimal arithmetic (rank x cents products as
    DECIMAL(38,0), the score_auc recipe) -- gini is one division of
    the two routed exact numbers. Ranks come from the two-level
    global row_number (operators/ranking.py): no customer row
    crosses SinglePartition. Ties in spend are rank-order-invariant
    for S (consecutive ranks times equal spend), tie-broken by
    custkey for determinism anyway."""
    from ..operators.ranking import with_global_row_number

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
                .cast("long")
            ).alias("cents")
        )
    )
    ranked = with_global_row_number(
        spend, "cents", tiebreaks=(F.asc("custkey"),), out_col="rn"
    )
    # 2*rn folded into the per-row term: a later 2 * S would need
    # precision 57 > 38; (2*rn) x cents stays dec(18)+dec(19) -> 38
    s2_term = (F.lit(2) * F.col("rn")).cast("decimal(18,0)") * F.col(
        "cents"
    ).cast("decimal(19,0)")
    agg = ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(s2_term).cast("decimal(38,0)").alias("_s2"),
    )
    num = (
        F.col("_s2")
        - (F.col("n_customers") + F.lit(1)).cast("decimal(18,0)")
        * F.col("total_cents").cast("decimal(19,0)")
    )
    den = F.col("n_customers").cast("decimal(18,0)") * F.col(
        "total_cents"
    ).cast("decimal(19,0)")
    return agg.select(
        "n_customers",
        "total_cents",
        (
            num.cast("string").cast("double")
            / den.cast("string").cast("double")
        ).alias("gini"),
    )


def q_doc_length_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across languages:
    each doc's n_chars is replaced by the GLOBAL length at the same
    quantile position -- rank r of m within its lang maps to the
    global order statistic at k = ceil(r*N/m) -- so every language's
    length distribution becomes the corpus-wide one while each doc
    keeps its within-language rank (the cross-batch feature
    alignment standard in ML preprocessing). Exactness: SELECTION,
    never interpolation -- k is integer ceiling arithmetic
    ((r*N + m - 1) div m, ANSI raises if r*N ever exceeds 2^63
    rather than wrapping), and the normalized value is a length that
    EXISTS in the corpus. Ranks break ties by doc_id on both sides,
    so the map is deterministic. Shapes: per-lang ranks are one
    lang-keyed window; the global rank table rides the two-level
    bucketed machinery (operators/ranking.py -- no doc row crosses
    SinglePartition); the final attach is one equi-join on k."""
    from ..operators.ranking import with_global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wl = Window.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    wm = Window.partitionBy("lang")
    local = docs.withColumn("_r", F.row_number().over(wl)).withColumn(
        "_m", F.count("*").over(wm)
    )
    glob = with_global_row_number(
        docs.select(F.col("doc_id").alias("_gid"), F.col("n_chars").alias("_gv")),
        "_gv",
        tiebreaks=(F.asc("_gid"),),
        out_col="_k",
        total_col="_N",
    ).select("_k", F.col("_gv").alias("norm_n_chars"), "_N")
    n_total = glob.select(F.max("_N").alias("_N"))
    keyed = local.crossJoin(F.broadcast(n_total)).withColumn(
        "_k",
        F.expr("(_r * _N + _m - 1) div _m"),
    )
    return (
        keyed.join(glob.drop("_N"), "_k")
        .select("doc_id", "lang", "n_chars", "norm_n_chars")
        .orderBy("doc_id")
    )


def q_customer_spend_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend: one row
    [n_customers, total_cents, theil], T = sum_i s_i * ln(s_i * n)
    with s_i = spend_i / total -- the entropy-based inequality
    measure that DECOMPOSES across subgroups (unlike
    customer_spend_gini), completing the concentration family
    gini / lorenz / theil. Determinism: s_i and s_i*n are divisions
    and products of exact longs (identical doubles cross-engine);
    the one transcendental ln is rounded 9dp per row, the per-row
    term again 9dp, and the terms sum EXACTLY as DECIMAL(20,9)
    (the lang_token_entropy recipe) -- string-routed out. One
    partial-agg'd pass to customer grain, a broadcast 1-row totals
    join, one final partial-agg'd sum. Zero-spend rows are excluded
    by construction (x ln x -> 0)."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
                .cast("long")
            ).alias("cents")
        )
    )
    tot = spend.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
    )
    cd = F.col("cents").cast("double")
    nd = F.col("n_customers").cast("double")
    td = F.col("total_cents").cast("double")
    lr = F.round(F.log(cd * nd / td), 9)
    term9 = F.round((cd / td) * lr, 9).cast("decimal(20,9)")
    return (
        spend.filter(F.col("cents") > 0)
        .crossJoin(F.broadcast(tot))
        .groupBy("n_customers", "total_cents")
        .agg(
            F.sum(term9).cast("string").cast("double").alias("theil")
        )
        .select("n_customers", "total_cents", "theil")
    )


def q_customer_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D skyline (Pareto frontier) of customers over (total spend,
    order count, recency): no customer in the answer is beaten on all
    three axes by another (operators/skyline.py, grid-pruned exact
    form). All dims are exact integers (cents, counts, epoch days) so
    dominance is engine-independent; the quadratic NOT-EXISTS oracle
    doubles as the proof that grid pruning is lossless."""
    from ..operators.skyline import skyline

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
                .cast("long")
            ).alias("spend_cents"),
            F.count("*").alias("n_orders"),
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.lit("1970-01-01").cast("date"),
            ).cast("long").alias("last_day"),
        )
    )
    return skyline(agg, ["spend_cents", "n_orders", "last_day"]).orderBy(
        F.desc("spend_cents"), "custkey"
    )


def q_part_sales_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of parts over (units shipped, revenue): the
    sort/staircase form (operators/skyline.skyline_2d) -- two window
    functions over the part-grain aggregate, zero self-joins. The
    windowed pass runs at part grain (already reduced rows); the
    grid-pruned `skyline` is the scale path when even the aggregate
    grain is too large for a global sort."""
    from ..operators.skyline import skyline_2d

    agg = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,0)"))
            .cast("long").alias("total_qty"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * F.lit(100))
                .cast("long")
            ).alias("revenue_cents"),
        )
    )
    return skyline_2d(agg, "total_qty", "revenue_cents").orderBy(
        F.desc("total_qty"), "partkey"
    )


def q_cosupply_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per supplier in the co-supply
    graph (graph_motifs.clustering_coefficients): triangle side
    reuses the degree-oriented O(E^1.5) enumeration, coefficient is
    one long/long IEEE division shipped unrounded."""
    from ..operators.graph_motifs import clustering_coefficients, cosupply_edges

    return clustering_coefficients(cosupply_edges(spark, sf_dir))


def q_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation monthly-revenue trend: closed-form OLS slope /
    intercept / r^2 over (month index, revenue micros) via
    operators/regression.ols_fit -- one aggregation pass computes the
    sufficient statistics for every nation at once; no per-group
    iteration. Revenue lands as exact integer micros (per-row
    decimal product x 1e6), month index is integral, so all six OLS
    sums are exact and both engines divide identical routed doubles.
    The nation dim is broadcast; the orders->customer join flows into
    the one groupBy shuffle."""
    from ..operators.regression import ols_fit

    monthly = (
        _customer_nation_lines(spark, sf_dir, load_table(spark, sf_dir, "orders"))
        .groupBy(F.col("n_name").alias("nation"), _order_month().alias("month_idx"))
        .agg(F.sum(_rev_micros()).cast("decimal(25,0)").alias("rev_micros"))
    )
    return ols_fit(monthly, ["nation"], "month_idx", "rev_micros").orderBy(
        "nation"
    )


ZIPF_TOP_N = 500


def q_zipf_word_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope of ln(count) on
    ln(rank) over the top-ZIPF_TOP_N words -- the standard log-log diagnostic
    (slope near -1 on natural text). Ranks come from a window over
    the LIMITed top-N (reduced rows -- the full vocab never crosses a
    global sort); ln terms are rounded to 9dp and summed as DECIMAL
    (order-independent), and slope/intercept/r2 are IEEE expressions
    over the string-routed exact sums, identical in both engines."""
    wc = q_wordcount(spark, sf_dir)
    top = wc.orderBy(F.desc("cnt"), "word").limit(ZIPF_TOP_N)
    w = Window.orderBy(F.desc("cnt"), "word")
    pts = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 9)
        .cast("decimal(12,9)").alias("lx"),
        F.round(F.log(F.col("cnt").cast("double")), 9)
        .cast("decimal(12,9)").alias("ly"),
    )
    agg = pts.agg(
        F.count("*").alias("n_words"),
        F.sum("lx").cast("decimal(22,9)").alias("_sx"),
        F.sum("ly").cast("decimal(22,9)").alias("_sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("decimal(32,18)").alias("_sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("decimal(32,18)").alias("_sxx"),
        F.sum(F.col("ly") * F.col("ly")).cast("decimal(32,18)").alias("_syy"),
    )

    def sdbl(c):
        return c.cast("string").cast("double")

    n = F.col("n_words").cast("double")
    sx, sy = sdbl(F.col("_sx")), sdbl(F.col("_sy"))
    sxy, sxx, syy = sdbl(F.col("_sxy")), sdbl(F.col("_sxx")), sdbl(F.col("_syy"))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    return agg.select(
        "n_words",
        (num / den).alias("slope"),
        ((sy * sxx - sx * sxy) / den).alias("intercept"),
        (num * num / (den * (n * syy - sy * sy))).alias("r2"),
    )


HEAPS_BUCKETS = 256


def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: OLS of ln(cumulative
    distinct types) on ln(cumulative tokens) over the corpus in
    doc_id order -- V = K * n^beta, the standard sublinear
    vocabulary-growth diagnostic (beta ~ 0.4-0.6 on natural text)
    and zipf_word_fit's companion. One row [n_docs, total_tokens,
    total_types, heaps_beta, heaps_ln_k, r2].

    Scale shape: tokens shuffle once on word for first-occurrence
    docs (min(doc_id) per type -- the dedup_exact shuffle), once on
    doc_id for per-doc counts; the cumulative curve uses the
    two-level bucketed cumsum (ranking.bucket_offsets) so NO
    doc-grain row crosses a single partition -- the same machinery
    score_auc rides. ln terms are 9dp-decimal (order-independent
    sums, string-routed) and the fit is the zipf IEEE chain."""
    from ..operators.normalize import normalized_col
    from ..operators.ranking import bucket_offsets, bucketize_by_key
    from ..operators.tokenize import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(tokens_col(normalized_col(F.col("text")))).alias("word"),
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("tok_n"))
    firsts = toks.groupBy("word").agg(F.min("doc_id").alias("doc_id"))
    newt = firsts.groupBy("doc_id").agg(F.count("*").alias("types_new"))
    base = per_doc.join(newt, "doc_id", "left").select(
        "doc_id",
        "tok_n",
        F.coalesce("types_new", F.lit(0)).alias("types_new"),
    )
    bk = bucketize_by_key(base, "doc_id", n_buckets=HEAPS_BUCKETS)
    off_t = bucket_offsets(bk, weight=F.col("tok_n")).select(
        "_bkt", F.col("_off").alias("_offt")
    )
    off_v = bucket_offsets(bk, weight=F.col("types_new")).select(
        "_bkt", F.col("_off").alias("_offv")
    )
    w = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("_ak"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        bk.withColumn("_ctl", F.sum("tok_n").over(w))
        .withColumn("_cvl", F.sum("types_new").over(w))
        .join(F.broadcast(off_t), "_bkt")
        .join(F.broadcast(off_v), "_bkt")
        .select(
            (F.col("_offt") + F.col("_ctl")).alias("ct"),
            (F.col("_offv") + F.col("_cvl")).alias("cv"),
        )
    )
    pts = cum.select(
        "ct",
        "cv",
        F.round(F.log(F.col("ct").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("lx"),
        F.round(F.log(F.col("cv").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("ly"),
    )
    agg = pts.agg(
        F.count("*").alias("n_docs"),
        F.max("ct").alias("total_tokens"),
        F.max("cv").alias("total_types"),
        F.sum("lx").cast("decimal(22,9)").alias("_sx"),
        F.sum("ly").cast("decimal(22,9)").alias("_sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("decimal(32,18)").alias("_sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("decimal(32,18)").alias("_sxx"),
        F.sum(F.col("ly") * F.col("ly")).cast("decimal(32,18)").alias("_syy"),
    )

    def sdbl(c):
        return c.cast("string").cast("double")

    n = F.col("n_docs").cast("double")
    sx, sy = sdbl(F.col("_sx")), sdbl(F.col("_sy"))
    sxy, sxx, syy = sdbl(F.col("_sxy")), sdbl(F.col("_sxx")), sdbl(F.col("_syy"))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    return agg.select(
        "n_docs",
        "total_tokens",
        "total_types",
        (num / den).alias("heaps_beta"),
        ((sy * sxx - sx * sxy) / den).alias("heaps_ln_k"),
        (num * num / (den * (n * syy - sy * sy))).alias("r2"),
    )


NOVELTY_N = 4


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word NOVELTY_N-grams never seen in any earlier document (doc_id order) --
    the within-corpus contamination/memorization screen a training
    pipeline runs before trusting "new" data (low novelty = the doc
    is stitched from text already in the corpus; the span-level
    sibling of duplicate_spans). [doc_id, n_grams, n_seen_before,
    novelty], docs with >= n tokens only.

    Scale shape: gram construction is a JVM-side HOF over the token
    array (no Python); one shuffle on the gram key for
    first-occurrence (min doc_id), one gram-keyed join back, one
    doc-grain aggregate. novelty = exact-int difference over
    exact-int count -> one IEEE division."""
    from ..operators.normalize import normalized_col
    from ..operators.tokenize import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", tokens_col(normalized_col(F.col("text"))).alias("t")
    ).filter(F.size("t") >= NOVELTY_N)
    grams = sized.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {NOVELTY_N - 1}),"
                f" i -> concat_ws(' ', slice(t, i, {NOVELTY_N})))"
            )
        ).alias("gram"),
    ).distinct()
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("_fd"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("_fd") < F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_seen_before"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen_before",
            (
                (F.col("n_grams") - F.col("n_seen_before")).cast("double")
                / F.col("n_grams")
            ).alias("novelty"),
        )
        # no presentation orderBy: a corpus-sized output would pay a
        # full range exchange for nothing (gate hash is order-free)
    )


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily-count autocorrelogram per event type at lags 1..ACF_MAX_LAG
    (operators/acf.py): counts land on a dense zero-filled day spine
    (types x days -- metadata-sized), then the mean-cleared integer
    form makes every numerator/denominator an exact decimal; one IEEE
    division per (type, lag). The spine guarantees the complete-series
    contract the ACF formula assumes."""
    from ..operators.acf import autocorrelation

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("y"))
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("_d0"), F.max(F.to_date("ts")).alias("_d1")
    )
    days = bounds.select(
        F.explode(F.sequence(F.col("_d0"), F.col("_d1"))).alias("day"), "_d0"
    )
    types = ev.select("event_type").distinct()
    series = (
        types.crossJoin(F.broadcast(days))
        .join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.datediff("day", "_d0").cast("long").alias("t"),
            F.coalesce("y", F.lit(0)).cast("long").alias("y"),
        )
    )
    return autocorrelation(series, "event_type", "t", "y")


def q_user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-churn survival table
    (operators/survival.py): lifetimes = first->last active day per
    user, censored within 7 days of the corpus edge; the curve ships
    in log form (9dp-rounded ln factors summed as DECIMAL) -- the one
    unguarded cross-engine exp() is deliberately left to callers."""
    from ..operators.survival import kaplan_meier, user_lifetimes

    return kaplan_meier(user_lifetimes(load_table(spark, sf_dir, "events")))


def q_user_hazard_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative churn hazard
    (operators/survival.nelson_aalen) over the SAME right-censored
    user lifetimes as the KM query: H(t) = sum d/n over event times
    <= t -- the hazard-rate companion (-ln KM ~ H). Every increment
    is one long/long IEEE division, 12dp-decimal cumulative sum,
    no transcendental anywhere; duration-grain windows only."""
    from ..operators.survival import nelson_aalen, user_lifetimes

    return nelson_aalen(user_lifetimes(load_table(spark, sf_dir, "events")))


def q_score_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware average precision
    (operators/evalmetrics.average_precision) of the document-length
    score n_chars predicting lang='en' -- the PR-curve companion of
    score_auc (AP weights the head of the ranking; AUC weights every
    pair). Block convention: rows tied at a score are ONE operating
    point, so the metric is deterministic without any within-tie
    order. One row [n_pos, n_total, ap]; descending cumulatives ride
    the two-level bucketed cumsum."""
    from ..operators.evalmetrics import average_precision

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return average_precision(docs)


def q_score_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain/lift deciles (operators/evalmetrics.lift_table) of the
    n_chars score predicting lang='en': [decile, n_rows, n_pos,
    resp_rate, lift, cum_capture] with decile 0 the highest-scored
    slice -- the campaign-targeting readout of the same ranking
    score_auc grades. Deciles are block-assigned by integer division
    of the strictly-above count (ties never split; no per-row global
    rank anywhere)."""
    from ..operators.evalmetrics import lift_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return lift_table(docs)


CHI2_TOP_K = 10
CHI2_MIN_COUNT = 5


def q_term_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k chi-square keyword terms per language -- the classic
    feature-selection / keyness screen (Manning & Schuetze ch. 5)
    over token-instance contingency tables: for each (lang, word),
    a = count(w in lang), b = count(w elsewhere), with lang/word
    marginals lt/wt and corpus total N,

        chi2 = N * (a*d - b*c)^2 / (wt * (N-wt) * lt * (N-lt))

    -- every input an EXACT integer count, the statistic one fixed
    IEEE chain, identical cross-engine. [lang, rank, word, n_in_lang,
    chi2] for the CHI2_TOP_K terms per language (chi2 desc, word asc
    tie-break), candidates pruned to a >= CHI2_MIN_COUNT.

    Scale shape: one tokenize pass to (lang, word) grain; word
    marginals are a vocab-grain groupBy joined back on word; lang
    marginals broadcast. The final per-lang top-k window sorts
    vocab-grain rows partitioned by lang -- bounded by vocabulary,
    never the corpus."""
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
        cnt.filter(F.col("a") >= CHI2_MIN_COUNT)
        .join(F.broadcast(ltot), "lang")
        .join(wtot, "w")
        .crossJoin(F.broadcast(ntot))
    )
    ad = F.col("a").cast("double") * (
        F.col("nn") - F.col("lt") - (F.col("wt") - F.col("a"))
    ).cast("double")
    bc = (F.col("wt") - F.col("a")).cast("double") * (
        F.col("lt") - F.col("a")
    ).cast("double")
    diff = ad - bc
    chi2 = (
        F.col("nn").cast("double")
        * (diff * diff)
        / (
            F.col("wt").cast("double")
            * (F.col("nn") - F.col("wt")).cast("double")
            * F.col("lt").cast("double")
            * (F.col("nn") - F.col("lt")).cast("double")
        )
    )
    ranked = j.withColumn("chi2", chi2).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("w"))
        ),
    )
    return (
        ranked.filter(F.col("rank") <= CHI2_TOP_K)
        .select(
            "lang",
            F.col("rank").cast("long").alias("rank"),
            F.col("w").alias("word"),
            F.col("a").alias("n_in_lang"),
            "chi2",
        )
        .orderBy("lang", "rank")
    )


def q_lang_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between the unigram
    distributions of every language pair: [lang_a, lang_b, n_words,
    jsd_nats] -- the symmetric, bounded (<= ln 2) corpus-distance
    matrix behind mixture design and drift review (Lin 1991). For
    each pair, JSD = 0.5 KL(P||M) + 0.5 KL(Q||M), M = (P+Q)/2;
    absent words contribute p*ln(2)/2 via the same expression (q=0
    branch guarded to 0). Each word's contribution is one fixed IEEE
    chain rounded 12dp into an order-independent DECIMAL sum.

    Scale shape: one tokenize pass to (lang, word) grain; the pair
    matrix is |langs|^2/2 rows broadcast against it, so the working
    grain is vocab x pairs -- bounded by vocabulary times a constant,
    never corpus rows."""
    docs = with_token_array(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select("lang", F.explode("toks").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("n"))
    p = cnt.join(F.broadcast(tot), "lang").select(
        "lang", "w", (F.col("c").cast("double") / F.col("n").cast("double")).alias("p")
    )
    langs = tot.select("lang")
    pairs = langs.select(F.col("lang").alias("la")).join(
        F.broadcast(langs.select(F.col("lang").alias("lb"))),
        F.col("la") < F.col("lb"),
    )
    a = p.join(F.broadcast(pairs), F.col("lang") == F.col("la")).select(
        "la", "lb", "w", F.col("p").alias("pa")
    )
    b = p.join(F.broadcast(pairs), F.col("lang") == F.col("lb")).select(
        "la", "lb", "w", F.col("p").alias("pb")
    )
    j = (
        a.join(b, ["la", "lb", "w"], "full")
        .withColumn("pa", F.coalesce("pa", F.lit(0.0)))
        .withColumn("pb", F.coalesce("pb", F.lit(0.0)))
    )
    m = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    contrib = (
        F.when(
            F.col("pa") > 0.0,
            F.lit(0.5) * F.col("pa") * F.log(F.col("pa") / m),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("pb") > 0.0,
            F.lit(0.5) * F.col("pb") * F.log(F.col("pb") / m),
        ).otherwise(F.lit(0.0))
    )
    term = F.round(contrib, 12).cast("decimal(16,12)")
    return (
        j.groupBy(F.col("la").alias("lang_a"), F.col("lb").alias("lang_b"))
        .agg(
            F.count("*").alias("n_words"),
            F.sum(term).cast("string").cast("double").alias("jsd_nats"),
        )
        .orderBy("lang_a", "lang_b")
    )
