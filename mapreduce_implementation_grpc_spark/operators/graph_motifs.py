"""Bipartite graph motifs over the purchase graph.

The customer-supplier purchase graph (operators/pagerank.py builds
the same edges for ranking) is bipartite, so the triangle -- the unit
of clustering in ordinary graphs -- cannot exist; its bipartite
analog is the BUTTERFLY, a 2x2 biclique (two customers sharing two
suppliers). Butterfly support per customer pair is the standard
co-engagement signal (Wang et al., "Butterfly Counting in Bipartite
Networks"), and the wedge-join algorithm below is the exact
distributed form every large-scale implementation reduces to:

1. edges = distinct (custkey, suppkey) pairs -- one join + distinct;
2. wedges = edges self-joined on the SUPPLIER key with c1 < c2: each
   shared supplier contributes one wedge per customer pair;
3. butterfly support of (c1, c2) = C(w, 2) where w = wedge count =
   number of shared suppliers.

Scale shape: the self-join shuffles both sides on suppkey once;
fan-out is sum over suppliers of C(deg_s, 2), quadratic in supplier
degree. That makes degree the ONLY scale knob: `max_degree` drops
hub suppliers (a supplier selling to everyone contributes a wedge to
EVERY customer pair -- pure noise for affinity, and the classic
skew-killer), mirroring how production butterfly counters process
vertices in degree order. Dropped hubs are an explicit, documented
approximation; max_degree=None keeps the count exact (the oracle
runs this form). Within a kept supplier the C(deg, 2) pairs are
generated by one shuffle-local join, and AQE's skew split handles
residual imbalance between suppliers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize, materialize_eager
from ..sources.catalog import load_table

KCORE_K = 8  # the co-supply core's degree floor
COSUPPLY_THRESHOLD = 1.1  # an edge needs this multiple of the mean pair weight


def purchase_edges(
    spark: SparkSession, sf_dir: str, segment: str | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Distinct (custkey, suppkey) bipartite edges from
    orders x lineitem -- the integer-keyed form of the ranking
    module's prefixed-string edge list. A `segment` restriction is
    applied to ORDERS before the lineitem join, not to the finished
    edge list: the selective filter lands below the join and the
    distinct, so both shuffle the reduced row set (the
    predicate-pushdown discipline, applied manually across the
    join)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    if segment is not None:
        cust = (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == segment)
            .select(F.col("c_custkey").alias("o_custkey"))
        )
        orders = orders.join(cust, "o_custkey", "left_semi")
    out = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_custkey").alias("custkey"), F.col("l_suppkey").alias("suppkey")
    )
    # distinct=False hands the raw (multi-)edge stream to consumers
    # whose next operation dedups anyway (collect_set in the
    # butterfly counter), skipping the standalone distinct exchange
    return out.distinct() if distinct else out


def copurchase_butterflies(
    spark: SparkSession, sf_dir: str, segment: str | None = None
) -> DataFrame:
    """Top customer pairs by shared-supplier count, with butterfly
    support C(shared, 2): [custkey_1, custkey_2, shared_suppliers,
    butterflies], deterministic order (shared desc, keys asc).

    `segment` restricts to customers of one market segment, pushed
    below the edge build's join+distinct (see purchase_edges): on
    this synthetic graph supplier degree is ~4% of ALL customers
    (avg 587 of 15 000 at sf0.1 -- measured), so the full exact
    wedge set is ~170 M rows; a 5x customer cut shrinks it ~25x
    (quadratic in degree). Sparse real-world graphs don't need it;
    dense ones scope the analysis.

    r10 shape: ONE groupBy(suppkey) builds each supplier's sorted
    distinct customer array (collect_set subsumes the old edge-list
    distinct, so its exchange disappears too), and the C(deg, 2) wedges explode
    shuffle-locally — identical fan-out and placement to the old
    a x b self-join on suppkey (which also co-located every wedge of
    a supplier in one partition), minus the self-join's two
    exchanges, its sort, and the standalone distinct. Per-group
    memory is deg customer keys — strictly smaller than the C(deg,2)
    rows any form emits. The single-chain plan pins no intermediate."""
    raw = purchase_edges(spark, sf_dir, segment=segment, distinct=False)
    nbrs = raw.groupBy("suppkey").agg(
        F.sort_array(F.collect_set("custkey")).alias("cs")
    )
    # two-step Generate, not inline(flatten(transform(...))) -- see
    # cosupply_edges for the measured interpreted-HOF penalty
    wedges = nbrs.select(F.posexplode("cs").alias("i", "c1"), "cs").select(
        "c1", F.explode(F.expr("slice(cs, i + 2, size(cs))")).alias("c2")
    )
    support = (
        wedges.groupBy("c1", "c2")
        .agg(F.count("*").alias("shared_suppliers"))
        .filter(F.col("shared_suppliers") >= 2)
    )
    return (
        support.select(
            F.col("c1").alias("custkey_1"),
            F.col("c2").alias("custkey_2"),
            "shared_suppliers",
            (
                F.col("shared_suppliers")
                * (F.col("shared_suppliers") - 1)
                / F.lit(2)
            )
            .cast("long")
            .alias("butterflies"),
        )
        .orderBy(
            F.desc("shared_suppliers"), F.asc("custkey_1"), F.asc("custkey_2")
        )
        .limit(50)
    )


def cosupply_edges(
    spark: SparkSession,
    sf_dir: str,
    keep_weight: bool = False,
) -> DataFrame:
    """Thresholded supplier co-supply graph: an undirected edge
    (s1 < s2) where two suppliers co-supply MORE parts than
    COSUPPLY_THRESHOLD x the mean pair weight. The projection of the
    bipartite part-supplier graph is near-complete on uniform data (measured: literally
    complete here), so the weight threshold is what yields a graph
    with structure; threshold * avg is pure IEEE ops (sum/count then *)
    so Spark and the SQL oracle compute the bit-identical cutoff.

    Scale: the pair-weight build groups lineitem by PART into the
    per-part distinct supplier set (collect_set subsumes the old
    standalone distinct) and explodes the C(deg_p, 2) ordered pairs
    shuffle-LOCALLY — fan-out is sum over parts of C(deg_p, 2),
    quadratic in suppliers-per-part, which real catalogs bound (~4 in
    TPC-H; ~30 here), and per-group memory is deg_p longs, strictly
    smaller than the pair fan-out any form must emit. r10: this
    replaced a distinct + self-join-on-p shape (4 Exchanges, 2 of
    them SortMergeJoin sides) with ONE exchange into the pair
    aggregation — same rows, same weights, oracle-hash-identical.
    The ordered pairs explode in TWO Generate steps (posexplode then
    explode of the tail slice) rather than one
    inline(flatten(transform(...))): the nested-lambda form builds
    the full C(deg,2) struct array per row in interpreted HOF code
    and measured ~1.9x slower than the join it replaced; the
    two-step form measured 0.8x (tools A/B, r10). The threshold is a
    1-row broadcast; no pair table ever crosses SinglePartition."""
    nbrs = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .groupBy("p")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
    )
    pairs = nbrs.select(F.posexplode("ss").alias("i", "s1"), "ss").select(
        "s1", F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias("s2")
    )
    w = pairs.groupBy("s1", "s2").agg(F.count("*").alias("c"))
    # threshold agg + edge filter both read the pair weights
    w = materialize(w)
    thr = w.agg(
        (
            F.sum("c").cast("double") / F.count("*") * F.lit(COSUPPLY_THRESHOLD)
        ).alias("_thr")
    )
    kept = w.crossJoin(F.broadcast(thr)).filter(F.col("c") >= F.col("_thr"))
    # keep_weight exposes the co-supply count c (the tie-strength
    # integer the weighted-path operators consume); default stays the
    # bare edge list every motif consumer expects
    return kept.select("s1", "s2", "c") if keep_weight else kept.select("s1", "s2")


def cosupply_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle participation in the co-supply graph:
    [suppkey, n_triangles], descending. Exact, via degree-ordered
    wedge counting (node-iterator++ / Suri-Vassilvitskii's MapReduce
    form): orient every edge from the lower (degree, id) endpoint to
    the higher, so each triangle has EXACTLY one node with out-edges
    to the other two — enumerate those wedges and keep the ones whose
    far pair closes in the undirected edge set.

    Scale: the orientation bounds out-degree by O(sqrt(E)), so the
    wedge fan-out is O(E^1.5) worst case instead of sum(deg^2) — the
    difference between a hub node generating deg^2 wedges and never
    generating more than its sqrt-bounded out-neighborhood squared.
    Degree attach + closing check are plain equi-joins; AQE broadcasts
    the node-sized degree table when it fits."""
    return triangle_counts(cosupply_edges(spark, sf_dir))


KCORE_MAX_ROUNDS = 20


def kcore(undirected_edges: DataFrame, k: int) -> DataFrame:
    """The k-core of an undirected (s1, s2) edge list: iteratively
    peel nodes of degree < k until fixpoint; return the surviving
    nodes with their within-core degree [suppkey, core_deg].

    The standard community-trimming primitive (Seidman 1983; the
    dedup/curation analog is "drop documents with too few strong
    neighbors"). Distributed form: each round is one degree groupBy
    + two semi-joins — O(E) per round, and the round count is the
    peeling depth (4 on the sf0.01 co-supply graph), not the node
    count. Like dedup_clusters' pointer jumping, each round is
    EAGERLY pinned (the convergence check runs a count anyway) so
    the plan never nests; non-convergence within KCORE_MAX_ROUNDS
    raises LOUDLY rather than returning a half-peeled graph."""
    cur = materialize_eager(undirected_edges)
    n_edges = cur.count()
    for _ in range(KCORE_MAX_ROUNDS):
        if n_edges == 0:
            break
        deg = (
            cur.select(F.col("s1").alias("v"))
            .unionByName(cur.select(F.col("s2").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("dg"))
        )
        keep = deg.filter(F.col("dg") >= k).select("v")
        nxt = materialize_eager(
            cur.join(keep.withColumnRenamed("v", "s1"), "s1", "left_semi")
            .join(keep.withColumnRenamed("v", "s2"), "s2", "left_semi")
            .select("s1", "s2")
        )
        n_next = nxt.count()
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    else:
        raise RuntimeError(
            f"kcore: no fixpoint within {KCORE_MAX_ROUNDS} rounds "
            f"({n_edges} edges remain) -- raise KCORE_MAX_ROUNDS"
        )
    return (
        cur.select(F.col("s1").alias("suppkey"))
        .unionByName(cur.select(F.col("s2").alias("suppkey")))
        .groupBy("suppkey")
        .agg(F.count("*").alias("core_deg"))
        .orderBy(F.desc("core_deg"), F.asc("suppkey"))
    )


def cosupply_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KCORE_K-core of the thresholded co-supply graph (see cosupply_edges)."""
    return kcore(cosupply_edges(spark, sf_dir), KCORE_K)


def triangle_counts(undirected_edges: DataFrame) -> DataFrame:
    """Per-node triangle participation [suppkey, n_triangles] for an
    undirected edge list with columns (s1, s2), s1 < s2, no
    duplicates. See cosupply_triangles for the algorithm and bounds."""
    edges = materialize(undirected_edges)
    deg = (
        edges.select(F.col("s1").alias("v"))
        .unionByName(edges.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    e = (
        edges.join(deg.select(F.col("v").alias("s1"), F.col("d").alias("d1")), "s1")
        .join(deg.select(F.col("v").alias("s2"), F.col("d").alias("d2")), "s2")
    )
    # s1 < s2 always, so ties orient s1 -> s2
    low_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))
    )
    oriented = e.select(
        F.when(low_first, F.col("s1")).otherwise(F.col("s2")).alias("src"),
        F.when(low_first, F.col("s2")).otherwise(F.col("s1")).alias("dst"),
    )
    # wedges from the sorted out-neighbor array, exploded shuffle-
    # locally: the orientation bounds out-degree by O(sqrt(E)), so
    # the per-group array is O(sqrt(E)) longs while the C(outdeg, 2)
    # fan-out (identical to the old o1 x o2 self-join on src, which
    # also co-located every wedge of src in one partition) stays the
    # algorithm's O(E^1.5). r10: one groupBy exchange replaces the
    # self-join's two exchanges + sort, and `oriented` no longer
    # needs its own materialization (single consumer).
    onb = oriented.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("ds")
    )
    # two-step Generate (posexplode + explode of the tail slice), not
    # inline(flatten(transform(...))): the nested-lambda form builds
    # the full C(outdeg, 2) struct array per row in interpreted HOF
    # code and measured ~1.9x slower on the co-supply build (r10 A/B)
    wedges = onb.select(
        "src", F.posexplode("ds").alias("i", "x"), "ds"
    ).select(
        "src", "x", F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("y")
    )
    closed = wedges.join(
        edges,
        (F.col("x") == F.col("s1")) & (F.col("y") == F.col("s2")),
    ).select("src", "x", "y")
    # one corner row per triangle endpoint via a single explode --
    # NOT a 3-way union of projections: `closed` is unpinned, so a
    # union would re-evaluate the wedge + closing joins (the whole
    # O(E^1.5) stage) once PER BRANCH. Measured r10: the union plan
    # carried 3 copies of the join subtree (12 SortMergeJoins for 4);
    # explode(array(...)) evaluates it once and fans out locally.
    corners = closed.select(
        F.explode(F.array("src", "x", "y")).alias("suppkey")
    )
    return (
        corners.groupBy("suppkey")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("suppkey"))
    )


def clustering_coefficients(undirected_edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz):
    c(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)) for every node
    with deg >= 2 -- the fraction of a node's neighbor pairs that are
    themselves connected, the standard "how clique-like is this
    node's neighborhood" score (community cores vs brokers/bridges).

    Distributed shape: the triangle side IS `triangle_counts` (the
    degree-oriented O(E^1.5) enumeration -- no new quadratic work);
    the degree side is one groupBy; the combine is a node-grain left
    join with coalesce(0) for triangle-free nodes. The coefficient is
    a single long/long IEEE division of two exact integers, so both
    engines produce the bit-identical double and it ships unrounded
    (the link-prediction jaccard convention). Degree-1 nodes have no
    neighbor pair to close (0/0) and are excluded by contract.

    Input: undirected (s1, s2) edge list, s1 < s2, no duplicates.
    Output: [suppkey, degree, n_triangles, clustering_coeff]."""
    edges = materialize(undirected_edges)
    deg = (
        edges.select(F.col("s1").alias("suppkey"))
        .unionByName(edges.select(F.col("s2").alias("suppkey")))
        .groupBy("suppkey")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangle_counts(edges)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "suppkey", "left")
        .select(
            "suppkey",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            (
                (F.coalesce(F.col("n_triangles"), F.lit(0)) * 2).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double")
            ).alias("clustering_coeff"),
        )
        .orderBy(F.desc("clustering_coeff"), F.asc("suppkey"))
    )


REACH_HOPS = 3  # BFS hops and Bellman-Ford rounds of the reach operators


def bfs_hops(undirected_edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Multi-source BFS hop distance over an undirected (s1, s2) edge
    list: [suppkey, hops] for every node within REACH_HOPS of ANY
    source (hops = distance to the nearest source; sources themselves
    are hops 0, whether or not they touch an edge). The
    blast-radius / reachability primitive (supplier risk contagion,
    contamination spread from a seed set).

    Scale: synchronous frontier expansion, REACH_HOPS rounds; each
    round is one equi-join of the node-sized frontier against the
    (materialized once) doubled edge list plus an anti-join against
    the visited set -- node-sized tables on short integer keys, never
    a pair blow-up. Frontiers are materialized per round, so the plan
    stays O(rounds) deep instead of re-expanding the join tree
    exponentially (the HITS/PageRank lesson)."""
    und = materialize(
        undirected_edges.select(
            F.col("s1").alias("u"), F.col("s2").alias("v")
        ).unionByName(
            undirected_edges.select(F.col("s2").alias("u"), F.col("s1").alias("v"))
        )
    )
    visited = sources.select(
        F.col(sources.columns[0]).alias("suppkey"),
        F.lit(0).cast("long").alias("hops"),
    ).distinct()
    frontier = visited.select("suppkey")
    for h in range(1, REACH_HOPS + 1):
        nxt = materialize(
            und.join(frontier.withColumnRenamed("suppkey", "u"), "u")
            .select(F.col("v").alias("suppkey"))
            .distinct()
            .join(visited.select("suppkey"), "suppkey", "left_anti")
        )
        visited = materialize(
            visited.unionByName(
                nxt.select("suppkey", F.lit(h).cast("long").alias("hops"))
            )
        )
        frontier = nxt
    return visited


def sssp_min_cost(weighted_edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Bounded-round Bellman-Ford over an undirected weighted edge
    list (s1, s2, w; INTEGER weights): [suppkey, min_cost] = the
    cheapest path cost from any source using at most REACH_HOPS edges
    (sources cost 0). All-integer min-plus relaxation -- exact, no
    float path sums to diverge cross-engine.

    Scale: the Pregel relaxation shape. Each round joins the
    node-sized distance table against the (materialized once) doubled
    edge list -- one O(E) shuffle per round -- then min-aggregates
    back to node size; the distance table is pinned per round so the
    plan stays O(rounds) deep (the bfs_hops/HITS lesson). Negative
    weights are rejected loudly: with a round BOUND they would make
    "cost within k hops" a walk-minimization, not a path metric."""
    # negative-weight guard is PER-ROW and lazy (raise_error inside
    # the projection): the build stays job-free, and a bad weight
    # fails the job loudly at first execution -- the
    # bucketize_by_key/drift contract
    w_checked = F.when(
        F.col("w") < 0,
        F.raise_error(
            F.concat(
                F.lit("sssp_min_cost: negative edge weight "),
                F.col("w").cast("string"),
                F.lit(
                    " -- bounded-round min-plus over negative weights "
                    "minimizes WALKS, not paths; shift weights to >= 0 "
                    "first"
                ),
            )
        ).cast(weighted_edges.schema["w"].dataType),
    ).otherwise(F.col("w"))
    checked = weighted_edges.select("s1", "s2", w_checked.alias("w"))
    und = materialize(
        checked.selectExpr("s1 as u", "s2 as v", "w").unionByName(
            checked.selectExpr("s2 as u", "s1 as v", "w")
        )
    )
    dist = sources.select(
        F.col(sources.columns[0]).alias("suppkey"),
        F.lit(0).cast("long").alias("min_cost"),
    ).distinct()
    for _ in range(REACH_HOPS):
        relaxed = (
            und.join(dist.withColumnRenamed("suppkey", "u"), "u")
            .select(
                F.col("v").alias("suppkey"),
                (F.col("min_cost") + F.col("w")).alias("min_cost"),
            )
        )
        dist = materialize(
            dist.unionByName(relaxed)
            .groupBy("suppkey")
            .agg(F.min("min_cost").alias("min_cost"))
        )
    return dist


def cosupply_cheapest_reach(
    spark: SparkSession, sf_dir: str, sources: DataFrame
) -> DataFrame:
    """Weighted blast radius: cheapest <= REACH_HOPS-hop path cost from
    a supplier seed set over the thresholded co-supply graph, edge
    cost = (max co-supply weight + 1) - c, so the STRONGEST tie is
    the cheapest hop (cost >= 1: a path cost is never free). The max
    is a 1-row broadcast aggregate over the thresholded edges."""
    we = cosupply_edges(spark, sf_dir, keep_weight=True)
    we = materialize(we)
    mx = we.agg((F.max("c") + F.lit(1)).alias("_mx"))
    weighted = we.crossJoin(F.broadcast(mx)).select(
        "s1", "s2", (F.col("_mx") - F.col("c")).cast("long").alias("w")
    )
    return sssp_min_cost(weighted, sources)
