"""Link prediction over an undirected graph: common-neighbors,
Jaccard, and Adamic-Adar scores for NON-adjacent node pairs.

The classic "who should be connected next" primitive
(Liben-Nowell & Kleinberg, "The Link Prediction Problem for Social
Networks"): for every pair (a, b) with at least one common neighbor
but no edge, score the pair by
  - common_neighbors  = |N(a) & N(b)|
  - jaccard           = |N(a) & N(b)| / |N(a) | N(b)|
  - adamic_adar       = sum over w in N(a) & N(b) of 1 / ln(deg(w))
Adamic-Adar down-weights promiscuous common neighbors -- the same
idea as IDF weighting a shared term.

Distributed shape (this is the exact form, not a sketch):
  1. double the edge list (w, x): w adjacent x;
  2. wedges centered at w: self-join on w with x < y -- every common
     neighbor w of a pair contributes exactly one wedge;
  3. aggregate per (x, y): count = common neighbors; Adamic-Adar as
     a DECIMAL sum of per-wedge 1/ln(deg_w) terms rounded to 9dp
     (order-independent accumulation -- the doc_perplexity recipe,
     operators/lm_score.py), shipped via the string-routed
     decimal->double cast so both engines parse the identical
     decimal literal; a common neighbor is adjacent to both ends, so
     deg_w >= 2 and ln(deg_w) > 0 always;
  4. anti-join against the edge list: keep only non-adjacent pairs
     (wedge pairs already satisfy x < y, matching the s1 < s2 edge
     orientation, so one anti-join covers both directions);
  5. attach endpoint degrees: jaccard = cn / (deg_x + deg_y - cn),
     a single int/int IEEE division -- bit-identical cross-engine,
     shipped unrounded (the MMR lesson: raw doubles are the exact
     choice when both engines compute them from identical integers).

Scale: the wedge fan-out is sum over nodes of C(deg_w, 2) --
quadratic in degree, and UNAVOIDABLE here because every
common-neighbor pair IS an output of the operator (unlike triangle
counting, where orientation can prune). Degree is therefore the only
knob: `max_degree` drops hub centers before the self-join (a node
adjacent to everyone scores every pair -- pure noise for prediction,
exactly the butterfly-counting rationale in graph_motifs.py), keeping
per-center fan-out bounded; None keeps the operator exact (the
oracle's form). Degree tables are node-sized and AQE-broadcast; no
pair table crosses SinglePartition; the top-N goes through TakeOrdered.

Reference scope note: the reference engine (greeter_client.cc /
greeter_server.cc) has no graph surface; this extends the repo's
co-supply graph family (graph_motifs.py) per the SURVEY extension
brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize
from .graph_motifs import cosupply_edges


LINKPRED_TOP_N = 20
# wedge centers above this degree are dropped by the capped query
# (registry q_cosupply_link_prediction_capped and its oracle)
LINKPRED_MAX_DEGREE = 256


def link_prediction(
    undirected_edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Top LINKPRED_TOP_N non-adjacent pairs by Adamic-Adar for an undirected
    (s1, s2) edge list with s1 < s2 and no duplicates:
    [s1, s2, common_neighbors, jaccard, adamic_adar], ordered
    adamic_adar desc, common_neighbors desc, s1, s2."""
    edges = materialize(undirected_edges)
    und = edges.select(
        F.col("s1").alias("w"), F.col("s2").alias("x")
    ).unionByName(edges.select(F.col("s2").alias("w"), F.col("s1").alias("x")))
    # ONE shuffle builds the per-center sorted neighbor array (the
    # edge list is duplicate-free, so collect_set == the neighbor
    # set and size(xs) == the old count-based degree); wedges are
    # then exploded shuffle-LOCALLY from the array instead of
    # re-shuffling both sides of a self-join on w. r10: replaces the
    # degree groupBy + centers join + join-side exchanges (4
    # Exchanges, 1 SortMergeJoin) with one groupBy exchange; the
    # C(deg, 2) fan-out and its per-center placement are identical
    # to the join form (all wedges of center w were already
    # co-partitioned by w), and per-group memory is deg longs --
    # strictly smaller than the C(deg, 2) rows any form emits.
    # `nb` is pinned: it feeds the wedge explosion AND both endpoint
    # degree lookups of the jaccard.
    nb = materialize(
        und.groupBy("w").agg(F.sort_array(F.collect_set("x")).alias("xs"))
    )
    deg = nb.select("w", F.size("xs").alias("d"))
    # a degree-1 center cannot host a wedge, and dropping it keeps
    # ln(d) > 0 under ANSI mode (ln(1) = 0 would raise in the term
    # expression even on rows the explosion below never emits)
    centers = nb.filter(F.size("xs") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.size("xs") <= max_degree)
    # per-wedge Adamic-Adar term, 9dp decimal for order-independent
    # sums; computed once per CENTER row, before the explosion
    term = F.round(
        F.lit(1.0) / F.log(F.size("xs").cast("double")), 9
    ).cast("decimal(12,9)")
    # two-step Generate (posexplode + explode of the tail slice), not
    # inline(flatten(transform(...))): the nested-lambda form builds
    # the full C(deg, 2) struct array per row in interpreted HOF code
    # and measured ~1.9x slower on the co-supply build (r10 A/B)
    pairs = (
        centers.select(
            term.alias("t"), F.posexplode("xs").alias("i", "x1"), "xs"
        )
        .select(
            "t", "x1",
            F.explode(F.expr("slice(xs, i + 2, size(xs))")).alias("x2"),
        )
        .groupBy("x1", "x2")
        .agg(F.count("*").alias("cn"), F.sum("t").alias("aa"))
    )
    new_links = pairs.join(
        edges,
        (F.col("x1") == F.col("s1")) & (F.col("x2") == F.col("s2")),
        "left_anti",
    )
    dx = deg.select(F.col("w").alias("x1"), F.col("d").alias("d1"))
    dy = deg.select(F.col("w").alias("x2"), F.col("d").alias("d2"))
    return (
        new_links.join(dx, "x1")
        .join(dy, "x2")
        .select(
            F.col("x1").alias("s1"),
            F.col("x2").alias("s2"),
            F.col("cn").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("cn")).cast("double")
            ).alias("jaccard"),
            F.col("aa").cast("string").cast("double").alias("adamic_adar"),
        )
        .orderBy(
            F.desc("adamic_adar"),
            F.desc("common_neighbors"),
            F.asc("s1"),
            F.asc("s2"),
        )
        .limit(LINKPRED_TOP_N)
    )


def cosupply_link_prediction(
    spark: SparkSession, sf_dir: str, max_degree: int | None = None
) -> DataFrame:
    """Link prediction over the thresholded co-supply graph
    (graph_motifs.cosupply_edges): which supplier pairs are closest
    to co-supplying without doing so yet. `max_degree` caps wedge
    CENTERS (the 100 TB knob -- one 8000-degree hub alone is 32M of
    40M wedges in the SCALING.md "Round-6: link-prediction wedge
    fan-out" ladder); None is the
    exact oracle-of-record form."""
    return link_prediction(cosupply_edges(spark, sf_dir), max_degree=max_degree)
