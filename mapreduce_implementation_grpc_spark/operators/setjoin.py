"""Exact set-similarity join via prefix filtering (PPJoin-family,
Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 shape).

The banded MinHash path (operators/dedup.py) is probabilistic: a true
near-dup pair can miss every band. This operator is the EXACT
complement: all pairs with shingle-set Jaccard >= t, with candidate
generation that is provably lossless -- if J(a,b) >= t then a and b
share at least one element among each set's first
|s| - ceil(t*|s|) + 1 elements under any fixed global order (take the
overlap lower bound ceil(t*|s|); skipping past the prefix leaves
fewer than that many elements). Ordering the sets rarest-token-first
makes those prefix tokens the most selective ones, so the candidate
join stays near-linear instead of quadratic.

Scale shape: one partial-agg'd shuffle for shingle document
frequencies, one doc-keyed shuffle to assemble sorted sets, a
prefix-token self-join whose fan-out per token is bounded by that
token's df (rare-first prefixes keep it small), a distinct on the
candidate PAIR KEYS only (never the arrays), and two keyed joins to
bring the sets back for the exact intersect. Nothing all-pairs.

The registry oracle is deliberately the NAIVE all-pairs SQL: the
driver's hash match is then a proof that the prefix filter dropped
nothing (the same adversarial-oracle pattern as fuzzy_word_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from .dedup import shingle_rows_flat

CONTAINMENT_T_DEN = 10
CONTAINMENT_T_NUM = 9
JACCARD_T_DEN = 5
JACCARD_T_NUM = 4


def sorted_shingle_sets(docs: DataFrame) -> DataFrame:
    """[doc_id, st (shingles sorted rarest-first), sz] -- the shared
    input of every prefix-filtered set join; materialized once (the
    prefix explode and the pair joins all re-read it)."""
    sh = shingle_rows_flat(docs).distinct()
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    sets = (
        sh.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "sh"))),
                lambda x: x["sh"],
            ).alias("st")
        )
        .withColumn("sz", F.size("st"))
    )
    return materialize(sets)


def jaccard_prefix_pairs(docs: DataFrame) -> DataFrame:
    """All (doc_a < doc_b) pairs with Jaccard(shingle sets) >=
    t_num/t_den, exactly. The threshold is a RATIONAL so the final
    predicate is pure integer arithmetic (t_den*inter >= t_num*union)
    -- no float compare to disagree across engines; the reported
    jaccard itself is the one rounded double division. The shared
    sorted-shingle-sets table is pinned once (materialize.py)."""
    sets = sorted_shingle_sets(docs)
    plen = (
        F.col("sz")
        - F.ceil(F.col("sz") * F.lit(JACCARD_T_NUM) / F.lit(JACCARD_T_DEN)).cast("int")
        + F.lit(1)
    )
    pref = sets.select(
        "doc_id", "sz", F.explode(F.slice("st", F.lit(1), plen)).alias("ptok")
    )
    # size lemma inside the candidate join (J >= t => t|b| <= |a| <=
    # |b|/t: intersect <= min size, union >= max size): provably drops
    # no qualifying pair, and prunes frequent-prefix-token collisions
    # between very differently-sized sets before the distinct
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") * JACCARD_T_DEN >= F.col("b.sz") * JACCARD_T_NUM)
            & (F.col("b.sz") * JACCARD_T_DEN >= F.col("a.sz") * JACCARD_T_NUM),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("st").alias("sa"),
                F.col("sz").alias("za"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("st").alias("sb"),
                F.col("sz").alias("zb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            (F.col("za").cast("long") + F.col("zb") - inter).alias("un"),
        )
        .filter(F.lit(JACCARD_T_DEN) * F.col("inter") >= F.lit(JACCARD_T_NUM) * F.col("un"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.col("un").alias("union_sz"),
            F.round(F.col("inter") / F.col("un"), 6).alias("jaccard"),
        )
    )


def containment_prefix_pairs(docs: DataFrame) -> DataFrame:
    """All DIRECTED pairs (doc_small != doc_big) with containment
    C(small in big) = |S_small & S_big| / |S_small| >= t_num/t_den,
    exactly -- the ASYMMETRIC near-dup Jaccard cannot see (a chunk
    quoted whole inside a larger document scores J ~ |A|/|B| but
    C = 1). The standard set-containment-join prefix filter:
    C >= t forces overlap >= ceil(t*|A|), so A must share a token
    within its first |A| - ceil(t*|A|) + 1 rarest tokens with B;
    only the PROBE side gets a prefix -- B carries no size upper
    bound (anything at least ceil(t*|A|) big can contain A), so the
    candidate join runs A's rare prefix tokens against B's FULL
    token list. That asymmetry is the honest cost of containment:
    per-token fan-out is bounded by df (rare-first ordering keeps
    probe tokens selective), not by a two-sided size lemma.

    The threshold predicate is pure integer arithmetic
    (t_den * inter >= t_num * |A|); the reported containment is one
    rounded int/int division. The registry oracle is the NAIVE
    all-pairs SQL -- the hash match proves the prefix filter
    lossless."""
    sets = sorted_shingle_sets(docs)
    plen = (
        F.col("sz")
        - F.ceil(F.col("sz") * F.lit(CONTAINMENT_T_NUM) / F.lit(CONTAINMENT_T_DEN)).cast("int")
        + F.lit(1)
    )
    pref = sets.select(
        "doc_id", "sz", F.explode(F.slice("st", F.lit(1), plen)).alias("ptok")
    )
    full = sets.select(
        F.col("doc_id").alias("doc_big"),
        F.col("sz").alias("zb"),
        F.explode("st").alias("ptok"),
    )
    cand = (
        pref.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.doc_id") != F.col("b.doc_big"))
            # |B| >= ceil(t*|A|) -- B too small to contain t of A
            & (F.col("b.zb") * CONTAINMENT_T_DEN >= F.col("a.sz") * CONTAINMENT_T_NUM),
        )
        .select(F.col("a.doc_id").alias("doc_small"), "doc_big")
        .distinct()
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_small"),
                F.col("st").alias("sa"),
                F.col("sz").alias("za"),
            ),
            "doc_small",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_big"), F.col("st").alias("sb")
            ),
            "doc_big",
        )
        .select(
            "doc_small",
            "doc_big",
            inter.alias("inter"),
            F.col("za").cast("long").alias("size_small"),
        )
        .filter(F.lit(CONTAINMENT_T_DEN) * F.col("inter") >= F.lit(CONTAINMENT_T_NUM) * F.col("za"))
        .withColumn(
            "containment", F.round(F.col("inter") / F.col("size_small"), 6)
        )
        .orderBy("doc_small", "doc_big")
    )
