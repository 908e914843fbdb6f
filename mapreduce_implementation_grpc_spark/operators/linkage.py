"""Probabilistic record linkage: Fellegi-Sunter field-agreement
scoring over blocked candidate pairs.

The entity-resolution primitive (Fellegi & Sunter, "A Theory for
Record Linkage", JASA 1969): two record sets describing overlapping
real-world entities are joined on a cheap BLOCKING key, each
candidate pair gets a per-field agreement vector, and the pair score
is the sum of log-likelihood-ratio weights

    w_agree(f)    = log2(m_f / u_f)
    w_disagree(f) = log2((1 - m_f) / (1 - u_f))

where m = P(field agrees | same entity) and u = P(agrees | different
entities). Pairs above a threshold are classified matches. The m/u
parameters here are fixed, documented constants (the EM estimation
of the full FS model is a fitting procedure, not a query; with fixed
parameters the operator is deterministic and oracle-checkable) --
embedded as PRE-COMPUTED double literals so Spark and the SQL oracle
parse the identical number instead of each evaluating log2.

Scale shape: the ONLY join is the equi-join on the blocking key --
candidate count is sum over blocks of |A_b| x |B_b|, so blocking-key
granularity is THE scale knob (the wedge-fan-out story of every
pair operator in this repo). A coarse key (nation alone) is
quadratic per nation; the composed (nation, floor(balance)) key
bounds blocks to near-constant size. Everything after the join is
per-row expression work: agreement booleans, a fixed-order sum of
two-to-five doubles, a filter. Blocking RECALL is the documented
trade: a corruption that moves a record's blocking key (balance
noise crossing a floor boundary) hides that pair entirely --
classic sorted-neighborhood territory, out of scope here.

Reference scope note: no linkage surface in the reference engine
(greeter_client.cc / greeter_server.cc); SURVEY extension brief
(entity resolution for training-data provenance).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (field, m, u): m/u chosen for a near-unique name, a near-unique
# balance, and a 5-category segment (u = 1/5 by construction)
FS_FIELDS: list[tuple[str, float, float]] = [
    ("nm", 0.95, 0.01),
    ("bal", 0.90, 0.02),
    ("seg", 0.95, 0.20),
]

SN_WINDOW = 10


def fs_weights() -> dict[str, tuple[float, float]]:
    """{field: (w_agree, w_disagree)} as exact Python doubles -- the
    same values are formatted into the SQL oracle as literals."""
    return {
        f: (math.log2(m / u), math.log2((1.0 - m) / (1.0 - u)))
        for f, m, u in FS_FIELDS
    }


def _scored_pairs(
    master: DataFrame,
    contacts: DataFrame,
    block_cols: list[str],
    threshold: float,
) -> DataFrame:
    """Blocked candidate pairs with agreement vector, score, and
    is_match -- unordered and unlimited (shared by the ranked report
    and the golden-record consumer)."""
    w = fs_weights()
    m = master.select(
        "custkey",
        *[F.col(c).alias(f"_bk_{c}") for c in block_cols],
        *[F.col(f).alias(f"_m_{f}") for f, _, _ in FS_FIELDS],
    )
    c = contacts.select(
        "contact_id",
        *[F.col(c_).alias(f"_bk_{c_}") for c_ in block_cols],
        *[F.col(f).alias(f"_c_{f}") for f, _, _ in FS_FIELDS],
    )
    pairs = m.join(c, [f"_bk_{b}" for b in block_cols])
    agrees = {
        f: (F.col(f"_m_{f}") == F.col(f"_c_{f}")) for f, _, _ in FS_FIELDS
    }
    score = None
    for f, _, _ in FS_FIELDS:
        wa, wd = w[f]
        term = F.when(agrees[f], F.lit(wa)).otherwise(F.lit(wd))
        score = term if score is None else score + term
    return pairs.select(
        "custkey",
        "contact_id",
        *[agrees[f].alias(f"{f}_agree") for f, _, _ in FS_FIELDS],
        score.alias("score"),
    ).withColumn("is_match", F.col("score") > F.lit(float(threshold)))


def fs_score_pairs(
    master: DataFrame,
    contacts: DataFrame,
    block_cols: list[str],
) -> DataFrame:
    """Score blocked candidate pairs. `master` must carry
    [custkey, nm, bal, seg, *block_cols], `contacts`
    [contact_id, nm, bal, seg, *block_cols]. Output: [custkey,
    contact_id, nm_agree, bal_agree, seg_agree, score, is_match]
    ordered score desc then keys, top 100 rows."""
    return (
        _scored_pairs(master, contacts, block_cols, 0.0)
        .orderBy(F.desc("score"), F.asc("custkey"), F.asc("contact_id"))
        .limit(100)
    )


def fs_match_pairs(
    master: DataFrame,
    contacts: DataFrame,
    block_cols: list[str],
) -> DataFrame:
    """Every pair classified a match -- [custkey, contact_id],
    unordered/unlimited (no global sort: match volume is
    cluster-sized, not report-sized)."""
    return (
        _scored_pairs(master, contacts, block_cols, 0.0)
        .filter(F.col("is_match"))
        .select("custkey", "contact_id")
    )


def golden_records(
    master: DataFrame,
    contacts: DataFrame,
    matches: DataFrame,
) -> DataFrame:
    """Survivorship merge of each master with its matched contacts --
    the step AFTER linkage that actually repairs the data (the
    'golden record' of MDM practice). Master-anchored clusters: the
    group for custkey k is the master row plus every contact matched
    to k (a contact matched to two masters feeds both groups -- the
    documented trade of skipping a full connected-components pass;
    transitive contact-contact identity is dedup_clusters territory).

    Per-field survivorship rules, each deterministic and expressible
    as one aggregate over the member frame:
      name    -- longest value wins (typo truncation loses), ties
                 break lexicographically;
      balance -- most frequent exact cents value wins (the corrupted
                 +0.01 copy is outvoted or, on a 1-1 tie, the MIN --
                 i.e. the un-nudged original -- survives);
      segment -- most frequent, ties lexicographic.
    Implemented as min(struct(...)) aggregates (argmax by sort key),
    so no per-cluster iteration and no window over fact rows.

    Output: [custkey, n_sources, golden_name, golden_bal_cents,
    golden_seg, name_repaired] -- name_repaired flags clusters where
    survivorship CHANGED the master's own name (a truncated master
    healed by its contact)."""
    mem_m = master.select(
        "custkey",
        F.col("nm"),
        (F.col("bal").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.col("seg"),
    )
    mem_c = (
        matches.join(contacts, "contact_id")
        .select(
            "custkey",
            F.col("nm"),
            (F.col("bal").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
            F.col("seg"),
        )
    )
    members = mem_m.unionByName(mem_c)
    name_pick = members.groupBy("custkey").agg(
        F.count("*").alias("n_sources"),
        F.min(
            F.struct((-F.length("nm")).alias("k"), F.col("nm").alias("v"))
        ).alias("_nm"),
    )
    bal_pick = (
        members.groupBy("custkey", "cents")
        .agg(F.count("*").alias("_c"))
        .groupBy("custkey")
        .agg(
            F.min(
                F.struct((-F.col("_c")).alias("k"), F.col("cents").alias("v"))
            ).alias("_bal")
        )
    )
    seg_pick = (
        members.groupBy("custkey", "seg")
        .agg(F.count("*").alias("_c"))
        .groupBy("custkey")
        .agg(
            F.min(
                F.struct((-F.col("_c")).alias("k"), F.col("seg").alias("v"))
            ).alias("_seg")
        )
    )
    return (
        name_pick.join(bal_pick, "custkey")
        .join(seg_pick, "custkey")
        .join(master.select("custkey", F.col("nm").alias("_master_nm")), "custkey")
        .select(
            "custkey",
            "n_sources",
            F.col("_nm.v").alias("golden_name"),
            F.col("_bal.v").alias("golden_bal_cents"),
            F.col("_seg.v").alias("golden_seg"),
            (F.col("_nm.v") != F.col("_master_nm")).alias("name_repaired"),
        )
        .orderBy("custkey")
    )


def sorted_neighborhood_pairs(
    master: DataFrame,
    contacts: DataFrame,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez & Stolfo 1995):
    the blocking-recall companion of `fs_score_pairs`. Both record
    sets are merged into ONE globally bal-sorted sequence and every
    master-contact pair within SN_WINDOW rank positions is scored with
    the same Fellegi-Sunter weights -- so a balance corruption that
    crosses a floor(bal) boundary (invisible to the (nation, blk)
    blocking equi-join, the module docstring's documented recall
    hole) still pairs up: +0.01 of noise moves a record ~one position
    in the sort, never out of the neighborhood.

    Output [custkey, contact_id, rank_gap, cross_block, nm_agree,
    bal_agree, seg_agree, score, is_match], top 100 rows ordered
    RECOVERED-first (is_match AND cross_block, then score desc, then
    keys): the matches the blocking join could NOT have produced --
    the whole point of the method -- lead the report instead of
    drowning under the perfect-agreement mass (bare cross_block
    would front-load different-entity neighbors instead: most
    neighborhood pairs straddle a block boundary).

    Scale shape: the global sort rank comes from the two-level
    bucketed machinery (ranking.with_global_row_number -- per-bucket
    totals are the only single-partition rows), and the neighborhood
    join is a BANDED equi-join: each probe row explodes into its
    three adjacent rank bands (band id = rn DIV SN_WINDOW) and pairs
    only meet inside a band -- candidates are O(n * SN_WINDOW / band),
    never a rank theta-join. Window width trades recall against the
    per-band fan-out, exactly like blocking granularity."""
    from .ranking import with_global_row_number

    w = fs_weights()
    u = master.select(
        F.lit(0).alias("role"),
        F.col("custkey").alias("rid"),
        "nm",
        "bal",
        "seg",
        F.col("blk"),
    ).unionByName(
        contacts.select(
            F.lit(1).alias("role"),
            F.col("contact_id").alias("rid"),
            "nm",
            "bal",
            "seg",
            F.floor("bal").alias("blk"),
        )
    )
    r = with_global_row_number(
        u,
        "bal",
        tiebreaks=[F.asc("role"), F.asc("rid")],
        out_col="rn",
    )
    band = F.expr(f"rn DIV {SN_WINDOW}")
    left = r.filter(F.col("role") == 0).select(
        F.col("rid").alias("custkey"),
        F.col("nm").alias("_nm_m"),
        F.col("bal").alias("_bal_m"),
        F.col("seg").alias("_seg_m"),
        F.col("blk").alias("_blk_m"),
        F.col("rn").alias("_rn_m"),
        F.explode(
            F.array(band - F.lit(1), band, band + F.lit(1))
        ).alias("_band"),
    )
    right = r.filter(F.col("role") == 1).select(
        F.col("rid").alias("contact_id"),
        F.col("nm").alias("_nm_c"),
        F.col("bal").alias("_bal_c"),
        F.col("seg").alias("_seg_c"),
        F.col("blk").alias("_blk_c"),
        F.col("rn").alias("_rn_c"),
        band.alias("_band"),
    )
    pairs = left.join(right, "_band").filter(F.abs(F.col("_rn_m") - F.col("_rn_c")) <= SN_WINDOW)
    agrees = {
        f: (F.col(f"_{f}_m") == F.col(f"_{f}_c")) for f, _, _ in FS_FIELDS
    }
    score = None
    for f, _, _ in FS_FIELDS:
        wa, wd = w[f]
        term = F.when(agrees[f], F.lit(wa)).otherwise(F.lit(wd))
        score = term if score is None else score + term
    return (
        pairs.select(
            "custkey",
            "contact_id",
            F.abs(F.col("_rn_m") - F.col("_rn_c")).cast("long").alias(
                "rank_gap"
            ),
            (F.col("_blk_m") != F.col("_blk_c")).alias("cross_block"),
            *[agrees[f].alias(f"{f}_agree") for f, _, _ in FS_FIELDS],
            score.alias("score"),
        )
        .withColumn("is_match", F.col("score") > F.lit(0.0))
        .orderBy(
            (F.col("is_match") & F.col("cross_block")).desc(),
            F.desc("score"),
            F.asc("custkey"),
            F.asc("contact_id"),
        )
        .limit(100)
    )
