"""Portable Count-Min sketch (Cormode & Muthukrishnan 2005) -- the
frequency-estimation member of the sketch family (alongside the
portable HLL for cardinality and the Bloom probe for membership).
Like those, every step is deterministic md5 bit-field arithmetic, so
the APPROXIMATE path itself is DuckDB-oracle-checkable.

Layout: d = 4 hash rows x w = 1024 counters; row j's bucket for a
word is the j-th 10-bit field of the 60-bit portable hash. A word's
estimate is min_j counter[j][bucket_j(word)] -- never below the true
count (every occurrence lands in all four of its counters; the error
is only ever collisions ADDING), which is the one-sided guarantee the
test pins: overcount >= 0, always.

Scale: the counters build from the word-count table (vocab-sized,
already reduced), four partial-agg'd groupBys of <= w rows each; the
probe side broadcasts the four 1024-row sketch tables. At stream
scale the same counters are mergeable by + (sum of sums), the
classic distributed-sketch layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..materialize import materialize

from .dedup import portable_hash60

CMS_D = 4
CMS_W = 1024  # 2^10
CMS_W_LOG2 = 10


def _bucket(word, j: int):
    return F.shiftright(portable_hash60(word), CMS_W_LOG2 * j) % CMS_W


def cms_screened_wordcount(tokens: DataFrame) -> DataFrame:
    """Two-phase sketch-screened exact heavy hitters over a raw token
    stream [word]: the pattern that replaces a full-vocabulary
    shuffle with (tiny sketch shuffle + candidate-only shuffle).

    Phase 1 builds the CMS from the RAW tokens in one pass -- each
    token explodes into its 4 (row, bucket) cells and the groupBy
    partial-reduces to <= 4096 rows per partition before the (tiny)
    shuffle. The frequency threshold derives from the sketch itself:
    row 0's counters sum to the exact token total N, so
    T = N div 500 costs no extra pass. Phase 2 re-scans tokens,
    probes the 4 broadcast 1024-row sketches map-side, and keeps only
    tokens whose estimate clears T: the ONLY word-keyed shuffle
    carries candidate occurrences (partial-agg'd), not the whole
    vocabulary. CMS one-sidedness (est >= true) guarantees no true
    heavy hitter is screened out; false positives surface honestly as
    confirmed=false rows.

    Output: [word, true_cnt, est_cnt, confirmed] for every candidate,
    ordered by exact count. Two corpus scans total -- the two-phase
    trade: scan twice cheaply instead of shuffling the vocabulary
    once expensively."""
    cells = tokens.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _bucket(F.col("word"), j).alias("b"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("p")
    ).select("p.j", "p.b")
    counters = (
        cells.groupBy("j", "b")
        .agg(F.count("*").alias("c"))
        .transform(materialize)  # 2 consumers (map + threshold)
    )
    # r11 (guide section 3/2.4): the probe pass previously attached
    # the 4 sketch rows via FOUR BroadcastHashJoins (plus the
    # threshold's cross join) -- five broadcast builds and five join
    # operators the whole token stream streamed through. The 4x1024
    # counters are ONE 4096-entry map; the probe is now a single
    # 1-row broadcast cross join and est is 4 map lookups. Lookup
    # keys j*W + b are exactly the old per-row (j, bucket) pairs.
    # Both passes must hash the identical token stream, so every
    # probed bucket exists in the map -- the totality the old inner
    # joins had. element_at returns NULL on a missing key and least()
    # skips NULLs, which would silently underestimate; the probe
    # raises instead, inside the same projection (no job, no
    # exchange).
    cmap = counters.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("j").cast("long") * CMS_W + F.col("b")).alias("k"),
                    F.col("c").alias("v"),
                )
            )
        ).alias("_m")
    )
    thr = (
        counters.filter(F.col("j") == 0)
        .agg(F.expr("sum(c) div 500").alias("thr"))
    )
    missing = F.raise_error(
        F.concat(
            F.lit("cms_screened_wordcount: probe token "),
            F.col("word"),
            F.lit(" hashes to a bucket the build scan never counted"),
        )
    )
    est = F.least(
        *[
            F.coalesce(
                F.element_at(
                    F.col("_m"), F.lit(j).cast("long") * CMS_W + _bucket(F.col("word"), j)
                ),
                missing,
            )
            for j in range(CMS_D)
        ]
    )
    return (
        tokens.crossJoin(F.broadcast(cmap))
        .withColumn("est", est)
        .crossJoin(F.broadcast(thr))
        .filter(F.col("est") >= F.col("thr"))
        .groupBy("word")
        .agg(
            F.count("*").alias("true_cnt"),
            F.min("est").alias("est_cnt"),
            (F.count("*") >= F.min("thr")).alias("confirmed"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("word"))
    )


def cms_heavy_hitters(wc: DataFrame) -> DataFrame:
    """[word, true_cnt, est_cnt, overcount] for the 20 most
    frequent words of a (word, cnt) table: the CMS estimate next to
    the truth, with the structurally non-negative overcount."""
    sketches = [
        wc.groupBy(_bucket(F.col("word"), j).alias(f"b{j}")).agg(
            F.sum("cnt").alias(f"c{j}")
        )
        for j in range(CMS_D)
    ]
    top = wc.orderBy(F.desc("cnt"), F.asc("word")).limit(20)
    probed = top
    for j in range(CMS_D):
        probed = probed.withColumn(f"b{j}", _bucket(F.col("word"), j)).join(
            F.broadcast(sketches[j]), f"b{j}"
        )
    est = F.least(*[F.col(f"c{j}") for j in range(CMS_D)])
    return probed.select(
        "word",
        F.col("cnt").alias("true_cnt"),
        est.alias("est_cnt"),
        (est - F.col("cnt")).alias("overcount"),
    )
