"""Portable Bloom-filter membership probe (Bloom CACM'70), applied to
benchmark decontamination -- the runtime-filter primitive: a few KB of
bits stand in for the full eval n-gram set, and the exact (broadcast
set) path only ever sees the docs the filter could not rule out.

Guarantee structure: a Bloom filter has NO false negatives (every
inserted element's bits are all set), only false positives. So
`bloom_decontaminate_audit` reports the confusion matrix of the
bloom probe against the exact n-gram match -- the
(bloom=false, exact=true) cell must be structurally ZERO, and the
(bloom=true, exact=false) row IS the measured false-positive rate at
this bitmap size. That makes the operator self-auditing: the oracle
hash-match re-derives the same matrix in SQL, and the test asserts
the no-false-negative invariant.

Portability: positions come from one 60-bit md5 prefix per n-gram
(operators/dedup.portable_hash60), split into NUM_HASHES base-M
digits -- pure integer arithmetic, bit-identical in DuckDB. The
bitmap packs 32 bits per signed BIGINT (high bits never touched, so
shifts behave identically in both engines).

Scale: the bitmap is SLOTS rows (a few KB broadcast; at 100 TB you
size M to the eval corpus, still KBs-to-MBs); the corpus side is the
shuffle-free flat shingle stream probing a broadcast -- the same
map-only shape as exact decontaminate, but the broadcast no longer
grows with the eval corpus' distinct n-grams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .curation import DECONTAM_NGRAM_K
from .dedup import portable_hash60, shingle_rows_flat

SLOT_SHIFT = 5
BITS_PER_SLOT = 1 << SLOT_SHIFT  # 32: shifts stay far from the sign bit
SLOTS = 4096
M = BITS_PER_SLOT * SLOTS  # 131072 bits = 2^17: ~0.4% FP at 7.5k items,
M_LOG2 = 17                # k=3 -- size m ~ 17.5 bits/item in practice
NUM_HASHES = 3  # 3 * 17 = 51 bits consumed of the 60-bit hash


def _positions(sh):
    """NUM_HASHES bit positions in [0, M): disjoint 17-bit fields of
    one 60-bit md5 prefix (portable_hash60) -- pure shift/modulo on a
    positive BIGINT, bit-identical in DuckDB ((h >> 17j) % 131072),
    which is what makes the registry bloom queries fully
    oracle-checkable. The bitmap and the probe both take their
    positions from here, so they cannot disagree on the hash family.

    Cost: md5 is a cryptographic hash. At 32 M wide fact rows the
    probe costs more per row than a single-box in-memory shuffle of
    those rows (SCALING.md, "Bloom-join pruning"), so locally the
    prune loses to the plain join and wins only when shuffle bytes
    cross a network. A cheaper hash family would be an edit here
    that loses DuckDB portability, not a caller-chosen flag."""
    h = portable_hash60(sh)
    return [F.shiftright(h, M_LOG2 * j) % M for j in range(NUM_HASHES)]


def bloom_bitmap(items: DataFrame) -> DataFrame:
    """[slot, bits]: the Bloom bitmap of `items.sh`, 32 bits per
    slot row. Built with one partial-agg'd groupBy on <= SLOTS keys."""
    pos = items.select(
        F.explode(F.array(*_positions(F.col("sh")))).alias("p")
    )
    return (
        pos.select(
            F.shiftright(F.col("p"), SLOT_SHIFT).alias("slot"),
            # column-valued shift: the Python wrapper wants a literal,
            # the Catalyst expression takes columns -- go through expr
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("mask"),
        )
        .groupBy("slot")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_prune(fact: DataFrame, key, bitmap: DataFrame) -> DataFrame:
    """Map-side Bloom pre-filter of `fact` rows whose `key` (a string
    column expression) MAY be in the set the `bitmap` was built over
    -- the manual form of a runtime filter / bloom-join pruning. The
    NUM_HASHES probes are broadcast joins of the SLOTS-row bitmap, so
    the fact side never shuffles here; survivors (members + the ~0.4%
    false positives) still need the exact join, but only THEY pay its
    shuffle. No false negatives: a member always has all bits set.
    The per-row md5 probe is the cost side of the trade (see
    _positions)."""
    probe = fact.withColumn("_bk", key)
    for j, pcol in enumerate(_positions(F.col("_bk"))):
        probe = probe.withColumn(f"_s{j}", F.shiftright(pcol, SLOT_SHIFT)).withColumn(
            f"_b{j}", (pcol % BITS_PER_SLOT).cast("int")
        )
    for j in range(NUM_HASHES):
        bm = bitmap.select(
            F.col("slot").alias(f"_s{j}"), F.col("bits").alias(f"_bits{j}")
        )
        probe = probe.join(F.broadcast(bm), f"_s{j}", "left")
    maybe = F.lit(True)
    for j in range(NUM_HASHES):
        maybe = maybe & F.expr(
            f"shiftright(coalesce(_bits{j}, 0L), _b{j}) % 2 = 1"
        )
    drop = ["_bk"] + [c for j in range(NUM_HASHES) for c in (f"_s{j}", f"_b{j}", f"_bits{j}")]
    return probe.filter(maybe).drop(*drop)


def bloom_decontaminate_audit(
    train_docs: DataFrame,
    eval_docs: DataFrame,
) -> DataFrame:
    """[bloom_hit, exact_hit, n_docs]: per training doc, does the
    Bloom probe flag it, does the exact n-gram match flag it --
    aggregated to the confusion matrix. (bloom=false, exact=true)
    cannot occur; (true, false) counts the false positives the exact
    re-check must clean up."""
    train_sh = shingle_rows_flat(train_docs, DECONTAM_NGRAM_K).distinct()
    eval_sh = shingle_rows_flat(eval_docs, DECONTAM_NGRAM_K).select("sh").distinct()
    bitmap = bloom_bitmap(eval_sh)

    # probe each of the NUM_HASHES positions via its own broadcast
    # join of the SLOTS-row bitmap: the corpus side stays MAP-ONLY --
    # no explode fan-out, no per-shingle shuffle; the only shuffle is
    # the per-doc rollup (which the exact path needs anyway)
    probe = train_sh
    for j, pcol in enumerate(_positions(F.col("sh"))):
        probe = probe.withColumn(f"_s{j}", F.shiftright(pcol, SLOT_SHIFT)).withColumn(
            f"_b{j}", (pcol % BITS_PER_SLOT).cast("int")
        )
    for j in range(NUM_HASHES):
        bm = bitmap.select(
            F.col("slot").alias(f"_s{j}"), F.col("bits").alias(f"_bits{j}")
        )
        probe = probe.join(F.broadcast(bm), f"_s{j}", "left")
    # the Python shiftright() wrapper only takes a literal shift --
    # the Catalyst expression takes columns, so go through F.expr
    bit_set = [
        F.expr(f"shiftright(coalesce(_bits{j}, 0L), _b{j}) % 2 = 1")
        for j in range(NUM_HASHES)
    ]
    maybe = bit_set[0]
    for b in bit_set[1:]:
        maybe = maybe & b
    per_doc_bloom = probe.withColumn("maybe", maybe.cast("int")).groupBy(
        "doc_id"
    ).agg((F.max("maybe") == 1).alias("bloom_hit"))
    exact = train_sh.join(F.broadcast(eval_sh), "sh").select("doc_id").distinct()
    return (
        per_doc_bloom.join(
            exact.withColumn("exact_hit", F.lit(True)), "doc_id", "left"
        )
        .select("bloom_hit", F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"))
        .groupBy("bloom_hit", "exact_hit")
        .agg(F.count("*").alias("n_docs"))
    )
