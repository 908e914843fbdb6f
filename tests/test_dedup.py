"""Dedup operators: metamorphic properties (exact dup => found) +
oracle parity for the SQL-expressible variants."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.dedup import (
    exact_dedup,
    hamming_banded_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_fp,
    simhash_near_dup_pairs,
)
from tests.oracle_utils import assert_matches_oracle

DOC = "spark shuffles data between stages when a wide dependency appears in the plan"
NEAR = "spark shuffles data between stages when a wide dependency shows in the plan"
OTHER = "completely different words live here about cooking pasta with garlic butter"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=DOC),
            Row(doc_id=2, text=DOC),          # exact dup of 1
            Row(doc_id=3, text=NEAR),         # near dup of 1
            Row(doc_id=4, text=OTHER),
            Row(doc_id=5, text=DOC.upper()),  # dup after normalization
        ]
    )


def test_exact_dedup_groups(docs):
    groups = {r.keep_doc_id: r.n_dups for r in exact_dedup(docs).collect()}
    assert groups[1] == 3  # docs 1, 2, 5 share normalized content
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_finds_exact_dup(docs):
    pairs = {(r.doc_a, r.doc_b): r for r in minhash_near_dup_pairs(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)].est_jaccard == 1.0
    assert pairs[(1, 2)].jaccard == 1.0
    assert (1, 5) in pairs  # normalization-equal
    # near-dup should surface with high (not necessarily 1.0) jaccard
    assert any(a == 1 and b == 3 for (a, b) in pairs)


def test_minhash_no_false_disjoint_pair(docs):
    pairs = minhash_near_dup_pairs(docs).collect()
    assert not any({r.doc_a, r.doc_b} == {1, 4} for r in pairs)


def test_simhash_identical_docs_equal(docs):
    fp = {r.doc_id: r.simhash for r in simhash_fp(docs).collect()}
    assert fp[1] == fp[2] == fp[5]
    assert fp[1] != fp[4]


def test_simhash_pairs_hamming(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dup_pairs(docs, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs.get((1, 3), 99) <= 16  # near dup within hamming budget


def test_hamming_banding_full_recall(spark):
    """Pigeonhole recall guarantee: banded pairs == brute-force pairs
    at the requested threshold, including a planted Hamming-6 pair
    whose differing bits are spread over bits 0/8/16/24/32/48 -- a
    pair the old fixed 4x16-bit banding missed (it differs in all
    four 16-bit quarters)."""
    base = 0x0123456789ABCDEF
    spread6 = base ^ (1 << 0) ^ (1 << 8) ^ (1 << 16) ^ (1 << 24) ^ (1 << 32) ^ (1 << 48)
    fps = {
        0: base,
        1: spread6,              # Hamming 6 from base, across all quarters
        2: base ^ 0b111,         # Hamming 3, one band
        3: base ^ ((1 << 63) | (1 << 62)),  # Hamming 2, top band (sign bits)
        4: 0x7EDCBA9876543210,   # far away
        5: base,                 # exact dup
    }
    # two's-complement into signed 64-bit longs, as a 64-bit fingerprint column would hold
    rows = [Row(doc_id=i, simhash=v - (1 << 64) if v >= 1 << 63 else v)
            for i, v in fps.items()]
    fp_df = spark.createDataFrame(rows)

    got = {(r.doc_a, r.doc_b): r.hamming
           for r in hamming_banded_pairs(fp_df, max_hamming=8).collect()}
    expect = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 8
    }
    assert got == expect
    assert got[(0, 1)] == 6  # the planted cross-band pair is found


def test_ngram_jaccard_exact_dup_is_one(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0


@pytest.mark.parametrize("name", ["dedup_exact", "ngram_jaccard"])
def test_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_leakage_safe_split_never_straddles_near_dups(spark, sf_check):
    """The split's whole point: every MinHash near-dup pair must land
    on the SAME side, and both split values must be non-empty."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )
    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    split = QUERIES["leakage_safe_split"](spark, sf_check)
    pairs = minhash_near_dup_pairs(load_table(spark, sf_check, "documents"))
    a = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    straddling = pairs.join(a, "doc_a").join(b, "doc_b").filter("sa <> sb")
    assert straddling.count() == 0
    sides = {r["split"] for r in split.select("split").distinct().collect()}
    assert sides == {"train", "val"}


def test_jaccard_prefix_join_is_lossless_vs_brute_force(spark):
    """Prefix filtering must drop NO qualifying pair: compare against
    a brute-force all-pairs Jaccard on a crafted corpus with planted
    near-dups, exact dups, and unrelated docs. (The registry oracle
    proves the same at corpus scale; this pins it on adversarial
    shapes: identical sets, sets differing by one shingle, subset
    relations.)"""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.dedup import (
        shingle_rows_flat,
    )
    from mapreduce_implementation_grpc_spark.operators.setjoin import (
        jaccard_prefix_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                   # exact dup of 1
            (3, base + " lambda"),                       # near-dup (one extra)
            (4, "alpha beta gamma delta epsilon zeta"),  # prefix subset
            (5, "one two three four five six seven"),    # unrelated
            (6, "one two three four five six seven"),    # dup of 5
            (7, "xx yy"),                                # too short: no shingles
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_a, r.doc_b, r.inter, r.union_sz, r.jaccard)
        for r in jaccard_prefix_pairs(docs).collect()
    )

    sh = shingle_rows_flat(docs).distinct()
    sets = sh.groupBy("doc_id").agg(F.collect_set("sh").alias("st"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("st").alias("sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("st").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    want = sorted(
        (r.doc_a, r.doc_b, r.inter, r.union_sz, r.jaccard)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", inter.alias("inter"),
            (F.size("sa").cast("long") + F.size("sb") - inter).alias("union_sz"),
        )
        .filter(5 * F.col("inter") >= 4 * F.col("union_sz"))
        .select("doc_a", "doc_b", "inter", "union_sz",
                F.round(F.col("inter") / F.col("union_sz"), 6).alias("jaccard"))
        .collect()
    )
    assert got == want
    assert (1, 2) in {(x[0], x[1]) for x in got}  # the planted exact dup found
