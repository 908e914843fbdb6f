"""Fuzzy word matching by edit distance -- SymSpell-banded, never
all-pairs.

The reference engine matches words exactly (greeter_server.cc:78's
map<string,int>); fuzzy matching is extension surface: typo-cluster
candidate generation for vocabulary normalization (spell-correction
candidates, OCR noise clustering) in a text-cleaning pipeline.

Algorithm (Garbe's SymSpell): two words within Levenshtein distance d
share at least one common variant in their <=d-deletion
neighborhoods, so candidate pairs are found by exploding each word's
deletion variants and equi-joining on the variant -- a keyed join
whose fan-out is O(len^d) variants per word, NOT an all-pairs
cross-join. An exact levenshtein() filter then removes the false
candidates the deletion bound admits.

Scale: candidate generation is map-only over the |vocab| table (the
corpus is scanned once for word counts, as in BPE); the join is keyed
on short variant strings; the quadratic blow-up of a naive fuzzy join
never exists in the plan. The one skewed bucket is the empty-string
variant shared by all words of length <= d -- bounded by the alphabet
(there are only so many 2-char words); production use at 100 TB would
add a min-length filter. The DuckDB oracle is deliberately the NAIVE
all-pairs form, so the hash match also proves the banding is lossless.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_DIST = 2


def _remove_at(s: Column, i: Column) -> Column:
    """`s` with its i-th (1-based) character removed."""
    return F.concat(F.substr(s, F.lit(1), i - 1), F.substr(s, i + 1))


def deletion_variants(w: Column) -> Column:
    """Distinct <=MAX_DIST-deletion neighborhood of `w` (MAX_DIST = 2,
    the practical SymSpell setting), including `w` itself."""
    d0 = F.array(w)
    d1 = F.transform(F.sequence(F.lit(1), F.length(w)), lambda i: _remove_at(w, i))
    d2 = F.flatten(
        F.transform(
            d1,
            lambda v: F.when(
                F.length(v) > 0,
                F.transform(
                    F.sequence(F.lit(1), F.length(v)), lambda i: _remove_at(v, i)
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return F.array_distinct(F.concat(d0, d1, d2))


def fuzzy_word_pairs(freqs: DataFrame) -> DataFrame:
    """All word pairs (w1 < w2) within Levenshtein distance MAX_DIST,
    with the exact distance and both corpus counts, from a (w, c)
    word-frequency table."""
    var = freqs.select(
        "w", "c", F.explode(deletion_variants(F.col("w"))).alias("v")
    )
    left = var.select(
        F.col("w").alias("w1"), F.col("c").alias("c1"), F.col("v").alias("v1")
    )
    right = var.select(
        F.col("w").alias("w2"), F.col("c").alias("c2"), F.col("v").alias("v2")
    )
    cand = (
        left.join(right, (F.col("v1") == F.col("v2")) & (F.col("w1") < F.col("w2")))
        .select("w1", "w2", "c1", "c2")
        .distinct()
    )
    return cand.select(
        "w1",
        "w2",
        F.levenshtein("w1", "w2").cast("long").alias("dist"),
        "c1",
        "c2",
    ).filter(F.col("dist") <= MAX_DIST)
