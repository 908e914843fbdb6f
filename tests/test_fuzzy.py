"""SymSpell fuzzy matching: the deletion-neighborhood band must find
EXACTLY the pairs a brute-force Levenshtein scan finds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.fuzzy import (
    MAX_DIST,
    deletion_variants,
    fuzzy_word_pairs,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute(words: dict[str, int], d: int):
    out = set()
    ws = sorted(words)
    for i, w1 in enumerate(ws):
        for w2 in ws[i + 1:]:
            dist = _lev(w1, w2)
            if dist <= d:
                out.add((w1, w2, dist, words[w1], words[w2]))
    return out


VOCABS = [
    # transpositions, substitutions, insert/delete chains, shorties
    {"ab": 1, "ba": 2, "abc": 3, "xyc": 4, "a": 5, "b": 6, "": 0}.copy(),
    {"sort": 3, "sore": 1, "store": 2, "snore": 4, "spark": 9, "stark": 2},
    {"aaaa": 1, "aa": 2, "aba": 3, "bab": 4, "abab": 5},
    {"unrelated": 1, "words": 2, "entirely": 3},
]
for v in VOCABS:
    v.pop("", None)


@pytest.mark.parametrize("words", VOCABS)
@pytest.mark.parametrize("d", [1, MAX_DIST])
def test_band_matches_brute_force(spark, words, d):
    # the band holds every pair within MAX_DIST; its pairs at each
    # distance d <= MAX_DIST are exactly the brute-force ones
    freqs = spark.createDataFrame(list(words.items()), "w string, c long")
    got = {
        (r.w1, r.w2, r.dist, r.c1, r.c2)
        for r in fuzzy_word_pairs(freqs).collect()
        if r.dist <= d
    }
    assert got == _brute(words, d)


def test_variants_contain_word_and_are_distinct(spark):
    rows = (
        spark.createDataFrame([("abca",)], "w string")
        .select(deletion_variants(F.col("w")).alias("v"))
        .collect()
    )
    v = rows[0]["v"]
    assert "abca" in v and len(v) == len(set(v))
    # 1-del: bca, aca, aba, abc (4 distinct); 2-del from those
    assert {"bca", "aca", "aba", "abc"} <= set(v)
    assert "ab" in v and "ca" in v


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=6),
    min_size=1, max_size=12, unique=True,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words=_words)
def test_band_matches_brute_force_hypothesis(spark, words):
    """Random small-alphabet vocabularies maximize accidental
    near-collisions — the adversarial regime for the deletion band."""
    freqs = spark.createDataFrame([(w, 1) for w in words], "w string, c long")
    got = {
        (r.w1, r.w2, r.dist)
        for r in fuzzy_word_pairs(freqs).collect()
    }
    want = {(a, b, d) for (a, b, d, _, _) in _brute(dict.fromkeys(words, 1), MAX_DIST)}
    assert got == want
