"""Property-based tests (hypothesis): the SURVEY.md section 5
invariants, differentially checked against a pure-Python mirror of
the reference semantics (greeter_client.cc:316-321 normalize,
greeter_server.cc:72-79 tokenize)."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators import word_count

# text with punctuation, unicode-ish noise, whitespace runs
LINE = st.text(
    alphabet=st.sampled_from(list("abcXYZ019 \t!?.,;'\"-_#@")), max_size=60
)
CORPUS = st.lists(LINE, min_size=0, max_size=8)


def python_word_count(lines: list[str]) -> Counter:
    """Reference semantics in plain Python: strip non-alnum-non-space,
    lowercase, split on whitespace."""
    counts: Counter = Counter()
    for line in lines:
        cleaned = re.sub(r"[^a-zA-Z0-9\s]", "", line).lower()
        counts.update(cleaned.split())
    return counts


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(CORPUS)
def test_wordcount_matches_python_mirror(spark, corpus):
    if corpus:
        df = spark.createDataFrame([Row(line=s) for s in corpus])
    else:
        df = spark.createDataFrame([], "line string")
    got = {r.word: r.cnt for r in word_count(df).collect()}
    want = python_word_count(corpus)
    assert got == dict(want)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(CORPUS.filter(lambda c: len(c) >= 2), st.integers(min_value=1, max_value=6))
def test_wordcount_partition_invariant(spark, corpus, nparts):
    df = spark.createDataFrame([Row(line=s) for s in corpus])
    base = sorted(map(tuple, word_count(df).collect()))
    repart = sorted(map(tuple, word_count(df.repartition(nparts)).collect()))
    assert base == repart
    total = word_count(df).agg(F.sum("cnt")).collect()[0][0] or 0
    assert total == sum(python_word_count(corpus).values())


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)),
        min_size=0,
        max_size=60,
    ),
)
def test_salted_join_identical_to_plain_join(spark, fact_rows):
    """salted_join must equal the plain inner join for ANY data --
    including duplicate keys on both sides (a fact key
    matching k dim rows must still produce k output rows), empty
    inputs, and keys missing from either side."""
    from mapreduce_implementation_grpc_spark.operators.skewjoin import salted_join

    fact = spark.createDataFrame(
        [(k, rid) for k, rid in fact_rows] or [], "k int, row_id int"
    )
    # dim with deliberate duplicate keys (two payload rows for key 0)
    dim = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 20), (2, 30), (3, 40)], "k int, payload int"
    )
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    got = sorted(
        map(
            tuple,
            salted_join(fact, dim, "k", salt_from="row_id").collect(),
        )
    )
    assert got == want


def test_training_negatives_are_true_negatives_and_stable(spark, sf_smoke):
    """No sampled negative may be a positive for the same customer;
    the (custkey, pos_part, slot) -> neg_part mapping is a pure hash,
    so a second build is identical (epoch replay stability)."""
    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey", "o_custkey")
    pos = {
        (r.o_custkey, r.l_partkey)
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    }
    got = QUERIES["training_negatives"](spark, sf_smoke).collect()
    assert got
    for r in got:
        assert (r.custkey, r.neg_part) not in pos
        assert 1 <= r.slot <= 3
    again = QUERIES["training_negatives"](spark, sf_smoke).collect()
    key = lambda r: (r.custkey, r.pos_part, r.slot, r.neg_part)
    assert sorted(map(key, got)) == sorted(map(key, again))
