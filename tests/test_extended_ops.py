"""Second-wave operators: salted aggregation, TF-IDF, rollup, set
ops, distinct/approx-distinct, monthly histogram, as-of window."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.wordcount import (
    word_count,
    word_count_salted,
)
from mapreduce_implementation_grpc_spark.functions.tfidf import tfidf_scores
from tests.oracle_utils import assert_matches_oracle

ORACLE_CHECKED = [
    "wordcount_salted",
    "tfidf_top_terms",
    "events_rollup",
    "repeat_customers",
    "distinct_users",
    "orders_monthly",
    "events_asof_error",
    "events_quantiles",
    "events_trailing_hour",
    "revenue_forecast",
    "shipping_priority",
    "large_orders",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_salted_equals_plain(spark):
    corpus = spark.createDataFrame(
        [Row(line="a a a b"), Row(line="b c"), Row(line="a")]
    )
    plain = sorted(map(tuple, word_count(corpus).collect()))
    salted = sorted(map(tuple, word_count_salted(corpus).collect()))
    assert plain == salted == [("a", 4), ("b", 2), ("c", 1)]


def test_tfidf_rare_term_scores_higher(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="common rare"),
            Row(doc_id=2, text="common"),
            Row(doc_id=3, text="common"),
        ]
    )
    scores = {(r.doc_id, r.word): r.score for r in tfidf_scores(docs).collect()}
    assert scores[(1, "rare")] > scores[(1, "common")]


def test_approx_distinct_within_tolerance(spark, sf_check):
    approx = {
        r.event_type: r.n_users_approx
        for r in registry.QUERIES["approx_distinct_users"](spark, sf_check).collect()
    }
    exact = {
        r.event_type: r.n_users
        for r in registry.QUERIES["distinct_users"](spark, sf_check).collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) / n < 0.1, (et, approx[et], n)


def test_rollup_has_grand_total(spark, sf_check):
    rows = registry.QUERIES["events_rollup"](spark, sf_check).collect()
    grand = [r for r in rows if r.event_type is None and r.day is None]
    assert len(grand) == 1
    assert grand[0].n_events == sum(
        r.n_events for r in rows if r.event_type is not None and r.day is None
    )
