"""Curation pipeline: end-to-end behavior on crafted corpora +
grouped-map trend fit."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.plans.pipeline import curate_documents

GOOD = (
    "the quick analysis of a large spark table shows that partial aggregation is "
    "one of the most effective levers for reducing shuffle volume in any big "
    "data pipeline and it is enabled by default for all hash aggregations"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        Row(doc_id=1, text=GOOD, lang="en", source="s1", n_chars=len(GOOD)),
        Row(doc_id=2, text=GOOD, lang="en", source="s1", n_chars=len(GOOD)),          # exact dup
        Row(doc_id=3, text=GOOD.replace("levers", "knobs"), lang="en", source="s2",
            n_chars=len(GOOD)),                                                        # near dup
        Row(doc_id=4, text="!!! ???", lang="en", source="s3", n_chars=7),              # junk
        Row(doc_id=5, text="the a of is and " * 12, lang="fr", source="s4", n_chars=16 * 12),  # low diversity
    ]
    return rows


def _curate_frame(spark, corpus, tmp_path):
    docs = spark.createDataFrame(corpus)
    path = str(tmp_path / "docs_sf")
    docs.write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return path


def test_curation_dedups_and_filters(spark, corpus, tmp_path):
    path = _curate_frame(spark, corpus, tmp_path)
    out = curate_documents(spark, path)
    kept = {r.doc_id: r for r in out.collect()}
    assert 1 in kept           # canonical of the exact-dup group
    assert 2 not in kept       # exact dup removed
    assert 3 not in kept       # near dup removed (cluster canonical is 1)
    assert 4 not in kept       # junk fails the quality gate
    assert kept[1].n_bpe_tokens > 0 and len(kept[1].fingerprint) == 32


def test_events_type_trend(spark, sf_check):
    rows = {r.event_type: r for r in registry.QUERIES["events_type_trend"](spark, sf_check).collect()}
    assert set(rows) == {"click", "error", "purchase", "signup", "view"}
    for r in rows.values():
        assert r.n_hours > 100          # a month of hourly buckets
        assert abs(r.slope_per_hour) < 10  # no runaway fit on flat data
