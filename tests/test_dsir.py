"""DSIR importance weighting: semantic direction and exclusions. Oracle parity is covered by the registry-wide sweep
(test_oracle_coverage) and was hand-verified at sf0.001 + sf0.01."""

from __future__ import annotations

from pyspark.sql import Row

from mapreduce_implementation_grpc_spark.operators.dsir import TARGET_SOURCE, dsir_weights


def _docs(spark):
    rows = [
        # target domain: legal-ish vocabulary
        Row(doc_id=1, text="whereas the party agrees to the terms", lang="en", source=TARGET_SOURCE),
        Row(doc_id=2, text="the party shall comply with the terms", lang="en", source=TARGET_SOURCE),
        # raw pool: doc 10 looks like the target, doc 11 does not
        Row(doc_id=10, text="the party agrees to comply with terms", lang="en", source="web"),
        Row(doc_id=11, text="lol cats meme pics funny videos", lang="en", source="web"),
        # raw doc with zero tokens -> excluded
        Row(doc_id=12, text="???!!!", lang="en", source="web"),
    ]
    return spark.createDataFrame(rows)


def test_target_like_docs_score_higher(spark):
    out = {
        r.doc_id: r.dsir_logw
        for r in dsir_weights(_docs(spark)).collect()
    }
    assert set(out) == {10, 11}  # target docs and empty docs excluded
    assert out[10] > out[11]
