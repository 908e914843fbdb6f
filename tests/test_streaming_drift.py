"""Streaming drift monitor (streaming/pipelines.drift_monitor_sink):
batch parity and crashed-batch replay idempotence."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.drift import (
    categorical_drift,
)
from mapreduce_implementation_grpc_spark.streaming import (
    drift_monitor_sink,
    drift_report,
)

SCHEMA = "doc_id long, lang string"
BASE = [("en", 6), ("de", 3), ("fr", 1)]
B1 = [(1, "en"), (2, "en"), (3, "de"), (4, "fr")]
B2 = [(5, "en"), (6, "de"), (7, "fr"), (8, "fr")]


def _write(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        for did, lang in rows:
            f.write(json.dumps({"doc_id": did, "lang": lang}) + "\n")


def _run(spark, src, out, ckpt):
    q = (
        spark.readStream.schema(SCHEMA)
        .json(src)
        .writeStream.foreachBatch(drift_monitor_sink(spark, out))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(120)


def _baseline(spark):
    return spark.createDataFrame(
        [(c, n) for c, n in BASE], "cat string, n_base long"
    )


def test_report_matches_batch_operator(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "mon")
    os.makedirs(src)
    _write(src, "b1.json", B1)
    _run(spark, src, out, str(tmp_path / "ck"))
    _write(src, "b2.json", B2)
    _run(spark, src, out, str(tmp_path / "ck"))

    got = {
        r.cat: r
        for r in drift_report(spark, out, _baseline(spark)).collect()
    }
    base_rows = spark.createDataFrame(
        [(c,) for c, n in BASE for _ in range(n)], "lang string"
    )
    curr_rows = spark.createDataFrame(B1 + B2, SCHEMA)
    want = {
        r.cat: r for r in categorical_drift(base_rows, curr_rows, "lang").collect()
    }
    assert set(got) == set(want)
    for cat in want:
        for col in ("n_base", "n_curr", "p_base", "p_curr", "psi_term", "kl_term"):
            assert getattr(got[cat], col) == getattr(want[cat], col), (cat, col)


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "mon")
    os.makedirs(src)
    _write(src, "b1.json", B1)
    _run(spark, src, out, str(tmp_path / "ck"))
    before = {
        r.cat: r.n_curr
        for r in drift_report(spark, out, _baseline(spark)).collect()
    }
    # crash-and-replay: a fresh checkpoint re-delivers the same file
    # as batch 0 again -- the _batch_id partition overwrite must
    # replace, not append
    _run(spark, src, out, str(tmp_path / "ck2"))
    after = {
        r.cat: r.n_curr
        for r in drift_report(spark, out, _baseline(spark)).collect()
    }
    assert after == before


def test_unseen_category_raises_in_report(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "mon")
    os.makedirs(src)
    _write(src, "b1.json", [(1, "zz")])
    _run(spark, src, out, str(tmp_path / "ck"))
    with pytest.raises(Exception, match="zero mass"):
        drift_report(spark, out, _baseline(spark)).collect()
