"""SPARK_GRAFT_CONF_JSON must be a JSON object of scalar confs; any
other shape fails before a session is built (no JVM is started)."""

from __future__ import annotations

import pytest

from mapreduce_implementation_grpc_spark import session


def test_conf_json_scalars_pass_as_json_text(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_JSON",
        '{"spark.a": "x", "spark.b": true, "spark.c": 2000}',
    )
    assert session._env_conf() == {
        "spark.a": "x", "spark.b": "true", "spark.c": "2000",
    }


def test_conf_json_null_value_names_the_key(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", '{"spark.sql.shuffle.partitions": null}')
    with pytest.raises(ValueError, match=r"'spark\.sql\.shuffle\.partitions'.*null"):
        session.get_spark()


def test_conf_json_top_level_array_is_rejected(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", '[["spark.a", "1"]]')
    with pytest.raises(ValueError, match="JSON object.*got a JSON list"):
        session.get_spark()


def test_conf_json_nested_value_names_the_key(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", '{"spark.a": {"b": 1}}')
    with pytest.raises(ValueError, match=r"'spark\.a'.*dict"):
        session.get_spark()
