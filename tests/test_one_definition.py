"""One definition per query constant: an edit to an engine constant
reaches the DuckDB oracle as well, because the oracle builders import
the constant instead of restating its value. No Spark: each case sets
the constant in a fresh interpreter before ``registry`` is imported
and reads the oracle SQL back."""

from __future__ import annotations

import functools
import json
import pathlib
import re
import subprocess
import sys

import pytest

from mapreduce_implementation_grpc_spark import registry

REPO = pathlib.Path(__file__).resolve().parent.parent


@functools.lru_cache
def _oracles_with(module: str, name: str, value: float) -> dict[str, str]:
    code = (
        "import json, sys\n"
        f"import mapreduce_implementation_grpc_spark.{module} as m\n"
        f"m.{name} = {value!r}\n"
        "from mapreduce_implementation_grpc_spark import registry\n"
        "json.dump(registry.ORACLES, sys.stdout)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout)


def _code_columns(sql: str) -> set[str]:
    return set(re.findall(r"\bAS (c\d+)\b", sql))


def test_pq_subspace_count_reaches_the_oracle():
    assert _code_columns(registry.ORACLES["pq_codes"]) == {"c0", "c1", "c2", "c3"}
    oracles = _oracles_with("operators.quantization", "DEFAULT_PQ_M", 2)
    assert _code_columns(oracles["pq_codes"]) == {"c0", "c1"}
    for name in ("pq_search", "ann_ivfpq", "ann_ivfpq_residual"):
        assert oracles[name] != registry.ORACLES[name], name


def test_pack_budget_reaches_the_oracle():
    oracles = _oracles_with("operators.chunking", "DEFAULT_PACK_BUDGET", 128)
    for name in ("pack_sequences", "pack_sequences_bpe"):
        assert "prefix // 256 AS BIGINT" in registry.ORACLES[name], name
        assert "prefix // 128 AS BIGINT" in oracles[name], name
        assert "prefix % 128 AS BIGINT" in oracles[name], name


@pytest.mark.parametrize(
    "name", ["ann_lsh_banded", "ann_banded_candidates_sweep", "ann_clustered_selectivity"]
)
def test_ann_rows_per_band_reaches_the_oracle(name):
    # each band's bucket sums 2^0 .. 2^(rows - 1): 7 rows reach 64, 6 rows stop at 32
    oracles = _oracles_with("operators.similarity", "ANN_ROWS_PER_BAND", 6)
    assert "THEN 64 ELSE" in registry.ORACLES[name]
    assert "THEN 64 ELSE" not in oracles[name]
    assert "THEN 32 ELSE" in oracles[name]


@pytest.mark.parametrize(
    "name",
    ["quality_score", "token_budget_mixture", "dedup_keep_best", "weighted_doc_sample",
     "curate_documents"],
)
def test_quality_weight_reaches_the_oracle(name):
    oracles = _oracles_with("functions.text_stats", "QUALITY_LENGTH_WEIGHT", 0.4)
    assert "least(len(toks) / 50.0, 1.0) * 0.35" in registry.ORACLES[name]
    assert "least(len(toks) / 50.0, 1.0) * 0.4" in oracles[name]


def test_linkpred_degree_cap_reaches_the_oracle():
    name = "cosupply_link_prediction_capped"
    oracles = _oracles_with("operators.linkpred", "LINKPRED_MAX_DEGREE", 128)
    assert "WHERE deg.d <= 256)" in registry.ORACLES[name]
    assert "WHERE deg.d <= 128)" in oracles[name]
    others = {k for k, sql in oracles.items() if sql != registry.ORACLES[k]}
    assert others == {name}
