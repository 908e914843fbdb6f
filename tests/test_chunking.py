"""Training-data shaping operators: exact crafted-corpus properties +
oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.chunking import (
    DEFAULT_CHUNK_SIZE,
    DEFAULT_PACK_BUDGET,
    DEFAULT_STRIDE,
    doc_chunks,
    pack_sequences,
)

WORDS = [f"w{i}" for i in range(40)]  # doc 1's tokens
from tests.oracle_utils import assert_matches_oracle


@pytest.fixture(scope="module")
def chunk_docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, source="s0", text=" ".join(WORDS)),
            Row(doc_id=2, source="s0", text="one two three"),
            Row(doc_id=3, source="s1", text="..."),                  # 0 tokens
            Row(doc_id=4, source="s1", text="solo"),
        ]
    )


def test_doc_chunks_windows_exact(chunk_docs):
    rows = doc_chunks(chunk_docs).collect()
    got = {(r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text) for r in rows}
    # doc 1: a window of DEFAULT_CHUNK_SIZE every DEFAULT_STRIDE (tail short)
    starts = range(0, len(WORDS), DEFAULT_STRIDE)
    for k, start in enumerate(starts):
        window = WORDS[start:start + DEFAULT_CHUNK_SIZE]
        assert got[(1, k)] == (len(window), " ".join(window))
    assert sum(d == 1 for d, _ in got) == len(starts) == 2
    # doc 2: one full window
    assert got[(2, 0)] == (3, "one two three")
    # doc 3 (zero tokens) produces nothing; doc 4 one 1-token chunk
    assert not any(d == 3 for d, _ in got)
    assert got[(4, 0)] == (1, "solo")


def test_doc_chunks_overlap_covers_every_token(chunk_docs):
    # stride < chunk_size: every token of every doc appears in >=1 chunk
    rows = doc_chunks(chunk_docs).collect()
    per_doc_tokens = {}
    for r in rows:
        per_doc_tokens.setdefault(r.doc_id, set()).update(r.chunk_text.split(" "))
    assert per_doc_tokens[1] == set(WORDS)


def test_pack_sequences_prefix_packing(spark):
    # bpe-ish count = sum(ceil+adjust (len+3)//4) per token
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="s0", text="aaaa " * 200),  # (4+3)//4 = 1 token per word
            Row(doc_id=2, source="s0", text="cccc " * 100),
            Row(doc_id=3, source="s0", text="eeee"),
            Row(doc_id=10, source="s1", text="zzzz"),
        ]
    )
    rows = {r.doc_id: r for r in pack_sequences(docs).collect()}
    # per-doc n_tokens: doc1=200, doc2=100, doc3=1; shard s0 prefix sums 0,200,300
    assert (rows[1].bin_id, rows[1].offset) == (0, 0)
    assert (rows[2].bin_id, rows[2].offset) == divmod(200, DEFAULT_PACK_BUDGET)
    assert (rows[3].bin_id, rows[3].offset) == divmod(300, DEFAULT_PACK_BUDGET) == (1, 44)
    # shard s1 packs independently
    assert (rows[10].bin_id, rows[10].offset) == (0, 0)


@pytest.mark.parametrize(
    "name", ["doc_chunks", "pack_sequences", "ngram_counts", "vocab_ids"]
)
def test_oracle_parity(spark, sf_check, name):
    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )
