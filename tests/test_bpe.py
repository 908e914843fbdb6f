"""BPE tokenizer training: differential tests against a pure-Python
mirror of Sennrich et al.'s algorithm, plus the greedy-left-to-right
edge cases the delimiter-replace implementation must honor."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators import bpe


# -- pure-Python reference ---------------------------------------------------

def _py_pairs(freqs: dict[tuple[str, ...], int]) -> Counter:
    pc: Counter = Counter()
    for syms, c in freqs.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += c
    return pc


def _py_merge(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _py_train(words: dict[str, int], k: int):
    freqs = {tuple(w): c for w, c in words.items()}
    merges = []
    for rank in range(1, k + 1):
        pc = _py_pairs(freqs)
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, c))
        freqs = {_py_merge(s, (l, r)): c for s, c in freqs.items()}
    return merges, freqs


def _spark_train(spark, words: dict[str, int], k: int):
    vocab = spark.createDataFrame(
        [(w, c) for w, c in words.items()], "w string, c long"
    ).select(bpe.symbolized(F.col("w")).alias("ws"), "c")
    merges = []
    for rank in range(1, k + 1):
        top = (
            bpe.pair_counts(vocab)
            .orderBy(F.desc("pair_freq"), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["left"], top[0]["right"], int(top[0]["pair_freq"])
        merges.append((rank, l, r, l + r, c))
        search, repl = bpe.merge_pattern(l, r)
        vocab = vocab.withColumn("ws", F.replace("ws", F.lit(search), F.lit(repl)))
    return merges, vocab


CORPORA = [
    {"low": 5, "lower": 2, "newest": 6, "widest": 3},      # the classic example
    {"aaaa": 3, "aa": 2, "a": 7},                          # overlapping same-char runs
    {"ab": 1, "ba": 1, "aba": 1, "bab": 1},                # tie-break battleground
    {"x": 4},                                              # no pairs at all
]


@pytest.mark.parametrize("words", CORPORA)
def test_train_matches_python_mirror(spark, words):
    k = 5
    py_merges, py_freqs = _py_train(words, k)
    sp_merges, vocab = _spark_train(spark, words, k)
    assert sp_merges == py_merges
    # final vocab symbolization agrees too (greedy application parity)
    got = {
        tuple(s for s in row["ws"].split(bpe.SEP) if s): row["c"]
        for row in vocab.collect()
    }
    assert got == {s: c for s, c in py_freqs.items()}


def test_greedy_left_to_right_on_runs(spark):
    # merging (a, a) over 'aaaa' must give ['aa', 'aa'], over 'aaa' -> ['aa', 'a']
    df = spark.createDataFrame([("aaaa",), ("aaa",)], "w string").select(
        bpe.symbolized(F.col("w")).alias("ws")
    )
    search, repl = bpe.merge_pattern("a", "a")
    out = [r["ws"] for r in df.select(F.replace("ws", F.lit(search), F.lit(repl)).alias("ws")).collect()]
    assert out == ["||aa||aa||", "||aa||a||"]


def test_encoded_len_col(spark):
    merges = [(1, "a", "b", "ab", 9), (2, "ab", "c", "abc", 5)]
    df = spark.createDataFrame(
        [("abc",), ("abab",), ("cab",), ("x",)], "w string"
    ).select(bpe.encoded_len_col(F.col("w"), merges).alias("n"))
    # abc -> [abc]; abab -> [ab, ab]; cab -> [c, ab]; x -> [x]
    assert [r["n"] for r in df.collect()] == [1, 2, 2, 1]


def test_merged_symbol_can_be_left_operand(spark):
    # second-round merge whose LEFT side is a merged symbol must apply
    words = {"abc": 3, "abd": 1}
    py_merges, _ = _py_train(words, 2)
    sp_merges, _ = _spark_train(spark, words, 2)
    assert sp_merges == py_merges
    assert sp_merges[0][3] == "ab" and sp_merges[1][1] == "ab"


def test_degenerate_corpus_oracle_noops_instead_of_nulling(spark):
    """A corpus that exhausts before BPE_MERGES rounds: the Spark
    trainer breaks out of its loop, and the unrolled oracle's empty
    b{i} scalar subqueries must degrade to a no-op replace (via the
    coalesce guard) -- NOT null out every later vocab CTE. Runs the
    real oracle SQL against a 2-word documents view and compares to
    train_merges on the same words."""
    import duckdb

    from mapreduce_implementation_grpc_spark import registry

    # tokens: ab x3, cd x2 -> merge1 (a,b,3), merge2 (c,d,2), then dry
    text = "ab ab ab cd cd"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 1 AS doc_id, 'en' AS lang, "
        f"'{text}' AS text"
    )
    orows = con.execute(registry.ORACLES["bpe_merges"]).fetchall()

    merges, _ = bpe.train_merges(
        spark.createDataFrame([("ab", 3), ("cd", 2)], "w string, c long")
    )
    assert len(merges) == 2 < bpe.BPE_MERGES  # the degenerate case is real
    assert [tuple(m) for m in merges] == [tuple(r) for r in orows]

    # and the downstream encode/compression oracles must not null out
    enc = con.execute(registry.ORACLES["bpe_compression_by_lang"]).fetchall()
    assert enc and all(v is not None for row in enc for v in row)
