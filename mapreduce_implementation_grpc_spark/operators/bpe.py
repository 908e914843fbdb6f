"""Byte-pair-encoding tokenizer training over the documents corpus.

The reference engine tokenizes by whitespace only
(greeter_server.cc:72-79); subword tokenizer TRAINING is part of the
mandated LLM-data-pipeline extension surface (token counting's real
counterpart). Algorithm: BPE as in Sennrich et al. 2016 -- count
word frequencies once, then repeatedly merge the most frequent
adjacent symbol pair.

Scale design (the standard BPE-trainer layout):
- the corpus is scanned ONCE for word frequencies (the wordcount
  shuffle); every merge iteration runs over the |vocab| word table
  only -- iterations never touch the corpus again, so training cost
  is O(corpus) + k * O(|vocab|) regardless of corpus size;
- the per-round top-pair pick is a 1-row collect (the k-means
  driver-loop pattern: k small, served plans stay lazy);
- encoding is MAP-ONLY: the k learned merges are embedded as literal
  replace() calls (tiny, like the centroid literals), so encode adds
  zero shuffles to a corpus scan.

Cross-engine exactness: a word's symbol sequence is materialized as
a delimiter string `||a||b||c||` (symbols are normalized alnum, so
`|` never collides). Applying merge (l, r) is then the PLAIN
substring replace `|l||r|` -> `|lr|`: both Spark's replace() and
DuckDB's replace() scan left-to-right non-overlapping, and the
doubled delimiter means adjacent occurrences never share a matched
character -- so greedy merge application is bit-identical in both
engines, which makes even the iterative trainer oracle-able by
unrolling rounds in SQL (registry.shared._bpe_ctes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..materialize import materialize

from ..operators.normalize import normalized_col
from ..operators.tokenize import tokenize
from ..sources.catalog import load_table

SEP = "||"
BPE_MERGES = 4  # merge rounds of the trained tokenizer


def word_freqs_df(docs: DataFrame) -> DataFrame:
    """(word, count) over normalized whitespace tokens -- the single
    corpus scan; everything else in BPE training iterates on this."""
    words = tokenize(docs.select(normalized_col("text").alias("norm")))
    return words.groupBy(F.col("word").alias("w")).agg(F.count("*").alias("c"))


def word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_freqs_df(load_table(spark, sf_dir, "documents"))


def symbolized(col) -> F.Column:
    """`abc` -> `||a||b||c||`: one symbol per char, double-delimited."""
    return F.concat(F.lit(SEP), F.regexp_replace(col, "(.)", "$1" + SEP))


def _syms(ws) -> F.Column:
    return F.filter(F.split(ws, r"\|\|"), lambda s: s != F.lit(""))


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word frequency.
    Runs over |vocab| rows; the explode fans out to symbols-per-word
    pairs (bounded by max word length), then one short-key shuffle."""
    syms = vocab.select(
        F.explode(F.array(_syms(F.col("ws")))).alias("s"), "c"
    )
    n = F.size(F.col("s"))
    pairs = F.zip_with(
        F.slice(F.col("s"), 1, n - 1),
        F.slice(F.col("s"), 2, n - 1),
        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
    )
    return (
        syms.select(F.explode(pairs).alias("p"), "c")
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("c").alias("pair_freq"))
    )


def merge_pattern(left: str, right: str) -> tuple[str, str]:
    return f"|{left}{SEP}{right}|", f"|{left}{right}|"


def train_merges(
    freqs: DataFrame,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn BPE_MERGES merge rules from a (w, c) word-frequency
    table. Returns (merges, final vocab); merges are (rank, left,
    right, merged, pair_freq). Deterministic: ties broken by
    (left, right) string order, identical in DuckDB."""
    vocab = freqs.withColumn(
        "ws", symbolized(F.col("w"))
    ).select("ws", "c").transform(materialize)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, BPE_MERGES + 1):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("pair_freq"), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, freq = top[0]["left"], top[0]["right"], top[0]["pair_freq"]
        merges.append((rank, l, r, l + r, int(freq)))
        search, repl = merge_pattern(l, r)
        vocab = vocab.withColumn(
            "ws", F.replace(F.col("ws"), F.lit(search), F.lit(repl))
        )
    return merges, vocab


def bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    return train_merges(word_freqs(spark, sf_dir))


def encoded_len_col(word_col, merges: list[tuple[int, str, str, str, int]]):
    """Symbol count of a word after applying the learned merges --
    the merge list is embedded as literal replace() calls (map-only)."""
    ws = symbolized(word_col)
    for _, l, r, _, _ in merges:
        search, repl = merge_pattern(l, r)
        ws = F.replace(ws, F.lit(search), F.lit(repl))
    return F.size(_syms(ws))


_MERGES_CACHE: dict[str, list[tuple[int, str, str, str, int]]] = {}


def trained_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, str, int]]:
    """Session-lifetime memo of the trained merge table: training is
    deterministic (greedy with total-order tie-breaks), so re-running
    it for every encode-style query over the same corpus is pure
    waste -- this is the same train-once/serve-many artifact reuse as
    dsir_log_ratios. Keyed by corpus dir; the first caller pays
    the training jobs, later callers embed the cached literals."""
    import os as _os

    key = _os.path.abspath(sf_dir)
    if key not in _MERGES_CACHE:
        _MERGES_CACHE[key] = bpe_train(spark, sf_dir)[0]
    return _MERGES_CACHE[key]
