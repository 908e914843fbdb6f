"""Training-data shaping operators (extension surface, SURVEY.md 2b):
turning a cleaned document corpus into model-ready pieces.

- doc_chunks: sliding token-window chunking (context-window slices
  with overlap) -- the standard pretraining chunker. One Generate per
  doc; tokenization runs ONCE per doc in the projection below the
  Generate (never inside a per-chunk lambda -- the HOF-inlining trap
  measured 50x elsewhere in this repo).
- pack_sequences: deterministic sequential sequence-packing -- docs
  are laid head-to-tail per source shard and cut into fixed token
  budgets (the concatenate-then-block GPT data recipe). A window
  prefix-sum per (source) partition: parallel across shards, no
  global ordering, no single-partition exchange.

Both are pure JVM expressions with DuckDB oracles; at 100 TB the
chunker is an embarrassingly parallel map+generate and the packer
shuffles once on the shard key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_stats import bpe_like_token_count_col
from ..operators.normalize import normalized_col
from ..operators.tokenize import tokens_col

DEFAULT_CHUNK_SIZE = 32
DEFAULT_STRIDE = 24
DEFAULT_PACK_BUDGET = 256


def doc_chunks(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, chunk_id, n_tokens, chunk_text]: overlapping
    token windows of DEFAULT_CHUNK_SIZE tokens every DEFAULT_STRIDE
    tokens (an overlap of DEFAULT_CHUNK_SIZE - DEFAULT_STRIDE). Tail
    chunks may be shorter; docs with zero tokens produce no chunks.

    Plan shape: Project (tokenize once per doc) -> Generate
    (posexplode of the start sequence) -> Project (slice + join).
    The token array is computed once per doc and carried through the
    Generate as a value; per-chunk work is a slice of an in-memory
    array."""
    toks_df = docs.select(
        "doc_id", tokens_col(normalized_col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(DEFAULT_STRIDE)
    )
    chunked = toks_df.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_id", "start")
    )
    chunk = F.slice("toks", F.col("start") + 1, DEFAULT_CHUNK_SIZE)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_sequences(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, source, n_tokens, bin_id, offset]:
    deterministic sequential packing. Within each shard (source),
    documents are laid head-to-tail in doc_id order; a document
    starts at running offset `prefix` and belongs to block
    `floor(prefix / DEFAULT_PACK_BUDGET)` of DEFAULT_PACK_BUDGET
    tokens -- the concatenate-
    then-block recipe for packing short documents into fixed-length
    training sequences.

    Per-shard window (partitionBy source): packing parallelizes
    across shards and never needs a global sort -- the scale-safe
    form (a corpus-global ordering would be a single-partition
    window)."""
    n_tok = bpe_like_token_count_col("text")
    base = docs.select("doc_id", "source", n_tok.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(prefix / DEFAULT_PACK_BUDGET).cast("long").alias("bin_id"),
        (prefix % DEFAULT_PACK_BUDGET).cast("long").alias("offset"),
    )
