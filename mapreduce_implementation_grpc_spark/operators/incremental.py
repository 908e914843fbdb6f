"""Incremental (batch-vs-corpus) deduplication.

The reference engine reprocesses its whole input every run
(greeter_client.cc:298-314 re-reads the full HDFS file); a real
100 TB pipeline instead ingests a NEW batch each day and needs to
dedup it against the EXISTING corpus without re-shuffling the
corpus' text. `incremental_dedup_exact` expresses that incremental
contract: new docs whose content fingerprint does not already exist
in the corpus (left-anti join on md5). The corpus side is reduced to
its distinct 128-bit fingerprints before the join -- at scale that
fingerprint set is what you'd persist between runs (it is ~32
bytes/doc, re-derivable, and the join key is uniformly distributed
so the anti-join never skews).

A pure DataFrame plan: one shuffle on the fingerprint for the
anti-join (or a broadcast if the batch is small -- AQE picks), zero
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import normalized_col

TEXT_COL = "text"


def _fingerprints(docs: DataFrame, text_col: str) -> DataFrame:
    return docs.select(
        "doc_id", F.md5(normalized_col(text_col)).alias("fp_md5")
    )


def incremental_dedup_exact(new_docs: DataFrame, corpus_docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, fp_md5] of new-batch docs that are novel
    w.r.t. the existing corpus (no corpus doc has the same normalized
    content). Anti-join keyed on the md5 digest: uniform key
    distribution regardless of content skew, and the corpus side
    carries only (fp) -- never the text."""
    new_fp = _fingerprints(new_docs, TEXT_COL)
    corpus_fp = _fingerprints(corpus_docs, TEXT_COL).select("fp_md5").distinct()
    return new_fp.join(corpus_fp, "fp_md5", "left_anti").select("doc_id", "fp_md5")
