"""Maximal Marginal Relevance (MMR) diversified re-ranking
(Carbonell & Goldstein, SIGIR'98): greedily pick k results that
balance relevance to the query against redundancy with what is
already picked --

    score(d) = lam * sim(q, d) - (1 - lam) * max_{s in S} sim(d, s)

The dedup-at-serving-time operator: a near-dup-heavy corpus returns
20 copies of the same passage without it.

Scale shape: the greedy loop is inherently sequential IN k but
independent ACROSS queries, so the Spark form is applyInPandas over
query_id groups -- each group is one candidate list (tens of rows,
already cut by a top-n retrieval stage), and a million queries fan
out as a million independent group tasks. Nothing here ever touches
the corpus; candidate generation (the corpus-scale part) stays in the
JVM retrieval operators.

Cross-engine exactness (the oracle unrolls the same greedy steps as
SQL): query similarities arrive pre-rounded from the JVM plan;
pairwise similarities use the same element-order sequential fold as
functions/vectors.py (bit-identical to DuckDB list_cosine_similarity)
rounded HALF_UP to 6dp via Decimal(repr(x)) -- the established
F.round/DuckDB-round-compatible recipe; the score combine uses the
literal MMR_LAM and (1.0 - MMR_LAM) doubles in both engines (never a folded
constant like 0.3, which is a DIFFERENT double from 1.0 - 0.7);
argmax ties break on doc_id ascending.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_OUT_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("pick_rank", LongType()),
        StructField("mmr", DoubleType()),
    ]
)

_Q6 = Decimal("0.000001")

MMR_K = 8  # picks per query
MMR_LAM = 0.7  # relevance weight; redundancy weighs 1.0 - MMR_LAM


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def _cos6(a, b) -> float:
    """round(cosine, 6) with the element-order sequential double fold
    of functions/vectors.dot_col -- bit-identical to DuckDB's
    list_cosine_similarity before the shared rounding."""
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        x = float(x)
        y = float(y)
        dot += x * y
        na += x * x
        nb += y * y
    return _round6(dot / (math.sqrt(na) * math.sqrt(nb)))


def mmr_select(candidates: DataFrame) -> DataFrame:
    """Greedy MMR over per-query candidate groups.

    candidates: DataFrame[query_id, doc_id, sim_q, embedding] where
    sim_q is the (already rounded) query similarity. Returns
    [query_id, doc_id, pick_rank (1-based), mmr (score at pick time,
    rounded 6dp)] with min(MMR_K, group size) rows per query."""
    one_minus_lam = 1.0 - MMR_LAM

    def _pick(pdf):
        import pandas as pd

        docs = pdf["doc_id"].tolist()
        sims = dict(zip(docs, (float(s) for s in pdf["sim_q"])))
        embs = dict(zip(docs, pdf["embedding"].tolist()))
        qid = int(pdf["query_id"].iloc[0])
        remaining = sorted(docs)
        selected: list[int] = []
        out = []
        while remaining and len(selected) < MMR_K:
            best_d, best_score = None, None
            for d in remaining:  # ascending doc_id -> ties keep the first
                # true max over selected (can be negative); 0.0 only
                # for the empty first-pick set, matching the oracle's
                # coalesce(max(...), 0.0)
                worst = max(
                    (_cos6(embs[d], embs[s]) for s in selected), default=0.0
                )
                score = MMR_LAM * sims[d] - one_minus_lam * worst
                if best_score is None or score > best_score:
                    best_d, best_score = d, score
            selected.append(best_d)
            remaining.remove(best_d)
            # mmr is emitted UNROUNDED: both engines build it from the
            # same doubles with the same op order, so the bits (and
            # hash reprs) already match -- while rounding would create
            # a knife-edge, because lam * (a 6dp value) lands on exact
            # 7th-digit halves where Spark/Python round the shortest
            # repr but DuckDB rounds the binary double (measured:
            # 0.7 * 0.371485 -> 0.26004 vs 0.260039 at sf0.01)
            out.append((qid, best_d, len(selected), best_score))
        return pd.DataFrame(
            out, columns=["query_id", "doc_id", "pick_rank", "mmr"]
        )

    return candidates.groupBy("query_id").applyInPandas(_pick, _OUT_SCHEMA)
