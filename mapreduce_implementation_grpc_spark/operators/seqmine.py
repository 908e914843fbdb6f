"""Sequential-pattern mining: frequent contiguous event n-grams.

The sequence analog of market-basket mining (operators/basket.py
covers unordered itemsets; this covers ORDERED behavior): which
length-n runs of event types do the most users execute? The
contiguous form is the n-gram/path-analysis primitive underlying
funnel discovery -- event_transitions is exactly its n=2 occurrence
table, and strict funnels (funnel_strict_sequence) test ONE
hypothesized sequence where this mines all of them.

Distributed shape: one user-keyed window (ordered by (ts, event_id)
-- event_id is unique, so the order is total and deterministic)
chains n-1 lead()s into a contiguous n-gram per event row; support
counts DISTINCT users per n-gram via the two-phase groupBy
(ngram, user) -> (ngram) so the exact distinct is partial-aggregated,
never a count(distinct) over a global shuffle of raw rows.

Scale: the window is the same single hash exchange every per-user
event operator in this repo rides (sessionize, streaks, transitions
-- one shuffle on user_id); n-grams collapse to a tiny key domain
(|event types|^n) at the first aggregate. Skewed users cost one
window partition each, bounded by per-user event counts, never a
cross-user blow-up.

Reference scope note: the reference engine (greeter_client.cc /
greeter_server.cc) has no sequence surface; SURVEY extension brief
(behavioral pattern mining).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ITEM_COL = "event_type"
USER_COL = "user_id"


SEQ_N = 3  # contiguous_sequences mines event-type trigrams ...
SEQ_TOP_N = 20  # ... and keeps the top 20


def contiguous_sequences(events: DataFrame) -> DataFrame:
    """Top SEQ_TOP_N contiguous length-SEQ_N item sequences by user
    support: [step_1..step_SEQ_N, support, occurrences], support =
    distinct users executing the run at least once, occurrences =
    total runs; ordered support desc, occurrences desc, then steps."""
    w = Window.partitionBy(USER_COL).orderBy(F.asc("ts"), F.asc("event_id"))
    steps = [F.col(ITEM_COL).alias("step_1")] + [
        F.lead(ITEM_COL, i).over(w).alias(f"step_{i + 1}")
        for i in range(1, SEQ_N)
    ]
    grams = events.select(F.col(USER_COL).alias("_u"), *steps).filter(
        F.col(f"step_{SEQ_N}").isNotNull()
    )
    step_names = [f"step_{i + 1}" for i in range(SEQ_N)]
    per_user = grams.groupBy("_u", *step_names).agg(
        F.count("*").alias("_occ")
    )
    return (
        per_user.groupBy(*step_names)
        .agg(
            F.count("*").alias("support"),
            F.sum("_occ").alias("occurrences"),
        )
        .orderBy(
            F.desc("support"),
            F.desc("occurrences"),
            *[F.asc(c) for c in step_names],
        )
        .limit(SEQ_TOP_N)
    )
