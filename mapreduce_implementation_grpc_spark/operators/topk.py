"""O11 -- top-N report (SURVEY.md section 2a).

Reference: greeter_server.cc:50-64 copies the final hash map into a
vector and std::sorts it **on one node**, descending by count, with
unspecified tie order (the sort compares counts only). Interactive N
comes from stdin.

Spark form: orderBy + limit. The planner executes this as
TakeOrderedAndProject -- a per-partition bounded heap followed by an
O(k) merge on the driver -- i.e. the scalable form of top-N: no
global sort, no single-node materialization of the full table. A
deterministic tie-break (count desc, word asc) is added so results
are testable/oracle-comparable (SURVEY.md section 2a O11 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, k: int) -> DataFrame:
    return df.orderBy(F.desc("cnt"), F.asc("word")).limit(k)
