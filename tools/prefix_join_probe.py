"""Scaling ladders for round-4's two heaviest new operators --
numbers recorded in SCALING.md (VERDICT r4 next-round #7).

A. jaccard_prefix_pairs (exact PPJoin set-similarity self-join):
   synthetic corpora of n docs over an n-word vocabulary (random-pair
   Jaccard ~ 0) plus a 10% planted near-duplicate population (one
   token edited -> shingle Jaccard ~ 0.85). The claim to verify is
   near-linear growth: candidates are generated per prefix token and
   rare-first prefixes bound fan-out by token df, so doubling docs
   should ~double runtime, not quadruple it (all-pairs would be 4x).

B. bloom-join pruning (bloom_prune + exact join vs plain shuffle
   join): fact table of n rows with string keys uniform over a
   100x-keyset universe (1% selectivity), keyset of 5k keys,
   broadcast DISABLED to model a keyset whose exact form exceeds the
   broadcast budget while its 16 KB bitmap does not. The bloom path
   shuffles only survivors (~1% + false positives) into the exact
   join; both paths are verified row-count-identical before timing.

Usage: python tools/prefix_join_probe.py [ladder sizes...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.bloom import (
    bloom_bitmap,
    bloom_prune,
)
from mapreduce_implementation_grpc_spark.operators.setjoin import (
    jaccard_prefix_pairs,
)
from mapreduce_implementation_grpc_spark.session import get_spark

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def synth_neardup_corpus(spark, n_docs: int, tokens: int = 40):
    """n docs of `tokens` hash-picked words over an n-word vocabulary
    (random-pair overlap negligible), plus an edited copy of every
    10th doc (last token replaced -> 3 of ~38 shingles change,
    Jaccard ~ 0.85 > the 0.8 threshold)."""
    word = lambda i: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(n_docs)).cast("string")
    )
    body = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(1), F.lit(tokens - 1)), word)
    )
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", body, word(F.lit(tokens))).alias("text"),
    )
    edits = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.expr("substring(text, 1, length(text) - 3)"), F.lit("zzz")
        ).alias("text"),
    )
    return base.unionByName(edits).repartition(CPUS)


def prefix_join_ladder(spark, sizes: list[int]) -> list[dict]:
    out = []
    # warm-up rung: JIT + codegen caches, discarded (the first rung
    # otherwise measures warm-up, not the operator)
    warm = synth_neardup_corpus(spark, 2000)
    jaccard_prefix_pairs(warm, t_num=4, t_den=5).count()
    for n in sizes:
        docs = synth_neardup_corpus(spark, n).persist()
        n_rows = docs.count()
        t0 = time.perf_counter()
        pairs = jaccard_prefix_pairs(docs, t_num=4, t_den=5).count()
        dt = round(time.perf_counter() - t0, 2)
        docs.unpersist()
        out.append({"docs": n_rows, "pairs": pairs, "seconds": dt})
    return out


def bloom_join_ladder(
    spark, fact_sizes: list[int], n_keys: int = 5000, payload_chars: int = 200
) -> list[dict]:
    """`payload_chars` models real fact-row width: bloom pruning trades
    ~one md5 probe per row against shuffling the row's BYTES, so its
    win grows with row width (a 2-column long/string fact is the
    adversarial case for it -- measured below at payload 0)."""
    universe = n_keys * 100  # 1% of fact keys are members
    keyset = spark.range(n_keys).select(
        F.concat(F.lit("k"), (F.col("id") * 100).cast("string")).alias("skey")
    ).persist()
    keyset.count()
    bitmap = bloom_bitmap(keyset, "skey").persist()
    bitmap.count()
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    out = []
    try:
        for n in fact_sizes:
            fact = spark.range(n).select(
                F.col("id").alias("row_id"),
                F.concat(
                    F.lit("k"),
                    F.pmod(F.xxhash64("id"), F.lit(universe)).cast("string"),
                ).alias("skey"),
                F.repeat(F.lit("x"), payload_chars).alias("payload"),
            ).persist()
            fact.count()
            naive = fact.hint("merge").join(keyset, "skey")
            pruned = bloom_prune(fact, F.col("skey"), bitmap)
            bloomed = pruned.hint("merge").join(keyset, "skey")
            n_match = naive.count()
            assert bloomed.count() == n_match, "bloom path changed results"
            survivors = pruned.count()

            def timed(df) -> float:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                return round(time.perf_counter() - t0, 2)

            timed(naive)  # warm both shapes before the measured runs
            timed(bloomed)
            out.append(
                {
                    "fact_rows": n,
                    "matches": n_match,
                    "bloom_survivors": survivors,
                    "naive_join_s": timed(naive),
                    "bloom_md5_join_s": timed(bloomed),
                }
            )
            fact.unpersist()
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    return out


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 40_000, 80_000]
    spark = get_spark(app_name="prefix_join_probe")
    spark.sparkContext.setLogLevel("ERROR")
    result = {
        "prefix_join": prefix_join_ladder(spark, sizes),
        "bloom_join_wide_rows": bloom_join_ladder(
            spark, [8_000_000, 32_000_000], payload_chars=200
        ),
        "bloom_join_narrow_rows": bloom_join_ladder(
            spark, [8_000_000], payload_chars=0
        ),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
