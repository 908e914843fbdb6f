"""Scale-up probe: replicate the sf0.1 corpus in memory (crossJoin
with a literal range -- no files written) and measure how the core
operators scale with input size on local[N].

Purpose: evidence that operator cost is linear in rows (aggregation,
text analysis) or candidate-bounded (MinHash LSH), i.e. that the
plans would survive a 100x scale-up given proportional executors.

Usage: python tools/scaling_probe.py [multipliers...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.curation import (
    decontaminate,
    repetition_stats,
)
from mapreduce_implementation_grpc_spark.operators.dedup import minhash_near_dup_pairs
from mapreduce_implementation_grpc_spark.operators.lm_score import bigram_cross_entropy
from mapreduce_implementation_grpc_spark.operators.sparse_sim import tf_cosine_pairs
from mapreduce_implementation_grpc_spark.operators.wordcount import word_count
from mapreduce_implementation_grpc_spark.functions.text_stats import text_stats_cols
from mapreduce_implementation_grpc_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate(docs, mult: int):
    """mult copies with distinct doc_ids (copy c shifts ids by c*10^9)."""
    copies = docs.crossJoin(F.broadcast(
        docs.sparkSession.range(mult).select(F.col("id").alias("copy"))
    ))
    return copies.select(
        (F.col("doc_id") + F.col("copy") * F.lit(1_000_000_000)).alias("doc_id"),
        "text",
    ).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))


VOCAB = (
    "key agg row scan slow fast table value part hash merge batch window spark "
    "order data column join small line customer query a the big stream filter "
    "sort group vector dup"
).split()


def synth_corpus(spark, n_docs: int, tokens_per_doc: int = 60):
    """n_docs distinct pseudo-random docs over the test vocabulary,
    generated Spark-side (hash-indexed vocab picks; no driver data).
    Pairwise jaccard is low, so near-dup pair output stays tiny and
    the probe measures the LSH pipeline itself, not true-dup recall."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(tokens_per_doc)),
                lambda i: F.element_at(
                    vocab, (F.pmod(F.xxhash64(F.col("id"), i), F.lit(len(VOCAB))) + 1).cast("int")
                ),
            ),
        ).alias("text"),
    ).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))


def synth_corpus_wide_vocab(spark, n_docs: int, tokens_per_doc: int = 60):
    """Like synth_corpus but with a vocabulary that scales with the
    corpus (|V| = n_docs / 2), so per-term document frequency stays
    ~O(100) at every size -- the regime where the sparse-cosine
    inverted-index join keeps bounded posting lists (a 30-word vocab
    would push every term over max_df and measure an empty plan)."""
    vsize = max(n_docs // 2, 100)
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(tokens_per_doc)),
                lambda i: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id"), i), F.lit(vsize)).cast("string"),
                ),
            ),
        ).alias("text"),
    ).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))


def _full_eval(df) -> None:
    """Noop-sink write: every output column computed and consumed
    executor-side (a bare count() lets Catalyst prune projections and
    even eliminate unique-keyed left joins -- measured: repetition
    stats "ran" in 0.6 s at 1M docs because the whole plan folded to
    a parquet row count)."""
    df.write.format("noop").mode("overwrite").save()


def run_suite(docs) -> dict:
    n = docs.count()
    t0 = time.perf_counter()
    _full_eval(word_count(docs, "text"))
    t_wc = time.perf_counter() - t0
    t0 = time.perf_counter()
    _full_eval(docs.select("doc_id", *text_stats_cols("text")))
    t_stats = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs = minhash_near_dup_pairs(docs).count()
    t_minhash = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_contam = decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0), docs.filter(F.col("doc_id") % 20 == 0)
    ).count()
    t_decontam = time.perf_counter() - t0
    t0 = time.perf_counter()
    _full_eval(repetition_stats(docs))
    t_rep = time.perf_counter() - t0
    t0 = time.perf_counter()
    _full_eval(bigram_cross_entropy(docs))
    t_lm = time.perf_counter() - t0
    from mapreduce_implementation_grpc_spark.operators.curation import duplicate_spans

    t0 = time.perf_counter()
    n_spans = duplicate_spans(docs).count()
    t_spans = time.perf_counter() - t0
    return {
        "dup_spans_s": round(t_spans, 2),
        "dup_spans": n_spans,
        "docs": n,
        "wordcount_s": round(t_wc, 2),
        "text_stats_s": round(t_stats, 2),
        "minhash_s": round(t_minhash, 2),
        "minhash_pairs": n_pairs,
        "decontam_s": round(t_decontam, 2),
        "contam_docs": n_contam,
        "repetition_s": round(t_rep, 2),
        "lm_ce_s": round(t_lm, 2),
    }


def synth_embeddings(spark, n: int, dim: int = 64):
    """n deterministic pseudo-random vectors in [-1, 1]^dim,
    generated Spark-side (hash-indexed, no driver data)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)).cast("double") / 1000.0
                - 1.0
            ),
        ).alias("embedding"),
    ).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))


def run_emb_suite(spark, n: int) -> dict:
    """PQ train+encode and IVF-PQ serve at n vectors: the encode pass
    is one narrow map (linear in n); the ADC serve scan is linear in
    n * n_queries / (coarse_k / n_probe)."""
    from mapreduce_implementation_grpc_spark.operators.quantization import (
        ivfpq_topk,
        pq_codes,
    )

    emb = synth_embeddings(spark, n).localCheckpoint()  # materialize input once
    t0 = time.perf_counter()
    _full_eval(pq_codes(emb))
    t_codes = time.perf_counter() - t0
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    t0 = time.perf_counter()
    n_top = ivfpq_topk(emb, queries).count()
    t_serve = time.perf_counter() - t0
    # semantic dedup: cells must scale with n (within-cell pairs are
    # (n/k)^2 per cell -- SemDeDup's own k=11k on LAION); target ~500
    # vectors per cell here
    from mapreduce_implementation_grpc_spark.operators.similarity import (
        semantic_dedup,
    )

    coarse_k = max(8, n // 500)
    t0 = time.perf_counter()
    n_dropped = semantic_dedup(
        emb, min_cosine=0.9, coarse_k=coarse_k, coarse_iter=2
    ).filter("NOT keep").count()
    t_sem = time.perf_counter() - t0
    return {
        "vectors": n,
        "pq_train_encode_s": round(t_codes, 2),
        "ivfpq_serve_s": round(t_serve, 2),
        "ivfpq_rows": n_top,
        "semantic_dedup_s": round(t_sem, 2),
        "semantic_dedup_k": coarse_k,
        "semantic_dropped": n_dropped,
    }


def run_bpe_suite(docs) -> dict:
    """BPE scale claim to verify: training cost = one corpus scan +
    k iterations over the (fixed-size) vocab table, so train time
    should grow ~linearly with docs while the per-iteration part is
    flat; encode is map-only (scan-speed)."""
    from mapreduce_implementation_grpc_spark.operators import bpe
    from mapreduce_implementation_grpc_spark.operators.normalize import normalized_col
    from mapreduce_implementation_grpc_spark.operators.tokenize import tokens_col

    n = docs.count()
    t0 = time.perf_counter()
    merges, _ = bpe.train_merges(bpe.word_freqs_df(docs), num_merges=4)
    t_train = time.perf_counter() - t0
    toks = tokens_col(normalized_col("text"))
    n_bpe = F.aggregate(
        F.transform(toks, lambda w: bpe.encoded_len_col(w, merges)),
        F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"),
    )
    t0 = time.perf_counter()
    _full_eval(docs.select("doc_id", n_bpe.alias("n_bpe")))
    t_enc = time.perf_counter() - t0
    return {
        "docs": n,
        "bpe_train_s": round(t_train, 2),
        "bpe_encode_s": round(t_enc, 2),
        "merged": [m[3] for m in merges],
    }


def run_pagerank_suite(spark, n_edges: int) -> dict:
    """Synthetic bipartite purchase graph (hash-derived, no driver
    data, on the operator's long node keys: 2*id for customers,
    2*id + 1 for suppliers): scale claim to verify is per-iteration
    cost ~linear in edges for the broadcast-ranks iteration."""
    from mapreduce_implementation_grpc_spark.operators.pagerank import (
        _power_iterate,
    )

    n_c, n_s = max(100, n_edges // 50), max(10, n_edges // 5000)
    base = spark.range(n_edges).select(
        (F.pmod(F.xxhash64("id"), F.lit(n_c)) * 2).alias("src"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_s)) * 2 + 1).alias("dst"),
    ).distinct()
    e = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("dsrc")).agg(F.count("*").alias("d"))
    ewd = (
        e.join(F.broadcast(deg), F.col("src") == F.col("dsrc"))
        .select("src", "dst", "d")
        .localCheckpoint(eager=False)
    )
    n = ewd.count()
    t0 = time.perf_counter()
    _full_eval(_power_iterate(ewd, None, 3))
    return {"edges": n, "pagerank3_bcast_s": round(time.perf_counter() - t0, 2)}


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "synth"
    default_sizes = {
        "synth": [5000, 50000, 250000],
        "emb": [5000, 50000, 500000],
        "bpe": [5000, 50000, 250000],
        "pagerank": [100000, 1000000, 5000000],
    }.get(mode, [1, 10, 50])
    sizes = [int(m) for m in sys.argv[2:]] or default_sizes
    spark = get_spark(app_name="scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "emb":
        for s in sizes:
            print(json.dumps({"mode": mode, "size": s, **run_emb_suite(spark, s)}))
        spark.stop()
        return
    if mode == "bpe":
        for s in sizes:
            print(json.dumps({"mode": mode, "size": s,
                              **run_bpe_suite(synth_corpus(spark, s))}))
        spark.stop()
        return
    if mode == "pagerank":
        for s in sizes:
            print(json.dumps({"mode": mode, "size": s,
                              **run_pagerank_suite(spark, s)}))
        spark.stop()
        return
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    base.count()  # warm

    for s in sizes:
        docs = synth_corpus(spark, s) if mode == "synth" else replicate(base, s)
        out = {"mode": mode, "size": s, **run_suite(docs)}
        if mode == "synth":
            # sparse cosine needs df-bounded terms: measure it on the
            # scaling-vocabulary corpus (replicated real docs would
            # explode pairs quadratically in the copy count)
            wide = synth_corpus_wide_vocab(spark, s)
            t0 = time.perf_counter()
            n_cos = tf_cosine_pairs(wide).count()
            out["tf_cosine_s"] = round(time.perf_counter() - t0, 2)
            out["tf_cosine_pairs"] = n_cos
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
