"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}.

Timing = full plan execution into the `noop` sink: every output
column of every row is computed and shipped to the writer, so
Catalyst cannot column-prune projections or window expressions the
way a bare count() would allow. Results are NOT collected to the
driver.

ISOLATION (round 8, VERDICT r7 #1): the old single-JVM sequential
battery drifted ~1.33x r6->r7 on plans whose code did not change --
each round's ~30 new plans inflate every later query's wall time
(codegen cache, GC pressure, broadcast cleanup backlog), which makes
round-over-round per-query comparison meaningless. The run is now
tiered into FRESH JVM SUBPROCESSES:

  canary   -- registry.CANARY_QUERIES (pinned, append-only, 25
              queries spanning every plan family), ALWAYS FIRST in
              its own clean JVM, median-of-3. THE round-comparable
              surface: its environment (fresh JVM + wordcount warmup
              + <=25 preceding plans) is identical every round by
              construction.
  headline -- remaining BENCH_QUERIES in registry-list order, chunked
              into fixed-size batches (default 50), one fresh JVM per
              batch. Because rounds APPEND to BENCH_QUERIES, an old
              query keeps its batch and its position inside it, so
              accumulation ahead of it is bounded and stable.
  eager    -- build-time trainers (Lloyd/BPE/fixpoints), one JVM.
  extended -- the long tail incl. deliberately-quadratic oracle
              baselines, one JVM (split if it outgrows a batch).

The per-tier accumulation-vs-fresh A/B that motivated this layout is
measured in tools/bench_ab_probe.py and recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_implementation_grpc_spark import registry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = getattr(registry, "BENCH_QUERIES", list(registry.QUERIES))
EAGER_QUERIES = getattr(registry, "EAGER_BENCH_QUERIES", [])
EXTENDED_QUERIES = getattr(registry, "EXTENDED_BENCH_QUERIES", [])
CANARY_QUERIES = getattr(registry, "CANARY_QUERIES", [])

# The pinned membership of the one-line JSON report (r11, VERDICT r10
# #2): exactly the queries the committed BENCH_r10 artifact reported,
# so the driver's round-over-round PERF comparison sees a stable set.
# APPEND-ONLY -- never remove a name (a removal reads as a dropped
# query); extend with future rounds' additions.
FINAL_REPORT_QUERIES = [
    "cosupply_triangles",
    "cosupply_link_prediction_capped",
    "cosupply_clustering",
    "copurchase_butterflies",
    "cms_screened_wordcount",
    "jaccard_prefix_pairs",
    "purchase_pagerank",
    "purchase_hits",
    "supplier_reach",
    "embedding_mutual_nn_lsh",
    "cosupply_degree_assortativity",
    "nearest_centroid_confusion",
    "bloom_pruned_revenue",
    "cosupply_nation_modularity",
    "market_share",
    "label_silhouette",
    "dq_audit",
    "nb_lang_scores",
    "embedding_mutual_nn",
    "revenue_by_nation",
    "event_conversion_absorption",
    "nation_theilsen_trend",
    "select_pretraining_corpus",
    "minhash_near_dup",
    "prf_rerank",
    "market_basket_triples",
    "simhash",
    "nation_revenue_trend",
    "doc_perplexity",
    "ann_recall",
    "basket_rules",
    "item_item_cf",
    "market_basket_pairs",
    "training_negatives",
    "events_gap_fill",
    "nation_revenue_holt",
    "hybrid_rrf_topk",
    "ann_lsh",
    "ngram_novelty",
    "dsir_weights",
    "shipping_delay_profile",
    "customer_rfm",
    "linkage_sorted_neighborhood",
    "ann_rank_quality",
    "pricing_summary",
    "ann_recall_lsh_banded",
    "brand_revenue_hhi",
    "ann_lsh_banded",
    "inverted_index",
    "heaps_law_fit",
    "decontaminate",
    "customer_skyline",
    "rake_keyphrases",
    "repetition_stats",
    "doc_length_quantile_norm",
    "duplicate_spans",
    "orders_benford",
    "nation_rank_spearman",
]


FINAL_LINE_BUDGET = 1880  # chars; readers parse the last ~2000 chars of stdout


def final_line(
    final: dict, timings: dict[str, float], budget: int = FINAL_LINE_BUDGET
) -> dict:
    """Fill the one-line report's `queries` and `queries_omitted`.

    The reported set is pinned, not load-dependent (a slowest-that-fit
    selection rotated with host drift, so fast queries could never be
    compared round-over-round): every FINAL_REPORT_QUERIES entry that
    ran, then the slowest other queries while the line still fits
    `budget` chars. Raises ValueError if the pinned entries alone
    overflow the budget -- a reader of the stdout tail would get a
    truncated line."""
    queries = final["queries"] = {}

    def size() -> int:
        final["queries_omitted"] = len(timings) - len(queries)
        return len(json.dumps(final, separators=(",", ":")))

    for name in FINAL_REPORT_QUERIES:
        if name in timings:
            queries[name] = timings[name]
    if size() > budget:
        raise ValueError(
            f"the pinned FINAL_REPORT_QUERIES line is {size()} chars, over "
            f"the {budget}-char budget"
        )
    for name in sorted(timings, key=timings.get, reverse=True):
        if name in queries:
            continue
        queries[name] = timings[name]
        if size() > budget:
            del queries[name]
            break
    size()
    return final


def _run(df) -> None:
    """Fully evaluate the plan (all columns, all rows) without
    collecting: the noop sink consumes every row executor-side."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# worker mode: one fresh JVM, one tier (or batch of a tier)
# ---------------------------------------------------------------------------

def _cpu_probe() -> float:
    """Fixed-work, Spark-free CPU calibration (r11, VERDICT r10 #1):
    a deterministic xorshift loop whose wall time depends only on the
    host's single-core speed at this moment. Emitted per worker into
    BENCH.json so round-over-round comparisons can be read against
    measured host drift instead of assuming a stationary machine."""
    t0 = time.perf_counter()
    x = 0x9E3779B97F4A7C15
    for _ in range(2_000_000):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    assert x != 0
    return time.perf_counter() - t0


def worker(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    from mapreduce_implementation_grpc_spark.session import get_spark

    cal_cpu = _cpu_probe()
    spark = get_spark(app_name=f"bench-{spec['tier']}")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + parquet footers once so timings measure the
    # plans, not class loading -- identical warmup in every worker so
    # every batch starts from the same environment. The warmup is
    # itself timed as a second calibration signal (fixed work, fixed
    # environment-by-construction).
    t0 = time.perf_counter()
    _run(registry.QUERIES["wordcount"](spark, spec["sf_dir"]))
    cal_warmup = time.perf_counter() - t0
    # optional untimed preload (tools/bench_ab_probe.py uses it to
    # reproduce the accumulated-JVM condition deliberately)
    for name in spec.get("preload", []):
        _run(registry.QUERIES[name](spark, spec["sf_dir"]))

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in spec["names"]:
        fn = registry.QUERIES[name]
        samples = []
        for _ in range(spec["runs"]):
            t0 = time.perf_counter()
            _run(fn(spark, spec["sf_dir"]))
            samples.append(time.perf_counter() - t0)
        samples.sort()
        median = samples[len(samples) // 2]
        timings[name] = round(median, 3)
        # flag queries whose worst run strayed >50% from the median
        if samples[-1] > 1.5 * median and samples[-1] - median > 0.25:
            spreads[name] = round(samples[-1], 3)
    with open(spec["out"], "w") as fh:
        json.dump(
            {
                "timings": timings,
                "spreads": spreads,
                "calibration": {
                    "cpu_probe_sec": round(cal_cpu, 4),
                    "warmup_wordcount_sec": round(cal_warmup, 3),
                },
            },
            fh,
        )
    spark.stop()


# ---------------------------------------------------------------------------
# orchestrator: tier specs -> subprocesses -> merged document
# ---------------------------------------------------------------------------

def _run_tier(tier: str, names: list[str], runs: int, workdir: str,
              spreads: dict[str, float],
              calibrations: dict[str, dict] | None = None) -> dict[str, float]:
    if not names:
        return {}
    spec_path = os.path.join(workdir, f"{tier}.spec.json")
    out_path = os.path.join(workdir, f"{tier}.out.json")
    with open(spec_path, "w") as fh:
        json.dump(
            {"tier": tier, "names": names, "runs": runs,
             "sf_dir": SF_DIR, "out": out_path},
            fh,
        )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", spec_path],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        env=os.environ,
    )
    if proc.returncode != 0 or not os.path.exists(out_path):
        sys.stderr.write(
            f"bench tier {tier} failed (rc={proc.returncode}):\n"
            + proc.stderr[-3000:]
            + "\n"
        )
        raise SystemExit(1)
    with open(out_path) as fh:
        frag = json.load(fh)
    spreads.update(frag["spreads"])
    if calibrations is not None and "calibration" in frag:
        calibrations[tier] = frag["calibration"]
    return frag["timings"]


def main() -> None:
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    ext_runs = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_RUNS", "1"))
    batch = int(os.environ.get("SPARK_GRAFT_BENCH_BATCH", "50"))
    spreads: dict[str, float] = {}
    calibrations: dict[str, dict] = {}

    with tempfile.TemporaryDirectory(prefix="bench_") as workdir:
        # 1. canary: pinned set, clean JVM, FIRST -- the comparable
        #    surface (its timings double as the headline rows for
        #    these queries; environment matches the other batches:
        #    fresh JVM + warmup + a bounded, pinned prefix)
        canary = _run_tier("canary", CANARY_QUERIES, runs, workdir, spreads,
                           calibrations)
        # 2. headline remainder in registry order, fixed-size fresh-JVM
        #    batches; appends land in the LAST batch, so an existing
        #    query's batch + intra-batch position never changes
        rest = [q for q in BENCH_QUERIES if q not in set(CANARY_QUERIES)]
        timings = dict(canary)
        for i in range(0, len(rest), batch):
            timings.update(
                _run_tier(f"headline{i // batch}", rest[i:i + batch],
                          runs, workdir, spreads, calibrations)
            )
        # 3/4. eager + extended tiers, one fresh JVM each
        eager = _run_tier("eager", EAGER_QUERIES, ext_runs, workdir, spreads,
                          calibrations)
        extended = {}
        for i in range(0, len(EXTENDED_QUERIES), batch):
            extended.update(
                _run_tier(f"extended{i // batch}",
                          EXTENDED_QUERIES[i:i + batch],
                          ext_runs, workdir, spreads, calibrations)
            )

    # headline order in the document follows BENCH_QUERIES, as before
    timings = {q: timings[q] for q in BENCH_QUERIES}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "canary_queries": canary,
        "canary_total_sec": round(sum(canary.values()), 3),
        "eager_queries": eager,
        "extended_queries": extended,
        "eager_total_sec": round(sum(eager.values()), 3),
        "extended_total_sec": round(sum(extended.values()), 3),
        "n_queries_all": len(timings) + len(eager) + len(extended),
        "sf": float(sf),
        "method": (
            f"median_of_{runs}; eager/extended median_of_{ext_runs}; "
            f"fresh JVM per tier, headline batch={batch}, canary first"
        ),
        # r11 (VERDICT r10 #1): per-worker fixed-work host-speed
        # probes (pure-Python xorshift loop + the timed wordcount
        # warmup) quantify host drift per document -- read query
        # deltas against these before attributing them to code
        "calibration": calibrations,
    }
    # The driver captures only the LAST ~2000 chars of stdout and
    # parses the JSON it finds there; r4's single all-query line
    # outgrew that window and the artifact recorded "parsed": null.
    # With 78+ queries even a maximally compact one-liner exceeds the
    # window, so the emission is now three-tier:
    #   1. BENCH.json in the repo -- the full document, durable.
    #   2. an earlier stdout line with the full document (visible in
    #      logs, sacrificial if the tail window clips it).
    #   3. a FINAL line guaranteed to fit the window: totals + the
    #      slowest per-query timings that fit a fixed char budget,
    #      with `queries_omitted` counting the fast ones that didn't
    #      and `full` pointing at BENCH.json.
    full = dict(out)
    if spreads:
        full["outlier_runs_discarded"] = spreads
    here = os.path.dirname(os.path.abspath(__file__))
    # SPARK_GRAFT_BENCH_JSON redirects the document (the contract
    # test uses it so its sf0.001 run cannot clobber the canonical
    # sf0.1 BENCH.json in the repo)
    json_path = os.environ.get(
        "SPARK_GRAFT_BENCH_JSON", os.path.join(here, "BENCH.json")
    )
    try:
        with open(json_path, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout lines are still authoritative
    print(json.dumps(full, separators=(",", ":")))

    final = final_line(
        {
            "metric": "total_query_seconds",
            "value": total,
            "unit": "sec",
            "queries": {},
            "sf": float(sf),
            "method": f"median_of_{runs};fresh_jvm_tiers",
            "n_queries": len(timings),
            "canary_total_sec": out["canary_total_sec"],
            "eager_total_sec": out["eager_total_sec"],
            "extended_total_sec": out["extended_total_sec"],
            "n_queries_all": out["n_queries_all"],
            "queries_omitted": 0,
            "full": "BENCH.json",
        },
        timings,
    )
    print(json.dumps(final, separators=(",", ":")))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        worker(sys.argv[2])
    else:
        main()
