"""Skew profile + approximate percentile sketch: oracle parity and
sketch-vs-exact error bounds."""

from __future__ import annotations

from mapreduce_implementation_grpc_spark import registry
from tests.oracle_utils import assert_matches_oracle


def test_word_skew_profile_oracle(spark, sf_check):
    assert_matches_oracle(
        registry.QUERIES["word_skew_profile"](spark, sf_check),
        registry.ORACLES["word_skew_profile"],
        sf_check,
    )


def test_word_skew_profile_invariants(spark, sf_check):
    # percentiles must be monotone and consistent with the extremes
    # (the synthetic corpus's 31-word vocabulary is near-uniform, so
    # magnitude-of-skew is data-dependent -- the structural invariants
    # are what the operator owes the caller)
    row = registry.QUERIES["word_skew_profile"](spark, sf_check).collect()[0]
    assert 1 <= row.p50 <= row.p90 <= row.p99 <= row.max_cnt
    assert row.top1_share == round(row.max_cnt / row.n_tokens, 6)
    assert row.n_words <= row.n_tokens


def test_approx_quantiles_within_sketch_bound(spark, sf_check):
    """Greenwald-Khanna guarantees rank error <= n/accuracy. With
    accuracy=10000 and n ~ thousands per type, the approx percentile
    must land within the exact p +/- 1 percentile-point envelope."""
    exact = {
        r.event_type: r
        for r in registry.QUERIES["events_quantiles"](spark, sf_check).collect()
    }
    approx = {
        r.event_type: r
        for r in registry.QUERIES["events_quantiles_approx"](spark, sf_check).collect()
    }
    assert set(exact) == set(approx)
    for et, a in approx.items():
        e = exact[et]
        assert a.n_events == e.n_events
        spread = e.p99 - e.p50 or 1.0
        for p in ("p50", "p90", "p99"):
            assert abs(getattr(a, p) - getattr(e, p)) <= 0.05 * spread, (
                f"{et}.{p}: approx {getattr(a, p)} vs exact {getattr(e, p)}"
            )


def test_binned_quantiles_bracket_exact(spark, sf_check):
    """The binned estimate's left edge must bracket the true
    rank-based percentile (the ceil(p*n)-th smallest value) within
    one bin width -- the sketch's error bound by construction."""
    import math

    from mapreduce_implementation_grpc_spark import registry

    binned = {
        r.event_type: r
        for r in registry.QUERIES["events_quantiles_binned"](spark, sf_check).collect()
    }
    vals = {}
    for r in (
        spark.read.parquet(f"{sf_check}/events.parquet")
        .select("event_type", "value")
        .collect()
    ):
        vals.setdefault(r.event_type, []).append(float(r.value))
    for et, b in binned.items():
        vs = sorted(vals[et])
        n = len(vs)
        for bp, p in ((b.p50_bin, 0.5), (b.p90_bin, 0.9), (b.p99_bin, 0.99)):
            v_star = vs[math.ceil(p * n) - 1]
            assert bp <= v_star < bp + 10.0, (et, p, bp, v_star)


def test_portable_hll_error_within_bounds(spark, sf_check):
    """The portable HLL's relative error must stay within ~4 sigma of
    the published 1.04/sqrt(m) for m=256 (6.5%): |err| < 26%. (The
    exact value is deterministic and oracle-pinned; this guards the
    estimator MATH -- a broken rho or harmonic sum lands orders of
    magnitude off, not percent.)"""
    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = QUERIES["hll_users_portable"](spark, sf_check).collect()
    assert rows and all(abs(r.rel_err) < 0.26 for r in rows)
    assert all(r.est_distinct > 0 for r in rows)


def test_cms_never_underestimates(spark, sf_check):
    """The Count-Min one-sided guarantee: est >= true for every
    probed word (collisions only ADD). Exact values are oracle-pinned;
    this guards the structural property."""
    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = QUERIES["cms_heavy_hitters"](spark, sf_check).collect()
    assert len(rows) == 20
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.est_cnt >= r.true_cnt for r in rows)


def test_sketches_merge_distributively(spark, sf_check):
    """The 1000-executor property both portable sketches claim:
    sketch(A ∪ B) must equal the per-register MERGE of sketch(A) and
    sketch(B) -- max for HLL registers, + for CMS counters. Split the
    corpus by doc parity / user parity and verify the merged halves
    reproduce the whole."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.cms import CMS_D, _bucket
    from mapreduce_implementation_grpc_spark.operators.dedup import portable_hash60
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    # --- CMS: counters add ---
    from mapreduce_implementation_grpc_spark.operators import word_count
    from mapreduce_implementation_grpc_spark.sources.text import corpus_from_documents

    docs = load_table(spark, sf_check, "documents")
    def counters(d, j):
        wc = word_count(d.selectExpr("doc_id", "text"), "text")
        return {
            r[f"b{j}"]: r[f"c{j}"]
            for r in wc.groupBy(_bucket(F.col("word"), j).alias(f"b{j}"))
            .agg(F.sum("cnt").alias(f"c{j}"))
            .collect()
        }
    for j in range(CMS_D):
        whole = counters(docs, j)
        a = counters(docs.filter("doc_id % 2 = 0"), j)
        b = counters(docs.filter("doc_id % 2 = 1"), j)
        merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
        assert merged == whole

    # --- HLL: registers max ---
    ev = load_table(spark, sf_check, "events").select("user_id")
    h = portable_hash60(F.col("user_id").cast("string"))
    w = F.shiftright(h, 8)
    rho = F.when(w == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    def registers(d):
        return {
            r.reg: r.mj
            for r in d.select((h % 256).alias("reg"), rho.alias("rho"))
            .groupBy("reg").agg(F.max("rho").alias("mj")).collect()
        }
    whole = registers(ev)
    a = registers(ev.filter("user_id % 2 = 0"))
    b = registers(ev.filter("user_id % 2 = 1"))
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert merged == whole


def test_bloom_bitmaps_merge_by_bit_or(spark, sf_check):
    """Bloom completes the merge story: bitmap(A ∪ B) must equal the
    per-slot bit_or of bitmap(A) and bitmap(B)."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.bloom import bloom_bitmap
    from mapreduce_implementation_grpc_spark.operators.dedup import (
        shingle_rows_flat,
    )
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    docs = load_table(spark, sf_check, "documents")
    sh = shingle_rows_flat(docs).select("doc_id", "sh")

    def bitmap(d):
        return {r.slot: r.bits for r in bloom_bitmap(d.select("sh").distinct()).collect()}

    whole = bitmap(sh)
    a = bitmap(sh.filter("doc_id % 2 = 0"))
    b = bitmap(sh.filter("doc_id % 2 = 1"))
    merged = {k: a.get(k, 0) | b.get(k, 0) for k in set(a) | set(b)}
    assert merged == whole


def test_hll_rollup_registers_identical_to_direct(spark, sf_check):
    """The rollup query's whole premise: day-grain registers merged
    by reg-wise max are BIT-IDENTICAL to registers sketched directly
    at the coarse grain -- so a stored daily rollup serves any
    coarser window with zero estimate drift."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.hll import (
        hll_registers,
        merge_registers,
    )
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    ev = load_table(spark, sf_check, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    day_regs = hll_registers(ev, ["event_type", "d"], "user_id")
    rolled = {
        (r.event_type, r.reg): r.mj
        for r in merge_registers(day_regs, ["event_type"]).collect()
    }
    direct = {
        (r.event_type, r.reg): r.mj
        for r in hll_registers(ev, ["event_type"], "user_id").collect()
    }
    assert rolled == direct


def test_butterflies_match_bruteforce_and_degree_cap(spark, sf_smoke):
    """Wedge-join butterfly support vs a driver-side brute force over
    the collected edge list (no supplier degree is capped)."""
    from collections import Counter
    from itertools import combinations

    from mapreduce_implementation_grpc_spark.operators.graph_motifs import (
        copurchase_butterflies,
        purchase_edges,
    )

    edges = purchase_edges(spark, sf_smoke).collect()
    by_supp: dict[int, list[int]] = {}
    for r in edges:
        by_supp.setdefault(r.suppkey, []).append(r.custkey)
    support = Counter()
    for custs in by_supp.values():
        for c1, c2 in combinations(sorted(set(custs)), 2):
            support[(c1, c2)] += 1
    want = sorted(
        ((w, c1, c2) for (c1, c2), w in support.items() if w >= 2),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:50]
    got = copurchase_butterflies(spark, sf_smoke).collect()
    assert [(r.shared_suppliers, r.custkey_1, r.custkey_2) for r in got] == want
    for r in got:
        assert r.butterflies == r.shared_suppliers * (r.shared_suppliers - 1) // 2


def test_cms_screen_has_no_false_negatives_and_broadcast_only_probe(spark, sf_check):
    """Every word whose exact count clears the threshold must appear
    as a confirmed candidate (CMS one-sidedness), and the probe phase
    must plan as broadcast joins only -- the whole point is that no
    full-vocabulary shuffle exists."""
    from mapreduce_implementation_grpc_spark.operators.normalize import normalized_col
    from mapreduce_implementation_grpc_spark.operators.tokenize import tokenize
    from mapreduce_implementation_grpc_spark.operators.wordcount import word_count
    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.sources.text import corpus_from_documents

    out = QUERIES["cms_screened_wordcount"](spark, sf_check)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    rows = out.collect()
    got_confirmed = {r.word: r.true_cnt for r in rows if r.confirmed}
    corpus = corpus_from_documents(spark, sf_check)
    wc = {r.word: r.cnt for r in word_count(corpus).collect()}
    total = sum(wc.values())
    thr = total // 500
    want = {w: c for w, c in wc.items() if c >= thr}
    assert got_confirmed == want
    for r in rows:
        assert r.est_cnt >= r.true_cnt  # one-sided estimate
        assert r.est_cnt >= thr         # candidate rule


def test_cms_probe_raises_when_the_scans_see_different_tokens(spark):
    """The probe pass assumes it hashes the same token stream as the
    build pass. A stream that changes between the two scans must fail
    loudly: element_at on a bucket the build never counted is NULL,
    and least() would skip it and underestimate without a word. The
    tokens come from a nondeterministic Python UDF because SQL uuid()
    is seeded once per plan, so both scans would see the same words."""
    import uuid

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from mapreduce_implementation_grpc_spark.operators.cms import cms_screened_wordcount

    fresh = F.udf(lambda _: uuid.uuid4().hex, StringType()).asNondeterministic()
    tokens = spark.range(200).select(fresh("id").alias("word"))
    with pytest.raises(Exception, match="bucket the build scan never counted"):
        cms_screened_wordcount(tokens).collect()

def test_bloom_prune_keeps_all_members_and_few_extras(spark, sf_check):
    """The pruning contract: every true member survives (no false
    negatives), the false-positive overhead is small, and the probe
    itself plans as broadcast joins over an un-shuffled fact side."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.bloom import (
        bloom_bitmap,
        bloom_prune,
    )
    from mapreduce_implementation_grpc_spark.sources.catalog import load_table

    orders = load_table(spark, sf_check, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    li = load_table(spark, sf_check, "lineitem").select("l_orderkey")
    bitmap = bloom_bitmap(keys.select(F.col("o_orderkey").cast("string").alias("sh")))
    survivors = bloom_prune(li, F.col("l_orderkey").cast("string"), bitmap)
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan
    n_total = li.count()
    n_member = li.join(keys, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi").count()
    n_kept = survivors.count()
    assert n_member <= n_kept  # one-sided: no member dropped
    # false positives bounded: well under 5% of the non-members
    assert n_kept - n_member <= max(20, (n_total - n_member) // 20)
    kept_members = survivors.join(
        keys, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    ).count()
    assert kept_members == n_member  # exact member retention


def test_kmv_sketches_merge_and_estimate_within_bounds(spark):
    """KMV compositional claim: the k-min sketch of A ∪ B equals the
    merged-and-retrimmed union of the two sketches (what two sites
    would ship), and on a synthetic pair with known overlap the
    intersection estimate lands within ~3 sigma of truth."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_grpc_spark.operators.kmv import (
        kmin_values,
        kmv_intersection_report,
    )

    a = spark.range(0, 5000).select(F.col("id"))
    b = spark.range(2500, 7500).select(F.col("id"))
    ka = {r.h for r in kmin_values(a, F.col("id")).collect()}
    kb = {r.h for r in kmin_values(b, F.col("id")).collect()}
    direct = [r.h for r in kmin_values(a.unionByName(b), F.col("id")).collect()]
    assert sorted(ka | kb)[: len(direct)] == direct
    row = kmv_intersection_report(a, b, F.col("id"), F.col("id")).collect()[0]
    assert row.exact_intersection == 2500
    assert abs(row.est_intersection - 2500) / 2500 < 0.25
    assert abs(row.est_union - 7500) / 7500 < 0.25
