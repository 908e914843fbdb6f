"""Driver-contract protection: __spark_entry__ shape and bench.py
output format are what the external harness parses -- breaking either
silently zeroes a whole round."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import DataFrame

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert isinstance(df, DataFrame)
    assert df.count() >= 0
    assert [f.name for f in df.schema.fields] == ["word", "cnt"]


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert qs and all(callable(f) for f in qs.values())
    assert set(os_) <= set(qs), "oracle without a query"
    # no oracle may be empty/whitespace
    assert all(sql.strip() for sql in os_.values())


@pytest.mark.slow  # registry-wide meta-sweep: full sweep only (r11, VERDICT r10 #7)
def test_every_query_returns_lazy_dataframe(spark, sf_smoke):
    # construction must not throw for any registered query (eager
    # iterative ones may run jobs, but must still hand back a DF)
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_smoke)
        assert isinstance(df, DataFrame), name
        assert len(df.columns) > 0, name


@pytest.mark.slow  # registry-wide meta-sweep: full sweep only (r11, VERDICT r10 #7)
def test_all_query_outputs_are_scalar_columns(spark, sf_smoke):
    """The driver's canonicalizer pandas-sorts every output column;
    array/map/struct columns crash it (unhashable type -- the one red
    row of round 1). Every registry query must emit scalar columns
    only; project arrays to element columns or formatted strings."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from mapreduce_implementation_grpc_spark import registry

    offenders = []
    for name, fn in registry.QUERIES.items():
        df = fn(spark, sf_smoke)
        offenders += [
            (name, f.name, str(f.dataType))
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
    assert not offenders, f"non-scalar gate outputs: {offenders}"


@pytest.mark.slow  # registry-wide meta-sweep: full sweep only (r11, VERDICT r10 #7)
def test_no_wide_integer_dtypes_reach_the_driver(spark, sf_smoke):
    """VERDICT r6 #3: the two r6 driver-reds (`score_auc`,
    `user_wallet_balance`) were oracle-side dtype widening -- DuckDB
    window-sums BIGINT into HUGEINT and ships DECIMAL(38,0)
    accumulators, both of which `fetchdf()` renders as float64 while
    Spark ships long/Decimal, breaking the driver's dtype-sensitive
    value hash even when the numbers are identical. This lint catches
    the class at authoring time, on BOTH sides:

    - oracle side: bind (not run) every ORACLE with DuckDB and assert
      no output column types mention HUGEINT or DECIMAL -- wide exact
      integers must be string-routed to DOUBLE (the rev_micros
      convention) or CAST to BIGINT before the final SELECT;
    - Spark side: no registry query may ship a DecimalType output
      column (toPandas renders it object-of-Decimal, never equal to
      the oracle's float64/int64)."""
    import duckdb
    from pyspark.sql.types import DecimalType

    from mapreduce_implementation_grpc_spark import registry
    from mapreduce_implementation_grpc_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_smoke}/{t}.parquet')"
        )
    bad_oracle = []
    for name, sql in registry.ORACLES.items():
        rel = con.sql(sql)  # binder/planner only -- no execution
        bad_oracle += [
            (name, c, str(ty))
            for c, ty in zip(rel.columns, rel.types)
            if "HUGEINT" in str(ty) or "DECIMAL" in str(ty)
        ]
    assert not bad_oracle, f"wide-integer oracle outputs: {bad_oracle}"

    bad_spark = []
    for name, fn in registry.QUERIES.items():
        df = fn(spark, sf_smoke)
        bad_spark += [
            (name, f.name, str(f.dataType))
            for f in df.schema.fields
            if isinstance(f.dataType, DecimalType)
        ]
    assert not bad_spark, f"DecimalType gate outputs: {bad_spark}"


@pytest.mark.slow  # registry-wide meta-sweep: full sweep only (r11, VERDICT r10 #7)
def test_lazy_queries_build_cheaply(spark, sf_smoke):
    """The driver's pattern is 'build the DataFrame, then act on it'.
    Every non-eager registry query must construct its plan cheaply --
    no hidden data-crunching jobs at build time (parquet footer/schema
    reads are allowed; they are metadata, not data). The
    documented-eager iterative queries are the exception and are
    listed explicitly (see __spark_entry__ docstring)."""
    import time

    from mapreduce_implementation_grpc_spark import registry

    EAGER = {
        # iterative algorithms: training / propagation rounds are jobs
        # by nature, and kmeans seeds / centroid rows live driver-side
        "dedup_clusters", "dedup_clusters_jaccard", "curate_documents",
        "leakage_safe_split",
        "kmeans_cells", "ann_ivf_kmeans", "ann_recall_ivf_kmeans",
        "ann_clustered_ivf_kmeans_recall", "cluster_topics",
        # product quantization: per-subspace Lloyd fits at build time
        "pq_codes", "pq_search", "ann_ivfpq",
        # semantic dedup: the cell fit trains at build time
        "semantic_dedup",
        # IVFADC: coarse + residual codebooks train at build time
        "ann_ivfpq_residual",
        # BPE: the greedy merge loop collects a top pair per round
        "bpe_merges", "bpe_encode", "bpe_compression_by_lang",
        "pack_sequences_bpe",
        # k-core: peeling rounds pin + count eagerly to fixpoint
        "cosupply_kcore",
    }
    for name, fn in registry.QUERIES.items():
        if name in EAGER:
            continue
        # up to three attempts, pass on the BEST: a GC pause, JIT
        # warm-up, or host-level slowdown (r10: the bench machine
        # drifted 2-3x mid-session and pushed a 2.3 s pure-planning
        # build to 15 s twice in a row) can spike any cheap build; a
        # truly eager query (jobs at build time -- Lloyd rounds, BPE
        # merges) runs SECONDS of jobs per attempt and never dips
        # under the budget. Wall time stays the detector because a
        # plain job-count check would flag legitimate metadata jobs.
        elapsed = None
        for _ in range(3):
            t0 = time.monotonic()
            fn(spark, sf_smoke)  # build only -- no action
            elapsed = time.monotonic() - t0
            if elapsed < 5.0:
                break
        assert elapsed < 5.0, f"{name}: build took {elapsed:.1f}s -- hidden eager work"


@pytest.mark.slow
def test_bench_final_line_fits_driver_window(tmp_path):
    """The driver keeps only the last ~2000 chars of bench stdout and
    parses the JSON there (r4's single oversized line produced
    "parsed": null). Contract: the FINAL stdout line is valid JSON,
    fits the window, and carries the totals; the full per-query
    document lands in BENCH.json."""
    bench_json = str(tmp_path / "BENCH.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_JSON=bench_json,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,  # all 193 queries: ~350 s at sf0.001 on an idle host
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.strip().splitlines() if l.strip()]
    final = lines[-1]
    assert len(final) <= 2000, f"final line {len(final)} chars > driver window"
    payload = json.loads(final)
    assert payload["unit"] == "sec" and payload["metric"]
    assert isinstance(payload["value"], (int, float))
    assert payload["queries"] and all(
        isinstance(v, (int, float)) for v in payload["queries"].values()
    )
    assert payload["sf"] == 0.001
    assert payload["n_queries"] == len(payload["queries"]) + payload["queries_omitted"]
    # the driver-window line must also survive a tail cut that starts
    # mid-way through the PRECEDING full-document line
    tail = out.stdout[-2000:]
    assert final in tail
    # full document: every benched query, value totals consistent
    with open(bench_json) as fh:
        full = json.load(fh)
    assert set(full["queries"]) >= set(payload["queries"])
    assert full["value"] == payload["value"]
    from mapreduce_implementation_grpc_spark import registry

    assert set(full["queries"]) == set(registry.BENCH_QUERIES)
    # round-8 canary tier: the pinned round-comparable surface ran,
    # covered exactly CANARY_QUERIES, and its timings ARE the
    # headline rows for those queries (same fresh-JVM environment)
    assert set(full["canary_queries"]) == set(registry.CANARY_QUERIES)
    assert all(
        full["queries"][q] == full["canary_queries"][q]
        for q in full["canary_queries"]
    )
    assert payload["canary_total_sec"] == full["canary_total_sec"]
    # VERDICT r5 #1: EVERY registry query has a measured row in one of
    # the three sections -- headline, eager (build-inclusive trainer
    # timings), extended (long tail incl. quadratic oracle baselines)
    assert set(full["eager_queries"]) == set(registry.EAGER_BENCH_QUERIES)
    assert set(full["extended_queries"]) == set(registry.EXTENDED_BENCH_QUERIES)
    assert (
        set(full["queries"]) | set(full["eager_queries"]) | set(full["extended_queries"])
    ) == set(registry.QUERIES)
    assert payload["n_queries_all"] == len(registry.QUERIES)
    assert all(
        isinstance(v, (int, float))
        for sec in ("eager_queries", "extended_queries")
        for v in full[sec].values()
    )


def test_cli_list_names_every_query(capsys):
    from mapreduce_implementation_grpc_spark import registry
    from mapreduce_implementation_grpc_spark.__main__ import main

    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    for name in registry.QUERIES:
        assert name in out
    assert main(["definitely_not_a_query"]) == 2


def test_doc_query_counts_match_registry():
    """VERDICT r5 #3: prose query counts drifted from the registry
    (195/193 claimed vs 193/191 actual). Pin every '<N> registry
    queries' / '<N> ... oracle-backed' claim in the docs to the
    imported registry, so a future round that adds queries without
    updating the notes fails here instead of in the judge's audit."""
    import re

    from mapreduce_implementation_grpc_spark import registry

    n_queries = len(registry.QUERIES)
    n_oracles = len(registry.ORACLES)
    for doc in ("ROUND_NOTES.md", "README.md", "PARITY.md"):
        path = os.path.join(REPO, doc)
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            text = fh.read()
        # only CURRENT-state claims are pinned ("Round-N totals: ...",
        # "frozen at ..."); historical per-round narration ("75
        # registry queries" in the round-2 notes) is allowed to stand
        for m in re.finditer(
            r"totals: (\d+) registry queries\s*\((\d+) oracle-backed", text
        ):
            assert int(m.group(1)) == n_queries, f"{doc}: {m.group(0)}"
            assert int(m.group(2)) == n_oracles, f"{doc}: {m.group(0)}"
        for m in re.finditer(
            r"frozen at (\d+) queries \((\d+) DuckDB-oracle-backed", text
        ):
            assert int(m.group(1)) == n_queries, f"{doc}: {m.group(0)}"
            assert int(m.group(2)) == n_oracles, f"{doc}: {m.group(0)}"


def test_staleness_report_covers_registry():
    """tools/staleness_report.py must classify every registry query:
    cumulative driver CORRECTNESS rows exist for all of them (the r5
    verdict's '191/191 oracle-backed green' claim), and the rows-only
    sketches count via their no_oracle row-count check."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import staleness_report

    from mapreduce_implementation_grpc_spark import registry

    last_green, last_checked, never = staleness_report.gather()
    # queries registered AFTER the last driver round legitimately
    # have no row yet (they get front rotation slots next round);
    # anything older with no row ever is a rotation hole
    fresh = staleness_report.new_this_round()
    stale_never = sorted(set(never) - fresh)
    assert stale_never == [], (
        f"queries with no driver row ever: {stale_never}"
    )
    assert set(registry.QUERIES) - fresh <= set(last_green), (
        sorted(set(registry.QUERIES) - fresh - set(last_green))
    )


def test_registry_has_no_shadowed_bindings():
    """A module-level name bound twice in one registry module silently
    SHADOWS the first binding (it happened: a new def
    q_stratified_sample replaced the pre-existing alias to
    analytics.stratified_sample, changing a registered query's
    semantics without any error), and a key given twice in the QUERIES
    literal or in one module's ORACLES dict silently drops an entry.
    Both are structural mistakes the language won't flag -- so the
    contract does. (Keys repeated ACROSS oracle modules raise when
    assembly merges them.)"""
    import ast
    import collections
    import glob

    part_paths = sorted(
        glob.glob(
            os.path.join(
                REPO, "mapreduce_implementation_grpc_spark", "registry", "*.py"
            )
        )
    )
    assert part_paths, "registry package parts not found"
    checked_dicts = []
    for path in part_paths:
        part = os.path.basename(path)
        names = []
        keys = collections.defaultdict(list)
        tree = ast.parse(open(path).read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.append(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        names.append(t.id)
                    elif (
                        isinstance(t, ast.Subscript)
                        and isinstance(t.value, ast.Name)
                        and t.value.id == "ORACLES"
                        and isinstance(t.slice, ast.Constant)
                    ):
                        keys["ORACLES"].append(t.slice.value)
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                names.append(node.target.id)
                if node.target.id in ("QUERIES", "ORACLES") and isinstance(
                    node.value, ast.Dict
                ):
                    keys[node.target.id] += [
                        k.value
                        for k in node.value.keys
                        if isinstance(k, ast.Constant)
                    ]
        dups = sorted(
            n for n, c in collections.Counter(names).items() if c > 1
        )
        assert dups == [], f"{part} binds these names twice: {dups}"
        for dict_name, dict_keys in keys.items():
            checked_dicts.append((part, dict_name))
            dup_keys = sorted(
                k for k, c in collections.Counter(dict_keys).items() if c > 1
            )
            assert dup_keys == [], f"{part} {dict_name} repeats keys: {dup_keys}"
    assert sorted(checked_dicts) == [
        ("assembly.py", "QUERIES"),
        ("oracles_core.py", "ORACLES"),
        ("oracles_ext.py", "ORACLES"),
        ("oracles_ext2.py", "ORACLES"),
        ("oracles_ext3.py", "ORACLES"),
    ]


def test_canary_set_is_pinned_append_only():
    """The canary tier is only round-comparable if its membership and
    ORDER never change under it; this pins the r8 list as a required
    prefix. Future rounds may APPEND (and then extend this pin) but
    any reorder/removal/insertion fails here."""
    from mapreduce_implementation_grpc_spark import registry

    r8_pin = [
        "wordcount",
        "pricing_summary",
        "revenue_by_nation",
        "market_share",
        "top_customers",
        "orders_monthly",
        "events_rollup",
        "events_sessionize",
        "events_hopping",
        "orders_running_total",
        "events_quantiles_binned",
        "dedup_exact",
        "minhash_near_dup",
        "simhash",
        "knn_cosine",
        "ann_lsh",
        "bm25_topk",
        "tfidf_top_terms",
        "doc_perplexity",
        "purchase_pagerank",
        "cosupply_triangles",
        "embedding_mutual_nn_lsh",
        "linkage_sorted_neighborhood",
        "heaps_law_fit",
        "zorder_skipping_summary",
    ]
    r9_appends = ["ann_lsh_banded"]
    assert registry.CANARY_QUERIES[: len(r8_pin)] == r8_pin
    assert (
        registry.CANARY_QUERIES[len(r8_pin) : len(r8_pin) + len(r9_appends)]
        == r9_appends
    )
    assert set(registry.CANARY_QUERIES) <= set(registry.BENCH_QUERIES)
    assert len(registry.CANARY_QUERIES) == len(set(registry.CANARY_QUERIES))


def test_staleness_ledger_covers_every_query():
    """VERDICT r7 #7: STALENESS.json is the committed per-query
    freshness ledger (last driver-green/checked round + last local
    battery green/checked round). Every registry query must appear,
    with the expected fields, so freshness is auditable from one
    artifact."""
    from mapreduce_implementation_grpc_spark import registry

    with open(os.path.join(REPO, "STALENESS.json")) as fh:
        doc = json.load(fh)
    assert set(doc["queries"]) == set(registry.QUERIES)
    for name, row in doc["queries"].items():
        assert {
            "last_driver_green",
            "last_driver_checked",
            "last_local_green",
            "last_local_checked",
            "new_this_round",
        } <= set(row), name
    assert doc["n_queries"] == len(registry.QUERIES)
