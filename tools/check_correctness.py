"""Local replica of the driver's t2 correctness gate.

Usage: python tools/check_correctness.py [--write] [sf_dir] [name ...]
Runs every registry query (or the named subset) against its DuckDB
oracle and prints per-query row-count/schema/value-hash status. Only
with --write is the run merged into the committed LOCAL_BATTERY.json
ledger, so a verification run leaves the tree unchanged.

Round-7 fix: hashes are computed over the PANDAS rendering of both
result sets (`toPandas()` / `fetchdf()`) with dtype-tagged values —
the same lens the driver uses — instead of `collect()`/`fetchall()`
tuple reprs. The old repr path canonicalized DuckDB HUGEINT->int and
DECIMAL->Decimal, so it said "ALL OK" for two r6 queries the driver
scored red (`score_auc`, `user_wallet_balance`: DuckDB pandas-ifies
wide integers as float64, Spark ships long/Decimal). The canon lives
in tests/oracle_utils.py so pytest and this tool can never diverge
again.
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.session import get_spark
from mapreduce_implementation_grpc_spark.sources.catalog import TABLES
from tests.oracle_utils import _canon


def value_hash(pdf) -> str:
    canon = _canon(pdf)
    return hashlib.md5(
        "\n".join(repr(r) for r in canon).encode()
    ).hexdigest()[:12]


def _current_round() -> int:
    """Build round this run belongs to: one past the newest driver
    CORRECTNESS artifact."""
    import glob
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", p)) is not None
    ]
    return max(rounds, default=0) + 1


def record_local_battery(green: list[str], red: list[str], sf_dir: str,
                         rows_only: list[str] = ()) -> None:
    """Merge this run into LOCAL_BATTERY.json: per-query last round the
    LOCAL replica saw it green / checked it at all. Feeds the
    committed STALENESS.json ledger (VERDICT r7 #7) so per-query
    freshness is auditable without re-deriving it from every
    CORRECTNESS_r*.json."""
    import json as _json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "LOCAL_BATTERY.json")
    doc: dict = {"queries": {}}
    if os.path.exists(path):
        with open(path) as fh:
            doc = _json.load(fh)
    rnd = _current_round()
    qs = doc.setdefault("queries", {})
    for name in green:
        row = qs.setdefault(name, {})
        row["last_green_round"] = max(row.get("last_green_round", 0), rnd)
        row["last_checked_round"] = max(row.get("last_checked_round", 0), rnd)
        row["sf_dir"] = sf_dir
    for name in rows_only:
        # ADVICE r8: a rows-only run is weaker than oracle-green;
        # track it under its own key so the freshness ledger can tell
        # verification strength apart
        row = qs.setdefault(name, {})
        row["last_rows_only_round"] = max(row.get("last_rows_only_round", 0), rnd)
        row["last_checked_round"] = max(row.get("last_checked_round", 0), rnd)
        row["sf_dir"] = sf_dir
    for name in red:
        row = qs.setdefault(name, {})
        row["last_checked_round"] = max(row.get("last_checked_round", 0), rnd)
        row["sf_dir"] = sf_dir
    with open(path, "w") as fh:
        _json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


def split_write_flag(argv: list[str]) -> tuple[list[str], bool]:
    """(argv without ``--write``, whether it was given): the flag may
    sit anywhere and is never taken as the data directory or a query
    name."""
    return [a for a in argv if a != "--write"], "--write" in argv


def main() -> None:
    sys.argv, write = split_write_flag(sys.argv)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(registry.QUERIES)
    spark = get_spark(app_name="check", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = 0
    green: list[str] = []
    red: list[str] = []
    rows_only: list[str] = []
    for name in names:
        try:
            sdf = registry.QUERIES[name](spark, sf_dir)
            spdf = sdf.toPandas()
            if name not in registry.ORACLES:
                print(f"  {name}: rows-only rows={len(spdf)} (no oracle)")
                rows_only.append(name)  # weaker than green; own ledger key
                continue
            opdf = con.execute(registry.ORACLES[name]).fetchdf()
            schema_ok = sorted(spdf.columns) == sorted(opdf.columns)
            hash_ok = value_hash(spdf) == value_hash(opdf)
            ok = schema_ok and len(spdf) == len(opdf) and hash_ok
            status = "OK " if ok else "FAIL"
            failures += 0 if ok else 1
            (green if ok else red).append(name)
            print(
                f"  {name}: {status} rows={len(spdf)}/{len(opdf)} "
                f"schema={'ok' if schema_ok else f'{sorted(spdf.columns)} vs {sorted(opdf.columns)}'} "
                f"hash={'ok' if hash_ok else 'MISMATCH'}"
            )
        except Exception:
            failures += 1
            red.append(name)
            print(f"  {name}: ERROR\n{traceback.format_exc()}")
    if write:
        record_local_battery(green, red, sf_dir, rows_only)
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'} on {sf_dir}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
