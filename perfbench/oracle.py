"""Oracle check: a query's Spark result against its DuckDB oracle SQL.

Both sides are rendered through pandas and reduced to an
order-insensitive hash: columns sorted by name, every cell tagged with
its dtype class (so ``7``, ``7.0`` and ``Decimal('7')`` differ, as in
the engine's correctness gate), rows sorted by their repr, then md5.
Floats compare by their exact bits.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb
import pandas as pd


def _cell(v):
    if v is None:
        return None
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return None if math.isnan(v) else ("f", v.hex())
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return None if v != v else ("t", v.isoformat())
    if isinstance(v, (str, bytes)):
        return ("s", v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("a", tuple(_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, _cell(x)) for k, x in v.items())))
    if v != v:  # NaT and other NaN-likes
        return None
    return ("o", repr(v))


def result_hash(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    cols = tuple(sorted(pdf.columns))
    rows = sorted(
        (repr(tuple(_cell(v) for v in row)) for row in pdf[list(cols)].itertuples(index=False))
    )
    return len(pdf), cols, hashlib.md5("\n".join(rows).encode()).hexdigest()


class Oracle:
    """DuckDB views over one generated input directory.

    A table is either ``<name>.parquet`` or a directory of part files
    under that name."""

    def __init__(self, data_dir: str, tmp_dir: str):
        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory = '{tmp_dir}'")
        self._con.execute("SET threads = " + str(os.cpu_count() or 1))
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            self._con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

    def expected(self, sql: str) -> tuple[int, tuple[str, ...], str]:
        return result_hash(self._con.execute(sql).fetchdf())

    def close(self) -> None:
        self._con.close()


def mismatch(got: pd.DataFrame, want: tuple[int, tuple[str, ...], str]) -> str | None:
    """None when ``got`` matches the oracle's hash, else what differs."""
    g = result_hash(got)
    if g[1] != want[1]:
        return f"columns {list(g[1])} != oracle {list(want[1])}"
    if g[0] != want[0]:
        return f"{g[0]} rows != oracle {want[0]}"
    if g[2] != want[2]:
        return "values differ from oracle"
    return None
