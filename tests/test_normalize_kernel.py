"""The O2 normalize kernel: the engine's Java class `[^\\p{Alnum}\\s]`
removes exactly the code points the DuckDB oracle's RE2 spelling
`[^a-zA-Z0-9\\s]` names, and it is the only Spark-side spelling.

The one known divergence from the oracle, U+000B (vertical tab), is
pinned here too: Java's `\\s` and the reference's C `isspace` count it
as whitespace, RE2's `\\s` does not."""

from __future__ import annotations

import ast
import os
import pathlib
import re

from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators.normalize import (
    NORMALIZE_PATTERN,
    normalized_col,
)
from mapreduce_implementation_grpc_spark.operators.tokenize import tokens_col

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "mapreduce_implementation_grpc_spark")
ORACLE_SPELLING = r"[^a-zA-Z0-9\s]"
BLOCK = 4096
# the oracle SQL keeps its RE2 spelling
ORACLE_SQL_MODULES = {"registry/shared.py", "registry/oracle_builders.py"}


def _scalar_value_blocks() -> list[str]:
    """Every Unicode scalar value (0..0x10FFFF minus the surrogates),
    BLOCK distinct code points per row."""
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    return ["".join(map(chr, cps[i:i + BLOCK])) for i in range(0, len(cps), BLOCK)]


def test_engine_class_equals_oracle_spelling_on_every_scalar_value(spark):
    blocks = _scalar_value_blocks()
    assert len(blocks) == 272
    df = spark.createDataFrame([(i, s) for i, s in enumerate(blocks)], "i int, s string")
    old = F.regexp_replace("s", ORACLE_SPELLING, "")
    new = F.regexp_replace("s", NORMALIZE_PATTERN, "")
    row = df.agg(
        F.count("*").alias("rows"),
        F.sum((old != new).cast("int")).alias("differ"),
        F.concat_ws("", F.collect_list(new)).alias("kept"),
    ).first()
    assert (row.rows, row.differ) == (272, 0)
    # what both keep: ASCII alnum plus Java's six whitespace chars
    assert sorted(row.kept) == sorted(
        "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ \t\n\x0b\f\r"
    )


def test_no_spark_side_copy_of_the_class():
    """`a-zA-Z0-9` followed by `\\s` (in any escaping) appears only in
    the oracle SQL modules and the normalize docstring."""
    literal = re.compile(r"a-zA-Z0-9\\+s")
    offenders, oracle_hits = [], 0
    for path in sorted(pathlib.Path(PKG).rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        if rel in ORACLE_SQL_MODULES or re.fullmatch(r"registry/oracles_\w+\.py", rel):
            oracle_hits += bool(literal.search(src))
            continue
        if rel == "operators/normalize.py":  # blank the module docstring
            end = ast.parse(src).body[0].end_lineno
            src = "\n" * end + src.split("\n", end)[end]
        offenders += [(rel, src.count("\n", 0, m.start()) + 1) for m in literal.finditer(src)]
    assert not offenders, f"copies of the normalize class outside NORMALIZE_PATTERN: {offenders}"
    assert oracle_hits >= 3  # the allow-list still names the oracle modules


def test_vertical_tab_is_whitespace_in_the_engine(spark):
    df = spark.createDataFrame([("a\x0bb",), ("A\x0b!B\x0b",)], "line string")
    toks = [r.t for r in df.select(tokens_col(normalized_col("line")).alias("t")).collect()]
    assert toks == [["a", "b"], ["a", "b"]]


def test_vertical_tab_is_stripped_by_the_oracle():
    """The oracle side of the gap (RE2 `\\s` has no U+000B). No
    fixture or benchmark corpus contains U+000B."""
    import duckdb

    got = duckdb.sql(
        "SELECT string_split_regex(trim(lower(regexp_replace("
        "'a' || chr(11) || 'b', '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+') AS t"
    ).fetchone()[0]
    assert got == ["ab"]
