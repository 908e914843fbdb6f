"""O5 -- tokenize (SURVEY.md section 2a).

Reference: greeter_server.cc:72-79 -- getline per line, then
`istringstream >> word` per whitespace run (so runs of whitespace
never yield empty tokens, and leading/trailing whitespace is
ignored). Equivalent declarative form: split on '\\s+' and drop
empty strings. `split` on an empty/whitespace-only input yields
[''], which the filter removes -- matching both the C++ extractor
and DuckDB's string_split_regex + `word <> ''` oracle exactly.

All JVM-side (split/filter/explode are codegen'd); the flatMap shape
the reference hand-writes is what `explode` plans to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_PATTERN = r"\s+"


def tokens_col(col: Column | str) -> Column:
    """array<string> of non-empty whitespace-delimited tokens."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(col, TOKEN_SPLIT_PATTERN), lambda t: t != F.lit(""))


def tokenize(df: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """Explode to one row per token (the reference's flatMap)."""
    cols = [F.col(c) for c in (keep or [])]
    return df.select(*cols, F.explode(tokens_col("norm")).alias("word"))
