"""O2 -- normalize (SURVEY.md section 2a).

Reference: greeter_client.cc:316-321 walks the whole corpus char by
char on the master, keeping isalnum/isspace and lowercasing. Here it
is a single JVM-side expression -- `lower(regexp_replace(...))` --
that stays inside whole-stage codegen and runs per-executor on each
input split; no driver materialization, no Python in the hot path.

Semantics pinned to the DuckDB oracle (FIXTURES.md):
  trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
`trim` is added on both sides so leading/trailing whitespace cannot
produce empty tokens in only one engine.

The engine spells the class `[^\\p{Alnum}\\s]` (java.util.regex), the
oracle `[^a-zA-Z0-9\\s]` (RE2). Without the UNICODE_CHARACTER_CLASS
flag, which Spark never sets for the default UTF8_BINARY collation,
Java's `\\p{Alnum}` is exactly the US-ASCII `[a-zA-Z0-9]`, so both
remove the same code points: tests/test_normalize_kernel.py compares
the two spellings on every Unicode scalar value. The three-range
negated class is the slow form on the JVM: normalizing the benchmark's
1.9 MB word-count corpus took 1.17 CPU-s with it and 0.26 CPU-s with
`\\p{Alnum}` (same-JVM A/B, SCALING.md "O2 normalize kernel"), and
every text operator pays this cost.

One known parity gap, outside every fixture: Java's `\\s` (like the
reference's C `isspace`) counts U+000B (vertical tab) as whitespace,
RE2's `\\s` does not, so the engine splits "a\\x0bb" into two tokens
where the oracle strips the U+000B and keeps one.

NORMALIZE_PATTERN is the only Spark-side spelling of the class; the
other text paths (text_stats' punctuation ratio, the SQL word count)
build from it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NORMALIZE_PATTERN = r"[^\p{Alnum}\s]"


def normalized_col(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.trim(F.lower(F.regexp_replace(col, NORMALIZE_PATTERN, "")))
