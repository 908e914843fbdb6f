"""Text-analysis column functions (extension surface, SURVEY.md
section 2b): per-document stats, quality scoring, marker-based
language ID, whitespace + BPE-ish token counting, and document
fingerprinting (cryptographic + rolling hash).

Everything here is a pure JVM-side Column expression -- no Python
UDFs -- so the whole text-analysis pipeline stays inside whole-stage
codegen and scales linearly with executors: per-document map work
with no shuffle at all until a later aggregation asks for one.

Float outputs are rounded to 6 decimals at the expression level so
DuckDB-oracle hashes match bit-for-bit (both engines compute the
same IEEE-754 double expression tree, in the same order).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.normalize import NORMALIZE_PATTERN, normalized_col
from ..operators.tokenize import tokens_col

# Marker stopwords per language for the heuristic language ID.
# Deterministic and mirrored literally in the SQL oracle; real corpora
# would use larger lists or char-n-gram profiles, but the operator
# shape (argmax over per-language hit counts) is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_BASE = 31


def _toks(text: Column | str) -> Column:
    return tokens_col(normalized_col(text))


def with_token_array(docs, text_col: str = "text", out_col: str = "toks"):
    """Materialize the token array ONCE behind an explode(array(...))
    Generate barrier. Without it, CollapseProject inlines the whole
    tokenize pipeline (regex replace + split + filter) into every
    output column that references the tokens -- text_stats runs it
    5x, lang_id 6x (measured 1.5x wall on text_stats at 200k docs).
    Pass the materialized column into the *_cols functions via their
    `toks=` parameter."""
    return docs.select(
        "*", F.explode(F.array(tokens_col(normalized_col(text_col)))).alias(out_col)
    )


def text_stats_cols(text: Column | str, toks: Column | None = None) -> list[Column]:
    """Per-doc stats: token counts, distinct ratio, avg token length,
    punctuation ratio (chars stripped by normalize / raw length).
    Pass `toks` (a materialized array column, see with_token_array)
    to avoid re-tokenizing once per output column."""
    text = F.col(text) if isinstance(text, str) else text
    toks = _toks(text) if toks is None else toks
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    raw_len = F.length(text)
    # chars surviving the normalize strip (pre-trim, pre-lower:
    # length is case/trim-insensitive enough only if measured the
    # same way both sides -- so measure strip-only, no trim).
    kept_len = F.length(F.regexp_replace(text, NORMALIZE_PATTERN, ""))
    sum_tok_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return [
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        F.round(n_distinct / F.greatest(n_tokens, F.lit(1)), 6).alias("distinct_ratio"),
        F.round(sum_tok_len / F.greatest(n_tokens, F.lit(1)), 6).alias("avg_token_len"),
        F.round((raw_len - kept_len) / F.greatest(raw_len, F.lit(1)), 6).alias("punct_ratio"),
    ]


def bpe_like_token_count_col(text: Column | str, toks: Column | None = None) -> Column:
    """BPE-ish token count: each whitespace token contributes
    ceil(len/4) subword units (a 4-chars-per-token approximation of a
    byte-pair vocab). Whitespace count is size(tokens)."""
    toks = _toks(text) if toks is None else toks
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.floor((F.length(t) + F.lit(3)) / F.lit(4.0)).cast("long"),
    )


def quality_score_col(text: Column | str, toks: Column | None = None) -> Column:
    """Composite document quality in [0,1]:
    0.35*length_score + 0.25*(1-punct_ratio) + 0.2*distinct_ratio
    + 0.2*stopword_presence. Deterministic double arithmetic,
    mirrored term-for-term in the oracle."""
    text = F.col(text) if isinstance(text, str) else text
    toks = _toks(text) if toks is None else toks
    n_tokens = F.size(toks)
    safe_n = F.greatest(n_tokens, F.lit(1))
    raw_len = F.length(text)
    kept_len = F.length(F.regexp_replace(text, NORMALIZE_PATTERN, ""))
    punct_ratio = (raw_len - kept_len) / F.greatest(raw_len, F.lit(1))
    distinct_ratio = F.size(F.array_distinct(toks)) / safe_n
    length_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "and", "of", "is")))
    stop_ratio = F.least(stop_hits / F.lit(5.0), F.lit(1.0))
    return F.round(
        length_score * 0.35 + (F.lit(1.0) - punct_ratio) * 0.25
        + distinct_ratio * 0.2 + stop_ratio * 0.2,
        6,
    )


def lang_score_cols(text: Column | str, toks: Column | None = None) -> list[Column]:
    """Per-language marker-hit counts + argmax prediction with a
    deterministic tie-break (hit count desc, language code asc).
    Pass `toks` (see with_token_array) to tokenize once, not 6x."""
    toks = _toks(text) if toks is None else toks

    def _hit(markers: tuple[str, ...]):
        # factory closure: a default-arg lambda would look binary to
        # F.filter and receive the element index as its second param
        return lambda t: t.isin(*markers)

    hit_cols = {
        lang: F.size(F.filter(toks, _hit(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    # argmax via a sorted struct array: (-hits, lang) ascending == the
    # (hits desc, lang asc) winner first.
    pairs = F.array(
        *[F.struct((-hit_cols[lang]).alias("neg"), F.lit(lang).alias("lang")) for lang in sorted(LANG_MARKERS)]
    )
    pred = F.array_sort(pairs)[0]["lang"]
    out = [hit_cols[lang].cast("long").alias(f"hits_{lang}") for lang in sorted(LANG_MARKERS)]
    out.append(pred.alias("pred_lang"))
    return out


def rolling_hash_col(text: Column | str) -> Column:
    """Polynomial rolling hash over the token stream:
    h = (h*31 + ascii(first char)*len(token)) mod 1e9+7.
    Order-sensitive (unlike a bag-of-words hash), cheap, and
    expressible in both engines' fold primitives (F.aggregate /
    list_reduce)."""
    toks = _toks(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLLING_HASH_BASE + F.ascii(t) * F.length(t)) % ROLLING_HASH_MOD,
    )


def doc_fingerprint_cols(text: Column | str) -> list[Column]:
    """Content fingerprints of the normalized text: md5 + sha256 (hex)
    for exact-dup detection, rolling hash for cheap 64-bit grouping."""
    norm = normalized_col(text)
    return [
        F.md5(norm).alias("fp_md5"),
        F.sha2(norm, 256).alias("fp_sha256"),
        rolling_hash_col(text).alias("fp_rolling"),
    ]
