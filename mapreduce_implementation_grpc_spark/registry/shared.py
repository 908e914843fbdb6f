"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus the
equivalent DuckDB oracle SQL for the driver's correctness gate.

Conventions (driver compares row-count + schema + order-insensitive
value-hash, joining columns by NAME):
- every computed column aliased identically in Spark and SQL;
- floating-point outputs rounded to 6 decimals on BOTH sides, with
  identical expression trees, so IEEE results are bit-equal;
- money aggregates summed as DECIMAL (exact, order-independent) and
  cast to double only at the output boundary;
- integer outputs standardized to BIGINT/long;
- every ordering has a deterministic tie-break.

MinHash/SimHash sketches use PORTABLE hashing (md5-prefix base hash
+ LCG permutations, operators/dedup.py) so even the banded-LSH pair
queries and the composed curation pipeline are hash-checked against
DuckDB. Iterative k-means is oracle-checked too: exact decimal-sum
means make each Lloyd round deterministic, and the oracle unrolls
the same iterations in SQL. The only queries still without an
oracle entry are the true randomized/mergeable sketches (HLL
approx_distinct, GK quantiles) whose internal state no other engine
reproduces; they get the driver's rows-only check plus
error-bound tests.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..materialize import materialize

from ..functions.text_stats import (
    LANG_MARKERS,
    QUALITY_CLEAN_WEIGHT,
    QUALITY_DISTINCT_WEIGHT,
    QUALITY_LENGTH_CAP,
    QUALITY_LENGTH_WEIGHT,
    QUALITY_STOPWORD_CAP,
    QUALITY_STOPWORD_WEIGHT,
    QUALITY_STOPWORDS,
    bpe_like_token_count_col,
    doc_fingerprint_cols,
    lang_score_cols,
    quality_score_col,
    text_stats_cols,
    with_token_array,
)
from ..operators.dedup import (
    dedup_clusters,
    exact_dedup,
    label_propagation,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_fp,
    simhash_near_dup_pairs,
)
from ..operators.curation import (
    PII_PATTERNS,
    decontaminate,
    eval_overlap_report,
    mixture_sample,
    pii_redact,
    repetition_stats,
    shard_manifest,
)
from ..operators.chunking import DEFAULT_PACK_BUDGET
from ..operators.graph_motifs import COSUPPLY_THRESHOLD
from ..operators.normalize import normalized_col
from ..operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    embedding_dup_pairs,
    knn_brute_force,
    lsh_planes,
)
from ..operators.quantization import quantize_embeddings
from ..operators.tokenize import tokenize
from ..operators.topk import top_k
from ..functions.tfidf import tfidf_top_terms
from ..operators.wordcount import (
    word_count,
    word_count_rdd,
    word_count_salted,
    word_count_sql,
)
from ..sources.catalog import register_views
from ..plans import analytics
from ..plans.pipeline import curate_documents
from ..multimodal.binary_ops import (
    decode_features,
    resize_images,
    sample_frames,
    with_binary_payload,
)
from ..sources.catalog import load_table
from ..sources.text import corpus_from_documents, read_text_corpus, task_id_col

def _rev_micros() -> Column:
    """Exact lineitem revenue in integer micros: price * (1 - discount) * 10^6."""
    return (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)"))
        * F.lit(1000000).cast("decimal(7,0)")
    ).cast("decimal(25,0)")


def _order_month() -> Column:
    """o_orderdate as whole months since 1992-01, the first order month."""
    return (
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")) - F.lit(1992 * 12 + 1)
    ).cast("long")


def _customer_nation_lines(
    spark: SparkSession, sf_dir: str, orders: DataFrame
) -> DataFrame:
    """lineitem joined to `orders`, their customers and (broadcast) nations."""
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )


# ---------------------------------------------------------------------------
# shared SQL fragments for oracles (DuckDB dialect)
# ---------------------------------------------------------------------------

# Matches operators.normalize + operators.tokenize exactly.
_SQL_WORDS = """
  SELECT unnest(string_split_regex(trim(lower(
           regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS word
  FROM documents
"""

_SQL_WORDCOUNT = f"""
  SELECT word, count(*) AS cnt FROM ({_SQL_WORDS}) WHERE word <> '' GROUP BY word
"""

# Per-doc token list, matching tokens_col(normalized_col(text)).
# Parameterized by source table/CTE name so composed oracles (e.g.
# curate_documents) can run the same fragment over an intermediate.
def _sql_toks(table: str = "documents") -> str:
    return f"""
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(trim(lower(
           regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+'),
           w -> w <> '') AS toks
  FROM {table}
"""


_SQL_TOKS = _sql_toks()


# 3-token shingle set per doc, matching operators.dedup.shingle_rows
# and shingle_rows_flat.
def _sql_shingles(table: str = "documents") -> str:
    return f"""
  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
         ELSE [] END AS shset
  FROM ({_sql_toks(table)})
"""


_SQL_SHINGLES = _sql_shingles()


def _sql_quality(pad: int) -> str:
    """functions/text_stats.quality_score_col over `text` and `toks`
    (without the round), one term per line; lines after the first are
    indented by `pad`."""
    i = " " * pad
    stopwords = ",".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return (
        f"least(len(toks) / {QUALITY_LENGTH_CAP}, 1.0) * {QUALITY_LENGTH_WEIGHT}\n"
        f"{i}+ (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))\n"
        f"{i}         / greatest(length(text), 1)) * {QUALITY_CLEAN_WEIGHT}\n"
        f"{i}+ (len(list_distinct(toks)) / greatest(len(toks), 1)) * {QUALITY_DISTINCT_WEIGHT}\n"
        f"{i}+ least(len(list_filter(toks, t -> t IN ({stopwords}))) / {QUALITY_STOPWORD_CAP}, 1.0)"
        f" * {QUALITY_STOPWORD_WEIGHT}"
    )

# Co-supply pair weights w(s1, s2, c) and edge threshold t(thr),
# matching operators.graph_motifs.cosupply_edges.
_SQL_COSUPPLY = f"""ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
  w AS (SELECT a.s AS s1, b.s AS s2, count(*) AS c
        FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
  t AS (SELECT CAST(sum(c) AS DOUBLE) / count(*) * {COSUPPLY_THRESHOLD} AS thr FROM w)"""


def _bpe_ctes(k: int) -> str:
    """WITH-chain body for k unrolled BPE merge rounds, mirroring
    operators/bpe.py bit-for-bit: v{i} is the vocab after i merges
    (double-delimited symbol strings), p{i} the weighted pair counts,
    b{i} the greedy pick (max count, ties by (l, r) string order).
    replace() is plain non-overlapping left-to-right in both engines
    and the doubled delimiter means adjacent matches never share a
    character, so the unrolled SQL reproduces the iterative trainer
    exactly."""
    parts = [
        f"""wf AS (SELECT w, count(*) AS c
         FROM (SELECT unnest(toks) AS w FROM ({_SQL_TOKS})) GROUP BY 1),
  v0 AS (SELECT '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS ws, c FROM wf)"""
    ]
    for i in range(k):
        parts.append(
            f"""p{i} AS (
    SELECT p.l AS l, p.r AS r, CAST(sum(c) AS BIGINT) AS cnt
    FROM (SELECT unnest(list_transform(range(1, len(s)),
                   j -> struct_pack(l := s[j], r := s[j + 1]))) AS p, c
          FROM (SELECT list_filter(string_split(ws, '||'), x -> x <> '') AS s, c
                FROM v{i}))
    GROUP BY 1, 2),
  b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
  v{i + 1} AS (SELECT replace(ws,
                coalesce((SELECT '|' || l || '||' || r || '|' FROM b{i}), ''),
                coalesce((SELECT '|' || l || r || '|' FROM b{i}), '')) AS ws, c FROM v{i})"""
        )
    return ",\n  ".join(parts)


def _bpe_compression_sql(k: int) -> str:
    """Per-language rollup of the BPE encode CTEs (tokenizer parity)."""
    m_cols = ", ".join(
        f"coalesce((SELECT '|' || l || '||' || r || '|' FROM b{i}), '') AS s{i}, "
        f"coalesce((SELECT '|' || l || r || '|' FROM b{i}), '') AS t{i}"
        for i in range(k)
    )
    chain = "'||' || regexp_replace(w, '(.)', '\\1||', 'g')"
    for i in range(k):
        chain = f"replace({chain}, s{i}, t{i})"
    return f"""
      WITH {_bpe_ctes(k)},
      m AS (SELECT {m_cols}),
      per_doc AS (
        SELECT lang,
               CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
                    AS BIGINT) AS nc,
               CAST(coalesce(list_sum(list_transform(toks, w ->
                 len(list_filter(string_split({chain}, '||'),
                                 x -> x <> '')))), 0) AS BIGINT) AS nb
        FROM ({_sql_toks()}) CROSS JOIN m)
      SELECT lang, CAST(sum(nc) AS BIGINT) AS total_chars,
             CAST(sum(nb) AS BIGINT) AS total_bpe_tokens,
             round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE), 6)
               AS chars_per_token
      FROM per_doc GROUP BY lang ORDER BY lang
    """


def _bpe_pack_sql(k: int) -> str:
    """pack_sequences over real trained-BPE counts (oracle twin of
    q_pack_sequences_bpe): the encode CTEs feed the per-shard
    prefix-sum block layout."""
    m_cols = ", ".join(
        f"coalesce((SELECT '|' || l || '||' || r || '|' FROM b{i}), '') AS s{i}, "
        f"coalesce((SELECT '|' || l || r || '|' FROM b{i}), '') AS t{i}"
        for i in range(k)
    )
    chain = "'||' || regexp_replace(w, '(.)', '\\1||', 'g')"
    for i in range(k):
        chain = f"replace({chain}, s{i}, t{i})"
    return f"""
      WITH {_bpe_ctes(k)},
      m AS (SELECT {m_cols}),
      n AS (
        SELECT doc_id, source,
               CAST(coalesce(list_sum(list_transform(toks, w ->
                 len(list_filter(string_split({chain}, '||'),
                                 x -> x <> '')))), 0) AS BIGINT) AS n_tokens
        FROM (SELECT doc_id, source,
                     list_filter(string_split_regex(trim(lower(
                       regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+'),
                       w -> w <> '') AS toks
              FROM documents) CROSS JOIN m),
      p AS (
        SELECT doc_id, source, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prefix
        FROM n)
      SELECT doc_id, source, n_tokens,
             CAST(prefix // {DEFAULT_PACK_BUDGET} AS BIGINT) AS bin_id,
             CAST(prefix % {DEFAULT_PACK_BUDGET} AS BIGINT) AS offset
      FROM p
    """


def _bpe_encode_sql(k: int) -> str:
    """Per-doc BPE token counts with the k trained merges applied as
    a literal replace chain (scalar merge columns cross-joined in so
    the list lambda only references plain columns)."""
    m_cols = ", ".join(
        f"coalesce((SELECT '|' || l || '||' || r || '|' FROM b{i}), '') AS s{i}, "
        f"coalesce((SELECT '|' || l || r || '|' FROM b{i}), '') AS t{i}"
        for i in range(k)
    )
    chain = "'||' || regexp_replace(w, '(.)', '\\1||', 'g')"
    for i in range(k):
        chain = f"replace({chain}, s{i}, t{i})"
    return f"""
      WITH {_bpe_ctes(k)},
      m AS (SELECT {m_cols})
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_ws_tokens,
             CAST(coalesce(list_sum(list_transform(toks, w ->
               len(list_filter(string_split({chain}, '||'),
                               x -> x <> '')))), 0) AS BIGINT) AS n_bpe_tokens
      FROM ({_SQL_TOKS}) CROSS JOIN m
    """


def _pagerank_ctes(iters: int, seeds_sql: str | None = None) -> str:
    """Unrolled damped power iterations over the purchase graph,
    mirroring operators/pagerank.py: per-edge contributions rounded
    to 9dp and summed as DECIMAL (the lm_score exactness recipe), so
    every iteration's rank vector is bit-identical to Spark's.
    With `seeds_sql` (a SELECT yielding a `node` column) the teleport
    mass lands only on the seed set -- personalized PageRank."""
    parts = ["""e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
  e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
  deg AS (SELECT src AS dsrc, count(*) AS d FROM e GROUP BY 1),
  ed AS (SELECT e.src, e.dst, deg.d FROM e JOIN deg ON e.src = deg.dsrc)"""]
    if seeds_sql is None:
        parts.append("r0 AS (SELECT dsrc AS node, CAST(1.0 AS DOUBLE) AS r FROM deg)")
    else:
        parts.append(f"""seeds AS ({seeds_sql}),
  ind AS (SELECT deg.dsrc AS inode,
                 CASE WHEN seeds.node IS NOT NULL THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS ind
          FROM deg LEFT JOIN seeds ON deg.dsrc = seeds.node),
  r0 AS (SELECT inode AS node, ind AS r FROM ind)""")
    tele = ("CAST(0.15 AS DOUBLE)" if seeds_sql is None
            else "CAST(0.15 AS DOUBLE) * ind.ind")
    tail = "" if seeds_sql is None else " JOIN ind ON s.node = ind.inode"
    for t in range(1, iters + 1):
        parts.append(f"""r{t} AS (
    SELECT s.node, {tele} + CAST(0.85 AS DOUBLE) * s.sm AS r
    FROM (SELECT ed.dst AS node,
                 CAST(CAST(sum(CAST(round(rr.r / ed.d, 9) AS DECIMAL(12,9)))
                           AS VARCHAR) AS DOUBLE) AS sm
          FROM ed JOIN r{t - 1} rr ON ed.src = rr.node GROUP BY 1) s{tail})""")
    return ",\n  ".join(parts)
