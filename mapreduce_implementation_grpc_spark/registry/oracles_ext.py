"""DuckDB oracle SQL, part 2 of 4, including the oracles composed from
``oracles_core`` entries (recall, rerank and twin queries).
"""

from __future__ import annotations

from .shared import (
    PII_PATTERNS,
    _SQL_COSUPPLY,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _SQL_WORDCOUNT,
)
from .curation import BM25_QUERY, BM25_TOPN, PPR_SEGMENT, PRF_FEEDBACK, PRF_TOPN
from .similarity import (
    ANN_BANDED_SWEEP,
    ANN_SWEEP_PROBES,
    RRF_K,
    RRF_TOPN,
    SNIPPET_CTX,
    SNIPPET_NO_TERM,
    SNIPPET_TOPN,
    SNIPPET_WIDTH,
    _mmr_ctes,
)
from ..operators.hll import M_REGISTERS, RAW_SCALE
from ..operators.kmv import KMV_K
from ..operators.linkpred import LINKPRED_MAX_DEGREE, LINKPRED_TOP_N
from ..operators.seqmine import SEQ_TOP_N
from ..operators.similarity import N_PROBE, TOPK
from ..plans.analytics import ASOF_AT
from .oracle_builders import (
    _CMS_EST,
    _CMS_ROWS,
    _ann_lsh_banded_sql,
    _ann_lsh_multiprobe_sql,
    _cms_joins,
    _dsir_sql,
    _temperature_sql,
)
from .graph_layout import (
    K_ANON,
    _bfs_ctes,
    _hits_ctes,
    _kcore_ctes,
    _sssp_ctes,
    _zorder_binned_sql,
)
from . import oracles_core

ORACLES: dict[str, str] = {}

# the SQL-front-end twin shares the DataFrame variant's oracle
ORACLES["pricing_summary_sql"] = oracles_core.ORACLES["pricing_summary"]

# composed data-selection pipeline: dedup keep-set, DSIR over the
# deduped corpus, threshold, temperature membership over the selected
# pool -- each stage re-using the standalone oracles' SQL generators
ORACLES["select_pretraining_corpus"] = (
    """WITH dedup_keep AS (
         SELECT min(doc_id) AS doc_id
         FROM (SELECT doc_id,
                      md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp
               FROM documents)
         GROUP BY fp),
       d1 AS (SELECT d.* FROM documents d JOIN dedup_keep USING (doc_id)),
       dsirw AS ("""
    + _dsir_sql("d1")
    + """),
       sel AS (SELECT doc_id, dsir_logw FROM dsirw WHERE dsir_logw >= 0.0),
       d2 AS (SELECT d1.* FROM d1 JOIN sel USING (doc_id)),
       kept AS ("""
    + _temperature_sql("d2")
    + """)
       SELECT k.doc_id, k.lang, k.source, sel.dsir_logw
       FROM kept k JOIN sel USING (doc_id)"""
)

ORACLES["hybrid_rrf_topk"] = f"""
  WITH lexb AS (SELECT * FROM ({oracles_core.ORACLES["bm25_topk"]})),
  lex AS (SELECT doc_id,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_lex
          FROM lexb),
  q0 AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings
         WHERE vec_id = 0),
  sden AS (SELECT e.vec_id AS doc_id,
                  round(list_cosine_similarity(q0.qvec,
                        CAST(e.embedding AS DOUBLE[])), 6) AS cosine
           FROM q0, embeddings e WHERE e.vec_id <> 0),
  denr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS r_den
           FROM sden),
  den AS (SELECT doc_id, r_den FROM denr WHERE r_den <= {BM25_TOPN})
  SELECT doc_id,
         round(coalesce(CAST(1 AS DOUBLE) / (CAST({RRF_K} AS DOUBLE) + CAST(r_lex AS DOUBLE)), CAST(0 AS DOUBLE))
               + coalesce(CAST(1 AS DOUBLE) / (CAST({RRF_K} AS DOUBLE) + CAST(r_den AS DOUBLE)), CAST(0 AS DOUBLE)), 6)
           AS rrf
  FROM lex FULL OUTER JOIN den USING (doc_id)
  ORDER BY rrf DESC, doc_id ASC LIMIT {RRF_TOPN}
"""

ORACLES["prf_rerank"] = f"""
  WITH bm AS (SELECT * FROM ({oracles_core.ORACLES["bm25_topk"]})),
  fb AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT {PRF_FEEDBACK}),
  fv AS (SELECT CAST(e.embedding AS DOUBLE[]) AS dvec
         FROM embeddings e JOIN fb ON e.vec_id = fb.doc_id),
  i AS (SELECT dvec, unnest(range(1, len(dvec) + 1)) AS idx FROM fv),
  f AS (SELECT idx, dvec[idx] AS v FROM i),
  c AS (SELECT idx,
               round(CAST(CAST(sum(CAST(v AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE)
                     / count(*), 6) AS c
        FROM f GROUP BY idx),
  cv AS (SELECT list(c ORDER BY idx) AS cvec FROM c),
  s AS (SELECT bm.doc_id, bm.bm25,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv.cvec), 6)
                 AS cosine
        FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id CROSS JOIN cv),
  r AS (SELECT *, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rn FROM s)
  SELECT doc_id, bm25, cosine, CAST(rn AS BIGINT) AS "rank" FROM r WHERE rn <= {PRF_TOPN}
"""

# position of the first query term, SNIPPET_NO_TERM when none occurs
_FIRST_TERM_POS = ", ".join(
    f"CASE WHEN instr(text, '{t}') > 0 THEN instr(text, '{t}') ELSE {SNIPPET_NO_TERM} END"
    for t in BM25_QUERY
)
ORACLES["bm25_snippets"] = f"""
  WITH top AS (SELECT * FROM ({oracles_core.ORACLES["bm25_topk"]})
               ORDER BY bm25 DESC, doc_id ASC LIMIT {SNIPPET_TOPN}),
  j AS (SELECT top.doc_id, top.bm25, d.text,
               least({_FIRST_TERM_POS}) AS first_pos
        FROM top JOIN documents d ON top.doc_id = d.doc_id)
  SELECT doc_id, bm25,
         CASE WHEN first_pos < {SNIPPET_NO_TERM}
              THEN substr(text, CAST(greatest(first_pos - {SNIPPET_CTX}, 1) AS BIGINT), {SNIPPET_WIDTH})
              ELSE substr(text, 1, {SNIPPET_WIDTH}) END AS snippet
  FROM j ORDER BY bm25 DESC, doc_id ASC
"""

# composed evaluation: both sides reuse the existing deterministic oracles
def _recall_block(ivf_sql: str) -> str:
    return (
        "WITH exact AS (" + oracles_core.ORACLES["knn_cosine"] + "),\n"
        "ann AS (" + ivf_sql + "),\n"
        """h AS (SELECT e.query_id, count(*) AS n_hits
             FROM exact e JOIN ann a ON a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id GROUP BY 1),
      b AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1)
      SELECT b.query_id, coalesce(h.n_hits, 0) AS n_hits,
             round(coalesce(h.n_hits, 0) / CAST(b.n_exact AS DOUBLE), 6) AS recall
      FROM b LEFT JOIN h USING (query_id)"""
    )


ORACLES["ann_recall"] = _recall_block(oracles_core.ORACLES["ann_ivf"])
# LSH-family recall rows (round 8): same composed eval over the
# single-bucket and multi-probe LSH blocks
ORACLES["ann_lsh_multiprobe"] = _ann_lsh_multiprobe_sql()
ORACLES["ann_recall_lsh"] = _recall_block(oracles_core.ORACLES["ann_lsh"])
ORACLES["ann_recall_lsh_multiprobe"] = _recall_block(
    ORACLES["ann_lsh_multiprobe"]
)
# r9: the banded+re-ranked serving path and its measured-recall row
ORACLES["ann_lsh_banded"] = _ann_lsh_banded_sql()
ORACLES["ann_recall_lsh_banded"] = _recall_block(ORACLES["ann_lsh_banded"])
# the bands tuning curve: each config re-derives the banded block at
# its own width (smaller configs' planes are a prefix of larger ones,
# so the candidate sets nest and recall is monotone in bands)
ORACLES["ann_recall_lsh_banded_sweep"] = "\nUNION ALL\n".join(
    f"SELECT CAST({b} AS BIGINT) AS bands, r.* FROM ("
    + _recall_block(_ann_lsh_banded_sql(bands=b))
    + ") r"
    for b in ANN_BANDED_SWEEP
)
ORACLES["mmr_rerank"] = _mmr_ctes()

# the probe-count sweep re-parameterizes the IVF block's `pr <= N`
# routing predicate; everything else is byte-identical
ORACLES["ann_recall_sweep"] = "\nUNION ALL\n".join(
    f"SELECT CAST({np} AS BIGINT) AS n_probe, r.* FROM ("
    + _recall_block(
        oracles_core.ORACLES["ann_ivf"].replace(f"pr <= {N_PROBE}", f"pr <= {np}")
    )
    + ") r"
    for np in ANN_SWEEP_PROBES
)


# graded ranking quality: same two deterministic rankings, so nDCG's
# per-term round(ln,9)/decimal-sum recipe keeps the eval hash-exact
ORACLES["ann_rank_quality"] = (
    "WITH exact AS (" + oracles_core.ORACLES["knn_cosine"] + "),\n"
    "ann AS (" + oracles_core.ORACLES["ann_ivf"] + "),\n"
    f"""j AS (SELECT a.query_id, a.rank AS ann_rank, e.rank AS exact_rank
        FROM ann a LEFT JOIN exact e ON a.query_id = e.query_id
         AND a.neighbor_id = e.neighbor_id),
  terms AS (SELECT query_id, ann_rank,
        CASE WHEN exact_rank IS NOT NULL THEN {TOPK + 1} - exact_rank ELSE 0 END AS rel
      FROM j),
  pq AS (SELECT query_id,
        sum(CAST(round(CAST(rel AS DOUBLE)
              / (round(ln(CAST(ann_rank AS DOUBLE) + CAST(1.0 AS DOUBLE)), 9)
                 / round(ln(CAST(2.0 AS DOUBLE)), 9)), 9) AS DECIMAL(20,9))) AS dcg_d,
        min(CASE WHEN rel > 0 THEN ann_rank END) AS first_hit,
        sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_hits
      FROM terms GROUP BY 1),
  ideal AS (SELECT query_id,
        sum(CAST(round(CAST({TOPK + 1} - rank AS DOUBLE)
              / (round(ln(CAST(rank AS DOUBLE) + CAST(1.0 AS DOUBLE)), 9)
                 / round(ln(CAST(2.0 AS DOUBLE)), 9)), 9) AS DECIMAL(20,9))) AS idcg_d,
        count(*) AS n_exact
      FROM exact GROUP BY 1)
  SELECT i.query_id,
         CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
         round(coalesce(p.n_hits, 0) / CAST(i.n_exact AS DOUBLE), 6) AS recall,
         coalesce(round(CAST(1.0 AS DOUBLE) / p.first_hit, 6),
                  CAST(0.0 AS DOUBLE)) AS mrr,
         round(coalesce(CAST(CAST(p.dcg_d AS VARCHAR) AS DOUBLE), CAST(0.0 AS DOUBLE))
               / CAST(CAST(i.idcg_d AS VARCHAR) AS DOUBLE), 6) AS ndcg
  FROM ideal i LEFT JOIN pq p USING (query_id)
"""
)


def _pii_oracle_sql() -> str:
    """Generate the pii_redact oracle FROM PII_PATTERNS so the SQL
    can never drift from the Spark pipeline: same patterns, same
    order, counts taken on the progressively-redacted string."""
    ctes = ["s0 AS (SELECT doc_id, text AS t0 FROM documents)"]
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, 1):
        p = pat.replace("'", "''")
        ctes.append(
            f"s{i} AS (SELECT * EXCLUDE (t{i - 1}),\n"
            f"  CAST(len(regexp_extract_all(t{i - 1}, '{p}')) AS BIGINT) AS n_{name},\n"
            f"  regexp_replace(t{i - 1}, '{p}', '{repl}', 'g') AS t{i} FROM s{i - 1})"
        )
    last = f"t{len(PII_PATTERNS)}"
    counts = ", ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, {counts}, {last} AS redacted, "
        f"CAST(length({last}) AS BIGINT) AS redacted_len FROM s{len(PII_PATTERNS)}"
    )


ORACLES["pii_redact"] = _pii_oracle_sql()
ORACLES["nb_confusion"] = (
    "SELECT lang, pred_lang, count(*) AS n_docs FROM ("
    + oracles_core.ORACLES["nb_lang_scores"]
    + ") GROUP BY 1, 2"
)


# the *_scalable variants are plan-level rewrites (distributed exact
# ranking) of the same queries -- sharing the oracle is the point:
# the hash match proves the rewrite exact
ORACLES["vocab_ids_scalable"] = oracles_core.ORACLES["vocab_ids"]
ORACLES["customer_spend_percentiles_scalable"] = oracles_core.ORACLES["customer_spend_percentiles"]

def _hll_est_sql(regs_rel: str, key_sel: str, key_group: str, grain: str, gkey: str) -> str:
    """Estimate CTE chain over a register relation [*, reg, mj] --
    the same harmonic-sum/linear-counting formula as the Spark
    estimate_from_registers, emitted once per rollup grain."""
    group = f"GROUP BY {key_group}" if key_group else ""
    return f"""
      (SELECT '{grain}' AS grain, {gkey} AS gkey,
              round(CASE WHEN e_raw <= 640.0 AND n_filled < {M_REGISTERS}
                    THEN {M_REGISTERS}.0 * ln({M_REGISTERS}.0 / CAST({M_REGISTERS} - n_filled AS DOUBLE))
                    ELSE e_raw END, 6) AS est_distinct
       FROM (SELECT {key_sel} n_filled,
                    {RAW_SCALE}
                    / CAST(s_filled + ({M_REGISTERS} - n_filled) * (1::BIGINT << 53) AS DOUBLE) AS e_raw
             FROM (SELECT {key_sel} count(*) AS n_filled,
                          CAST(sum(1::BIGINT << CAST(53 - mj AS INTEGER)) AS BIGINT) AS s_filled
                   FROM {regs_rel} {group}) g) e)
    """


ORACLES["kmv_user_overlap"] = f"""
  WITH ap AS (SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events WHERE event_type = 'purchase'),
  bs AS (SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         FROM customer WHERE c_mktsegment = 'BUILDING'),
  ka AS (SELECT h FROM ap ORDER BY h LIMIT {KMV_K}),
  kb AS (SELECT h FROM bs ORDER BY h LIMIT {KMV_K}),
  ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
         ORDER BY h LIMIT {KMV_K}),
  st AS (SELECT max(h) AS hk, count(*) AS kct FROM ku),
  cm AS (SELECT count(*) AS cj FROM ku
         WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
  ex AS (SELECT count(*) AS exact_intersection FROM ap
         WHERE h IN (SELECT h FROM bs)),
  r AS (SELECT CASE WHEN kct < {KMV_K} THEN CAST(kct AS DOUBLE)
               ELSE round({KMV_K - 1}.0 * {1 << 60} / hk, 6) END AS est_union,
               kct, cj, exact_intersection
        FROM st, cm, ex),
  sel AS (SELECT est_union,
                 round(cj / CAST(kct AS DOUBLE), 6) AS est_jaccard,
                 round(cj * est_union / kct, 6) AS est_intersection,
                 exact_intersection
          FROM r)
  SELECT est_union, est_jaccard, est_intersection, exact_intersection,
         round((est_intersection - exact_intersection)
               / nullif(CAST(exact_intersection AS DOUBLE), 0), 6) AS rel_err
  FROM sel
"""

ORACLES["bloom_pruned_revenue"] = """
  SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
              * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
         count(*) AS n_items
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_orderpriority = '1-URGENT'
                         AND o_custkey IN (SELECT c_custkey FROM customer
                                           WHERE c_mktsegment = 'BUILDING'))
"""

ORACLES["user_state_intervals"] = """
  WITH o AS (SELECT user_id, ts, event_id, event_type,
                    lag(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev
             FROM events),
  m AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                       THEN 1 ELSE 0 END AS chg FROM o),
  g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS island
        FROM m),
  iv AS (SELECT user_id, island, event_type AS state,
                min(ts) AS vf, count(*) AS n_events
         FROM g GROUP BY 1, 2, 3),
  fin AS (SELECT user_id, state, vf, n_events,
                 lead(vf) OVER (PARTITION BY user_id ORDER BY island) AS vt
          FROM iv)
  SELECT user_id, state,
         strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
         strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
         CAST(n_events AS BIGINT) AS n_events,
         vt IS NULL AS is_current
  FROM fin
"""

# Time travel over the SCD2 table: half-open intervals filtered at
# the snapshot instant (string compare on the second-grain format).
ORACLES["user_state_asof"] = f"""
  SELECT user_id, state, valid_from AS since_s, n_events, is_current
  FROM ({ORACLES["user_state_intervals"]})
  WHERE valid_from <= '{ASOF_AT}'
    AND (valid_to IS NULL OR valid_to > '{ASOF_AT}')
  ORDER BY user_id
"""

ORACLES["cms_screened_wordcount"] = f"""
  WITH wc AS ({_SQL_WORDCOUNT}),
  h AS (SELECT word, cnt,
               CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS hv
        FROM wc),
  {_CMS_ROWS},
  n AS (SELECT CAST(sum(c0) AS BIGINT) // 500 AS thr FROM s0),
  p AS (SELECT word, cnt, {_CMS_EST} AS est_cnt
        FROM h
        {_cms_joins("h.hv", "        ")})
  SELECT word, cnt AS true_cnt, est_cnt, cnt >= n.thr AS confirmed
  FROM p, n WHERE est_cnt >= n.thr
  ORDER BY true_cnt DESC, word ASC
"""

ORACLES["hll_user_rollup"] = f"""
  WITH h AS (
    SELECT event_type, CAST(ts AS DATE) AS d, user_id,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
    FROM events),
  r AS (SELECT event_type, d, hv % {M_REGISTERS} AS reg,
               CASE WHEN (hv >> 8) = 0 THEN 53
                    ELSE 53 - length(bin(hv >> 8)) END AS rho
        FROM h),
  dm AS (SELECT event_type, d, reg, max(rho) AS mj FROM r GROUP BY 1, 2, 3),
  tm AS (SELECT event_type, reg, max(mj) AS mj FROM dm GROUP BY 1, 2),
  am AS (SELECT reg, max(mj) AS mj FROM dm GROUP BY 1),
  ests AS (
    SELECT * FROM {_hll_est_sql("tm", "event_type,", "event_type", "event_type", "event_type")}
    UNION ALL
    SELECT * FROM {_hll_est_sql("am", "", "", "total", "'*'")}
  ),
  ex AS (SELECT event_type AS gkey, count(DISTINCT user_id) AS exact_distinct
         FROM events GROUP BY 1
         UNION ALL
         SELECT '*', count(DISTINCT user_id) FROM events)
  SELECT grain, gkey, est_distinct, exact_distinct,
         round((est_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
  FROM ests JOIN ex USING (gkey)
  ORDER BY grain, gkey
"""

ORACLES["copurchase_butterflies"] = f"""
  WITH e AS (SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE o_custkey IN (SELECT c_custkey FROM customer
                                 WHERE c_mktsegment = '{PPR_SEGMENT}')),
  w AS (SELECT a.custkey AS c1, b.custkey AS c2
        FROM e a JOIN e b ON a.suppkey = b.suppkey AND a.custkey < b.custkey),
  s AS (SELECT c1, c2, count(*) AS shared_suppliers
        FROM w GROUP BY 1, 2 HAVING count(*) >= 2)
  SELECT c1 AS custkey_1, c2 AS custkey_2, shared_suppliers,
         CAST(shared_suppliers * (shared_suppliers - 1) / 2 AS BIGINT) AS butterflies
  FROM s
  ORDER BY shared_suppliers DESC, c1, c2
  LIMIT 50
"""

# Deliberately the NAIVE (unsalted) join: the hash match proves the
# salted rewrite changes partitioning only. idf terms are round-9dp
# decimals so the per-doc sum is associative (doc_perplexity recipe).
ORACLES["doc_idf_salted_join"] = f"""
  WITH t AS ({_SQL_TOKS}),
  tok AS (SELECT doc_id, unnest(toks) AS word FROM t),
  tk AS (SELECT doc_id, word FROM tok WHERE word <> ''),
  v AS (SELECT word, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
  n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
  idf AS (SELECT word, CAST(round(ln(n_docs / df), 9) AS DECIMAL(12,9)) AS idf
          FROM v, n)
  SELECT tk.doc_id, count(*) AS n_tokens,
         CAST(CAST(sum(idf.idf) AS VARCHAR) AS DOUBLE) AS idf_sum
  FROM tk JOIN idf USING (word)
  GROUP BY 1
"""

ORACLES["zorder_cells"] = f"""
  {_zorder_binned_sql()}
  SELECT z >> 6 AS cell, count(*) AS cnt,
         max(user_id) - min(user_id) AS u_span,
         max(tus) - min(tus) AS t_span_us
  FROM zz GROUP BY cell ORDER BY cell
"""
def _hilbert_base_sql() -> str:
    """Shared oracle CTE chain: zorder bins -> hx0/hy0/hd0 seed ->
    the per-level Hilbert recurrence, generated from the same
    _hilbert_level_sql loop as the Spark column chain."""
    from ..operators.zorder import hilbert_ctes_sql, morton_sql

    return f"""
      {_zorder_binned_sql()},
      hb0 AS (SELECT user_id, tus, bx AS hx0, bt AS hy0,
                     CAST(0 AS BIGINT) AS hd0,
                     {morton_sql("bx", "bt")} AS z
              FROM b),
      {hilbert_ctes_sql("hb0")}
    """


ORACLES["hilbert_cells"] = f"""
  {_hilbert_base_sql()}
  SELECT hd8 >> 6 AS cell, count(*) AS cnt,
         max(user_id) - min(user_id) AS u_span,
         max(tus) - min(tus) AS t_span_us
  FROM hb GROUP BY cell ORDER BY cell
"""

ORACLES["hilbert_skipping_summary"] = f"""
  {_hilbert_base_sql()},
  hc AS (SELECT hd8 >> 8 AS chunk, count(*) AS cnt,
                max(user_id) - min(user_id) AS u_span,
                max(tus) - min(tus) AS t_span_us
         FROM hb GROUP BY chunk),
  zc AS (SELECT z >> 8 AS chunk, count(*) AS cnt,
                max(user_id) - min(user_id) AS u_span,
                max(tus) - min(tus) AS t_span_us
         FROM hb GROUP BY chunk)
  SELECT 'hilbert' AS layout, count(*) AS n_chunks,
         CAST(sum(cnt) AS BIGINT) AS rows_total,
         CAST(sum(u_span) AS BIGINT) AS sum_u_span,
         CAST(sum(t_span_us) AS BIGINT) AS sum_t_span_us
  FROM hc
  UNION ALL
  SELECT 'zorder', count(*),
         CAST(sum(cnt) AS BIGINT), CAST(sum(u_span) AS BIGINT),
         CAST(sum(t_span_us) AS BIGINT)
  FROM zc
"""

ORACLES["training_shuffle_order"] = """
  WITH h AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(concat('shuf1:',
                CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS hk
    FROM documents)
  SELECT doc_id, hk,
         row_number() OVER (ORDER BY hk ASC, doc_id ASC) AS position
  FROM h
"""

ORACLES["curve_locality_stats"] = f"""
  {_hilbert_base_sql()},
  occ AS (SELECT DISTINCT hx0 AS bx, hy0 AS bt, z, hd8 AS h FROM hb),
  hs AS (SELECT abs(bx - lag(bx) OVER (ORDER BY h))
              + abs(bt - lag(bt) OVER (ORDER BY h)) AS step FROM occ),
  zs AS (SELECT abs(bx - lag(bx) OVER (ORDER BY z))
              + abs(bt - lag(bt) OVER (ORDER BY z)) AS step FROM occ)
  SELECT 'hilbert' AS layout, count(*) AS n_steps,
         CAST(sum(step) AS BIGINT) AS total_dist,
         max(step) AS max_step,
         CAST(sum(CASE WHEN step = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS adjacent_steps
  FROM hs WHERE step IS NOT NULL
  UNION ALL
  SELECT 'zorder', count(*), CAST(sum(step) AS BIGINT), max(step),
         CAST(sum(CASE WHEN step = 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM zs WHERE step IS NOT NULL
"""

ORACLES["zorder_skipping_summary"] = f"""
  {_zorder_binned_sql()},
  zc AS (SELECT z >> 8 AS chunk, count(*) AS cnt,
                max(user_id) - min(user_id) AS u_span,
                max(tus) - min(tus) AS t_span_us
         FROM zz GROUP BY chunk),
  lc AS (SELECT bt AS chunk, count(*) AS cnt,
                max(user_id) - min(user_id) AS u_span,
                max(tus) - min(tus) AS t_span_us
         FROM zz GROUP BY chunk)
  SELECT 'zorder' AS layout, count(*) AS n_chunks,
         CAST(sum(cnt) AS BIGINT) AS rows_total,
         CAST(sum(u_span) AS BIGINT) AS sum_u_span,
         CAST(sum(t_span_us) AS BIGINT) AS sum_t_span_us
  FROM zc
  UNION ALL
  SELECT 'linear_ts', count(*),
         CAST(sum(cnt) AS BIGINT), CAST(sum(u_span) AS BIGINT),
         CAST(sum(t_span_us) AS BIGINT)
  FROM lc
"""


ORACLES["events_gap_fill"] = """
  WITH r AS (
    SELECT user_id, date_trunc('hour', ts) AS bucket, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase'),
  obs AS (SELECT user_id, bucket, value FROM r WHERE rn = 1),
  span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
           FROM obs GROUP BY 1),
  grid AS (SELECT user_id,
                  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
           FROM span),
  j AS (SELECT g.user_id, g.bucket, o.value
        FROM grid g LEFT JOIN obs o USING (user_id, bucket))
  SELECT user_id,
         strftime(bucket, '%Y-%m-%d %H:%M:%S') AS hour_s,
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
         value IS NULL AS is_gap
  FROM j
"""

# NAIVE triple-join enumeration (a<b<c): the hash match proves the
# degree-oriented wedge form exact.
ORACLES["cosupply_triangles"] = f"""
  WITH {_SQL_COSUPPLY},
  e AS (SELECT s1, s2 FROM w, t WHERE c >= thr),
  tri AS (SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
          FROM e e1 JOIN e e2 ON e1.s2 = e2.s1
                    JOIN e e3 ON e1.s1 = e3.s1 AND e2.s2 = e3.s2),
  corners AS (SELECT a AS suppkey FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
  SELECT suppkey, count(*) AS n_triangles FROM corners GROUP BY 1
"""

# Naive 3-way-join triangles + degree table; the coefficient is one
# int/int division both engines compute on identical integers.
ORACLES["cosupply_clustering"] = f"""
  WITH {_SQL_COSUPPLY},
  e AS MATERIALIZED (SELECT s1, s2 FROM w, t WHERE c >= thr),
  und AS (SELECT s1 AS suppkey FROM e UNION ALL SELECT s2 FROM e),
  deg AS (SELECT suppkey, count(*) AS degree FROM und GROUP BY 1),
  tri AS (SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
          FROM e e1 JOIN e e2 ON e1.s2 = e2.s1
                    JOIN e e3 ON e1.s1 = e3.s1 AND e2.s2 = e3.s2),
  corners AS (SELECT a AS suppkey FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri),
  tc AS (SELECT suppkey, count(*) AS n_triangles FROM corners GROUP BY 1)
  SELECT deg.suppkey, deg.degree,
         CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
         CAST(2 * coalesce(tc.n_triangles, 0) AS DOUBLE)
           / CAST(deg.degree * (deg.degree - 1) AS DOUBLE) AS clustering_coeff
  FROM deg LEFT JOIN tc USING (suppkey)
  WHERE deg.degree >= 2
  ORDER BY clustering_coeff DESC, suppkey
"""

ORACLES["cosupply_kcore"] = _kcore_ctes()
ORACLES["supplier_reach"] = _bfs_ctes()
ORACLES["supplier_cheapest_reach"] = _sssp_ctes()

# Per-distinct-score aggregate Mann-Whitney with tie credit: the
# native window's "negatives strictly below" vs the Spark side's
# two-level bucketed cumulative sum; u2 integer arithmetic identical.
ORACLES["score_auc"] = """
  WITH per AS (
    SELECT n_chars AS s,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
           sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS neg
    FROM documents GROUP BY 1),
  cum AS (
    SELECT s, pos, neg,
           coalesce(sum(neg) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS neg_below
    FROM per),
  agg AS (
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           CAST(sum(CAST(pos AS DECIMAL(18,0))
                    * CAST(2 * neg_below + neg AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS u2
    FROM cum)
  SELECT n_pos, n_neg,
         CAST(CAST(u2 AS VARCHAR) AS DOUBLE) AS u2,
         CAST(CAST(u2 AS VARCHAR) AS DOUBLE)
           / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
  FROM agg
"""

ORACLES["calibration_bins"] = """
  WITH p AS (
    SELECT CAST(n_chars AS DOUBLE) / CAST(n_chars + 300 AS DOUBLE) AS p,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
    FROM documents),
  b AS (
    SELECT CAST(least(9, floor(p * 10)) AS BIGINT) AS bin, p, label FROM p)
  SELECT bin, count(*) AS n,
         CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_pos,
         CAST(CAST(sum(CAST(round(p, 9) AS DECIMAL(12,9))) AS VARCHAR)
              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_p,
         abs(CAST(CAST(sum(CAST(round(p, 9) AS DECIMAL(12,9))) AS VARCHAR)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE)
             - CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE))
           AS abs_gap
  FROM b GROUP BY 1 ORDER BY 1
"""

# Lower medians by integer-rank selection: cm >= (n+1) div 2 picks
# the smallest value reaching the ceil(n/2) position -- no midpoint
# interpolation, so there is no float association to diverge.
ORACLES["events_anomaly_mad"] = """
  WITH c AS (SELECT event_type AS g, value AS v, count(*) AS cnt
             FROM events GROUP BY 1, 2),
  tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
  cum AS (SELECT g, v, cnt,
                 sum(cnt) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
          FROM c),
  med AS (SELECT cum.g, min(v) AS med
          FROM cum JOIN tot USING (g)
          WHERE cm >= CAST(floor((n + 1) / 2.0) AS BIGINT) GROUP BY 1),
  dv AS (SELECT c.g, med, abs(v - med) AS dev,
                CAST(sum(cnt) AS BIGINT) AS cnt
         FROM c JOIN med ON c.g = med.g GROUP BY 1, 2, 3),
  cum2 AS (SELECT g, dev, cnt,
                  sum(cnt) OVER (PARTITION BY g ORDER BY dev
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
           FROM dv),
  mad AS (SELECT cum2.g, min(dev) AS mad
          FROM cum2 JOIN tot USING (g)
          WHERE cm >= CAST(floor((n + 1) / 2.0) AS BIGINT) GROUP BY 1)
  SELECT dv.g AS event_type,
         CAST(sum(dv.cnt) AS BIGINT) AS n,
         dv.med AS med, mad.mad AS mad,
         mad.mad * 3.0 * 1.4826 AS hampel_cut,
         CAST(sum(CASE WHEN dev > mad.mad * 3.0 * 1.4826
                       THEN dv.cnt ELSE 0 END) AS BIGINT) AS n_outliers,
         max(dev) AS max_dev
  FROM dv JOIN mad ON dv.g = mad.g
  GROUP BY 1, 3, 4 ORDER BY 1
"""

ORACLES["events_dow_seasonality"] = """
  WITH per AS (
    SELECT event_type, CAST(date_part('dow', ts) AS INT) AS dow,
           count(*) AS n,
           CAST(CAST(sum(CAST(round(value, 9) AS DECIMAL(20,9)))
                     AS VARCHAR) AS DOUBLE) AS sv
    FROM events GROUP BY 1, 2),
  tot AS (
    SELECT event_type, count(*) AS nt,
           CAST(CAST(sum(CAST(round(value, 9) AS DECIMAL(20,9)))
                     AS VARCHAR) AS DOUBLE) AS st
    FROM events GROUP BY 1)
  SELECT per.event_type, dow, n,
         sv / CAST(n AS DOUBLE) AS mean_value,
         (sv / CAST(n AS DOUBLE)) / (st / CAST(nt AS DOUBLE))
           AS seasonal_index
  FROM per JOIN tot USING (event_type)
  ORDER BY 1, 2
"""

ORACLES["frequent_event_trigrams"] = f"""
  WITH g AS (
    SELECT user_id,
           event_type AS step_1,
           lead(event_type, 1) OVER w AS step_2,
           lead(event_type, 2) OVER w AS step_3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
  pu AS (
    SELECT user_id, step_1, step_2, step_3, count(*) AS occ
    FROM g WHERE step_3 IS NOT NULL GROUP BY 1, 2, 3, 4)
  SELECT step_1, step_2, step_3,
         count(*) AS support,
         CAST(sum(occ) AS BIGINT) AS occurrences
  FROM pu GROUP BY 1, 2, 3
  ORDER BY support DESC, occurrences DESC, step_1, step_2, step_3
  LIMIT {SEQ_TOP_N}
"""

def _linkage_ctes() -> str:
    """Shared WITH-body (master, corrupted contacts, blocked pairs,
    FS scores) for the linkage report and golden-record oracles --
    GENERATED from operators/linkage.fs_weights so the weight
    literals can never drift from the Spark expression (the
    pii_redact pattern); repr() of a Python double round-trips
    exactly in both engines."""
    from ..operators.linkage import fs_weights

    w = fs_weights()
    # CAST each literal: DuckDB types a bare decimal literal as
    # DECIMAL, not DOUBLE -- the sum would be exact-decimal while
    # Spark sums doubles
    score = " + ".join(
        f"CASE WHEN {f}_agree THEN CAST({wa!r} AS DOUBLE) "
        f"ELSE CAST({wd!r} AS DOUBLE) END"
        for f, (wa, wd) in w.items()
    )
    return f"""
  WITH m AS (
    SELECT c_custkey AS custkey, lower(c_name) AS nm, c_acctbal AS bal,
           c_mktsegment AS seg, c_nationkey AS nat,
           CAST(floor(c_acctbal) AS BIGINT) AS blk
    FROM customer),
  c AS (
    SELECT c_custkey + 10000000 AS contact_id,
           CASE WHEN c_custkey % 5 = 0
                THEN substr(lower(c_name), 1, length(c_name) - 3)
                ELSE lower(c_name) END AS nm,
           CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 0.01
                ELSE c_acctbal END AS bal,
           c_mktsegment AS seg, c_nationkey AS nat
    FROM customer),
  p AS (
    SELECT m.custkey, c.contact_id,
           m.nm = c.nm AS nm_agree,
           m.bal = c.bal AS bal_agree,
           m.seg = c.seg AS seg_agree
    FROM m JOIN c
      ON m.nat = c.nat AND m.blk = CAST(floor(c.bal) AS BIGINT)),
  s AS (SELECT custkey, contact_id, nm_agree, bal_agree, seg_agree,
               ({score}) AS score
        FROM p)"""


ORACLES["record_linkage_fs"] = (
    _linkage_ctes()
    + """
  SELECT *, score > 0.0 AS is_match FROM s
  ORDER BY score DESC, custkey, contact_id LIMIT 100
"""
)

# Survivorship as explicit window argmax (row_number rn=1), the
# engine-independent mirror of Spark's min(struct) picks.
ORACLES["linkage_golden_record"] = (
    _linkage_ctes()
    + """,
  mt AS (SELECT custkey, contact_id FROM s WHERE score > 0.0),
  members AS (
    SELECT custkey, nm,
           CAST(CAST(bal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, seg
    FROM m
    UNION ALL
    SELECT mt.custkey, c.nm,
           CAST(CAST(c.bal AS DECIMAL(18,2)) * 100 AS BIGINT), c.seg
    FROM mt JOIN c ON c.contact_id = mt.contact_id),
  np AS (SELECT custkey, nm, n_sources FROM (
      SELECT custkey, nm,
             count(*) OVER (PARTITION BY custkey) AS n_sources,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY length(nm) DESC, nm) AS rn
      FROM members) WHERE rn = 1),
  bp AS (SELECT custkey, cents FROM (
      SELECT custkey, cents,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY cnt DESC, cents) AS rn
      FROM (SELECT custkey, cents, count(*) AS cnt
            FROM members GROUP BY 1, 2)) WHERE rn = 1),
  sp AS (SELECT custkey, seg FROM (
      SELECT custkey, seg,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY cnt DESC, seg) AS rn
      FROM (SELECT custkey, seg, count(*) AS cnt
            FROM members GROUP BY 1, 2)) WHERE rn = 1)
  SELECT np.custkey, CAST(np.n_sources AS BIGINT) AS n_sources,
         np.nm AS golden_name, bp.cents AS golden_bal_cents,
         sp.seg AS golden_seg, np.nm <> m.nm AS name_repaired
  FROM np JOIN bp USING (custkey) JOIN sp USING (custkey)
       JOIN m USING (custkey)
  ORDER BY custkey
"""
)

# NAIVE all-pairs containment (the size pre-filter is implied by the
# final predicate -- inter <= |B| and 10*inter >= 9*|A| force
# 10*|B| >= 9*|A| -- so adding it changes nothing but the bill).
ORACLES["containment_pairs"] = f"""
  WITH g AS (SELECT doc_id, shset AS st FROM ({_SQL_SHINGLES})
             WHERE len(shset) > 0),
  p AS (SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
          CAST(len(list_intersect(a.st, b.st)) AS BIGINT) AS inter,
          CAST(len(a.st) AS BIGINT) AS size_small
        FROM g a JOIN g b ON a.doc_id <> b.doc_id
        WHERE len(b.st) * 10 >= len(a.st) * 9)
  SELECT doc_small, doc_big, inter, size_small,
         round(CAST(inter AS DOUBLE) / size_small, 6) AS containment
  FROM p WHERE 10 * inter >= 9 * size_small
  ORDER BY doc_small, doc_big
"""

ORACLES["lang_token_entropy"] = f"""
  WITH t AS ({{TOKS}}),
  tk AS (SELECT lang, unnest(toks) AS w FROM t),
  cnt AS (SELECT lang, w, count(*) AS c FROM tk GROUP BY 1, 2),
  tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
                 count(*) AS vocab
          FROM cnt GROUP BY 1)
  SELECT cnt.lang, n_tokens, vocab,
         CAST(CAST(sum(CAST(round(
             -((CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
               * log2(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))), 9)
           AS DECIMAL(12,9))) AS VARCHAR) AS DOUBLE) AS entropy_bits
  FROM cnt JOIN tot USING (lang)
  GROUP BY 1, 2, 3 ORDER BY 1
""".replace("{TOKS}", _SQL_TOKS)

ORACLES["lang_lexical_richness"] = f"""
  WITH t AS ({{TOKS}}),
  tk AS (SELECT lang, unnest(toks) AS w FROM t),
  cnt AS (SELECT lang, w, count(*) AS c FROM tk GROUP BY 1, 2)
  SELECT lang,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax,
         CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS hapax_share
  FROM cnt GROUP BY 1 ORDER BY 1
""".replace("{TOKS}", _SQL_TOKS)

ORACLES["k_anonymity_report"] = f"""
  WITH g AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
           count(*) AS g
    FROM customer GROUP BY 1, 2, 3)
  SELECT {K_ANON} AS k,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN g < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_groups,
         CAST(sum(CASE WHEN g < {K_ANON} THEN g ELSE 0 END) AS BIGINT)
           AS rows_at_risk,
         min(g) AS min_group_size
  FROM g
"""

# Integer-micro revenue, native window cumsum, INTEGER 80/95
# boundaries (5*cum <= 4*tot etc.) -- no division decides a class.
ORACLES["parts_abc_analysis"] = """
  WITH pr AS (
    SELECT l_partkey AS partkey,
           CAST(sum(CAST(
             (CAST(l_extendedprice AS DECIMAL(12,2))
              * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
             * 1000000 AS BIGINT)) AS BIGINT) AS micros
    FROM lineitem GROUP BY 1),
  t AS (SELECT CAST(sum(micros) AS BIGINT) AS tot FROM pr),
  cum AS (
    SELECT partkey, micros,
           sum(micros) OVER (ORDER BY micros DESC, partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
    FROM pr),
  cls AS (
    SELECT CASE WHEN 5 * cm <= 4 * tot THEN 'A'
                WHEN 20 * cm <= 19 * tot THEN 'B'
                ELSE 'C' END AS abc_class,
           micros, tot
    FROM cum, t)
  SELECT abc_class, count(*) AS n_parts,
         CAST(CAST(sum(micros) AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
         CAST(CAST(sum(micros) AS BIGINT) AS DOUBLE)
           / CAST(max(tot) AS DOUBLE) AS revenue_share
  FROM cls GROUP BY 1 ORDER BY 1
"""

# Exact-integer Gini: HUGEINT arithmetic on DuckDB's side, DECIMAL
# on Spark's; both string-route the identical exact numbers.
ORACLES["customer_spend_gini"] = """
  WITH spend AS (
    SELECT o_custkey AS custkey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1),
  ranked AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents, custkey) AS rn
    FROM spend),
  agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           sum(CAST(2 * rn AS HUGEINT) * CAST(cents AS HUGEINT)) AS s2
    FROM ranked)
  SELECT n_customers, total_cents,
         CAST(CAST(s2 - CAST(n_customers + 1 AS HUGEINT)
                        * CAST(total_cents AS HUGEINT) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(CAST(n_customers AS HUGEINT)
                        * CAST(total_cents AS HUGEINT) AS VARCHAR) AS DOUBLE)
           AS gini
  FROM agg
"""

ORACLES["corpus_drift_psi"] = """
  WITH a AS (SELECT lang AS cat, count(*) AS n_base FROM documents
             WHERE doc_id % 2 = 0 GROUP BY 1),
  b AS (SELECT lang AS cat, count(*) AS n_curr FROM documents
        WHERE doc_id % 2 = 1 GROUP BY 1),
  ta AS (SELECT CAST(sum(n_base) AS BIGINT) AS t FROM a),
  tb AS (SELECT CAST(sum(n_curr) AS BIGINT) AS t FROM b),
  j AS (SELECT cat, n_base, n_curr,
          CAST(n_base AS DOUBLE) / CAST(ta.t AS DOUBLE) AS p_base,
          CAST(n_curr AS DOUBLE) / CAST(tb.t AS DOUBLE) AS p_curr
        FROM a JOIN b USING (cat), ta, tb)
  SELECT cat, n_base, n_curr, p_base, p_curr,
         (p_curr - p_base) * round(ln(p_curr / p_base), 9) AS psi_term,
         p_curr * round(ln(p_curr / p_base), 9) AS kl_term
  FROM j ORDER BY cat
"""

# Right-continuous empirical CDFs over the union of distinct values;
# the hash match proves the bucketed cumsum + argmax tie-break exact.
ORACLES["value_drift_ks"] = """
  WITH ca AS (SELECT value AS v, count(*) AS ca FROM events
              WHERE event_type = 'purchase' GROUP BY 1),
  cb AS (SELECT value AS v, count(*) AS cb FROM events
         WHERE event_type = 'click' GROUP BY 1),
  u AS (SELECT coalesce(ca.v, cb.v) AS v,
               coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
        FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
  t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb FROM u),
  cum AS (SELECT v,
                 sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS la,
                 sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lb
          FROM u)
  SELECT t.na AS n_a, t.nb AS n_b,
         abs(CAST(la AS DOUBLE) / CAST(t.na AS DOUBLE)
             - CAST(lb AS DOUBLE) / CAST(t.nb AS DOUBLE)) AS ks_d,
         v AS at_value
  FROM cum, t ORDER BY ks_d DESC, v LIMIT 1
"""

# Naive wedge enumeration + anti-join; deg_w >= 2 for any common
# neighbor, so ln(deg) > 0 always. Adamic-Adar terms are rounded to
# 9dp and summed as DECIMAL (order-independent), then string-routed
# to double; jaccard is one int/int division, shipped unrounded.
ORACLES["cosupply_link_prediction"] = f"""
  WITH {_SQL_COSUPPLY},
  e AS MATERIALIZED (SELECT s1, s2 FROM w, t WHERE c >= thr),
  und AS MATERIALIZED (SELECT s1 AS w, s2 AS x FROM e
                       UNION ALL SELECT s2, s1 FROM e),
  deg AS MATERIALIZED (SELECT w, count(*) AS d FROM und GROUP BY 1),
  wedge AS (
    SELECT a.x AS x1, b.x AS x2,
           CAST(round(1.0 / ln(CAST(deg.d AS DOUBLE)), 9)
                AS DECIMAL(12,9)) AS term
    FROM und a JOIN und b ON a.w = b.w AND a.x < b.x
               JOIN deg ON deg.w = a.w),
  pairs AS (
    SELECT x1, x2, count(*) AS cn, sum(term) AS aa
    FROM wedge GROUP BY 1, 2),
  nonadj AS (
    SELECT p.* FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM e
                      WHERE e.s1 = p.x1 AND e.s2 = p.x2))
  SELECT n.x1 AS s1, n.x2 AS s2, n.cn AS common_neighbors,
         CAST(n.cn AS DOUBLE) / (d1.d + d2.d - n.cn) AS jaccard,
         CAST(CAST(n.aa AS VARCHAR) AS DOUBLE) AS adamic_adar
  FROM nonadj n JOIN deg d1 ON d1.w = n.x1 JOIN deg d2 ON d2.w = n.x2
  ORDER BY adamic_adar DESC, common_neighbors DESC, s1, s2
  LIMIT {LINKPRED_TOP_N}
"""

# Same wedge enumeration with centers capped at degree
# LINKPRED_MAX_DEGREE (the scale knob); endpoint degrees for Jaccard
# stay UNCAPPED -- the cap bounds fan-out, not the denominator semantics.
ORACLES["cosupply_link_prediction_capped"] = f"""
  WITH {_SQL_COSUPPLY},
  e AS MATERIALIZED (SELECT s1, s2 FROM w, t WHERE c >= thr),
  und AS MATERIALIZED (SELECT s1 AS w, s2 AS x FROM e
                       UNION ALL SELECT s2, s1 FROM e),
  deg AS MATERIALIZED (SELECT w, count(*) AS d FROM und GROUP BY 1),
  wedge AS (
    SELECT a.x AS x1, b.x AS x2,
           CAST(round(1.0 / ln(CAST(deg.d AS DOUBLE)), 9)
                AS DECIMAL(12,9)) AS term
    FROM und a JOIN und b ON a.w = b.w AND a.x < b.x
               JOIN deg ON deg.w = a.w
    WHERE deg.d <= {LINKPRED_MAX_DEGREE}),
  pairs AS (
    SELECT x1, x2, count(*) AS cn, sum(term) AS aa
    FROM wedge GROUP BY 1, 2),
  nonadj AS (
    SELECT p.* FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM e
                      WHERE e.s1 = p.x1 AND e.s2 = p.x2))
  SELECT n.x1 AS s1, n.x2 AS s2, n.cn AS common_neighbors,
         CAST(n.cn AS DOUBLE) / (d1.d + d2.d - n.cn) AS jaccard,
         CAST(CAST(n.aa AS VARCHAR) AS DOUBLE) AS adamic_adar
  FROM nonadj n JOIN deg d1 ON d1.w = n.x1 JOIN deg d2 ON d2.w = n.x2
  ORDER BY adamic_adar DESC, common_neighbors DESC, s1, s2
  LIMIT {LINKPRED_TOP_N}
"""

ORACLES["user_day_snapshot_diff"] = """
  WITH o AS (SELECT user_id, date_trunc('day', ts) AS day,
               count(*) AS n_events,
               round(CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE), 6) AS sum_value,
               TRUE AS o_present
             FROM events WHERE event_id % 10 <> 0 GROUP BY 1, 2),
  n AS (SELECT user_id, date_trunc('day', ts) AS day,
               count(*) AS n_events,
               round(CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE), 6) AS sum_value,
               TRUE AS n_present
        FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' GROUP BY 1, 2),
  j AS (SELECT user_id, day,
               o.n_events AS old_n_events, n.n_events AS new_n_events,
               o.sum_value AS old_sum_value, n.sum_value AS new_sum_value,
               o_present, n_present,
               concat_ws(',',
                 CASE WHEN o.n_events IS DISTINCT FROM n.n_events THEN 'n_events' END,
                 CASE WHEN o.sum_value IS DISTINCT FROM n.sum_value THEN 'sum_value' END) AS chg
        FROM o FULL OUTER JOIN n USING (user_id, day)),
  c AS (SELECT *,
          CASE WHEN n_present IS NULL THEN 'delete'
               WHEN o_present IS NULL THEN 'insert'
               WHEN chg <> '' THEN 'update' END AS change
        FROM j)
  SELECT user_id, strftime(day, '%Y-%m-%d') AS day_s, change,
         CASE WHEN change = 'update' THEN chg ELSE '' END AS changed_cols,
         old_n_events, new_n_events, old_sum_value, new_sum_value
  FROM c WHERE change IS NOT NULL
"""
ORACLES["purchase_hits"] = _hits_ctes()

ORACLES["embedding_dim_stats"] = """
  WITH ex AS (
    SELECT unnest(generate_series(1, len(embedding))) - 1 AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS e
    FROM embeddings),
  st AS (
    SELECT dim, count(*) AS n,
           CAST(CAST(sum(CAST(round(e, 9) AS DECIMAL(20,9))) AS VARCHAR) AS DOUBLE) AS s,
           CAST(CAST(sum(CAST(round(e * e, 9) AS DECIMAL(20,9))) AS VARCHAR) AS DOUBLE) AS sq,
           min(e) AS min_v, max(e) AS max_v
    FROM ex GROUP BY 1)
  SELECT dim, round(s / n, 9) AS mean,
         round(sqrt(greatest(CAST(0 AS DOUBLE), (sq - s * s / n) / n)), 9) AS std,
         min_v, max_v
  FROM st ORDER BY dim
"""

ORACLES["embedding_dim_correlation"] = """
  WITH ex AS (
    SELECT vec_id,
           unnest(generate_series(1, len(embedding))) - 1 AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS e
    FROM embeddings),
  f AS (SELECT * FROM ex WHERE dim < 8),
  pr AS (
    SELECT a.dim AS dim_i, b.dim AS dim_j, a.e AS xi, b.e AS xj
    FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.dim < b.dim),
  st AS (
    SELECT dim_i, dim_j, CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(round(xi, 9) AS DECIMAL(20,9)))
                AS VARCHAR) AS DOUBLE) AS sx,
           CAST(CAST(sum(CAST(round(xj, 9) AS DECIMAL(20,9)))
                AS VARCHAR) AS DOUBLE) AS sy,
           CAST(CAST(sum(CAST(round(xi * xj, 9) AS DECIMAL(20,9)))
                AS VARCHAR) AS DOUBLE) AS sxy,
           CAST(CAST(sum(CAST(round(xi * xi, 9) AS DECIMAL(20,9)))
                AS VARCHAR) AS DOUBLE) AS sxx,
           CAST(CAST(sum(CAST(round(xj * xj, 9) AS DECIMAL(20,9)))
                AS VARCHAR) AS DOUBLE) AS syy
    FROM pr GROUP BY 1, 2)
  SELECT dim_i, dim_j, n,
         round((CAST(n AS DOUBLE) * sxy - sx * sy)
               / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS r
  FROM st ORDER BY 1, 2
"""

ORACLES["user_activity_streaks"] = """
  WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
  islands AS (
    SELECT user_id, d,
           d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS anchor
    FROM days),
  runs AS (SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS run_len
           FROM islands GROUP BY 1, 2)
  SELECT user_id, CAST(sum(run_len) AS BIGINT) AS n_active_days,
         max(run_len) AS longest_streak
  FROM runs GROUP BY 1
"""

ORACLES["funnel_strict_sequence"] = """
  WITH s AS (SELECT user_id, min(ts) AS t1 FROM events
             WHERE event_type = 'signup' GROUP BY 1),
  v AS (SELECT e.user_id, min(e.ts) AS t2, min(s.t1) AS t1
        FROM events e JOIN s USING (user_id)
        WHERE e.event_type = 'view' AND e.ts > s.t1 GROUP BY 1),
  p AS (SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > v.t2
          AND e.ts <= v.t1 + INTERVAL 7 DAY GROUP BY 1),
  n AS (SELECT (SELECT count(*) FROM s) AS n1,
               (SELECT count(*) FROM v) AS n2,
               (SELECT count(*) FROM p) AS n3)
  SELECT '1_signup' AS stage, n1 AS n_users, CAST(1.0 AS DOUBLE) AS rate FROM n
  UNION ALL
  SELECT '2_view_after_signup', n2, n2 / n1 FROM n
  UNION ALL
  SELECT '3_purchase_within_7d', n3, n3 / n2 FROM n
"""

ORACLES["event_transitions"] = """
  WITH nxt AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events),
  c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
        FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
  tot AS (SELECT event_type, CAST(sum(n_transitions) AS BIGINT) AS t
          FROM c GROUP BY 1)
  SELECT c.event_type, next_type, n_transitions, n_transitions / t AS p
  FROM c JOIN tot ON c.event_type = tot.event_type
  ORDER BY 1, 2
"""
