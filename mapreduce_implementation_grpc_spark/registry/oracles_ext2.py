"""DuckDB oracle SQL, part 3 of 4."""

from __future__ import annotations

from .shared import _SQL_COSUPPLY, _SQL_TOKS
from .oracle_builders import _banded_pairs_sql
from .eval_temporal import _absorption_ctes
from .eval_temporal2 import (
    CF_TOPN,
    NEGATIVES_PER_POSITIVE,
    RAKE_MAX_LEN,
    RAKE_STOPWORDS,
    RAKE_TOPN,
)
from .graph_layout import CHI2_MIN_COUNT, CHI2_TOP_K, NOVELTY_N
from ..operators.basket import MIN_ORDERS
from ..operators.robust import TRIM_PCT
from ..operators.similarity import MIN_COSINE
from ..plans.analytics import SESSION_GAP_S

ORACLES: dict[str, str] = {}

# operators/basket._frequent_pairs: baskets b(o, p), order count nn,
# per-part counts item and the pairs of >= MIN_ORDERS co-orders
_SQL_BASKET = f"""b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
  nn AS (SELECT count(DISTINCT o) AS n FROM b),
  item AS (SELECT p, count(*) AS item_n FROM b GROUP BY 1),
  pairs AS (SELECT a.p AS p1, c.p AS p2, count(*) AS pair_n
            FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
            GROUP BY 1, 2 HAVING count(*) >= {MIN_ORDERS})"""

ORACLES["market_basket_pairs"] = f"""
  WITH {_SQL_BASKET}
  SELECT p1, p2, pair_n,
         pair_n / n AS support,
         pair_n / i1.item_n AS confidence,
         (pair_n * n) / (i1.item_n * i2.item_n) AS lift
  FROM pairs
  JOIN item i1 ON i1.p = p1
  JOIN item i2 ON i2.p = p2
  CROSS JOIN nn
  ORDER BY lift DESC, p1, p2
  LIMIT 50
"""

# NAIVE all-triples enumeration: the hash match proves the A-priori
# candidate pruning in operators/basket.market_basket_triples lossless
ORACLES["market_basket_triples"] = f"""
  WITH {_SQL_BASKET},
  tri AS (SELECT a.p AS p1, c.p AS p2, d.p AS p3, count(*) AS tri_n
          FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
                   JOIN b d ON a.o = d.o AND c.p < d.p
          GROUP BY 1, 2, 3 HAVING count(*) >= {MIN_ORDERS})
  SELECT p1, p2, p3, tri_n,
         tri_n / n AS support,
         tri_n / pair_n AS confidence,
         (tri_n * n * n) / (i1.item_n * i2.item_n * i3.item_n) AS lift
  FROM tri
  JOIN pairs USING (p1, p2)
  JOIN item i1 ON i1.p = p1
  JOIN item i2 ON i2.p = p2
  JOIN item i3 ON i3.p = p3
  CROSS JOIN nn
  ORDER BY lift DESC, p1, p2, p3
  LIMIT 30
"""

_RAKE_STOPS = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
ORACLES["rake_keyphrases"] = f"""
  WITH t AS ({_SQL_TOKS}),
  w AS (SELECT doc_id,
               unnest(generate_series(1, len(toks))) AS pos,
               unnest(toks) AS word
        FROM t),
  m AS (SELECT doc_id, pos, word,
               CASE WHEN word IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END AS is_stop
        FROM w),
  isl AS (SELECT doc_id, pos, word,
                 sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id,
                 is_stop
          FROM m),
  members AS (SELECT doc_id, phrase_id, pos, word FROM isl WHERE is_stop = 0),
  phr AS (SELECT doc_id, phrase_id,
                 string_agg(word, ' ' ORDER BY pos) AS phrase,
                 count(*) AS plen
          FROM members GROUP BY 1, 2 HAVING count(*) <= {RAKE_MAX_LEN}),
  wstat AS (SELECT word, sum(plen) / count(*) AS wscore
            FROM members JOIN phr USING (doc_id, phrase_id) GROUP BY 1),
  pscore AS (SELECT doc_id, phrase_id,
                    CAST(CAST(sum(CAST(round(wscore, 9) AS DECIMAL(20,9)))
                         AS VARCHAR) AS DOUBLE) AS score
             FROM members JOIN phr USING (doc_id, phrase_id)
                          JOIN wstat USING (word)
             GROUP BY 1, 2)
  SELECT phrase, count(*) AS n, round(max(score), 6) AS score
  FROM phr JOIN pscore USING (doc_id, phrase_id)
  GROUP BY phrase
  ORDER BY score DESC, phrase ASC LIMIT {RAKE_TOPN}
"""

ORACLES["training_negatives"] = f"""
  WITH pos AS (SELECT DISTINCT o_custkey AS custkey, l_partkey AS part
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
  np AS (SELECT count(*) AS n_parts FROM part),
  cand AS (SELECT custkey, part AS pos_part, slot,
                  CAST(concat('0x', substr(md5(concat_ws(':', 'neg1',
                        CAST(custkey AS VARCHAR), CAST(part AS VARCHAR),
                        CAST(slot AS VARCHAR))), 1, 8)) AS BIGINT)
                  % n_parts AS neg_part
           FROM pos CROSS JOIN np
           CROSS JOIN (SELECT unnest(range(1, {NEGATIVES_PER_POSITIVE + 1})) AS slot))
  SELECT custkey, pos_part, CAST(slot AS BIGINT) AS slot, neg_part
  FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.custkey = c.custkey AND p.part = c.neg_part)
"""

ORACLES["item_item_cf"] = f"""
  WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
  item AS (SELECT p, count(*) AS item_n FROM b GROUP BY 1),
  pairs AS (SELECT a.p AS p1, c.p AS p2, count(*) AS c12
            FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
            GROUP BY 1, 2 HAVING count(*) >= {MIN_ORDERS}),
  sym AS (SELECT p1, p2, c12 FROM pairs
          UNION ALL SELECT p2, p1, c12 FROM pairs),
  scored AS (SELECT sym.p1 AS part, sym.p2 AS neighbor, c12,
                    round(c12 / sqrt(CAST(i1.item_n * i2.item_n AS DOUBLE)), 6)
                      AS cosine
             FROM sym
             JOIN item i1 ON i1.p = sym.p1
             JOIN item i2 ON i2.p = sym.p2)
  SELECT part, neighbor, c12, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY part
              ORDER BY cosine DESC, neighbor ASC) AS BIGINT) AS rank
    FROM scored) WHERE rank <= {CF_TOPN}
"""

ORACLES["dq_audit"] = """
  WITH lt AS (
    SELECT l_orderkey,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                     * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))), 2) AS tot
    FROM lineitem GROUP BY 1)
  SELECT 'lineitem_qty_in_1_50' AS check_name, count(*) AS n_checked,
         CAST(count(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS n_violations
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_in_0_01', count(*),
         count(*) FILTER (l_discount < 0 OR l_discount > CAST(0.1 AS DOUBLE))
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_returnflag_domain', count(*),
         count(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R'))
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_pk_nonnull', count(*),
         count(*) FILTER (l_orderkey IS NULL OR l_linenumber IS NULL)
  FROM lineitem
  UNION ALL
  SELECT 'orders_totalprice_positive', count(*),
         count(*) FILTER (o_totalprice <= 0)
  FROM orders
  UNION ALL
  SELECT 'events_value_nonnull', count(*),
         count(*) FILTER (value IS NULL)
  FROM events
  UNION ALL
  SELECT 'events_props_json_valid', count(*),
         count(*) FILTER (NOT json_valid(props))
  FROM events
  UNION ALL
  SELECT 'events_event_id_nonnull', count(*),
         count(*) FILTER (event_id IS NULL)
  FROM events
  UNION ALL
  SELECT 'documents_nchars_consistent', count(*),
         count(*) FILTER (n_chars <> length(text))
  FROM documents
  UNION ALL
  SELECT 'documents_text_nonempty', count(*),
         count(*) FILTER (text IS NULL OR length(text) = 0)
  FROM documents
  UNION ALL
  SELECT 'orders_pk_unique', count(*), count(*) - count(DISTINCT o_orderkey)
  FROM orders
  UNION ALL
  SELECT 'events_pk_unique', count(*), count(*) - count(DISTINCT event_id)
  FROM events
  UNION ALL
  SELECT 'lineitem_pk_unique', count(*),
         count(*) - count(DISTINCT (l_orderkey, l_linenumber))
  FROM lineitem
  UNION ALL
  SELECT 'orders_fk_customer', count(*),
         count(*) FILTER (o_custkey NOT IN (SELECT c_custkey FROM customer))
  FROM orders
  UNION ALL
  SELECT 'lineitem_fk_orders', count(*),
         count(*) FILTER (l_orderkey NOT IN (SELECT o_orderkey FROM orders))
  FROM lineitem
  UNION ALL
  SELECT 'orders_have_lineitems', count(*),
         count(*) FILTER (o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))
  FROM orders
  UNION ALL
  SELECT 'orders_totalprice_reconciles', count(*),
         count(*) FILTER (abs(CAST(o_totalprice AS DECIMAL(18,2)) - tot)
                          > CAST(0.01 AS DECIMAL(18,2)))
  FROM orders JOIN lt ON o_orderkey = l_orderkey
"""


# U-shaped multi-touch credits: weights are IEEE expressions over
# identical integers; per-touch credits round 6dp and sum as DECIMAL.
ORACLES["attribution_position_weighted"] = f"""
  WITH s AS (
    SELECT event_id, user_id, ts, event_type, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {SESSION_GAP_S}
                THEN 1 ELSE 0 END AS st
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
  s2 AS (SELECT *, sum(st) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING)
             AS session_id FROM s),
  fp AS (SELECT user_id, session_id, ts AS p_ts, event_id AS p_id,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS p_cents,
                row_number() OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts, event_id) AS rn
         FROM s2 WHERE event_type = 'purchase'),
  fp1 AS (SELECT * FROM fp WHERE rn = 1),
  touches AS (
    SELECT t.user_id, t.session_id, t.ts, t.event_id,
           t.event_type AS touch_type, f.p_cents
    FROM s2 t JOIN fp1 f ON t.user_id = f.user_id
                         AND t.session_id = f.session_id
    WHERE t.event_type <> 'purchase'
      AND (t.ts < f.p_ts OR (t.ts = f.p_ts AND t.event_id < f.p_id))),
  scored AS (
    SELECT touch_type,
           row_number() OVER wt AS idx,
           count(*) OVER wn AS n,
           p_cents
    FROM touches
    WINDOW wt AS (PARTITION BY user_id, session_id ORDER BY ts, event_id),
           wn AS (PARTITION BY user_id, session_id)),
  cr AS (
    SELECT touch_type,
           CASE WHEN idx = 1 THEN 'first' WHEN idx = n THEN 'last'
                ELSE 'middle' END AS position,
           CAST(round(p_cents * (CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                 WHEN idx = 1 THEN CASE WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                                        ELSE CAST(0.4 AS DOUBLE) END
                 WHEN idx = n THEN CASE WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                                        ELSE CAST(0.4 AS DOUBLE) END
                 ELSE CAST(0.2 AS DOUBLE) / (n - 2) END), 6)
                AS DECIMAL(20,6)) AS credit
    FROM scored)
  SELECT touch_type, position, count(*) AS n_touches,
         CAST(CAST(sum(credit) AS VARCHAR) AS DOUBLE) AS credit_total
  FROM cr GROUP BY 1, 2 ORDER BY touch_type, position
"""

# Lindley reflection in closed form: B = S - min(0, running min S).
ORACLES["user_wallet_balance"] = """
  WITH base AS (
    SELECT user_id, event_id, ts,
           (CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END)
             * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS flow_cents
    FROM events WHERE event_type IN ('purchase', 'click')),
  runs AS (
    SELECT user_id, event_id, ts, flow_cents,
           sum(flow_cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
    FROM base)
  SELECT user_id, event_id, flow_cents,
         CAST(run - least(0, min(run) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              AS BIGINT) AS balance_cents
  FROM runs
"""

ORACLES["embedding_mutual_nn"] = f"""
  WITH pairs AS (
    SELECT * FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cosine
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
    ) WHERE cosine >= {MIN_COSINE}),
  sym AS (SELECT vec_a AS v, vec_b AS nb, cosine FROM pairs
          UNION ALL SELECT vec_b, vec_a, cosine FROM pairs),
  best AS (SELECT v, nb, cosine,
                  row_number() OVER (PARTITION BY v
                                     ORDER BY cosine DESC, nb) AS rn
           FROM sym),
  b1 AS (SELECT v, nb, cosine FROM best WHERE rn = 1)
  SELECT a.v AS vec_a, a.nb AS vec_b, a.cosine
  FROM b1 a JOIN b1 b ON a.nb = b.v AND b.nb = a.v AND a.v < a.nb
  ORDER BY vec_a
"""

# Mutual-NN over BANDED-LSH candidates (round 8): identical
# reciprocity filter, candidates from the OR-of-ANDs band tables (the
# embedding_dup_pairs_lsh CTEs with the deterministic splitmix64 planes).
# NOTE the sym CTE rebinds `v` -- the banded CTE names its vector CTE
# `v` too, so the pairs body must come first and stand alone.
ORACLES["embedding_mutual_nn_lsh"] = f"""
  {_banded_pairs_sql()},
  sym AS (SELECT vec_a AS v, vec_b AS nb, cosine FROM pairs
          UNION ALL SELECT vec_b, vec_a, cosine FROM pairs),
  best AS (SELECT v, nb, cosine,
                  row_number() OVER (PARTITION BY v
                                     ORDER BY cosine DESC, nb) AS rn
           FROM sym),
  b1 AS (SELECT v, nb, cosine FROM best WHERE rn = 1)
  SELECT a.v AS vec_a, a.nb AS vec_b, a.cosine
  FROM b1 a JOIN b1 b ON a.nb = b.v AND b.nb = a.v AND a.v < a.nb
  ORDER BY vec_a
"""

# Winsorized mean: the trimmed-mean machinery with the tails CLAMPED
# to the rank-(k+1)/(n-k) fences instead of dropped; fences selected
# by cumulative count, winsorized sum in exact BIGINTs.
ORACLES["events_winsorized_mean"] = f"""
  WITH grain AS (
    SELECT event_type AS g,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
           count(*) AS cnt
    FROM events GROUP BY 1, 2),
  cum AS (
    SELECT g, v, cnt,
           CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
    FROM grain),
  kk AS (
    SELECT *, (n * {TRIM_PCT}) // 100 AS k FROM cum),
  kept AS (
    SELECT g, v, cnt, cum, n, k,
           greatest(CAST(0 AS BIGINT),
                    least(cum, n - k) - greatest(cum - cnt, k)) AS kp
    FROM kk),
  agg AS (
    SELECT g,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(k) AS BIGINT) AS k,
           CAST(sum(kp * v) AS BIGINT) AS ks,
           CAST(sum(cnt * v) AS BIGINT) AS ts,
           min(CASE WHEN cum >= k + 1 THEN v END) AS lo,
           min(CASE WHEN cum >= n - k THEN v END) AS hi
    FROM kept GROUP BY g)
  SELECT g AS event_type, n, k AS n_clamped_each_side,
         lo AS lo_cents, hi AS hi_cents,
         CAST(ks + k * lo + k * hi AS DOUBLE) / CAST(n AS DOUBLE)
           AS winsorized_mean_cents,
         CAST(ts AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents
  FROM agg ORDER BY 1
"""

# Transition entropy per state: p from exact-integer division, each
# -p*ln(p) term 9dp-decimal-rounded (order-independent sum), summed
# as DECIMAL and string-routed to double.
ORACLES["event_markov_entropy"] = """
  WITH nxt AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events),
  c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS nn
        FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
  tot AS (SELECT event_type, CAST(sum(nn) AS BIGINT) AS t,
                 CAST(count(*) AS BIGINT) AS n_next
          FROM c GROUP BY 1)
  SELECT c.event_type,
         max(t) AS n_transitions,
         max(n_next) AS n_next_types,
         CAST(CAST(sum(CAST(round(-((nn / t) * ln(nn / t)), 9)
                            AS DECIMAL(12,9))) AS VARCHAR) AS DOUBLE)
           AS entropy_nats
  FROM c JOIN tot ON c.event_type = tot.event_type
  GROUP BY c.event_type ORDER BY 1
"""

# Spearman rho + Kendall tau between the 1995/1996 nation revenue
# rankings: all pair math at the 25-row nation grain.
ORACLES["nation_rank_spearman"] = """
  WITH yearly AS (
    SELECT n_name AS nation, year(o_orderdate) AS yr,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    * 1000000 AS HUGEINT)) AS rev
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
    WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY 1, 2),
  ranked AS (
    SELECT nation, yr,
           CAST(row_number() OVER (PARTITION BY yr
                                   ORDER BY rev DESC, nation) AS BIGINT) AS rnk
    FROM yearly),
  p AS (SELECT a.nation, a.rnk AS r95, b.rnk AS r96
        FROM ranked a JOIN ranked b ON a.nation = b.nation
        WHERE a.yr = 1995 AND b.yr = 1996),
  s AS (SELECT CAST(count(*) AS BIGINT) AS n_nations,
               CAST(sum((r95 - r96) * (r95 - r96)) AS BIGINT) AS sum_d2
        FROM p),
  pr AS (SELECT
           CAST(coalesce(sum(CASE WHEN (a.r95 - b.r95) * (a.r96 - b.r96) > 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_concordant,
           CAST(coalesce(sum(CASE WHEN (a.r95 - b.r95) * (a.r96 - b.r96) < 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_discordant
         FROM p a JOIN p b ON a.nation < b.nation)
  SELECT n_nations, sum_d2,
         1.0 - (6.0 * CAST(sum_d2 AS DOUBLE))
           / CAST(n_nations * (n_nations * n_nations - 1) AS DOUBLE)
           AS spearman,
         n_concordant, n_discordant,
         CAST(n_concordant - n_discordant AS DOUBLE)
           / CAST((n_nations * (n_nations - 1)) // 2 AS DOUBLE)
           AS kendall_tau
  FROM s CROSS JOIN pr
"""

# Directed association rules: both directions of each pruned pair,
# classical support/confidence/lift/leverage/conviction; conviction
# NULL for exact rules (integer-equality guard, not a float compare).
ORACLES["basket_rules"] = f"""
  WITH {_SQL_BASKET},
  directed AS (SELECT p1 AS antecedent, p2 AS consequent, pair_n FROM pairs
               UNION ALL
               SELECT p2 AS antecedent, p1 AS consequent, pair_n FROM pairs)
  SELECT antecedent, consequent, pair_n,
         pair_n / n AS support,
         pair_n / ia.item_n AS confidence,
         (pair_n * n) / (ia.item_n * ic.item_n) AS lift,
         pair_n / n - (ia.item_n / n) * (ic.item_n / n) AS leverage,
         CASE WHEN pair_n = ia.item_n THEN NULL
              ELSE (1.0 - ic.item_n / n) / (1.0 - pair_n / ia.item_n)
         END AS conviction
  FROM directed
  JOIN item ia ON ia.p = antecedent
  JOIN item ic ON ic.p = consequent
  CROSS JOIN nn
  ORDER BY lift DESC, antecedent, consequent
  LIMIT 50
"""

# Heaps'-law vocabulary-growth fit: cumulative tokens/types in doc_id
# order, 9dp-decimal log terms, the zipf OLS chain.
ORACLES["heaps_law_fit"] = r"""
  WITH raw AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(
             regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))), '\s+')) AS word
    FROM documents),
  tk AS (SELECT doc_id, word FROM raw WHERE word <> ''),
  per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tok_n
              FROM tk GROUP BY 1),
  firsts AS (SELECT word, min(doc_id) AS doc_id FROM tk GROUP BY 1),
  newt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS types_new
           FROM firsts GROUP BY 1),
  base AS (SELECT p.doc_id, p.tok_n, coalesce(n.types_new, 0) AS types_new
           FROM per_doc p LEFT JOIN newt n USING (doc_id)),
  cum AS (SELECT CAST(sum(tok_n) OVER w AS BIGINT) AS ct,
                 CAST(sum(types_new) OVER w AS BIGINT) AS cv
          FROM base
          WINDOW w AS (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
  pts AS (SELECT ct, cv,
                 CAST(round(ln(CAST(ct AS DOUBLE)), 9) AS DECIMAL(12,9)) AS lx,
                 CAST(round(ln(CAST(cv AS DOUBLE)), 9) AS DECIMAL(12,9)) AS ly
          FROM cum),
  agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(ct) AS BIGINT) AS total_tokens,
           CAST(max(cv) AS BIGINT) AS total_types,
           CAST(CAST(sum(lx) AS VARCHAR) AS DOUBLE) AS sx,
           CAST(CAST(sum(ly) AS VARCHAR) AS DOUBLE) AS sy,
           CAST(CAST(sum(lx * ly) AS VARCHAR) AS DOUBLE) AS sxy,
           CAST(CAST(sum(lx * lx) AS VARCHAR) AS DOUBLE) AS sxx,
           CAST(CAST(sum(ly * ly) AS VARCHAR) AS DOUBLE) AS syy
    FROM pts)
  SELECT n_docs, total_tokens, total_types,
         (n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx) AS heaps_beta,
         (sy * sxx - sx * sxy) / (n_docs * sxx - sx * sx) AS heaps_ln_k,
         (n_docs * sxy - sx * sy) * (n_docs * sxy - sx * sy)
           / ((n_docs * sxx - sx * sx) * (n_docs * syy - sy * sy)) AS r2
  FROM agg
"""

# Per-doc distinct word-NOVELTY_N-gram novelty vs all earlier docs.
ORACLES["ngram_novelty"] = rf"""
  WITH raw AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(
             regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))), '\s+'),
             w -> w <> '') AS t
    FROM documents),
  g AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - {NOVELTY_N - 2}),
                 i -> array_to_string(list_slice(t, i, i + {NOVELTY_N - 1}), ' '))) AS gram
        FROM raw WHERE len(t) >= {NOVELTY_N}),
  f AS (SELECT gram, min(doc_id) AS fd FROM g GROUP BY 1)
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.fd < g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_seen_before,
         CAST(count(*) - sum(CASE WHEN f.fd < g.doc_id THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS novelty
  FROM g JOIN f USING (gram)
  GROUP BY g.doc_id ORDER BY g.doc_id
"""

# Rocchio nearest-centroid confusion: centroids via the
# label_centroids decimal recipe; dots/norms as 12dp-decimal sums
# string-routed to double; argmax tie-break on label asc.
ORACLES["nearest_centroid_confusion"] = """
  WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dvec
             FROM embeddings),
  i AS (SELECT vec_id, label, dvec,
               unnest(range(1, len(dvec) + 1)) AS idx FROM e),
  f AS (SELECT vec_id, label, idx AS pos, dvec[idx] AS v FROM i),
  cent AS (SELECT label AS clabel, pos,
                  round(CAST(CAST(sum(CAST(v AS DECIMAL(27,12)))
                                  AS VARCHAR) AS DOUBLE) / count(*), 6) AS c
           FROM f GROUP BY 1, 2),
  cn AS (SELECT clabel,
                CAST(CAST(sum(CAST(c * c AS DECIMAL(24,12))) AS VARCHAR)
                     AS DOUBLE) AS cnorm2
         FROM cent GROUP BY 1),
  vn AS (SELECT vec_id,
                CAST(CAST(sum(CAST(v * v AS DECIMAL(24,12))) AS VARCHAR)
                     AS DOUBLE) AS vnorm2
         FROM f GROUP BY 1),
  d AS (SELECT f.vec_id, f.label, cent.clabel,
               CAST(CAST(sum(CAST(f.v * cent.c AS DECIMAL(24,12)))
                         AS VARCHAR) AS DOUBLE) AS dot
        FROM f JOIN cent USING (pos) GROUP BY 1, 2, 3),
  s AS (SELECT d.vec_id, d.label, d.clabel,
               dot / (sqrt(vnorm2) * sqrt(cnorm2)) AS csim
        FROM d JOIN vn USING (vec_id) JOIN cn USING (clabel)),
  p AS (SELECT vec_id, label, clabel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, clabel) AS rn
        FROM s)
  SELECT label, clabel AS pred_label, CAST(count(*) AS BIGINT) AS n_vecs
  FROM p WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2
"""

# Unrolled absorbing-chain value iteration at event-type grain.
ORACLES["event_conversion_absorption"] = "WITH " + _absorption_ctes()

# Simplified silhouette: squared distances from the decimal-exact
# dot/norm aggregates of the confusion oracle; per-term 9dp rounding.
ORACLES["label_silhouette"] = """
  WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dvec
             FROM embeddings),
  i AS (SELECT vec_id, label, dvec,
               unnest(range(1, len(dvec) + 1)) AS idx FROM e),
  f AS (SELECT vec_id, label, idx AS pos, dvec[idx] AS v FROM i),
  cent AS (SELECT label AS clabel, pos,
                  round(CAST(CAST(sum(CAST(v AS DECIMAL(27,12)))
                                  AS VARCHAR) AS DOUBLE) / count(*), 6) AS c
           FROM f GROUP BY 1, 2),
  cn AS (SELECT clabel,
                CAST(CAST(sum(CAST(c * c AS DECIMAL(24,12))) AS VARCHAR)
                     AS DOUBLE) AS cnorm2
         FROM cent GROUP BY 1),
  vn AS (SELECT vec_id,
                CAST(CAST(sum(CAST(v * v AS DECIMAL(24,12))) AS VARCHAR)
                     AS DOUBLE) AS vnorm2
         FROM f GROUP BY 1),
  d AS (SELECT f.vec_id, f.label, cent.clabel,
               CAST(CAST(sum(CAST(f.v * cent.c AS DECIMAL(24,12)))
                         AS VARCHAR) AS DOUBLE) AS dot
        FROM f JOIN cent USING (pos) GROUP BY 1, 2, 3),
  dd AS (SELECT d.vec_id, d.label, d.clabel,
                vnorm2 - 2.0 * dot + cnorm2 AS d2
         FROM d JOIN vn USING (vec_id) JOIN cn USING (clabel)),
  a AS (SELECT vec_id, label, d2 AS av FROM dd WHERE label = clabel),
  b AS (SELECT vec_id, min(d2) AS bv FROM dd WHERE label <> clabel
        GROUP BY 1),
  s AS (SELECT a.label,
               CAST(round((bv - av) / greatest(av, bv), 9)
                    AS DECIMAL(12,9)) AS sil
        FROM a JOIN b USING (vec_id))
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(CAST(sum(sil) AS VARCHAR) AS DOUBLE) / count(*)
           AS mean_silhouette
  FROM s GROUP BY 1 ORDER BY 1
"""

# Newman modularity of the nation partition over the co-supply graph:
# all-integer counts into one fixed IEEE chain per nation.
ORACLES["cosupply_nation_modularity"] = f"""
  WITH {_SQL_COSUPPLY},
  e AS MATERIALIZED (SELECT s1, s2 FROM w, t WHERE c >= thr),
  sn AS (SELECT s_suppkey AS sk, n_name AS nation
         FROM supplier JOIN nation ON s_nationkey = n_nationkey),
  m1 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
  und AS (SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e),
  dnat AS (SELECT sn.nation,
                  CAST(count(*) AS BIGINT) AS degree_sum,
                  CAST(count(DISTINCT node) AS BIGINT) AS n_suppliers
           FROM und JOIN sn ON und.node = sn.sk GROUP BY 1),
  intra AS (SELECT a.nation, CAST(count(*) AS BIGINT) AS intra_edges
            FROM e JOIN sn a ON e.s1 = a.sk JOIN sn b ON e.s2 = b.sk
            WHERE a.nation = b.nation GROUP BY 1)
  SELECT dnat.nation, n_suppliers, degree_sum,
         coalesce(intra.intra_edges, 0) AS intra_edges,
         CAST(coalesce(intra.intra_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)
           - (CAST(degree_sum AS DOUBLE) / CAST(2 * m AS DOUBLE))
             * (CAST(degree_sum AS DOUBLE) / CAST(2 * m AS DOUBLE))
           AS modularity_term
  FROM dnat LEFT JOIN intra USING (nation) CROSS JOIN m1
  ORDER BY nation
"""

# Degree assortativity: exact decimal edge-moment accumulation, one
# IEEE chain (sum_j == sum_k by both-orientation symmetry).
ORACLES["cosupply_degree_assortativity"] = f"""
  WITH {_SQL_COSUPPLY},
  e AS MATERIALIZED (SELECT s1, s2 FROM w, t WHERE c >= thr),
  und AS (SELECT s1 AS src, s2 AS dst FROM e
          UNION ALL SELECT s2, s1 FROM e),
  deg AS (SELECT src AS n_, count(*) AS d FROM und GROUP BY 1),
  ed AS (SELECT dj.d AS j, dk.d AS k
         FROM und JOIN deg dj ON und.src = dj.n_
                  JOIN deg dk ON und.dst = dk.n_),
  agg AS (
    SELECT CAST(count(*) AS BIGINT) AS m_directed,
           CAST(sum(j) AS BIGINT) AS sum_j,
           CAST(sum(CAST(j AS DECIMAL(18,0)) * CAST(k AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS sjk,
           CAST(sum(CAST(j AS DECIMAL(18,0)) * CAST(j AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS sjj
    FROM ed)
  SELECT m_directed, sum_j,
         CAST(CAST(CAST(m_directed AS DECIMAL(8,0)) * CAST(sjk AS DECIMAL(30,0))
                   - CAST(sum_j AS DECIMAL(18,0)) * CAST(sum_j AS DECIMAL(19,0))
                   AS VARCHAR) AS DOUBLE)
           / CAST(CAST(CAST(m_directed AS DECIMAL(8,0)) * CAST(sjj AS DECIMAL(30,0))
                   - CAST(sum_j AS DECIMAL(18,0)) * CAST(sum_j AS DECIMAL(19,0))
                   AS VARCHAR) AS DOUBLE)
           AS assortativity
  FROM agg
"""

# Goh-Barabasi burstiness of same-type interarrival gaps per user:
# exact microsecond gaps, decimal moment accumulation, IEEE tail.
ORACLES["events_interarrival_burstiness"] = """
  WITH g AS (
    SELECT event_type,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id, event_type
             ORDER BY ts, event_id) AS gap
    FROM events),
  agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS s,
           CAST(sum(CAST(gap AS DECIMAL(18,0)) * CAST(gap AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS s2
    FROM g WHERE gap IS NOT NULL GROUP BY 1),
  f AS (
    SELECT event_type, n_gaps,
           CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_us,
           CAST(CAST(CAST(n_gaps AS DECIMAL(8,0)) * CAST(s2 AS DECIMAL(30,0))
                     - CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(19,0))
                     AS VARCHAR) AS DOUBLE)
             / CAST(n_gaps * (n_gaps - 1) AS DOUBLE) AS var_gap_us
    FROM agg WHERE n_gaps >= 2)
  SELECT event_type, n_gaps, mean_gap_us, var_gap_us,
         sqrt(var_gap_us) / mean_gap_us AS cv,
         (sqrt(var_gap_us) - mean_gap_us) / (sqrt(var_gap_us) + mean_gap_us)
           AS burstiness
  FROM f ORDER BY event_type
"""

ORACLES["nation_rank_movers"] = """
  WITH yearly AS (
    SELECT n_name AS nation, year(o_orderdate) AS yr,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    * 1000000 AS HUGEINT)) AS rev
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
    WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY 1, 2),
  ranked AS (
    SELECT nation, yr,
           CAST(row_number() OVER (PARTITION BY yr
                                   ORDER BY rev DESC, nation) AS BIGINT) AS rnk,
           CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revd
    FROM yearly)
  SELECT a.nation, a.rnk AS rank_1995, b.rnk AS rank_1996,
         a.rnk - b.rnk AS rank_delta,
         a.revd AS rev_1995, b.revd AS rev_1996
  FROM ranked a JOIN ranked b ON a.nation = b.nation
  WHERE a.yr = 1995 AND b.yr = 1996
  ORDER BY rank_delta DESC, a.nation
"""

# Product-limit estimator at duration grain; ln factors rounded 9dp
# and summed as DECIMAL, curve shipped in log form.
ORACLES["user_survival_km"] = """
  WITH spans AS (SELECT user_id, CAST(min(ts) AS DATE) AS f,
                        CAST(max(ts) AS DATE) AS l
                 FROM events GROUP BY 1),
  edge AS (SELECT CAST(max(ts) AS DATE) AS e FROM events),
  subj AS (SELECT date_diff('day', f, l) AS duration,
                  (date_diff('day', l, e) < 7) AS censored
           FROM spans, edge),
  grain AS (SELECT duration,
                   CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_events,
                   CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_censored,
                   count(*) AS n_total
            FROM subj GROUP BY 1),
  km AS (
    SELECT duration, n_events, n_censored,
           sum(n_total) OVER (ORDER BY duration
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
    FROM grain),
  km2 AS (
    SELECT duration, n_risk, n_events, n_censored,
           CASE WHEN n_risk > n_events
                THEN CAST(round(ln(CAST(n_risk - n_events AS DOUBLE)
                                   / CAST(n_risk AS DOUBLE)), 9)
                          AS DECIMAL(20,9)) END AS term,
           max(CASE WHEN n_risk = n_events THEN 1 ELSE 0 END)
             OVER (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
             AS survival_zero
    FROM km)
  SELECT CAST(duration AS BIGINT) AS duration,
         CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
         survival_zero,
         CASE WHEN NOT survival_zero
              THEN CAST(CAST(sum(term) OVER (ORDER BY duration
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS VARCHAR) AS DOUBLE) END AS log_survival
  FROM km2 ORDER BY duration
"""

# Nelson-Aalen: same lifetimes/grain CTEs as the KM oracle; each
# increment is one long/long division rounded 12dp into the decimal
# running sum (no transcendental anywhere).
ORACLES["user_hazard_na"] = """
  WITH spans AS (SELECT user_id, CAST(min(ts) AS DATE) AS f,
                        CAST(max(ts) AS DATE) AS l
                 FROM events GROUP BY 1),
  edge AS (SELECT CAST(max(ts) AS DATE) AS e FROM events),
  subj AS (SELECT date_diff('day', f, l) AS duration,
                  (date_diff('day', l, e) < 7) AS censored
           FROM spans, edge),
  grain AS (SELECT duration,
                   CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_events,
                   CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_censored,
                   count(*) AS n_total
            FROM subj GROUP BY 1),
  na AS (
    SELECT duration, n_events, n_censored,
           sum(n_total) OVER (ORDER BY duration
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
    FROM grain),
  na2 AS (
    SELECT duration, n_risk, n_events, n_censored,
           CAST(round(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE), 12)
                AS DECIMAL(20,12)) AS term
    FROM na)
  SELECT CAST(duration AS BIGINT) AS duration,
         CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
         CAST(CAST(sum(term) OVER (ORDER BY duration
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS VARCHAR) AS DOUBLE) AS cum_hazard
  FROM na2 ORDER BY duration
"""

# Tie-aware average precision by the block convention: descending
# cumulatives INCLUDE the block; per-block term rounded 12dp into the
# order-independent decimal sum.
ORACLES["score_average_precision"] = """
  WITH per AS (
    SELECT n_chars AS s, count(*) AS n,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
    FROM documents GROUP BY 1),
  cum AS (
    SELECT s, n, pos,
           sum(n) OVER (ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
           sum(pos) OVER (ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
    FROM per),
  agg AS (
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(n) AS BIGINT) AS n_total,
           sum(CAST(round(CAST(pos AS DOUBLE)
                          * (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)), 12)
                    AS DECIMAL(27,12))) AS ts
    FROM cum)
  SELECT n_pos, n_total,
         CAST(CAST(ts AS VARCHAR) AS DOUBLE) / CAST(n_pos AS DOUBLE) AS ap
  FROM agg
"""

# Block-assigned gain/lift deciles: decile = integer division of the
# strictly-above count (ties never split); rates are fixed IEEE chains.
ORACLES["score_lift_deciles"] = """
  WITH per AS (
    SELECT n_chars AS s, count(*) AS n,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
    FROM documents GROUP BY 1),
  cum AS (
    SELECT s, n, pos,
           coalesce(sum(n) OVER (ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
    FROM per),
  tot AS (SELECT sum(n) AS tn, sum(pos) AS tp FROM per),
  dec AS (
    SELECT CAST(least(9, (10 * above) // tn) AS BIGINT) AS decile, n, pos
    FROM cum, tot),
  per_dec AS (
    SELECT decile, CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(pos) AS BIGINT) AS n_pos
    FROM dec GROUP BY 1)
  SELECT decile, n_rows, n_pos,
         CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE) AS resp_rate,
         (CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE))
           / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) AS lift,
         CAST(sum(n_pos) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(tp AS DOUBLE) AS cum_capture
  FROM per_dec, tot ORDER BY decile
"""

# Chi-square keyness: every input an exact integer count; the
# statistic one fixed IEEE chain (same association order as Spark).
ORACLES["term_chi2_keywords"] = f"""
  WITH t AS ({_SQL_TOKS}),
  tk AS (SELECT lang, unnest(toks) AS w FROM t),
  cnt AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS a
          FROM tk GROUP BY 1, 2),
  ltot AS (SELECT lang, CAST(sum(a) AS BIGINT) AS lt FROM cnt GROUP BY 1),
  wtot AS (SELECT w, CAST(sum(a) AS BIGINT) AS wt FROM cnt GROUP BY 1),
  ntot AS (SELECT CAST(sum(lt) AS BIGINT) AS nn FROM ltot),
  j AS (
    SELECT cnt.lang, cnt.w, a, lt, wt, nn,
           CAST(a AS DOUBLE) * CAST(nn - lt - (wt - a) AS DOUBLE)
             - CAST(wt - a AS DOUBLE) * CAST(lt - a AS DOUBLE) AS diff
    FROM cnt JOIN ltot USING (lang) JOIN wtot USING (w), ntot
    WHERE a >= {CHI2_MIN_COUNT}),
  scored AS (
    SELECT lang, w, a,
           CAST(nn AS DOUBLE) * (diff * diff)
             / (CAST(wt AS DOUBLE) * CAST(nn - wt AS DOUBLE)
                * CAST(lt AS DOUBLE) * CAST(nn - lt AS DOUBLE)) AS chi2
    FROM j),
  ranked AS (
    SELECT lang, w, a, chi2,
           row_number() OVER (PARTITION BY lang
                              ORDER BY chi2 DESC, w ASC) AS rank
    FROM scored)
  SELECT lang, CAST(rank AS BIGINT) AS rank, w AS word,
         a AS n_in_lang, chi2
  FROM ranked WHERE rank <= {CHI2_TOP_K} ORDER BY lang, rank
"""

# Jensen-Shannon: per-word contribution is one fixed IEEE chain
# (0.5*p*ln(p/m) with the zero branch guarded), rounded 12dp into the
# order-independent decimal sum.
ORACLES["lang_js_divergence"] = """
  WITH t AS ({TOKS}),
  tk AS (SELECT lang, unnest(toks) AS w FROM t),
  cnt AS (SELECT lang, w, count(*) AS c FROM tk GROUP BY 1, 2),
  tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
  p AS (SELECT cnt.lang, w, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p
        FROM cnt JOIN tot USING (lang)),
  langs AS (SELECT lang FROM tot),
  pairs AS (SELECT a.lang AS la, b.lang AS lb
            FROM langs a JOIN langs b ON a.lang < b.lang),
  pa AS (SELECT la, lb, w, p AS pa FROM p JOIN pairs ON p.lang = pairs.la),
  pb AS (SELECT la, lb, w, p AS pb FROM p JOIN pairs ON p.lang = pairs.lb),
  j AS (
    SELECT coalesce(pa.la, pb.la) AS la, coalesce(pa.lb, pb.lb) AS lb,
           coalesce(pa.pa, 0.0) AS pa, coalesce(pb.pb, 0.0) AS pb
    FROM pa FULL OUTER JOIN pb
      ON pa.la = pb.la AND pa.lb = pb.lb AND pa.w = pb.w),
  terms AS (
    SELECT la, lb,
           CAST(round(
             CASE WHEN pa > 0.0
                  THEN (0.5 * pa) * ln(pa / ((pa + pb) / 2.0))
                  ELSE 0.0 END
             + CASE WHEN pb > 0.0
                    THEN (0.5 * pb) * ln(pb / ((pa + pb) / 2.0))
                    ELSE 0.0 END, 12) AS DECIMAL(16,12)) AS term
    FROM j)
  SELECT la AS lang_a, lb AS lang_b, CAST(count(*) AS BIGINT) AS n_words,
         CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS jsd_nats
  FROM terms GROUP BY 1, 2 ORDER BY 1, 2
""".replace("{TOKS}", _SQL_TOKS)

# Cadence profile: lag gaps on the custkey total order; percentile
# selection at the (segment, distinct-gap) grain.
ORACLES["segment_order_gap_profile"] = """
  WITH g AS (
    SELECT o_custkey,
           CAST(date_diff('day',
                CAST(lag(o_orderdate) OVER w AS DATE),
                CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC)),
  gg AS (
    SELECT c_mktsegment AS segment, gap, count(*) AS cnt
    FROM g JOIN customer ON o_custkey = c_custkey
    WHERE gap IS NOT NULL GROUP BY 1, 2),
  tot AS (SELECT segment, CAST(sum(cnt) AS BIGINT) AS n_gaps,
                 CAST(sum(gap * cnt) AS BIGINT) AS sg
          FROM gg GROUP BY 1),
  cum AS (SELECT segment, gap, cnt,
                 sum(cnt) OVER (PARTITION BY segment ORDER BY gap
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
          FROM gg),
  p50 AS (SELECT cum.segment, min(gap) AS median_gap_days
          FROM cum JOIN tot USING (segment)
          WHERE cm >= CAST(floor((n_gaps + 1) / 2.0) AS BIGINT)
          GROUP BY 1),
  p90 AS (SELECT cum.segment, min(gap) AS p90_gap_days
          FROM cum JOIN tot USING (segment)
          WHERE cm * 10 >= n_gaps * 9 GROUP BY 1)
  SELECT tot.segment, n_gaps,
         CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_days,
         median_gap_days, p90_gap_days
  FROM tot JOIN p50 USING (segment) JOIN p90 USING (segment)
  ORDER BY tot.segment
"""

# Quintile migration: integer 5*(rn-1) DIV n boundaries (no ntile,
# no float), rank by exact cents desc with custkey tie-break.
ORACLES["customer_value_migration"] = """
  WITH spend AS (
    SELECT o_custkey AS custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS cents
    FROM orders WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY 1, 2),
  r AS (
    SELECT custkey, yr,
           row_number() OVER (PARTITION BY yr
                              ORDER BY cents DESC, custkey) AS rn,
           count(*) OVER (PARTITION BY yr) AS n
    FROM spend),
  q AS (SELECT custkey, yr,
               CAST(least(4, 5 * (rn - 1) // n) AS BIGINT) AS q
        FROM r)
  SELECT a.q AS q_1995, b.q AS q_1996,
         CAST(count(*) AS BIGINT) AS n_customers
  FROM q a JOIN q b ON a.custkey = b.custkey
       AND a.yr = 1995 AND b.yr = 1996
  GROUP BY 1, 2 ORDER BY 1, 2
"""

# Cohort LTV triangle: exact integer cents, window cumsum at the
# (cohort, age) grain, one IEEE division per row.
ORACLES["customer_cohort_ltv"] = """
  WITH om AS (
    SELECT o_custkey,
           CAST((year(o_orderdate) * 12 + month(o_orderdate))
                - (1992 * 12 + 1) AS BIGINT) AS m,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS cents
    FROM orders),
  firsts AS (SELECT o_custkey, min(m) AS cohort FROM om GROUP BY 1),
  sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
            FROM firsts GROUP BY 1),
  cells AS (
    SELECT cohort, om.m - cohort AS age_months,
           CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS n_active,
           sum(CAST(cents AS HUGEINT)) AS rev
    FROM om JOIN firsts ON om.o_custkey = firsts.o_custkey
    GROUP BY 1, 2),
  cum AS (
    SELECT cohort, age_months, n_active, rev,
           sum(rev) OVER (PARTITION BY cohort ORDER BY age_months
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crev
    FROM cells)
  SELECT cohort AS cohort_month, age_months, n_active, cohort_size,
         CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev_cents,
         CAST(CAST(crev AS VARCHAR) AS DOUBLE)
           / CAST(cohort_size AS DOUBLE) AS cum_ltv_cents_per_customer
  FROM cum JOIN sizes USING (cohort)
  ORDER BY cohort_month, age_months
"""

# Bounce profile: the events_sessionize epoch-floor gap convention;
# entry pick via rn = 1 on the session-keyed total order.
ORACLES["session_bounce_rate"] = f"""
  WITH g AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
  s AS (
    SELECT user_id, ts, event_id, event_type,
           sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_S} THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sid
    FROM g),
  e2 AS (
    SELECT user_id, sid, event_type,
           row_number() OVER (PARTITION BY user_id, sid
                              ORDER BY ts, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id, sid) AS n
    FROM s),
  sess AS (SELECT user_id, sid, event_type AS entry_type,
                  CAST(n AS BIGINT) AS n
           FROM e2 WHERE rn = 1)
  SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS bounce_rate,
         CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS mean_events_per_session
  FROM sess GROUP BY 1 ORDER BY 1
"""
