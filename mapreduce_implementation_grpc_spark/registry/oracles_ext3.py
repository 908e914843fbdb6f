"""DuckDB oracle SQL, part 4 of 4."""

from __future__ import annotations

from .eval_temporal import (
    ABSORB_STATE,
    G2_MIN_COUNT,
    G2_TOP_K,
    MARKOV_ORACLE_CHANNELS,
    MARKOV_STEPS,
)
from .graph_layout import ZIPF_TOP_N
from .oracle_builders import (
    _ann_ivf_kmeans_sql,
    _banded_bb_sql,
    _kmeans_ctes,
    _kmeans_means_cte,
)
from .similarity import ANN_BANDED_SWEEP, ANN_CLUSTERED_SWEEP, N_QUERIES
from ..operators.acf import ACF_MAX_LAG
from ..operators.curation import STRATIFIED_DEN
from ..operators.linkage import SN_WINDOW
from ..operators.robust import TRIM_PCT
from ..operators.similarity import (
    ANN_ROWS_PER_BAND,
    CLUSTERED_N_CLUSTERS,
    CLUSTERED_SIGMA,
    DIM,
    N_PROBE,
    TOPK,
    clustered_centers,
)
from .oracles_ext import (
    _linkage_ctes,
    _recall_block,
)
from .shared import (
    _SQL_TOKS,
    _SQL_WORDCOUNT,
)

ORACLES: dict[str, str] = {}

# Delay profile: integer-rank percentile selection (the MAD oracle
# convention), exact integer day sums for the mean.
ORACLES["shipping_delay_profile"] = """
  WITH d AS (
    SELECT CAST((year(o_orderdate) * 12 + month(o_orderdate))
                - (1992 * 12 + 1) AS BIGINT) AS month,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) AS BIGINT) AS dd,
           count(*) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2),
  tot AS (SELECT month, CAST(sum(cnt) AS BIGINT) AS n_items,
                 CAST(sum(dd * cnt) AS BIGINT) AS sdd
          FROM d GROUP BY 1),
  cum AS (SELECT month, dd, cnt,
                 sum(cnt) OVER (PARTITION BY month ORDER BY dd
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
          FROM d),
  p50 AS (SELECT cum.month, min(dd) AS p50_delay_days
          FROM cum JOIN tot USING (month)
          WHERE cm >= CAST(floor((n_items + 1) / 2.0) AS BIGINT)
          GROUP BY 1),
  p90 AS (SELECT cum.month, min(dd) AS p90_delay_days
          FROM cum JOIN tot USING (month)
          WHERE cm * 10 >= n_items * 9 GROUP BY 1)
  SELECT tot.month, n_items,
         CAST(sdd AS DOUBLE) / CAST(n_items AS DOUBLE)
           AS mean_delay_days,
         p50_delay_days, p90_delay_days
  FROM tot JOIN p50 USING (month) JOIN p90 USING (month)
  ORDER BY tot.month
"""

# Unbiased Simpson: exact-integer c(c-1) sums (HUGEINT twin), one
# final IEEE division chain, no rounding convention needed.
ORACLES["lang_simpson_diversity"] = """
  WITH t AS ({TOKS}),
  tk AS (SELECT lang, unnest(toks) AS w FROM t),
  cnt AS (SELECT lang, w, count(*) AS c FROM tk GROUP BY 1, 2),
  g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               sum(CAST(c AS HUGEINT) * CAST(c - 1 AS HUGEINT)) AS s2
        FROM cnt GROUP BY 1)
  SELECT lang, n_tokens, vocab,
         CASE WHEN n_tokens > 1
              THEN CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                   / (CAST(n_tokens AS DOUBLE)
                      * CAST(n_tokens - 1 AS DOUBLE)) END AS simpson,
         CASE WHEN n_tokens > 1 AND s2 > 0
              THEN CAST(1.0 AS DOUBLE)
                   / (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                      / (CAST(n_tokens AS DOUBLE)
                         * CAST(n_tokens - 1 AS DOUBLE))) END
           AS inv_simpson
  FROM g ORDER BY lang
""".replace("{TOKS}", _SQL_TOKS)

# HHI/CR4: exact micro squares as HUGEINT; the only IEEE work is the
# final fixed division chains; CR4 pick by deterministic window rank.
ORACLES["brand_revenue_hhi"] = """
  WITH nb AS (
    SELECT n_name AS nation, p_brand AS brand,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    * 1000000 AS HUGEINT)) AS rev
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN part ON l_partkey = p_partkey
         JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2),
  ranked AS (
    SELECT nation, brand, rev,
           row_number() OVER (PARTITION BY nation
                              ORDER BY rev DESC, brand ASC) AS rk
    FROM nb),
  g AS (
    SELECT nation, CAST(count(*) AS BIGINT) AS n_brands,
           sum(rev) AS s1, sum(rev * rev) AS s2,
           sum(CASE WHEN rk <= 4 THEN rev ELSE 0 END) AS t4
    FROM ranked GROUP BY 1)
  SELECT nation, n_brands,
         CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
           / (CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
              * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)) AS hhi,
         CAST(CAST(t4 AS VARCHAR) AS DOUBLE)
           / CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS cr4
  FROM g ORDER BY nation
"""

# Gaps-and-islands on the type axis: lag boundary + running count.
ORACLES["events_run_length"] = """
  WITH b AS (
    SELECT user_id, event_type,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS bnd,
           ts, event_id
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
  r AS (
    SELECT user_id, event_type,
           sum(bnd) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
    FROM b),
  runs AS (SELECT user_id, run, event_type,
                  CAST(count(*) AS BIGINT) AS len
           FROM r GROUP BY 1, 2, 3)
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs,
         max(len) AS longest_run,
         CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS mean_run_len
  FROM runs GROUP BY 1 ORDER BY 1
"""

# EWMA: recursive CTE stepping the identical exact-integer-micros
# arithmetic (alpha = 0.5 exact binary; tie rounding probed equal).
ORACLES["events_ewma_control"] = """
  WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(CAST(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                          AS DECIMAL(20,6))
                     * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
                AS DOUBLE) AS x
    FROM events GROUP BY 1, 2),
  series AS (
    SELECT event_type, day, x,
           row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
    FROM daily),
  dcount AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
             FROM daily GROUP BY 1),
  rec AS (
    SELECT event_type, CAST(1 AS BIGINT) AS i, x AS z,
           CAST(0.0 AS DOUBLE) AS md
    FROM series WHERE i = 1
    UNION ALL
    SELECT rec.event_type, rec.i + 1,
           round(CAST(0.5 AS DOUBLE) * s.x
                 + CAST(0.5 AS DOUBLE) * rec.z, 0) AS z,
           greatest(rec.md, abs(s.x - rec.z)) AS md
    FROM rec JOIN series s
      ON s.event_type = rec.event_type AND s.i = rec.i + 1),
  last AS (SELECT event_type, max(i) AS mi FROM rec GROUP BY 1)
  SELECT rec.event_type, n_days, z AS ewma_last_micros,
         md AS max_abs_dev_micros
  FROM rec JOIN last ON rec.event_type = last.event_type
                    AND rec.i = last.mi
       JOIN dcount ON dcount.event_type = rec.event_type
  ORDER BY rec.event_type
"""


def _sorted_neighborhood_oracle() -> str:
    """Oracle for q_linkage_sorted_neighborhood: reuses the m/c
    record CTEs of _linkage_ctes (its blocked-pair CTEs go unused)
    and mirrors the global rank + banded neighborhood + FS scoring.
    Weight literals generated from fs_weights (never drift)."""
    from ..operators.linkage import fs_weights

    w = fs_weights()
    score = " + ".join(
        f"CASE WHEN {f}_agree THEN CAST({wa!r} AS DOUBLE) "
        f"ELSE CAST({wd!r} AS DOUBLE) END"
        for f, (wa, wd) in w.items()
    )
    return (
        _linkage_ctes()
        + f""",
  u AS (
    SELECT 0 AS role, custkey AS rid, nm, bal, seg, blk FROM m
    UNION ALL
    SELECT 1, contact_id, nm, bal, seg, CAST(floor(bal) AS BIGINT)
    FROM c),
  r AS (SELECT role, rid, nm, bal, seg, blk,
               row_number() OVER (ORDER BY bal, role, rid) AS rn
        FROM u),
  pr AS (
    SELECT a.rid AS custkey, b.rid AS contact_id,
           abs(a.rn - b.rn) AS rank_gap,
           a.blk <> b.blk AS cross_block,
           a.nm = b.nm AS nm_agree,
           a.bal = b.bal AS bal_agree,
           a.seg = b.seg AS seg_agree
    FROM r a JOIN r b
      ON a.role = 0 AND b.role = 1 AND abs(a.rn - b.rn) <= {SN_WINDOW}),
  sn AS (SELECT custkey, contact_id, rank_gap, cross_block,
                nm_agree, bal_agree, seg_agree, ({score}) AS score
         FROM pr)
  SELECT custkey, contact_id, CAST(rank_gap AS BIGINT) AS rank_gap,
         cross_block, nm_agree, bal_agree, seg_agree, score,
         score > 0.0 AS is_match
  FROM sn ORDER BY (score > 0.0 AND cross_block) DESC, score DESC,
                   custkey, contact_id
  LIMIT 100"""
    )


ORACLES["linkage_sorted_neighborhood"] = _sorted_neighborhood_oracle()

# Holt smoothing as a recursive CTE stepping the identical exact
# arithmetic (0.5 multiplies of thousand-micros-rounded states --
# every intermediate an exact-integer double; both engines round
# half-away-from-zero at negative digits, probed 2026-08-16).
ORACLES["nation_revenue_holt"] = """
  WITH RECURSIVE monthly AS (
    SELECT n_name AS nation,
           CAST((year(o_orderdate) * 12 + month(o_orderdate))
                - (1992 * 12 + 1) AS BIGINT) AS x,
           CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    * 1000000 AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS yd
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2),
  series AS (
    SELECT nation, x, yd,
           row_number() OVER (PARTITION BY nation ORDER BY x) AS i
    FROM monthly),
  mcount AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_months
             FROM monthly GROUP BY 1),
  rec AS (
    SELECT s2.nation, CAST(2 AS BIGINT) AS i, s2.yd AS l,
           s2.yd - s1.yd AS b
    FROM series s1 JOIN series s2
      ON s1.nation = s2.nation AND s1.i = 1 AND s2.i = 2
    UNION ALL
    SELECT rec.nation, rec.i + 1,
           round(CAST(0.5 AS DOUBLE) * s.yd
                 + CAST(0.5 AS DOUBLE) * (rec.l + rec.b), -3) AS l,
           round(CAST(0.5 AS DOUBLE)
                 * (round(CAST(0.5 AS DOUBLE) * s.yd
                          + CAST(0.5 AS DOUBLE) * (rec.l + rec.b), -3)
                    - rec.l)
                 + CAST(0.5 AS DOUBLE) * rec.b, -3) AS b
    FROM rec JOIN series s
      ON s.nation = rec.nation AND s.i = rec.i + 1),
  last AS (SELECT nation, max(i) AS mi FROM rec GROUP BY 1)
  SELECT rec.nation, n_months, l AS level, b AS trend,
         l + b AS forecast_next
  FROM rec JOIN last ON rec.nation = last.nation AND rec.i = last.mi
       JOIN mcount ON mcount.nation = rec.nation
  ORDER BY rec.nation
"""


def _markov_removal_sql(channels: tuple[str, ...]) -> str:
    """Generated oracle for q_attribution_markov_removal: the shared
    transition/pi CTEs, one unrolled value-iteration chain for the
    base matrix and one per removed channel (edges INTO the channel
    filtered out), then the effect/share arithmetic on exact
    decimals. The channel universe is the generator's fixed
    event-type set (verified identical at all three SFs); the Spark
    side derives it from the data."""
    head = """WITH nxt AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events),
  c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS nn
        FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
  tot AS (SELECT event_type, CAST(sum(nn) AS BIGINT) AS t
          FROM c GROUP BY 1),
  tr AS (SELECT c.event_type AS s, next_type AS t2, nn / t AS T
         FROM c JOIN tot ON c.event_type = tot.event_type),
  st AS (SELECT s AS node FROM tr UNION SELECT t2 FROM tr),
  fe AS (SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
         FROM events),
  pi0 AS (SELECT event_type AS node, CAST(count(*) AS BIGINT) AS cu
          FROM fe WHERE rn = 1 GROUP BY 1),
  ut AS (SELECT CAST(sum(cu) AS BIGINT) AS u FROM pi0),
  pi AS (SELECT node, cu / u AS pi FROM pi0, ut)"""

    def chain(prefix: str, tr_filter: str) -> list[str]:
        parts = [f"""{prefix}p0 AS (
    SELECT node, CASE WHEN node = '{ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS p
    FROM st)"""]
        for k in range(1, MARKOV_STEPS + 1):
            parts.append(f"""{prefix}p{k} AS (
    SELECT st.node,
           CASE WHEN st.node = '{ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                ELSE coalesce(x.sm, CAST(0.0 AS DOUBLE)) END AS p
    FROM st LEFT JOIN (
      SELECT s AS node,
             CAST(CAST(sum(CAST(round(T * p, 12) AS DECIMAL(24,12)))
                       AS VARCHAR) AS DOUBLE) AS sm
      FROM tr JOIN {prefix}p{k - 1} ON tr.t2 = {prefix}p{k - 1}.node
      {tr_filter} GROUP BY 1) x
    USING (node))""")
        return parts

    parts = [head]
    parts.extend(chain("b", ""))
    parts.append(f"""bval AS (
    SELECT CAST(CAST(sum(CAST(round(pi * p, 12) AS DECIMAL(24,12)))
                     AS VARCHAR) AS DOUBLE) AS v
    FROM pi JOIN bp{MARKOV_STEPS} USING (node))""")
    for i, ch in enumerate(channels):
        parts.extend(chain(f"r{i}", f"WHERE tr.t2 <> '{ch}'"))
        parts.append(f"""r{i}val AS (
    SELECT CAST(CAST(sum(CAST(round(pi * p, 12) AS DECIMAL(24,12)))
                     AS VARCHAR) AS DOUBLE) AS v
    FROM pi JOIN r{i}p{MARKOV_STEPS} USING (node)
    WHERE pi.node <> '{ch}')""")
    union = "\n    UNION ALL ".join(
        f"SELECT '{ch}' AS channel, bval.v AS p_base, r{i}val.v AS p_removed"
        f" FROM bval, r{i}val"
        for i, ch in enumerate(channels)
    )
    parts.append(f"""eff AS (
    SELECT channel, p_base, p_removed,
           CAST(round(CAST(1 AS DOUBLE) - p_removed / p_base, 12)
                AS DECIMAL(24,12)) AS e
    FROM ({union}))""")
    parts.append("""te AS (SELECT sum(e) AS t FROM eff)""")
    return (
        ",\n  ".join(parts)
        + """
  SELECT channel, p_base, p_removed,
         CAST(CAST(e AS VARCHAR) AS DOUBLE) AS removal_effect,
         CASE WHEN t <> 0 THEN CAST(CAST(e AS VARCHAR) AS DOUBLE)
              / CAST(CAST(t AS VARCHAR) AS DOUBLE) END
           AS attribution_share
  FROM eff, te ORDER BY channel"""
    )


ORACLES["attribution_markov_removal"] = _markov_removal_sql(
    MARKOV_ORACLE_CHANNELS
)

# Information gain: every entropy term from exact integer counts,
# 9dp-rounded into order-independent decimal sums.
ORACLES["feature_information_gain"] = """
  WITH f AS (
    SELECT 'has_digit' AS feature,
           CASE WHEN regexp_matches(text, '[0-9]') THEN 'y' ELSE 'n' END AS val,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents
    UNION ALL
    SELECT 'len_bucket', CAST(least(9, n_chars // 200) AS VARCHAR),
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END
    FROM documents
    UNION ALL
    SELECT 'source', source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END
    FROM documents),
  cells AS (SELECT feature, val, y, CAST(count(*) AS BIGINT) AS nxy
            FROM f GROUP BY 1, 2, 3),
  nx AS (SELECT feature, val, CAST(sum(nxy) AS BIGINT) AS nx
         FROM cells GROUP BY 1, 2),
  nf AS (SELECT feature, CAST(sum(nxy) AS BIGINT) AS n
         FROM cells GROUP BY 1),
  hyx AS (
    SELECT cells.feature,
           sum(CAST(round(
             -(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(nxy AS DOUBLE) / CAST(nx AS DOUBLE)), 9)
             AS DECIMAL(12,9))) AS s
    FROM cells JOIN nx USING (feature, val) JOIN nf USING (feature)
    GROUP BY 1),
  lab AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 CAST(count(*) AS BIGINT) AS ny
          FROM documents GROUP BY 1),
  nt AS (SELECT CAST(sum(ny) AS BIGINT) AS n FROM lab),
  hy AS (
    SELECT sum(CAST(round(
             -(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             AS DECIMAL(12,9))) AS s
    FROM lab, nt)
  SELECT feature,
         CAST(CAST(hy.s AS VARCHAR) AS DOUBLE) AS h_y,
         CAST(CAST(hyx.s AS VARCHAR) AS DOUBLE) AS h_y_given_x,
         CAST(CAST(hy.s AS VARCHAR) AS DOUBLE)
           - CAST(CAST(hyx.s AS VARCHAR) AS DOUBLE) AS ig_nats
  FROM hyx, hy ORDER BY feature
"""

# Dunning G2 keyness: four O ln(O/E) terms each 9dp-rounded to
# DECIMAL, summed exactly; the per-lang ranking happens ON the exact
# decimal so the order is ulp-identical cross-engine.
ORACLES["term_keyness_g2"] = f"""
  WITH t AS ({_SQL_TOKS}),
  tk AS (SELECT lang, unnest(toks) AS w FROM t),
  cnt AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS a
          FROM tk GROUP BY 1, 2),
  ltot AS (SELECT lang, CAST(sum(a) AS BIGINT) AS lt FROM cnt GROUP BY 1),
  wtot AS (SELECT w, CAST(sum(a) AS BIGINT) AS wt FROM cnt GROUP BY 1),
  ntot AS (SELECT CAST(sum(lt) AS BIGINT) AS nn FROM ltot),
  j AS (
    SELECT cnt.lang, cnt.w, a, lt, wt, nn,
           wt - a AS b, lt - a AS c, nn - lt - (wt - a) AS d
    FROM cnt JOIN ltot USING (lang) JOIN wtot USING (w), ntot
    WHERE a >= {G2_MIN_COUNT}),
  g AS (
    SELECT lang, w, a,
           CAST(CASE WHEN a > 0 THEN round(
               2.0 * CAST(a AS DOUBLE)
               * ln(CAST(a AS DOUBLE)
                    / ((CAST(lt AS DOUBLE) * CAST(wt AS DOUBLE))
                       / CAST(nn AS DOUBLE))), 9)
             ELSE 0.0 END AS DECIMAL(20,9))
           + CAST(CASE WHEN b > 0 THEN round(
               2.0 * CAST(b AS DOUBLE)
               * ln(CAST(b AS DOUBLE)
                    / ((CAST(nn - lt AS DOUBLE) * CAST(wt AS DOUBLE))
                       / CAST(nn AS DOUBLE))), 9)
             ELSE 0.0 END AS DECIMAL(20,9))
           + CAST(CASE WHEN c > 0 THEN round(
               2.0 * CAST(c AS DOUBLE)
               * ln(CAST(c AS DOUBLE)
                    / ((CAST(lt AS DOUBLE) * CAST(nn - wt AS DOUBLE))
                       / CAST(nn AS DOUBLE))), 9)
             ELSE 0.0 END AS DECIMAL(20,9))
           + CAST(CASE WHEN d > 0 THEN round(
               2.0 * CAST(d AS DOUBLE)
               * ln(CAST(d AS DOUBLE)
                    / ((CAST(nn - lt AS DOUBLE) * CAST(nn - wt AS DOUBLE))
                       / CAST(nn AS DOUBLE))), 9)
             ELSE 0.0 END AS DECIMAL(20,9)) AS g2d
    FROM j),
  ranked AS (
    SELECT lang, w, a, g2d,
           row_number() OVER (PARTITION BY lang
                              ORDER BY g2d DESC, w ASC) AS rank
    FROM g)
  SELECT lang, CAST(rank AS BIGINT) AS rank, w AS word,
         a AS n_in_lang, CAST(CAST(g2d AS VARCHAR) AS DOUBLE) AS g2
  FROM ranked WHERE rank <= {G2_TOP_K} ORDER BY lang, rank
"""

# Theil-Sen: same monthly-micros series as the OLS trend oracle; the
# median pair slope by lower-median integer-rank selection.
ORACLES["nation_theilsen_trend"] = """
  WITH monthly AS (
    SELECT n_name AS nation,
           CAST((year(o_orderdate) * 12 + month(o_orderdate))
                - (1992 * 12 + 1) AS BIGINT) AS x,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    * 1000000 AS HUGEINT)) AS y
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2),
  slopes AS (
    SELECT a.nation,
           CAST(CAST(b.y - a.y AS VARCHAR) AS DOUBLE)
             / CAST(b.x - a.x AS DOUBLE) AS slope
    FROM monthly a JOIN monthly b
      ON a.nation = b.nation AND a.x < b.x),
  sc AS (SELECT nation, slope, count(*) AS cnt FROM slopes GROUP BY 1, 2),
  tot AS (SELECT nation, CAST(sum(cnt) AS BIGINT) AS np FROM sc GROUP BY 1),
  cum AS (SELECT nation, slope, cnt,
                 sum(cnt) OVER (PARTITION BY nation ORDER BY slope
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
          FROM sc),
  med AS (SELECT cum.nation, min(slope) AS theil_sen_slope
          FROM cum JOIN tot USING (nation)
          WHERE cm >= CAST(floor((np + 1) / 2.0) AS BIGINT) GROUP BY 1),
  months AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_months
             FROM monthly GROUP BY 1)
  SELECT months.nation, n_months, np AS n_pairs, theil_sen_slope
  FROM months JOIN tot USING (nation) JOIN med USING (nation)
  ORDER BY 1
"""

# Mean-cleared integer ACF: z = n*y - S makes both sums exact
# integers; the n^2 scale factor cancels in the ratio.
ORACLES["events_acf"] = f"""
  WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
             FROM events),
  days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                    AS day, d0
           FROM b),
  types AS (SELECT DISTINCT event_type FROM events),
  counts AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
             FROM events GROUP BY 1, 2),
  series AS (
    SELECT t.event_type, date_diff('day', d.d0, d.day) AS tt,
           coalesce(c.y, 0) AS y
    FROM types t CROSS JOIN days d
         LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = d.day),
  st AS (SELECT event_type, count(*) AS n, sum(y) AS s FROM series GROUP BY 1),
  z AS (SELECT series.event_type, tt,
               CAST(st.n * series.y - st.s AS HUGEINT) AS z, st.n
        FROM series JOIN st USING (event_type)),
  den AS (SELECT event_type, sum(z * z) AS den, max(n) AS n_points
          FROM z GROUP BY 1),
  lagged AS (SELECT event_type, tt, z, l.lag
             FROM z CROSS JOIN
                  (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag) l),
  num AS (SELECT a.event_type, a.lag, sum(a.z * b2.z) AS num
          FROM lagged a JOIN z b2 ON b2.event_type = a.event_type
                                 AND b2.tt = a.tt + a.lag
          GROUP BY 1, 2)
  SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag,
         CAST(d.n_points AS BIGINT) AS n_points,
         CAST(CAST(n.num AS VARCHAR) AS DOUBLE)
           / CAST(CAST(d.den AS VARCHAR) AS DOUBLE) AS acf
  FROM num n JOIN den d USING (event_type)
  WHERE d.den <> 0 ORDER BY event_type, lag
"""

# HUGEINT mirror of the exact-integer OLS sufficient statistics; the
# final divisions run on string-routed identical doubles.
ORACLES["nation_revenue_trend"] = """
  WITH monthly AS (
    SELECT n_name AS nation,
           CAST((year(o_orderdate) * 12 + month(o_orderdate))
                - (1992 * 12 + 1) AS BIGINT) AS x,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    * 1000000 AS HUGEINT)) AS y
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2),
  stats AS (
    SELECT nation, count(*) AS n,
           sum(CAST(x AS HUGEINT)) AS sx, sum(y) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
           sum(y * y) AS syy
    FROM monthly GROUP BY 1),
  vals AS (
    SELECT nation, CAST(n AS BIGINT) AS n_points,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS num,
           CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS den,
           CAST(CAST(sy * sxx - sx * sxy AS VARCHAR) AS DOUBLE) AS inum,
           CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) AS ydev
    FROM stats)
  SELECT nation, n_points, num / den AS slope, inum / den AS intercept,
         CASE WHEN ydev <> 0 THEN num * num / (den * ydev) END AS r2
  FROM vals WHERE den <> 0 ORDER BY nation
"""

ORACLES["zipf_word_fit"] = f"""
  WITH wc AS ({_SQL_WORDCOUNT}),
  top AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT {ZIPF_TOP_N}),
  pts AS (
    SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, word)
                              AS DOUBLE)), 9) AS DECIMAL(12,9)) AS lx,
           CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(12,9)) AS ly
    FROM top),
  agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           CAST(CAST(sum(lx) AS VARCHAR) AS DOUBLE) AS sx,
           CAST(CAST(sum(ly) AS VARCHAR) AS DOUBLE) AS sy,
           CAST(CAST(sum(lx * ly) AS VARCHAR) AS DOUBLE) AS sxy,
           CAST(CAST(sum(lx * lx) AS VARCHAR) AS DOUBLE) AS sxx,
           CAST(CAST(sum(ly * ly) AS VARCHAR) AS DOUBLE) AS syy
    FROM pts)
  SELECT n_words,
         (n_words * sxy - sx * sy) / (n_words * sxx - sx * sx) AS slope,
         (sy * sxx - sx * sxy) / (n_words * sxx - sx * sx) AS intercept,
         (n_words * sxy - sx * sy) * (n_words * sxy - sx * sy)
           / ((n_words * sxx - sx * sx) * (n_words * syy - sy * sy)) AS r2
  FROM agg
"""

# Quadratic NOT-EXISTS dominance -- the oracle's simplicity is the
# point: it proves the distributed grid-prune/staircase forms lossless.
ORACLES["customer_skyline"] = """
  WITH agg AS (
    SELECT o_custkey AS custkey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS spend_cents,
           count(*) AS n_orders,
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS last_day
    FROM orders GROUP BY 1)
  SELECT p.* FROM agg p
  WHERE NOT EXISTS (
    SELECT 1 FROM agg q
    WHERE q.spend_cents >= p.spend_cents AND q.n_orders >= p.n_orders
      AND q.last_day >= p.last_day
      AND (q.spend_cents > p.spend_cents OR q.n_orders > p.n_orders
           OR q.last_day > p.last_day))
  ORDER BY spend_cents DESC, custkey
"""

ORACLES["part_sales_skyline"] = """
  WITH agg AS (
    SELECT l_partkey AS partkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,0))) AS BIGINT) AS total_qty,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem GROUP BY 1)
  SELECT p.* FROM agg p
  WHERE NOT EXISTS (
    SELECT 1 FROM agg q
    WHERE q.total_qty >= p.total_qty AND q.revenue_cents >= p.revenue_cents
      AND (q.total_qty > p.total_qty OR q.revenue_cents > p.revenue_cents))
  ORDER BY total_qty DESC, partkey
"""

# Weighted median: SELECTION by exact integer-cent comparisons --
# the picked quantity is a value present in the data, so neither
# engine interpolates. DuckDB's HUGEINT window sums cast back to
# BIGINT to match Spark's long.
ORACLES["brand_weighted_median"] = """
  WITH j AS (
    SELECT p_brand,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS qty,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                AS BIGINT) AS cents
    FROM lineitem JOIN part ON l_partkey = p_partkey),
  grain AS (
    SELECT p_brand, qty, CAST(sum(cents) AS BIGINT) AS w
    FROM j GROUP BY 1, 2),
  cum AS (
    SELECT p_brand, qty, w,
           sum(w) OVER (PARTITION BY p_brand ORDER BY qty
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           sum(w) OVER (PARTITION BY p_brand) AS tw
    FROM grain)
  SELECT p_brand, CAST(min(qty) AS BIGINT) AS weighted_median,
         CAST(max(tw) AS BIGINT) AS total_weight
  FROM cum WHERE tw > 0 AND 2 * cw >= tw
  GROUP BY 1 ORDER BY 1
"""

# Chi-square cells: (o*n - r*c)^2 / (r*c*n) on exact integers,
# HUGEINT here / DECIMAL(38,0) in Spark, string-routed to double on
# both sides before the one square-and-divide; terms 9dp-decimal
# summed exactly, string-routed out.
ORACLES["segment_nation_chisq"] = """
  WITH cells AS (
    SELECT c_mktsegment AS r_cat, n_name AS c_cat,
           count(*) AS o
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2),
  tot AS (
    SELECT r_cat, c_cat, o,
           CAST(sum(o) OVER (PARTITION BY r_cat) AS HUGEINT) AS r,
           CAST(sum(o) OVER (PARTITION BY c_cat) AS HUGEINT) AS c,
           CAST(sum(o) OVER () AS HUGEINT) AS n
    FROM cells),
  dims AS (
    SELECT CAST(count(DISTINCT r_cat) AS BIGINT) AS nr,
           CAST(count(DISTINCT c_cat) AS BIGINT) AS nc
    FROM cells),
  scored AS (
    SELECT r_cat, c_cat, o, r, c, n, nr, nc,
           CAST(CAST(CAST(o AS HUGEINT) * n - r * c AS VARCHAR)
                AS DOUBLE) AS numd,
           CAST(CAST(r * c * n AS VARCHAR) AS DOUBLE) AS dend,
           CAST(CAST(r * c AS VARCHAR) AS DOUBLE) AS rcd
    FROM tot CROSS JOIN dims),
  t9 AS (
    SELECT r_cat, c_cat, o, nr, nc,
           rcd / CAST(n AS DOUBLE) AS expected,
           CAST(round(numd * numd / dend, 9) AS DECIMAL(20,9)) AS term9
    FROM scored)
  SELECT r_cat AS c_mktsegment, c_cat AS n_name,
         CAST(o AS BIGINT) AS observed, expected,
         CAST(CAST(term9 AS VARCHAR) AS DOUBLE) AS term,
         CAST(CAST(sum(term9) OVER () AS VARCHAR) AS DOUBLE) AS chi2,
         CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
  FROM t9 ORDER BY 1, 2
"""

# Benford: digit by string head; the transcendental benford_p frozen
# at 9dp as DECIMAL(10,9) BEFORE expected = n*p (exact decimal
# product, string-routed), so both engines square/divide identical
# doubles; 9dp-decimal terms summed exactly into chi2.
ORACLES["orders_benford"] = """
  WITH c AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT) AS cents
    FROM orders),
  d AS (
    SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           count(*) AS o
    FROM c GROUP BY 1),
  spine AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10)),
  f AS (
    SELECT s.digit, CAST(COALESCE(o, 0) AS BIGINT) AS observed
    FROM spine s LEFT JOIN d USING (digit)),
  t AS (
    SELECT digit, observed,
           CAST(sum(observed) OVER () AS BIGINT) AS total_n,
           CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9)
                AS DECIMAL(10,9)) AS p9
    FROM f),
  s2 AS (
    SELECT digit, observed, total_n, p9,
           CAST(CAST(CAST(CAST(total_n AS DECIMAL(19,0)) * p9
                          AS DECIMAL(30,9)) AS VARCHAR) AS DOUBLE) AS e
    FROM t),
  s3 AS (
    SELECT *, CAST(round((CAST(observed AS DOUBLE) - e)
                         * (CAST(observed AS DOUBLE) - e) / e, 9)
                   AS DECIMAL(20,9)) AS term9
    FROM s2)
  SELECT digit, observed, total_n,
         CAST(observed AS DOUBLE) / CAST(total_n AS DOUBLE)
           AS observed_share,
         CAST(CAST(p9 AS VARCHAR) AS DOUBLE) AS benford_p,
         e AS expected,
         CAST(CAST(term9 AS VARCHAR) AS DOUBLE) AS term,
         CAST(CAST(sum(term9) OVER () AS VARCHAR) AS DOUBLE) AS chi2
  FROM s3 ORDER BY digit
"""

# Lorenz deciles: exact integer cents, integer decile boundaries
# ((rn-1)*10 // n), shares divide exact longs.
ORACLES["customer_spend_lorenz"] = """
  WITH spend AS (
    SELECT o_custkey AS custkey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1),
  ranked AS (
    SELECT custkey, cents,
           row_number() OVER (ORDER BY cents, custkey) AS rn,
           count(*) OVER () AS n
    FROM spend),
  per AS (
    SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile,
           count(*) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM ranked GROUP BY 1)
  SELECT decile, n_customers, cents,
         CAST(cents AS DOUBLE)
           / CAST(CAST(sum(cents) OVER () AS BIGINT) AS DOUBLE)
           AS share_of_total,
         CAST(CAST(sum(cents) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(cents) OVER () AS BIGINT) AS DOUBLE)
           AS cum_share
  FROM per ORDER BY decile
"""

# Trimmed mean: integer rank boundaries (k = n*5 div 100), clamp
# arithmetic on exact cumulative counts, two final long/long
# divisions -- no interpolation.
ORACLES["events_trimmed_mean"] = f"""
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
  k AS (
    SELECT *, (n * {TRIM_PCT}) // 100 AS k FROM cum),
  kept AS (
    SELECT g, v, cnt, n, k,
           greatest(CAST(0 AS BIGINT),
                    least(cum, n - k) - greatest(cum - cnt, k)) AS kp
    FROM k)
  SELECT g AS event_type,
         CAST(max(n) AS BIGINT) AS n,
         CAST(max(k) AS BIGINT) AS n_trimmed_each_side,
         CAST(CAST(sum(kp * v) AS BIGINT) AS DOUBLE)
           / CAST(max(n) - 2 * max(k) AS DOUBLE) AS trimmed_mean_cents,
         CAST(CAST(sum(cnt * v) AS BIGINT) AS DOUBLE)
           / CAST(max(n) AS DOUBLE) AS mean_cents
  FROM kept GROUP BY 1 ORDER BY 1
"""

# Duplicate charges: adjacent same-(user, type, cents) repeats
# within 7 days via lag -- integer cents/microsecond gaps decide
# everything.
ORACLES["duplicate_charge_screen"] = """
  WITH base AS (
    SELECT user_id, event_type,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
           event_id, epoch_us(ts) AS us
    FROM events),
  lagged AS (
    SELECT user_id, event_type, cents,
           lag(event_id) OVER w AS first_event_id,
           event_id AS second_event_id,
           us - lag(us) OVER w AS gap_us
    FROM base
    WINDOW w AS (PARTITION BY user_id, event_type, cents
                 ORDER BY us, event_id))
  SELECT user_id, event_type, cents, first_event_id, second_event_id,
         CAST(gap_us AS BIGINT) AS gap_us
  FROM lagged
  WHERE first_event_id IS NOT NULL
    AND gap_us <= CAST(604800 AS BIGINT) * 1000000
  ORDER BY user_id, event_type, cents, second_event_id
"""

# Quantile normalization: rank r of m -> global order statistic at
# ceil(r*N/m); all-integer, selection not interpolation.
ORACLES["doc_length_quantile_norm"] = """
  WITH local AS (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY lang
             ORDER BY n_chars, doc_id) AS r,
           count(*) OVER (PARTITION BY lang) AS m
    FROM documents),
  gl AS (
    SELECT n_chars AS norm_n_chars,
           row_number() OVER (ORDER BY n_chars, doc_id) AS k,
           count(*) OVER () AS total_n
    FROM documents),
  keyed AS (
    SELECT doc_id, lang, n_chars,
           (r * (SELECT max(total_n) FROM gl) + m - 1) // m AS k
    FROM local)
  SELECT keyed.doc_id, lang, n_chars, norm_n_chars
  FROM keyed JOIN gl USING (k)
  ORDER BY doc_id
"""

# Theil T: exact-long ratios, ln 9dp per row, 9dp-decimal term sum.
ORACLES["customer_spend_theil"] = """
  WITH spend AS (
    SELECT o_custkey AS custkey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1),
  t AS (
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM spend),
  terms AS (
    SELECT n_customers, total_cents,
           CAST(round(
             (CAST(cents AS DOUBLE) / CAST(total_cents AS DOUBLE))
             * round(ln(CAST(cents AS DOUBLE) * CAST(n_customers AS DOUBLE)
                        / CAST(total_cents AS DOUBLE)), 9),
           9) AS DECIMAL(20,9)) AS term9
    FROM spend, t WHERE cents > 0)
  SELECT n_customers, total_cents,
         CAST(CAST(sum(term9) AS VARCHAR) AS DOUBLE) AS theil
  FROM terms GROUP BY 1, 2
"""

# Rolling WAU: contribute-forward expansion at the user-day grain
# (sliding distinct counts don't decompose into window sums).
ORACLES["events_rolling_wau"] = """
  WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
  days AS (SELECT DISTINCT d FROM ud),
  expanded AS (
    SELECT user_id, d + CAST(t.i AS INTEGER) AS dx
    FROM ud CROSS JOIN (SELECT range AS i FROM range(0, 7)) t),
  wau AS (
    SELECT dx, count(DISTINCT user_id) AS wau
    FROM expanded JOIN days ON dx = days.d GROUP BY 1),
  dau AS (
    SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
  SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau, wau,
         CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
  FROM dau JOIN wau ON dau.d = wau.dx
  ORDER BY 1
"""

# Hamilton-apportioned stratified sample: all-integer quota
# arithmetic, md5-hex selection order (portable string compare).
ORACLES["stratified_sample_exact"] = f"""
  WITH c AS (SELECT lang AS g, count(*) AS n_h FROM documents
             GROUP BY 1),
  t AS (
    SELECT g, n_h,
           CAST(sum(n_h) OVER () AS BIGINT) AS tot
    FROM c),
  q AS (
    SELECT g, n_h, tot,
           (tot // {STRATIFIED_DEN} * n_h) // tot AS q0,
           (tot // {STRATIFIED_DEN} * n_h) % tot AS r,
           tot // {STRATIFIED_DEN} AS n_samp
    FROM t),
  rk AS (
    SELECT *, row_number() OVER (ORDER BY r DESC, g) AS rr,
           n_samp - sum(q0) OVER () AS deficit
    FROM q),
  quota AS (
    SELECT g, n_h,
           CAST(q0 + CASE WHEN rr <= deficit THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM rk),
  sel AS (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
    FROM documents)
  SELECT sel.lang, doc_id, n_h, qt.quota AS quota
  FROM sel JOIN quota qt ON sel.lang = qt.g
  WHERE rnk <= qt.quota
  ORDER BY lang, doc_id
"""

# Trailing OLS: exact HUGEINT window statistics over the day grain,
# RANGE frame (gaps shrink n), string-routed num/den, one division.
ORACLES["events_trailing_slope"] = """
  WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2),
  xd AS (
    SELECT event_type, day,
           CAST(day - DATE '1970-01-01' AS BIGINT) AS x, cents
    FROM daily),
  wsum AS (
    SELECT event_type, day, cents,
           CAST(count(*) OVER wnd AS BIGINT) AS n,
           CAST(sum(x) OVER wnd AS HUGEINT) AS sx,
           CAST(sum(cents) OVER wnd AS HUGEINT) AS sy,
           CAST(sum(x * cents) OVER wnd AS HUGEINT) AS sxy,
           CAST(sum(x * x) OVER wnd AS HUGEINT) AS sxx
    FROM xd
    WINDOW wnd AS (PARTITION BY event_type ORDER BY x
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
  SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
         n AS n_points,
         CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx <> 0 THEN
           CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS VARCHAR)
                AS DOUBLE)
           / CAST(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS VARCHAR)
                  AS DOUBLE)
         END AS slope
  FROM wsum ORDER BY 1, 2
"""

# Top-N + OTHERS: exact-micros rank with deterministic tie-break,
# tail rolled into one row so shares sum to 1.
ORACLES["nation_top_brands_others"] = """
  WITH base AS (
    SELECT n_name, p_brand,
           CAST(sum(CAST(
             (CAST(l_extendedprice AS DECIMAL(12,2))
              * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
             * 1000000 AS BIGINT)) AS BIGINT) AS micros
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2),
  rk AS (
    SELECT *, row_number() OVER (PARTITION BY n_name
              ORDER BY micros DESC, p_brand) AS rk
    FROM base),
  rolled AS (
    SELECT n_name,
           CASE WHEN rk <= 3 THEN p_brand ELSE 'OTHERS' END AS brand,
           count(*) AS n_brands,
           CAST(sum(micros) AS BIGINT) AS mi
    FROM rk GROUP BY 1, 2)
  SELECT n_name, brand, n_brands,
         CAST(mi AS DOUBLE) / 1000000.0 AS revenue,
         CAST(mi AS DOUBLE)
           / CAST(CAST(sum(mi) OVER (PARTITION BY n_name) AS BIGINT)
                  AS DOUBLE) AS share
  FROM rolled ORDER BY 1, 5 DESC, 2
"""

# z-test: all inputs exact integer counts; identical float
# expression shape on both sides; sqrt is IEEE-correctly-rounded.
ORACLES["ab_conversion_ztest"] = """
  WITH s AS (
    SELECT user_id, min(ts) AS s0 FROM events
    WHERE event_type = 'signup' GROUP BY 1),
  pu AS (
    SELECT s.user_id,
           max(CASE WHEN e.event_type = 'purchase'
                     AND e.ts >= s.s0
                     AND e.ts < s.s0 + INTERVAL 24 HOURS
                    THEN 1 ELSE 0 END) AS conv
    FROM s JOIN events e USING (user_id) GROUP BY 1),
  v AS (
    SELECT user_id % 2 AS variant, count(*) AS n,
           CAST(sum(conv) AS BIGINT) AS c
    FROM pu GROUP BY 1),
  w AS (
    SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
           max(CASE WHEN variant = 0 THEN c END) AS conv_a,
           max(CASE WHEN variant = 1 THEN n END) AS n_b,
           max(CASE WHEN variant = 1 THEN c END) AS conv_b
    FROM v),
  p AS (
    SELECT *,
           CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
           CAST(conv_a + conv_b AS DOUBLE)
             / CAST(n_a + n_b AS DOUBLE) AS pool
    FROM w)
  SELECT n_a, conv_a, p_a, n_b, conv_b, p_b,
         (p_a - p_b) / sqrt(pool * (1.0 - pool)
           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           AS z_score
  FROM p
"""


# r9: the cost half of the banded-ANN tuning table -- per-query
# candidate volume at each sweep width (the recall half is
# ann_recall_lsh_banded_sweep; same (bands, query_id) keys)
def _banded_candidates_sql(bands: int) -> str:
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      bb AS ({_banded_bb_sql(bands, ANN_ROWS_PER_BAND)}),
      qb AS (SELECT vec_id AS query_id, band, bucket FROM bb WHERE vec_id < {N_QUERIES}),
      cand AS (SELECT DISTINCT q.query_id, e.vec_id
               FROM qb q JOIN bb e USING (band, bucket)
               WHERE e.vec_id <> q.query_id),
      t AS (SELECT count(*) AS _n FROM embeddings)
      SELECT CAST({bands} AS BIGINT) AS bands, query_id,
             count(*) AS n_candidates,
             round(count(*) / CAST(t._n - 1 AS DOUBLE), 6) AS cand_frac
      FROM cand, t GROUP BY query_id, t._n
    """


# each arm's WITH must live inside a subquery for the top-level UNION
ORACLES["ann_banded_candidates_sweep"] = "\nUNION ALL\n".join(
    "SELECT * FROM (" + _banded_candidates_sql(b) + ") c" + str(b)
    for b in ANN_BANDED_SWEEP
)


# ---------------------------------------------------------------------------
# r10: clustered-corpus ANN selectivity (VERDICT r9 #1/#3)
# ---------------------------------------------------------------------------

def _dlit(x: float) -> str:
    """Double literal for DuckDB: repr plus an explicit exponent so
    the parser types it DOUBLE directly. A bare decimal literal
    routes through DECIMAL and the DECIMAL->DOUBLE conversion can
    land 1 ulp off the Python/Spark double (measured on the
    clustered-center literals) -- the same class of drift the
    decimal-vs-double string-routing convention exists to prevent."""
    s = repr(float(x))
    return s if "e" in s or "E" in s else s + "e0"


def _clustered_v_ctes() -> str:
    """CTE chain (cent, v): the deterministic clustered corpus --
    exact twin of operators.similarity.synthetic_clustered_embeddings
    (same splitmix64 center literals, same md5-prefix noise; every
    arithmetic step exact in double except the one final add, so the
    generated vectors are bit-identical cross-engine)."""
    cents = clustered_centers()
    vals = ",\n        ".join(
        "({c}, [{w}])".format(
            c=c, w=", ".join(_dlit(x) for x in cents[c])
        )
        for c in range(CLUSTERED_N_CLUSTERS)
    )
    return f"""
      cent AS (SELECT * FROM (VALUES {vals}) AS t(cluster, cvec)),
      v AS (SELECT e.vec_id, CAST(e.vec_id % {CLUSTERED_N_CLUSTERS} AS BIGINT) AS cluster,
                   list_transform(range(0, {DIM}),
                     d -> c.cvec[CAST(d + 1 AS INT)]
                          + {_dlit(CLUSTERED_SIGMA)} * (CAST(concat('0x', substr(md5(e.vec_id || ':' || d), 1, 8)) AS BIGINT)
                                              / 4294967296.0 - 0.5)) AS dvec
            FROM embeddings e JOIN cent c ON c.cluster = e.vec_id % {CLUSTERED_N_CLUSTERS})"""


ORACLES["clustered_corpus_structure"] = f"""
  WITH {_clustered_v_ctes()},
  q AS (SELECT vec_id AS query_id, cluster AS qcluster, dvec AS qvec
        FROM v WHERE vec_id < {N_QUERIES}),
  s AS (SELECT CAST(e.cluster = q.qcluster AS BIGINT) AS same_cluster,
               round(list_cosine_similarity(q.qvec, e.dvec), 6) AS cosine
        FROM q, v e WHERE e.vec_id <> q.query_id)
  SELECT same_cluster, count(*) AS n_pairs,
         round(CAST(CAST(sum(CAST(cosine AS DECIMAL(16,6))) AS VARCHAR) AS DOUBLE)
               / count(*), 6) AS mean_cos,
         min(cosine) AS min_cos, max(cosine) AS max_cos
  FROM s GROUP BY same_cluster
"""


def _clustered_selectivity_sql(bands: int) -> str:
    """One sweep arm of ann_clustered_selectivity: banded candidates
    + exact re-rank + exact kNN + per-query recall and candidate
    fraction, all over the clustered CTE (the banded block is the
    verbatim _banded_bb_sql -- it only references `v`)."""
    return f"""
      WITH {_clustered_v_ctes()},
      bb AS ({_banded_bb_sql(bands, ANN_ROWS_PER_BAND)}),
      qb AS (SELECT vec_id AS query_id, band, bucket FROM bb WHERE vec_id < {N_QUERIES}),
      cand AS (SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id
               FROM qb q JOIN bb e USING (band, bucket)
               WHERE e.vec_id <> q.query_id),
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
      xs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                    round(list_cosine_similarity(q.qvec, e.dvec), 6) AS cosine
             FROM q, v e WHERE e.vec_id <> q.query_id),
      xr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM xs),
      exact AS (SELECT query_id, neighbor_id FROM xr WHERE rank <= {TOPK}),
      asq AS (SELECT c.query_id, c.neighbor_id,
                     round(list_cosine_similarity(qv.qvec, ev.dvec), 6) AS cosine
              FROM cand c JOIN q qv ON qv.query_id = c.query_id
                          JOIN v ev ON ev.vec_id = c.neighbor_id),
      ar AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM asq),
      ann AS (SELECT query_id, neighbor_id FROM ar WHERE rank <= {TOPK}),
      h AS (SELECT e.query_id, count(*) AS n_hits FROM exact e
            JOIN ann a ON a.query_id = e.query_id
             AND a.neighbor_id = e.neighbor_id GROUP BY 1),
      nc AS (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY 1),
      base AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
      t AS (SELECT count(*) AS _n FROM v)
      SELECT CAST({bands} AS BIGINT) AS bands, base.query_id,
             coalesce(h.n_hits, 0) AS n_hits,
             round(coalesce(h.n_hits, 0) / CAST(base.n_exact AS DOUBLE), 6) AS recall,
             CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
             round(coalesce(nc.n_candidates, 0) / CAST(t._n - 1 AS DOUBLE), 6) AS cand_frac
      FROM base LEFT JOIN h USING (query_id) LEFT JOIN nc USING (query_id), t
    """


ORACLES["ann_clustered_selectivity"] = "\nUNION ALL\n".join(
    "SELECT * FROM (" + _clustered_selectivity_sql(b) + ") s" + str(b)
    for b in ANN_CLUSTERED_SWEEP
)


def _clustered_ivf_kmeans_sql() -> str:
    """ann_clustered_ivf_kmeans_recall twin: the unrolled Lloyd fit
    (oracle_builders._kmeans_ctes) over the clustered CTE, the
    standard probe/serve plan, then recall vs exact kNN plus the
    candidate count (rows in probed cells, self excluded)."""
    return f"""
      WITH {_clustered_v_ctes()},{_kmeans_ctes(CLUSTERED_N_CLUSTERS)},{_kmeans_means_cte("sc", "fin")},
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
      qc AS (SELECT q.query_id, q.qvec, c.cell,
                    list_cosine_similarity(q.qvec, c.cvec) AS csim
             FROM q CROSS JOIN sc c),
      probes AS (SELECT query_id, qvec, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY csim DESC, cell ASC) AS pr FROM qc) WHERE pr <= {N_PROBE}),
      s AS (SELECT p.query_id, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.qvec, e.dvec), 6) AS cosine
            FROM probes p JOIN fin e ON e.cell = p.cell
            WHERE e.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s),
      ann AS (SELECT query_id, neighbor_id FROM r WHERE rank <= {TOPK}),
      nc AS (SELECT p.query_id, count(*) AS n_candidates
             FROM probes p JOIN fin e ON e.cell = p.cell
             WHERE e.vec_id <> p.query_id GROUP BY 1),
      xs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                    round(list_cosine_similarity(q.qvec, e.dvec), 6) AS cosine
             FROM q, v e WHERE e.vec_id <> q.query_id),
      xr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM xs),
      exact AS (SELECT query_id, neighbor_id FROM xr WHERE rank <= {TOPK}),
      h AS (SELECT e.query_id, count(*) AS n_hits FROM exact e
            JOIN ann a ON a.query_id = e.query_id
             AND a.neighbor_id = e.neighbor_id GROUP BY 1),
      base AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
      t AS (SELECT count(*) AS _n FROM v)
      SELECT base.query_id,
             coalesce(h.n_hits, 0) AS n_hits,
             round(coalesce(h.n_hits, 0) / CAST(base.n_exact AS DOUBLE), 6) AS recall,
             CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
             round(coalesce(nc.n_candidates, 0) / CAST(t._n - 1 AS DOUBLE), 6) AS cand_frac
      FROM base LEFT JOIN h USING (query_id) LEFT JOIN nc USING (query_id), t
    """


ORACLES["ann_clustered_ivf_kmeans_recall"] = _clustered_ivf_kmeans_sql()

# the standard-corpus recall rung for the learned-cell IVF path:
# composed from the existing unrolled-Lloyd serve block (VERDICT r9
# #3 -- the ladder's missing row)
ORACLES["ann_recall_ivf_kmeans"] = _recall_block(_ann_ivf_kmeans_sql())


# r10: video-container metadata twin -- the Spark side goes
# stub-writer -> real ISO-BMFF bytes -> box-tree parser; this twin
# recomputes the expected metadata from the SAME doc_id parameter
# arithmetic (registry/multimodal_q.q_multimodal_video_meta), so a
# hash match proves writer-compose-parser is the identity across the
# corpus's parameter grid (both box versions, largesize, audio).
# fps choices all divide 10^6 => duration_s exact at 6 decimals.
ORACLES["multimodal_video_meta"] = """
  WITH p AS (SELECT doc_id,
                    4 + doc_id % 40 AS n_frames,
                    [10, 16, 20, 25][CAST(doc_id % 4 AS INT) + 1] AS fps,
                    doc_id % 3 = 0 AS has_audio
             FROM documents)
  SELECT doc_id,
         'isom' AS brand,
         round(CAST(n_frames AS DOUBLE) / fps, 6) AS duration_s,
         CAST(1 + CASE WHEN has_audio THEN 1 ELSE 0 END AS BIGINT) AS n_tracks,
         'avc1' AS video_codec,
         CAST(16 + (doc_id % 32) * 2 AS DOUBLE) AS width,
         CAST(9 + (doc_id % 16) * 3 AS DOUBLE) AS height,
         CAST(n_frames AS BIGINT) AS n_video_samples,
         CAST(512 * n_frames AS BIGINT) AS video_bytes,
         CASE WHEN has_audio THEN 'mp4a' END AS audio_codec
  FROM p
"""
