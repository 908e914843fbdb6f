"""DuckDB oracle SQL for the registry queries, part 1 of 4. Each
``oracles_*`` module owns one ``ORACLES`` dict; ``assembly`` merges
them.
"""

from __future__ import annotations

from .shared import (
    _SQL_SHINGLES,
    _SQL_TOKS,
    _SQL_WORDCOUNT,
    _SQL_WORDS,
    _bpe_compression_sql,
    _bpe_ctes,
    _bpe_encode_sql,
    _bpe_pack_sql,
    _pagerank_ctes,
)
from .reference_surface import _CORPUS_TXT
from .text_shaping import BPE_MERGES
from .curation import PAGERANK_ITERS, PPR_SEGMENT
from .oracle_builders import (
    _ann_ivf_kmeans_sql,
    _ann_lsh_sql,
    _banded_pairs_sql,
    _curate_documents_sql,
    _dedup_clusters_sql,
    _dsir_sql,
    _duplicate_spans_sql,
    _ivfpq_residual_sql,
    _ivfpq_sql,
    _kmeans_cells_sql,
    _lang_hits_sql,
    _minhash_pairs_sql,
    _pq_codes_sql,
    _pq_search_sql,
    _projection_sql,
    _semantic_dedup_sql,
    _simhash_pairs_sql,
    _simhash_sql,
    _temperature_sql,
)



# shared by purchase_attribution and attribution_summary
_PURCHASE_ATTRIBUTION = """
      WITH s AS (
        SELECT event_id, user_id, ts, event_type, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                    THEN 1 ELSE 0 END AS st
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      s2 AS (SELECT *, sum(st) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING)
                 AS session_id FROM s),
      s3 AS (SELECT *, first_value(event_type) OVER w2 AS first_touch,
                    first_value(ts) OVER w2 AS first_ts
             FROM s2
             WINDOW w2 AS (PARTITION BY user_id, session_id
                           ORDER BY ts ASC, event_id ASC))
      SELECT event_id AS purchase_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_s, value,
             first_touch,
             strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS session_start_s
      FROM s3 WHERE event_type = 'purchase'
    """

ORACLES: dict[str, str] = {
    # faithful surface
    "wordcount": _SQL_WORDCOUNT,
    "wordcount_textfile": f"""
      WITH lines AS (
        SELECT unnest(string_split(content, chr(10))) AS line
        FROM read_text('{_CORPUS_TXT}')),
      words AS (
        SELECT unnest(string_split_regex(trim(lower(
                 regexp_replace(line, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS word
        FROM lines)
      SELECT word, count(*) AS cnt FROM words WHERE word <> '' GROUP BY word
    """,
    "wordcount_topn": f"SELECT * FROM ({_SQL_WORDCOUNT}) ORDER BY cnt DESC, word ASC LIMIT 100",
    "wordcount_rdd": _SQL_WORDCOUNT,
    "corpus_stats": f"""
      SELECT w.n_tokens, w.n_distinct_words, d.n_lines
      FROM (SELECT count(*) AS n_tokens, count(DISTINCT word) AS n_distinct_words
            FROM ({_SQL_WORDS}) WHERE word <> '') w,
           (SELECT count(*) AS n_lines FROM documents) d
    """,
    "map_task_stats": """
      WITH w AS (
        SELECT CAST(doc_id % 4 AS INT) AS task_id,
               unnest(string_split_regex(trim(lower(
                 regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS word
        FROM documents)
      SELECT task_id, count(DISTINCT word) AS n_distinct_words, count(*) AS n_tokens
      FROM w WHERE word <> '' GROUP BY task_id
    """,
    # text analysis
    "text_stats": f"""
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        round(len(list_distinct(toks)) / greatest(len(toks), 1), 6) AS distinct_ratio,
        round(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
              / greatest(len(toks), 1), 6) AS avg_token_len,
        round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
              / greatest(length(text), 1), 6) AS punct_ratio
      FROM ({_SQL_TOKS})
    """,
    "quality_score": f"""
      SELECT doc_id, round(
        least(len(toks) / 50.0, 1.0) * 0.35
        + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                 / greatest(length(text), 1)) * 0.25
        + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
        + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
      , 6) AS quality
      FROM ({_SQL_TOKS})
    """,
    "lang_id": _lang_hits_sql(),
    "token_counts": f"""
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_ws_tokens,
        CAST(coalesce(list_sum(list_transform(toks,
              t -> CAST(floor((length(t) + 3) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_tokens
      FROM ({_SQL_TOKS})
    """,
    "doc_fingerprint": f"""
      SELECT doc_id,
        md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5,
        sha256(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_sha256,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, t -> CAST(ascii(t) * length(t) AS BIGINT))),
          (acc, v) -> (acc * 31 + v) % 1000000007) AS fp_rolling
      FROM ({_SQL_TOKS})
    """,
    # training-data shaping
    "doc_chunks": f"""
      WITH t AS ({_SQL_TOKS}),
      nz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
      s AS (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 1, 0) + 2, 24)) AS start1
            FROM nz),
      c AS (SELECT doc_id,
                   CAST((start1 - 1) // 24 AS BIGINT) AS chunk_id,
                   list_slice(toks, start1, start1 + 31) AS chunk
            FROM s)
      SELECT doc_id, chunk_id,
             CAST(len(chunk) AS BIGINT) AS n_tokens,
             array_to_string(chunk, ' ') AS chunk_text
      FROM c
    """,
    "pack_sequences": """
      WITH n AS (
        SELECT doc_id, source,
               CAST(coalesce(list_sum(list_transform(
                 list_filter(string_split_regex(trim(lower(
                   regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+'),
                   w -> w <> ''),
                 t -> CAST(floor((length(t) + 3) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_tokens
        FROM documents),
      p AS (
        SELECT doc_id, source, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
        FROM n)
      SELECT doc_id, source, n_tokens,
             CAST(prefix // 256 AS BIGINT) AS bin_id,
             CAST(prefix % 256 AS BIGINT) AS offset
      FROM p
    """,
    "ngram_counts": f"""
      WITH t AS ({_SQL_TOKS}),
      g AS (SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM t)
      SELECT gram, count(*) AS cnt FROM g GROUP BY gram
      ORDER BY cnt DESC, gram ASC LIMIT 100
    """,
    "vocab_ids": f"""
      SELECT word, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) AS vocab_id
      FROM ({_SQL_WORDCOUNT}) WHERE cnt >= 5
    """,
    "bpe_pair_counts": f"""
      WITH {_bpe_ctes(1)}
      SELECT l AS "left", r AS "right", cnt AS pair_freq
      FROM p0 ORDER BY pair_freq DESC, "left", "right" LIMIT 50
    """,
    "bpe_merges": f"""
      WITH {_bpe_ctes(BPE_MERGES)}
      SELECT * FROM (
        {" UNION ALL ".join(
            f'SELECT CAST({i + 1} AS BIGINT) AS "rank", l AS "left", r AS "right", '
            f'l || r AS merged, cnt AS pair_freq FROM b{i}'
            for i in range(BPE_MERGES))}
      ) ORDER BY "rank"
    """,
    "bpe_encode": _bpe_encode_sql(BPE_MERGES),
    "bpe_compression_by_lang": _bpe_compression_sql(BPE_MERGES),
    "pack_sequences_bpe": _bpe_pack_sql(BPE_MERGES),
    "bm25_topk": f"""
      WITH t AS ({_SQL_TOKS}),
      pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_0,
               CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_1,
               CAST(len(list_filter(toks, x -> x = 'fast')) AS BIGINT) AS tf_2
             FROM t),
      st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
              CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
              CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
              CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
             FROM pd)
      SELECT doc_id, round(CAST(0.0 AS DOUBLE) + (round(ln((CAST(n_docs AS DOUBLE) - CAST(df_0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9) * (CAST(tf_0 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf_0 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) + round(ln((CAST(n_docs AS DOUBLE) - CAST(df_1 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_1 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9) * (CAST(tf_1 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf_1 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) + round(ln((CAST(n_docs AS DOUBLE) - CAST(df_2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9) * (CAST(tf_2 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf_2 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 6) AS bm25
      FROM pd CROSS JOIN st
      ORDER BY bm25 DESC, doc_id ASC LIMIT 50
    """,
    "inverted_index": f"""
      WITH s AS ({_SQL_SHINGLES}),
      p AS (SELECT DISTINCT doc_id, unnest(shset) AS phrase FROM s)
      SELECT phrase, count(*) AS df,
             array_to_string(list_sort(list(doc_id)), ',') AS postings
      FROM p GROUP BY phrase HAVING count(*) BETWEEN 2 AND 20
    """,
    "bigram_pmi": f"""
      WITH t AS ({_SQL_TOKS}),
      u AS (SELECT w, count(*) AS c
            FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      b AS (SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS cnt
            FROM (SELECT unnest(list_transform(range(1, len(toks)),
                        i -> [toks[i], toks[i + 1]])) AS pr FROM t)
            GROUP BY 1, 2 HAVING count(*) >= 5),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tok_total FROM u),
      nbt AS (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) AS n_big_total
              FROM t)
      SELECT w1 || ' ' || w2 AS gram, CAST(cnt AS BIGINT) AS cnt,
             round(ln((CAST(cnt AS DOUBLE) * n_tok_total * n_tok_total)
                  / (n_big_total * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
      FROM b
      JOIN (SELECT w AS w1, c AS c1 FROM u) USING (w1)
      JOIN (SELECT w AS w2, c AS c2 FROM u) USING (w2), tot, nbt
    """,
    "top_terms_per_lang": f"""
      WITH t AS ({_SQL_TOKS}),
      cc AS (SELECT lang, word, count(*) AS cnt
             FROM (SELECT lang, unnest(toks) AS word FROM t) GROUP BY 1, 2)
      SELECT lang, word, cnt, rn FROM (
        SELECT lang, word, cnt,
               CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, word ASC) AS BIGINT) AS rn
        FROM cc) WHERE rn <= 5
    """,
    "incremental_dedup": """
      WITH fp AS (
        SELECT doc_id,
               md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5
        FROM documents)
      SELECT doc_id, fp_md5 FROM fp
      WHERE doc_id % 10 = 0
        AND fp_md5 NOT IN (SELECT fp_md5 FROM fp WHERE doc_id % 10 <> 0)
    """,
    # curation / filtering
    "cms_heavy_hitters": f"""
      WITH wc AS ({_SQL_WORDCOUNT}),
      h AS (SELECT word, cnt,
                   CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS hv
            FROM wc),
      {", ".join(
        f"s{j} AS (SELECT (hv >> {10 * j}) % 1024 AS b{j}, "
        f"CAST(sum(cnt) AS BIGINT) AS c{j} FROM h GROUP BY 1)"
        for j in range(4))},
      top AS (SELECT word, cnt, hv FROM h ORDER BY cnt DESC, word ASC LIMIT 20)
      SELECT top.word, top.cnt AS true_cnt,
             least(s0.c0, s1.c1, s2.c2, s3.c3) AS est_cnt,
             least(s0.c0, s1.c1, s2.c2, s3.c3) - top.cnt AS overcount
      FROM top
      JOIN s0 ON s0.b0 = (top.hv >> 0) % 1024
      JOIN s1 ON s1.b1 = (top.hv >> 10) % 1024
      JOIN s2 ON s2.b2 = (top.hv >> 20) % 1024
      JOIN s3 ON s3.b3 = (top.hv >> 30) % 1024
    """,
    "hll_users_portable": """
      WITH h AS (
        SELECT event_type, user_id,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        FROM events),
      r AS (SELECT event_type, hv % 256 AS reg,
                   CASE WHEN (hv >> 8) = 0 THEN 53
                        ELSE 53 - length(bin(hv >> 8)) END AS rho
            FROM h),
      m AS (SELECT event_type, reg, max(rho) AS mj FROM r GROUP BY 1, 2),
      g AS (SELECT event_type, count(*) AS n_filled,
                   CAST(sum(1::BIGINT << CAST(53 - mj AS INTEGER)) AS BIGINT) AS s_filled
            FROM m GROUP BY 1),
      e AS (SELECT event_type, n_filled,
                   4.2399330249068963e+20
                   / CAST(s_filled + (256 - n_filled) * (1::BIGINT << 53) AS DOUBLE) AS e_raw
            FROM g),
      est AS (SELECT event_type,
                     round(CASE WHEN e_raw <= 640.0 AND n_filled < 256
                           THEN 256.0 * ln(256.0 / CAST(256 - n_filled AS DOUBLE))
                           ELSE e_raw END, 6) AS est_distinct
              FROM e),
      ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
             FROM events GROUP BY 1)
      SELECT est.event_type, est_distinct, exact_distinct,
             round((est_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
      FROM est JOIN ex USING (event_type)
    """,
    "bloom_decontaminate": f"""
      WITH toks AS ({_SQL_TOKS}),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 5), ' ')))) AS sh
        FROM toks WHERE len(toks) >= 6),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
      tr AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 20 <> 0),
      evp AS (SELECT CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h FROM ev),
      bits AS (
        SELECT p >> 5 AS slot, bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
        FROM (SELECT unnest([h % 131072, (h >> 17) % 131072, (h >> 34) % 131072]) AS p FROM evp)
        GROUP BY 1),
      trp AS (SELECT doc_id, sh,
                     CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h
              FROM tr),
      probed AS (
        SELECT t.doc_id,
               coalesce(((b0.bits >> CAST((t.h % 131072) % 32 AS INTEGER)) % 2) = 1, FALSE)
               AND coalesce(((b1.bits >> CAST(((t.h >> 17) % 131072) % 32 AS INTEGER)) % 2) = 1, FALSE)
               AND coalesce(((b2.bits >> CAST(((t.h >> 34) % 131072) % 32 AS INTEGER)) % 2) = 1, FALSE)
                 AS maybe
        FROM trp t
        LEFT JOIN bits b0 ON b0.slot = (t.h % 131072) >> 5
        LEFT JOIN bits b1 ON b1.slot = ((t.h >> 17) % 131072) >> 5
        LEFT JOIN bits b2 ON b2.slot = ((t.h >> 34) % 131072) >> 5),
      pd AS (SELECT doc_id, max(maybe) AS bloom_hit FROM probed GROUP BY 1),
      ex AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (sh))
      SELECT pd.bloom_hit, ex.doc_id IS NOT NULL AS exact_hit,
             count(*) AS n_docs
      FROM pd LEFT JOIN ex ON pd.doc_id = ex.doc_id
      GROUP BY 1, 2
    """,
    "decontaminate": f"""
      WITH toks AS ({_SQL_TOKS}),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 5), ' ')))) AS sh
        FROM toks WHERE len(toks) >= 6),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
      tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 <> 0)
      SELECT tr.doc_id, count(*) AS n_shared_ngrams
      FROM tr JOIN ev USING (sh) GROUP BY tr.doc_id
    """,
    "eval_overlap_report": f"""
      WITH toks AS ({_SQL_TOKS}),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 5), ' ')))) AS sh
        FROM toks WHERE len(toks) >= 6),
      ev AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 = 0),
      tr AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 <> 0)
      SELECT ev.doc_id, count(*) AS n_shingles,
             CAST(count(tr.sh) AS BIGINT) AS n_shared,
             round(CAST(count(tr.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
               AS leak_frac
      FROM ev LEFT JOIN tr ON ev.sh = tr.sh
      GROUP BY ev.doc_id
    """,
    "segment_affinity_suppliers": f"""
      WITH {_pagerank_ctes(PAGERANK_ITERS, seeds_sql=(
          "SELECT DISTINCT 'c' || c_custkey AS node FROM customer "
          "WHERE c_mktsegment = '" + PPR_SEGMENT + "'"))}
      SELECT node, round(r, 6) AS "rank"
      FROM r{PAGERANK_ITERS} WHERE node LIKE 's%'
      ORDER BY r DESC, node ASC LIMIT 50
    """,
    "fuzzy_word_pairs": f"""
      WITH t AS ({_SQL_TOKS}),
      u AS (SELECT w, count(*) AS c
            FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1)
      SELECT a.w AS w1, b.w AS w2,
             CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist,
             a.c AS c1, b.c AS c2
      FROM u a JOIN u b ON a.w < b.w
      WHERE levenshtein(a.w, b.w) <= 2
    """,
    "purchase_pagerank": f"""
      WITH {_pagerank_ctes(PAGERANK_ITERS)}
      SELECT node, round(r, 6) AS "rank"
      FROM r{PAGERANK_ITERS} ORDER BY r DESC, node ASC LIMIT 100
    """,
    "repetition_stats": f"""
      WITH toks AS ({_SQL_TOKS}),
      t AS (SELECT doc_id, unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM toks WHERE len(toks) > 0),
      tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
      ts AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_tok FROM tc GROUP BY 1),
      bgc AS (SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id,
                       tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM t) WHERE g IS NOT NULL GROUP BY 1, 2),
      bs AS (SELECT doc_id, max(c) AS top_bg FROM bgc GROUP BY 1),
      runs AS (SELECT doc_id, run_id, count(*) AS run_len FROM (
                 SELECT doc_id, pos,
                        sum(CASE WHEN prev IS NULL OR prev <> tok THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
                 FROM (SELECT doc_id, pos, tok,
                              lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                       FROM t)) GROUP BY 1, 2),
      rs AS (SELECT doc_id, max(run_len) AS max_run_len FROM runs GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
             round(coalesce(ts.top_tok, 0) / greatest(coalesce(ts.n_tokens, 0), 1), 6)
               AS top_token_frac,
             round(coalesce(bs.top_bg, 0) / greatest(coalesce(ts.n_tokens, 0) - 1, 1), 6)
               AS top_bigram_frac,
             CAST(coalesce(rs.max_run_len, 0) AS BIGINT) AS max_run_len
      FROM documents d
      LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id) LEFT JOIN rs USING (doc_id)
    """,
    "token_budget_mixture": f"""
      WITH q AS (
        SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_toks, round(
          least(len(toks) / 50.0, 1.0) * 0.35
          + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                   / greatest(length(text), 1)) * 0.25
          + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
          + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
        , 6) AS quality
        FROM ({_SQL_TOKS})),
      c AS (
        SELECT *, coalesce(sum(n_toks) OVER (
                 PARTITION BY lang ORDER BY quality DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM q)
      SELECT lang, count(*) AS n_docs_kept,
             CAST(sum(n_toks) AS BIGINT) AS tokens_kept,
             min(quality) AS min_quality
      FROM c WHERE cum_before < 3000 GROUP BY lang
    """,
    "mixture_sample": """
      WITH c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY 1),
      m AS (SELECT min(n_g) AS min_n FROM c)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d JOIN c USING (lang), m
      WHERE CAST(concat('0x', substr(md5(trim(lower(
              regexp_replace(d.text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 8)) AS BIGINT)
            / 4294967296.0 < min_n / n_g
    """,
    "shard_manifest": f"""
      WITH t AS (SELECT doc_id, len(toks) AS n_toks FROM ({_SQL_TOKS})),
      b AS (SELECT max(doc_id) AS max_id FROM documents)
      SELECT CAST(floor(doc_id / ceil((max_id + 1) / 8.0)) AS BIGINT) AS shard_id,
             count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      FROM t, b GROUP BY 1
    """,
    "documents_sample": """
      SELECT doc_id, lang, source FROM documents
      WHERE substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 1)
            IN ('0', '1')
    """,
    # dedup
    "dedup_exact": """
      SELECT md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5,
             min(doc_id) AS keep_doc_id, count(*) AS n_dups
      FROM documents GROUP BY 1
    """,
    "dedup_keep_best": f"""
      WITH s AS (
        SELECT doc_id,
               md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))) AS fp_md5,
               round(
                 least(len(toks) / 50.0, 1.0) * 0.35
                 + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                          / greatest(length(text), 1)) * 0.25
                 + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
                 + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
               , 6) AS quality
        FROM ({_SQL_TOKS})),
      r AS (SELECT fp_md5, doc_id, quality,
                   row_number() OVER (PARTITION BY fp_md5 ORDER BY quality DESC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY fp_md5) AS n_dups
            FROM s)
      SELECT fp_md5, doc_id AS keep_doc_id, quality, n_dups FROM r WHERE rn = 1
    """,
    "events_unpivot": """
      WITH p AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events GROUP BY 1)
      UNPIVOT p ON click, error, purchase, signup, view INTO NAME event_type VALUE n
    """,
    "weighted_doc_sample": f"""
      WITH q AS (
        SELECT doc_id, lang,
               round(
                 least(len(toks) / 50.0, 1.0) * 0.35
                 + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                          / greatest(length(text), 1)) * 0.25
                 + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
                 + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
               , 6) AS quality,
               round(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                        / 4294967297.0), 9) AS lnu
        FROM ({_SQL_TOKS})),
      r AS (SELECT doc_id, lang, quality,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY lnu / quality DESC, doc_id ASC) AS rn
            FROM q WHERE quality > 0)
      SELECT doc_id, lang, quality, CAST(rn AS BIGINT) AS "rank"
      FROM r WHERE rn <= 20
    """,
    "events_profile": """
      SELECT 'event_id' AS "column", count(*) AS n_rows,
             count(*) - count(event_id) AS n_nulls,
             count(DISTINCT event_id) AS n_distinct FROM events
      UNION ALL SELECT 'ts' AS "column", count(*) AS n_rows,
             count(*) - count(ts) AS n_nulls,
             count(DISTINCT ts) AS n_distinct FROM events
      UNION ALL SELECT 'user_id' AS "column", count(*) AS n_rows,
             count(*) - count(user_id) AS n_nulls,
             count(DISTINCT user_id) AS n_distinct FROM events
      UNION ALL SELECT 'event_type' AS "column", count(*) AS n_rows,
             count(*) - count(event_type) AS n_nulls,
             count(DISTINCT event_type) AS n_distinct FROM events
      UNION ALL SELECT 'value' AS "column", count(*) AS n_rows,
             count(*) - count(value) AS n_nulls,
             count(DISTINCT value) AS n_distinct FROM events
      UNION ALL SELECT 'props' AS "column", count(*) AS n_rows,
             count(*) - count(props) AS n_nulls,
             count(DISTINCT props) AS n_distinct FROM events
    """,
    "user_activity_decay": """
      WITH r AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, count(*) AS n_events,
             round(CAST(CAST(sum(CAST(round(v * power(0.5, rn), 9) AS DECIMAL(20,9)))
                        AS VARCHAR) AS DOUBLE), 6) AS decayed_value
      FROM r GROUP BY 1
    """,
    "user_activity_decay_fold": """
      SELECT user_id, count(*) AS n_events,
             round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(CAST(value AS DOUBLE) ORDER BY ts, event_id)),
               (acc, v) -> (acc + v) * 0.5), 6) AS decayed_value
      FROM events GROUP BY 1
    """,
    # oracle = all-pairs scan, restricted ONLY by the size lemma
    # (J >= t  =>  t*|b| <= |a| <= |b|/t: intersect <= min size,
    # union >= max size, so J <= min/max), which is independent of
    # the prefix filter under test -- the hash match still proves the
    # prefix candidate generation lossless, and the 4x pair cut keeps
    # the quadratic oracle runnable at sweep SFs.
    "jaccard_prefix_pairs": f"""
      WITH g AS (SELECT doc_id, shset AS st FROM ({_SQL_SHINGLES})
                 WHERE len(shset) > 0),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(len(list_intersect(a.st, b.st)) AS BIGINT) AS inter,
              CAST(len(a.st) + len(b.st) - len(list_intersect(a.st, b.st)) AS BIGINT)
                AS union_sz
            FROM g a JOIN g b ON a.doc_id < b.doc_id
            WHERE len(a.st) * 5 >= len(b.st) * 4
              AND len(b.st) * 5 >= len(a.st) * 4)
      SELECT doc_a, doc_b, inter, union_sz,
             round(CAST(inter AS DOUBLE) / union_sz, 6) AS jaccard
      FROM p WHERE 5 * inter >= 4 * union_sz
    """,
    "cluster_topics": f"""
      WITH km AS ({_kmeans_cells_sql()}),
      t AS ({_SQL_TOKS}),
      w AS (SELECT doc_id, unnest(toks) AS word FROM t),
      j AS (SELECT km.cell, w.word FROM w JOIN km ON w.doc_id = km.vec_id),
      cw AS (SELECT cell, word, count(*) AS cnt FROM j GROUP BY 1, 2),
      ct AS (SELECT cell, sum(cnt) AS ctot FROM cw GROUP BY 1),
      wt AS (SELECT word, sum(cnt) AS wtot FROM cw GROUP BY 1),
      g AS (SELECT sum(cnt) AS gtot FROM cw),
      s AS (SELECT cw.cell, cw.word, CAST(cw.cnt AS BIGINT) AS cnt,
              round((CAST(cnt AS DOUBLE) / ctot) / (CAST(wtot AS DOUBLE) / gtot), 6)
                AS lift
            FROM cw JOIN ct USING (cell) JOIN wt USING (word) CROSS JOIN g
            WHERE cnt >= 5),
      r AS (SELECT *, row_number() OVER (PARTITION BY cell
              ORDER BY lift DESC, word ASC) AS rn FROM s)
      SELECT cell, word, cnt, lift, CAST(rn AS BIGINT) AS "rank"
      FROM r WHERE rn <= 5
    """,
    "ngram_jaccard": f"""
      WITH sh AS ({_SQL_SHINGLES}),
      e AS (SELECT doc_id, unnest(shset) AS s FROM sh),
      rare AS (SELECT s FROM e GROUP BY s HAVING count(*) BETWEEN 2 AND 3),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM e a JOIN rare USING (s) JOIN e b USING (s)
               WHERE a.doc_id < b.doc_id),
      j AS (SELECT doc_a, doc_b,
                   round(len(list_intersect(sa.shset, sb.shset))
                         / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) AS jaccard
            FROM cand
            JOIN sh sa ON sa.doc_id = cand.doc_a
            JOIN sh sb ON sb.doc_id = cand.doc_b)
      SELECT * FROM j WHERE jaccard >= 0.05
    """,
    "minhash_near_dup": _minhash_pairs_sql(),
    "simhash": _simhash_sql(),
    "simhash_pairs": _simhash_pairs_sql(),
    "dedup_clusters": _dedup_clusters_sql(),
    "curate_documents": _curate_documents_sql(),
    "kmeans_cells": _kmeans_cells_sql(),
    "ann_ivf_kmeans": _ann_ivf_kmeans_sql(),
    "pq_codes": _pq_codes_sql(),
    "pq_search": _pq_search_sql(),
    "ann_ivfpq": _ivfpq_sql(),
    "ann_ivfpq_residual": _ivfpq_residual_sql(),
    "semantic_dedup": _semantic_dedup_sql(),
    "dsir_weights": _dsir_sql(),
    "nb_lang_scores": """
      WITH t0 AS (SELECT doc_id, lang,
                         list_filter(string_split_regex(trim(lower(
                           regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+'),
                           w -> w <> '') AS toks
                  FROM documents),
      tr AS (SELECT doc_id, lang, unnest(toks) AS w FROM t0),
      tokm AS (SELECT doc_id, lang, w, count(*) AS m FROM tr GROUP BY 1, 2, 3),
      tokc AS (SELECT lang, w, count(*) AS c FROM tr GROUP BY 1, 2),
      cls AS (SELECT lang, count(*) AS nt FROM tr GROUP BY 1),
      nd AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
      ntot AS (SELECT count(*) AS n FROM documents),
      voc AS (SELECT DISTINCT w FROM tr),
      vv AS (SELECT count(*) AS v FROM voc),
      model AS (SELECT c2.lang AS cand, voc.w,
                       CAST(round(ln((coalesce(tc.c, 0) + 1.0)
                              / CAST(c2.nt + vv.v AS DOUBLE)), 9) AS DECIMAL(12,9)) AS lp
                FROM voc CROSS JOIN cls c2 CROSS JOIN vv
                LEFT JOIN tokc tc ON tc.lang = c2.lang AND tc.w = voc.w),
      priors AS (SELECT nd.lang AS cand,
                        CAST(round(ln(CAST(nd.nd AS DOUBLE) / CAST(ntot.n AS DOUBLE)), 9)
                             AS DECIMAL(12,9)) AS lp0
                 FROM nd CROSS JOIN ntot),
      sc AS (SELECT tm.doc_id, tm.lang, mo.cand,
                    sum(CAST(tm.m AS DECIMAL(10,0)) * mo.lp) AS s
             FROM tokm tm JOIN model mo ON mo.w = tm.w GROUP BY 1, 2, 3),
      tot AS (SELECT sc.doc_id, sc.lang, sc.cand, sc.s + p.lp0 AS total
              FROM sc JOIN priors p ON p.cand = sc.cand),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY total DESC, cand ASC) AS rk FROM tot)
      SELECT doc_id, lang, cand AS pred_lang,
             round(CAST(CAST(total AS VARCHAR) AS DOUBLE), 6) AS nb_score
      FROM r WHERE rk = 1
    """,
    "orders_grouping_sets": """
      SELECT CAST(grouping(o_orderpriority) * 2 + grouping(o_year) AS BIGINT) AS gid,
             o_orderpriority,
             CAST(o_year AS BIGINT) AS o_year,
             count(*) AS n_orders,
             round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE), 6)
               AS total_price
      FROM (SELECT o_orderpriority, year(o_orderdate) AS o_year, o_totalprice FROM orders)
      GROUP BY GROUPING SETS ((o_orderpriority), (o_year), ())
    """,
    "purchase_and_signup_users": """
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'signup'
    """,
    "temperature_sample": _temperature_sql(),
    "customer_spend_percentiles": """
      WITH s AS (SELECT o_custkey,
                        CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS spend
                 FROM orders GROUP BY 1)
      SELECT o_custkey AS custkey, spend,
             round(percent_rank() OVER (ORDER BY spend ASC, o_custkey ASC), 6) AS pct_rank,
             round(cume_dist() OVER (ORDER BY spend ASC, o_custkey ASC), 6) AS cume
      FROM s
    """,
    "events_anomaly_zscore": """
      WITH e AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v FROM events),
      st AS (SELECT event_type,
                    CAST(CAST(sum(CAST(v AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE) AS s1,
                    CAST(CAST(sum(CAST(v AS DECIMAL(18,6)) * CAST(v AS DECIMAL(18,6)))
                         AS VARCHAR) AS DOUBLE) AS s2,
                    count(*) AS n
             FROM e GROUP BY 1),
      m AS (SELECT event_type, s1 / n AS mu,
                   sqrt((s2 / n) - (s1 / n) * (s1 / n)) AS sd
            FROM st),
      o AS (SELECT e.event_id, e.event_type, e.v,
                   (e.v - m.mu) / nullif(m.sd, 0) AS zscore
            FROM e JOIN m USING (event_type))
      SELECT event_id, event_type, round(v, 6) AS value, round(zscore, 6) AS zscore
      FROM o WHERE abs(zscore) > 3.0
    """,
    "late_shipments": """
      SELECT o_orderpriority AS priority,
             count(*) AS n_lineitems,
             CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
             round(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                            THEN 1 ELSE 0 END) / count(*), 6) AS late_frac
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1
    """,
    "events_quantiles_binned": """
      WITH b AS (SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
                        count(*) AS c
                 FROM events GROUP BY 1, 2),
      cum AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              sum(c) OVER (PARTITION BY event_type) AS n FROM b)
      SELECT event_type,
             round(CAST(min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS DOUBLE) * CAST(10.0 AS DOUBLE), 6) AS p50_bin,
             round(CAST(min(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) AS DOUBLE) * CAST(10.0 AS DOUBLE), 6) AS p90_bin,
             round(CAST(min(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) AS DOUBLE) * CAST(10.0 AS DOUBLE), 6) AS p99_bin,
             CAST(max(n) AS BIGINT) AS n_events
      FROM cum GROUP BY event_type
    """,
    "duplicate_spans": _duplicate_spans_sql(),
    # similarity
    "embedding_quantize": """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      f AS (SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM e),
      st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM f GROUP BY 1),
      arr AS (SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs FROM st),
      c AS (SELECT vec_id, v, mins, maxs,
              list_transform(range(1, len(v) + 1), i ->
                CASE WHEN maxs[i] > mins[i]
                     THEN CAST(floor(((v[i] - mins[i]) * 255.0) / (maxs[i] - mins[i])) AS INT)
                     ELSE 0 END) AS codes
            FROM e, arr),
      er AS (SELECT vec_id, codes, len(v) AS nd,
               list_transform(range(1, len(v) + 1), i ->
                 CASE WHEN maxs[i] > mins[i]
                      THEN (v[i] - (mins[i] + ((CAST(codes[i] AS DOUBLE) + 0.5)
                             * (maxs[i] - mins[i])) / 255.0))
                      ELSE 0.0 END) AS err
             FROM c)
      SELECT vec_id,
             CAST(nd AS BIGINT) AS n_dims,
             CAST(list_sum(codes) AS BIGINT) AS code_sum,
             CAST(list_min(codes) AS BIGINT) AS code_min,
             CAST(list_max(codes) AS BIGINT) AS code_max,
             round(list_sum(list_transform(err, d -> d * d)) / nd, 6) AS mse
      FROM er
    """,
    "knn_cosine": """
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
                 FROM embeddings WHERE vec_id < 10),
      s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.qvec, CAST(e.embedding AS DOUBLE[])), 6) AS cosine
            FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5
    """,
    "ann_lsh": _ann_lsh_sql(),
    # IVF ANN: centroids are exact decimal-sum means, so the full
    # probe/serve plan is reproducible in SQL
    "ann_ivf": """
      WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      i AS (SELECT label, dvec, unnest(range(1, len(dvec) + 1)) AS idx FROM v),
      m AS (SELECT label AS cell, idx,
                   CAST(CAST(sum(CAST(dvec[idx] AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE)
                   / count(*) AS c
            FROM i GROUP BY label, idx),
      cents AS (SELECT cell, list(c ORDER BY idx ASC) AS cvec FROM m GROUP BY cell),
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < 10),
      qc AS (SELECT q.query_id, q.qvec, c.cell,
                    list_cosine_similarity(q.qvec, c.cvec) AS csim
             FROM q CROSS JOIN cents c),
      probes AS (SELECT query_id, qvec, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY csim DESC, cell ASC) AS pr FROM qc) WHERE pr <= 2),
      s AS (SELECT p.query_id, p.cell, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.qvec, e.dvec), 6) AS cosine
            FROM probes p JOIN v e ON e.label = p.cell
            WHERE e.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, cell, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5
    """,
    # Banded-LSH dup pairs (round 8: OR-of-ANDs amplification; the
    # old AND-only single bucket recalled ~5% at cos 0.35): bands are
    # the deterministic splitmix64 planes (round 9 randomness fix), so
    # the recall<1 scale path is still exactly-checkable
    "embedding_dup_pairs_lsh": f"""
      {_banded_pairs_sql()}
      SELECT vec_a, vec_b, cosine FROM pairs
    """,
    "label_centroids": """
      WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      i AS (SELECT label, dvec, unnest(range(1, len(dvec) + 1)) AS idx FROM e),
      f AS (SELECT label, CAST(idx - 1 AS BIGINT) AS pos, dvec[idx] AS v FROM i)
      SELECT label, pos,
             round(CAST(CAST(sum(CAST(v AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE)
                   / count(*), 6) AS centroid
      FROM f GROUP BY label, pos
    """,
    # connected components over the SQL-reproducible ngram-Jaccard
    # edges: recursive CTE = transitive min-label closure
    "leakage_safe_split": f"""
      WITH cl AS ({_dedup_clusters_sql()}),
      assigned AS (
        SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
      SELECT doc_id, cluster,
             CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 1) = '0'
                  THEN 'val' ELSE 'train' END AS split
      FROM assigned
    """,
    "dedup_clusters_jaccard": f"""
      WITH RECURSIVE base AS (
        WITH sh AS ({_SQL_SHINGLES}),
        e AS (SELECT doc_id, unnest(shset) AS s FROM sh),
        rare AS (SELECT s FROM e GROUP BY s HAVING count(*) BETWEEN 2 AND 3),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM e a JOIN rare USING (s) JOIN e b USING (s)
                 WHERE a.doc_id < b.doc_id),
        j AS (SELECT doc_a, doc_b,
                     round(len(list_intersect(sa.shset, sb.shset))
                           / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) AS jaccard
              FROM cand
              JOIN sh sa ON sa.doc_id = cand.doc_a
              JOIN sh sb ON sb.doc_id = cand.doc_b)
        SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.05
      ),
      ee AS (SELECT doc_a, doc_b FROM base
             UNION ALL
             SELECT doc_b AS doc_a, doc_a AS doc_b FROM base),
      cc AS (
        SELECT doc_a AS doc_id, doc_a AS label FROM ee
        UNION
        SELECT ee.doc_a AS doc_id, cc.label FROM ee JOIN cc ON cc.doc_id = ee.doc_b
      )
      SELECT doc_id, min(label) AS cluster FROM cc GROUP BY doc_id
    """,
    "embedding_dup_pairs": """
      SELECT * FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
      ) WHERE cosine >= 0.35
    """,
    # multimodal: meta, plus the deterministic fake decode recomputed
    # from the UTF-8 bytes (hex -> per-byte ints) entirely in SQL
    "multimodal_decode": """
      WITH h AS (
        SELECT doc_id, octet_length(encode(text)) AS nb,
               lower(hex(encode(text))) AS hx
        FROM documents),
      b AS (
        SELECT doc_id, nb,
               list_transform(range(1, nb + 1),
                 i -> (strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)) AS bytes
        FROM h)
      SELECT doc_id, 'text' AS modality, CAST(nb AS BIGINT) AS n_bytes,
             CAST(nb AS DOUBLE) AS f_len,
             CAST(CASE WHEN nb > 0 THEN bytes[1] ELSE 0 END AS DOUBLE) AS f_first,
             CAST(CASE WHEN nb > 0 THEN bytes[nb] ELSE 0 END AS DOUBLE) AS f_last,
             CAST(coalesce(list_sum(bytes), 0) % 997 AS DOUBLE) AS f_sum_mod
      FROM b
    """,
    "multimodal_phash_dup": """
      WITH h AS (
        SELECT doc_id, octet_length(encode(text)) AS nb,
               lower(hex(encode(text))) AS hx
        FROM documents),
      b AS (
        SELECT doc_id, nb,
               list_transform(range(1, nb + 1),
                 i -> (strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)) AS bytes
        FROM h),
      f AS (
        SELECT doc_id, nb,
               CASE WHEN nb > 0 THEN bytes[1] ELSE 0 END AS f_first,
               CASE WHEN nb > 0 THEN bytes[nb] ELSE 0 END AS f_last,
               coalesce(list_sum(bytes), 0) % 997 AS f_sum_mod
        FROM b),
      p AS (
        SELECT doc_id,
               CAST((CASE WHEN nb >= 300 THEN 1 ELSE 0 END)
                  + (CASE WHEN f_first >= 128 THEN 2 ELSE 0 END)
                  + (CASE WHEN f_last >= 128 THEN 4 ELSE 0 END)
                  + (CASE WHEN f_sum_mod >= 498 THEN 8 ELSE 0 END) AS BIGINT) AS phash
        FROM f)
      SELECT phash, min(doc_id) AS keep_doc_id, count(*) AS n_docs
      FROM p GROUP BY 1
    """,
    "multimodal_frames": """
      WITH h AS (
        SELECT doc_id, octet_length(encode(text)) AS nb,
               lower(hex(encode(text))) AS hx
        FROM documents),
      f AS (SELECT doc_id, nb, hx,
                   unnest(range(0, ((nb + 15) // 16 + 3) // 4)) AS j
            FROM h WHERE nb > 0)
      SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
             substr(hx, 2 * j * 64 + 1, 2 * least(16, nb - j * 64)) AS frame,
             CAST(least(16, nb - j * 64) AS BIGINT) AS n_bytes
      FROM f
    """,
    "multimodal_resize": """
      WITH h AS (
        SELECT doc_id, octet_length(encode(text)) AS nb,
               lower(hex(encode(text))) AS hx
        FROM documents),
      s AS (SELECT doc_id, nb, hx, greatest(nb // 64, 1) AS step FROM h)
      SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
             CASE WHEN nb = 0 THEN '' ELSE
               array_to_string(list_transform(
                 range(0, least(64, (nb + step - 1) // step)),
                 k -> substr(hx, 2 * k * step + 1, 2)), '') END AS thumb
      FROM s
    """,
    "multimodal_meta": """
      SELECT doc_id, 'text' AS modality,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             sha256(text) AS content_sha256
      FROM documents
    """,
    # salted wordcount + tf-idf
    "wordcount_salted": _SQL_WORDCOUNT,
    "wordcount_sql": _SQL_WORDCOUNT,
    "tfidf_top_terms": f"""
      WITH w AS (SELECT doc_id, word FROM (
             SELECT doc_id, unnest(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS word
             FROM documents) WHERE word <> ''),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
      n AS (SELECT count(*) AS n_docs FROM documents),
      dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      idf AS (SELECT word, ln((n_docs + 1.0) / (df + 1.0)) + 1.0 AS idf FROM dfq, n),
      s AS (SELECT doc_id, tf.word AS word, tf, round(tf * idf, 6) AS score
            FROM tf JOIN idf USING (word))
      SELECT doc_id, word, tf, score, CAST(rn AS BIGINT) AS rn FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, word ASC) AS rn FROM s)
      WHERE rn <= 3
    """,
    "word_skew_profile": f"""
      WITH w AS ({_SQL_WORDCOUNT})
      SELECT count(*) AS n_words,
             CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(max(cnt) AS BIGINT) AS max_cnt,
             round(quantile_cont(cnt, 0.5), 6) AS p50,
             round(quantile_cont(cnt, 0.9), 6) AS p90,
             round(quantile_cont(cnt, 0.99), 6) AS p99,
             round(max(cnt) / sum(cnt), 6) AS top1_share
      FROM w
    """,
    "doc_perplexity": f"""
      WITH t AS ({_SQL_TOKS}),
      tk AS (SELECT doc_id, unnest(toks) AS w FROM t),
      uni AS (SELECT w, count(*) AS c1 FROM tk GROUP BY 1),
      v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
      db AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, count(*) AS m
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
        GROUP BY 1, 2, 3),
      big AS (SELECT w1, w2, sum(m) AS c12 FROM db GROUP BY 1, 2),
      sc AS (
        SELECT db.doc_id, CAST(db.m AS DECIMAL(10,0)) AS m,
               CAST(round(ln((big.c12 + 1.0) / (uni.c1 + v.v)), 9)
                    AS DECIMAL(12,9)) AS term
        FROM db JOIN big USING (w1, w2) JOIN uni ON uni.w = db.w1, v)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
             round(-(CAST(CAST(sum(m * term) AS VARCHAR) AS DOUBLE)) / sum(m), 6)
               AS cross_entropy
      FROM sc GROUP BY 1
    """,
    "doc_tf_cosine": f"""
      WITH t AS ({_SQL_TOKS}),
      tk AS (SELECT doc_id, unnest(toks) AS w FROM t),
      tf AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY 1, 2),
      dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      kept AS (SELECT tf.doc_id, tf.w, tf.tf
               FROM tf JOIN dfq USING (w) WHERE df <= 100),
      nrm AS (SELECT doc_id, sum(tf * tf) AS n2 FROM kept GROUP BY 1),
      dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*) AS n_shared_terms, sum(a.tf * b.tf) AS dot
               FROM kept a JOIN kept b USING (w)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      cos AS (SELECT doc_a, doc_b, CAST(n_shared_terms AS BIGINT) AS n_shared_terms,
                     round(dot / (sqrt(CAST(na.n2 AS DOUBLE))
                                  * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
              FROM dots JOIN nrm na ON na.doc_id = dots.doc_a
                        JOIN nrm nb ON nb.doc_id = dots.doc_b)
      SELECT * FROM cos WHERE cosine >= 0.3
    """,
    "events_range_join": """
      SELECT l.user_id, l.event_id AS purchase_id, r.event_id AS click_id,
             epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
      FROM events l JOIN events r ON l.user_id = r.user_id
      WHERE l.event_type = 'purchase' AND r.event_type = 'click'
        AND r.ts <= l.ts
        AND epoch_us(r.ts) >= epoch_us(l.ts) - 86400000000
    """,
    "embedding_project": _projection_sql(),
    "events_hopping": """
      WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
      h AS (
        SELECT (us // 900000000) * 900 - i * 900 AS ws, value
        FROM e, (SELECT unnest(range(4)) AS i)
      )
      SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS win_start,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM h GROUP BY 1
    """,
    # grouping sets / set ops / distinct / date histograms / as-of
    "events_rollup": """
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY ROLLUP(event_type, day)
    """,
    "events_cube": """
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY CUBE(event_type, day)
    """,
    "orders_price_deciles": """
      WITH t AS (SELECT o_totalprice,
                        ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
                 FROM orders)
      SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_orders,
             min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      FROM t GROUP BY decile
    """,
    "stratified_sample": """
      SELECT doc_id, lang, source FROM documents
      WHERE CASE WHEN CAST(regexp_replace(source, '[^0-9]', '', 'g') AS BIGINT) % 2 = 0
            THEN substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 1)
                 IN ('0', '1')
            ELSE substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 1)
                 IN ('0', '1', '2', '3') END
    """,
    "repeat_customers": """
      SELECT o_custkey AS custkey FROM (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
    """,
    "distinct_users": """
      SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      FROM events GROUP BY event_type
    """,
    "orders_monthly": """
      SELECT month, n_orders,
             CAST(CAST(s AS VARCHAR) AS DOUBLE) AS revenue,
             CAST((2 * CAST(s * 100 AS BIGINT) * 10000 + n_orders) // (2 * n_orders)
                  AS DOUBLE) / 1000000 AS avg_order_value
      FROM (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                   count(*) AS n_orders,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
            FROM orders GROUP BY 1)
    """,
    "events_pivot": """
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM events GROUP BY 1
    """,
    "signup_funnel": """
      WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
               max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        FROM events GROUP BY user_id)
      SELECT strftime(date_trunc('day', first_signup), '%Y-%m-%d') AS signup_day,
             count(*) AS n_signups,
             CAST(sum(CASE WHEN last_purchase > first_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
             round(sum(CASE WHEN last_purchase > first_signup THEN 1 ELSE 0 END) / count(*), 6) AS conversion_rate
      FROM per_user WHERE first_signup IS NOT NULL
      GROUP BY 1
    """,
    "revenue_forecast": """
      SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.04 AND 0.06
        AND l_quantity < 24
    """,
    "shipping_priority": """
      SELECT l_orderkey AS orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             o_orderpriority AS priority,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
        AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, orderdate ASC, orderkey ASC LIMIT 10
    """,
    "large_orders": """
      SELECT l_orderkey AS orderkey, c_name AS customer,
             strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             o_totalprice AS totalprice, total_qty
      FROM (SELECT l_orderkey,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_qty
            FROM lineitem GROUP BY l_orderkey)
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE total_qty > 150.0
    """,
    "events_quantiles": """
      SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.9), 6) AS p90,
             round(quantile_cont(value, 0.99), 6) AS p99,
             count(*) AS n_events
      FROM events GROUP BY event_type
    """,
    "events_trailing_hour": """
      SELECT event_id, user_id,
             count(*) OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_trailing_hour
      FROM events
    """,
    "customers_without_orders": """
      SELECT c_custkey AS custkey, c_name AS name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    "brands_shipped": """
      SELECT p_brand, count(*) AS n_parts FROM part
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      GROUP BY p_brand
    """,
    "orders_running_total": """
      SELECT o_custkey AS custkey, o_orderkey AS orderkey,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
                  AS DOUBLE) AS running_revenue
      FROM orders
    """,
    # two-table point-in-time join: DuckDB's native ASOF JOIN is the
    # oracle for the union+window implementation
    "events_asof_features": """
      WITH h AS (
        SELECT user_id, date_trunc('hour', ts) + INTERVAL 1 HOUR AS fts,
               count(*) AS feat_n,
               round(CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE), 6) AS feat_value
        FROM events GROUP BY 1, 2)
      SELECT e.event_id, e.user_id, e.event_type,
             strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             h.feat_n, h.feat_value
      FROM events e ASOF LEFT JOIN h
        ON e.user_id = h.user_id AND e.ts >= h.fts
    """,
    # nearest in either direction within tolerance; tie (equal
    # distance past vs future) prefers the past row -> at equal
    # |gap_us| the NEGATIVE gap sorts first
    "events_asof_nearest": """
      WITH p AS (SELECT user_id, ts, event_id AS purchase_id
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts, min(event_id) AS click_id
            FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      pairs AS (SELECT p.purchase_id, c.click_id,
                       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
                FROM p JOIN c ON p.user_id = c.user_id
                 AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 7200000000),
      best AS (SELECT purchase_id, click_id, gap_us FROM (
          SELECT *, row_number() OVER (PARTITION BY purchase_id
                    ORDER BY abs(gap_us) ASC, gap_us ASC) AS rn
          FROM pairs) WHERE rn = 1)
      SELECT p.purchase_id, p.user_id,
             strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             best.click_id, best.gap_us
      FROM p LEFT JOIN best USING (purchase_id)
    """,
    "events_asof_error": """
      SELECT event_id, user_id, event_type,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             strftime(max(CASE WHEN event_type = 'error' THEN ts END)
                      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      '%Y-%m-%d %H:%M:%S') AS last_error_ts
      FROM events
    """,
    # relational analytics
    "pricing_summary": """
      SELECT l_returnflag, l_linestatus,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                 * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        CAST((2 * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) * 10000 + count(*))
             // (2 * count(*)) AS DOUBLE) / 1000000 AS avg_qty,
        CAST((2 * CAST(sum(CAST(l_discount AS DECIMAL(18,4))) * 10000 AS BIGINT) * 100 + count(*))
             // (2 * count(*)) AS DOUBLE) / 1000000 AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    """,
    "large_volume_customers": """
      WITH big AS (SELECT l_orderkey,
                          sum(CAST(l_quantity AS DECIMAL(12,2))) AS tq
                   FROM lineitem GROUP BY 1
                   HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 180)
      SELECT c_custkey AS custkey, c_name AS name, o_orderkey AS orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS totalprice,
             CAST(CAST(tq AS VARCHAR) AS DOUBLE) AS total_qty
      FROM orders JOIN big ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
    """,
    "disjunctive_revenue": """
      SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#4' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#19' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
    """,
    "customer_distribution": """
      WITH pc AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN
          (SELECT o_orderkey, o_custkey FROM orders
           WHERE o_orderpriority <> '4-NOT SPECIFIED') o
          ON c_custkey = o_custkey
        GROUP BY c_custkey)
      SELECT c_count, count(*) AS custdist FROM pc GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC
    """,
    "top_supplier": """
      WITH r AS (SELECT l_suppkey AS supplier_no,
                        sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS total_rev
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate < TIMESTAMP '1996-04-01'
                 GROUP BY 1)
      SELECT s_suppkey AS suppkey, s_name AS name,
             CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS total_revenue
      FROM r JOIN supplier ON s_suppkey = supplier_no
      WHERE total_rev = (SELECT max(total_rev) FROM r)
      ORDER BY suppkey
    """,
    "small_qty_revenue": """
      WITH j AS (SELECT l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
                        CAST(l_extendedprice AS DECIMAL(12,2)) AS ep
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 WHERE p_brand = 'Brand#3'),
      pp AS (SELECT l_partkey AS agg_partkey, sum(qty) AS sum_qty,
                    count(*) AS cnt_qty
             FROM j GROUP BY 1)
      SELECT CAST(CAST(sum(ep) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
             count(*) AS n_lines
      FROM j JOIN pp ON l_partkey = agg_partkey
      WHERE qty * CAST(5 AS DECIMAL(3,0)) * CAST(cnt_qty AS DECIMAL(10,0)) < sum_qty
    """,
    "waiting_suppliers": """
      WITH lo AS (SELECT l_orderkey, l_suppkey,
                         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_orderstatus = 'F'),
      per AS (SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
                     max(CASE WHEN late THEN l_suppkey END) AS late_supp
              FROM lo GROUP BY 1)
      SELECT s_suppkey AS suppkey, s_name AS name, count(*) AS numwait
      FROM per JOIN supplier ON s_suppkey = late_supp
      WHERE n_supp >= 2 AND n_late = 1
      GROUP BY 1, 2
      ORDER BY numwait DESC, suppkey ASC
      LIMIT 25
    """,
    "product_profit": """
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                         - CAST(p_retailprice AS DECIMAL(12,2))
                           * CAST(0.6 AS DECIMAL(4,2))
                           * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
      ORDER BY nation, o_year DESC
    """,
    "supplier_part_counts": """
      WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      SELECT p_brand AS brand, p_type AS type, p_size AS size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM pairs JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#1' AND p_size <= 25
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, brand, type, size
    """,
    "dominant_suppliers": """
      WITH j AS (SELECT l_partkey, l_suppkey,
                        CAST(l_quantity AS DECIMAL(12,2)) AS qty
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 WHERE p_name LIKE '%red%' AND year(l_shipdate) = 1997),
      ps AS (SELECT l_partkey, l_suppkey, sum(qty) AS sq FROM j GROUP BY 1, 2),
      tot AS (SELECT l_partkey AS tp, sum(sq) AS total_q, count(*) AS n_supp
              FROM ps GROUP BY 1),
      dom AS (SELECT DISTINCT l_suppkey FROM ps JOIN tot ON l_partkey = tp
              WHERE n_supp >= 2 AND sq * CAST(2 AS DECIMAL(2,0)) > total_q)
      SELECT s_suppkey AS suppkey, s_name AS name, n_name AS nation
      FROM dom JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      ORDER BY suppkey
    """,
    "volume_shipping": """
      WITH two AS (SELECT n_nationkey, n_name FROM nation
                   WHERE n_name IN ('NATION_1', 'NATION_2'))
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN supplier s ON l_suppkey = s_suppkey
      JOIN two sn ON s.s_nationkey = sn.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer c ON o_custkey = c_custkey
      JOIN two cn ON c.c_nationkey = cn.n_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2, 3
    """,
    "market_share": """
      WITH cr AS (SELECT c_custkey FROM customer
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
                  WHERE r_name = 'ASIA'),
      j AS (SELECT year(o_orderdate) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) AS rev,
                   n_name AS supp_nation
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cr ON o_custkey = c_custkey)
      SELECT CAST(o_year AS BIGINT) AS o_year,
             CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                           THEN CAST(rev AS DECIMAL(16,6))
                           ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE)
               AS nation_revenue,
             CAST(CAST(sum(rev) AS VARCHAR) AS DOUBLE) AS total_revenue,
             round(CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                           THEN CAST(rev AS DECIMAL(16,6))
                           ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(sum(rev) AS VARCHAR) AS DOUBLE), 6) AS mkt_share
      FROM j GROUP BY 1
    """,
    "revenue_by_nation": """
      SELECT n_name,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
        count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name
    """,
    "top_customers": """
      SELECT c_custkey AS custkey, c_name AS name, revenue, n_orders FROM (
        SELECT o_custkey,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey)
      JOIN customer ON o_custkey = c_custkey
      ORDER BY revenue DESC, custkey ASC LIMIT 10
    """,
    "customer_order_ranks": """
      SELECT custkey, orderkey, totalprice, rn FROM (
        SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        FROM orders)
      WHERE rn <= 3
    """,
    "user_retention": """
      WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort FROM events GROUP BY 1),
      a AS (SELECT DISTINCT e.user_id, f.cohort, CAST(e.ts AS DATE) AS act_day
            FROM events e JOIN f USING (user_id))
      SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
             CAST(act_day - cohort AS BIGINT) AS day_offset,
             count(*) AS n_users
      FROM a GROUP BY 1, 2
    """,
    "cheapest_supplier": """
      WITH offers AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice) AS offer
        FROM lineitem GROUP BY 1, 2),
      r AS (
        SELECT l_partkey, offer, l_suppkey,
               row_number() OVER (PARTITION BY l_partkey
                 ORDER BY offer ASC, l_suppkey ASC) AS rn
        FROM offers)
      SELECT r.l_partkey AS p_partkey, r.offer AS best_price,
             r.l_suppkey AS s_suppkey, s.s_name, n.n_name
      FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
             JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE rn = 1
    """,
    "nation_market_share": """
      WITH j AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) AS dp,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'),
      a AS (
        SELECT o_year, sum(dp) AS total_dec,
               sum(CASE WHEN supp_nation = 'NATION_2' THEN dp
                        ELSE CAST(0 AS DECIMAL(21,6)) END) AS nation_dec
        FROM j GROUP BY 1)
      SELECT o_year,
             CAST(CAST(total_dec AS VARCHAR) AS DOUBLE) AS total_revenue,
             CAST(CAST(nation_dec AS VARCHAR) AS DOUBLE) AS nation_revenue,
             round(CAST(CAST(nation_dec AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(total_dec AS VARCHAR) AS DOUBLE), 6) AS mkt_share
      FROM a
    """,
    "events_last_per_user": """
      WITH r AS (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
      SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
             event_id, event_type, value, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rn = 1
    """,
    "segment_event_stats": """
      SELECT c_mktsegment, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1
    """,
    "events_hourly": """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             event_type, count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """,
    "purchase_attribution": _PURCHASE_ATTRIBUTION,
    "attribution_summary": f"""
      WITH att AS ({_PURCHASE_ATTRIBUTION})
      SELECT first_touch, count(*) AS n_purchases,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS total_revenue
      FROM att GROUP BY first_touch
      ORDER BY n_purchases DESC, first_touch
    """,
    "customer_rfm": """
      WITH ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
      per AS (SELECT o_custkey AS custkey,
                CAST(min(date_diff('day', CAST(o_orderdate AS DATE),
                                   CAST(ref_date AS DATE))) AS BIGINT) AS recency_days,
                count(*) AS frequency,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                     AS DOUBLE) AS monetary
              FROM orders CROSS JOIN ref GROUP BY 1),
      sc AS (SELECT *,
              CAST(6 - ntile(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS BIGINT) AS r_score,
              CAST(6 - ntile(5) OVER (ORDER BY frequency DESC, custkey ASC) AS BIGINT) AS f_score,
              CAST(6 - ntile(5) OVER (ORDER BY monetary DESC, custkey ASC) AS BIGINT) AS m_score
             FROM per)
      SELECT custkey, recency_days, frequency, round(monetary, 2) AS monetary,
             r_score, f_score, m_score,
             concat(r_score, f_score, m_score) AS rfm_cell,
             CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                  WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                  WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                  ELSE 'regular' END AS segment
      FROM sc
    """,
    "events_cusum": """
      WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                            count(*) AS cnt
                     FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, count(*) AS n,
                    sum(cnt) AS s1, sum(cnt * cnt) AS s2
             FROM daily GROUP BY 1),
      j AS (SELECT d.event_type, d.day, d.cnt,
                   CAST(round((CAST(cnt AS DOUBLE)
                          - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         / sqrt((CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                   / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)), 9)
                        AS DECIMAL(20,9))
                   - CAST('0.5' AS DECIMAL(20,9)) AS y
            FROM daily d JOIN st USING (event_type)),
      pw AS (SELECT event_type, day, cnt,
                    sum(y) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
             FROM j),
      mw AS (SELECT event_type, day, cnt, p,
                    -- CASE, not least(): DuckDB's least() promotes
                    -- DECIMAL args to DOUBLE and reintroduces dust
                    CASE WHEN mp < CAST('0' AS DECIMAL(38,9)) THEN mp
                         ELSE CAST('0' AS DECIMAL(38,9)) END AS m
             FROM (SELECT *, min(p) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mp
                   FROM pw))
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day_s, cnt,
             CAST(CAST(p - m AS VARCHAR) AS DOUBLE) AS cusum,
             (p - m) > CAST('4.0' AS DECIMAL(20,9)) AS alert
      FROM mw
    """,
    "user_value_twap": """
      WITH d AS (
        SELECT user_id, value,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC) - epoch_us(ts) AS dur
        FROM events)
      SELECT user_id,
             CAST(sum(dur) AS BIGINT) AS active_us,
             round(CAST(CAST(sum(CAST(value AS DECIMAL(10,2))
                                 * CAST(dur AS DECIMAL(16,0))) AS VARCHAR) AS DOUBLE)
                   / CAST(sum(dur) AS DOUBLE), 6) AS twap
      FROM d WHERE dur IS NOT NULL GROUP BY user_id
    """,
    "session_concurrency": """
      WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                    - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                          ORDER BY ts ASC, event_id ASC))) AS BIGINT)
                    IS DISTINCT FROM NULL
                AND CAST(floor(epoch(ts)) AS BIGINT)
                    - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                          ORDER BY ts ASC, event_id ASC))) AS BIGINT) <= 1800
               THEN 0 ELSE 1 END AS chg
        FROM events),
      i AS (SELECT user_id, ts, sum(chg) OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM g),
      sess AS (SELECT user_id, island, min(ts) AS s, max(ts) AS e
               FROM i GROUP BY 1, 2),
      seg AS (SELECT unnest(generate_series(date_trunc('day', s),
                       date_trunc('day', e), INTERVAL 1 DAY)) AS day, s, e
              FROM sess),
      clip AS (SELECT day, greatest(s, day) AS a,
                      least(e, day + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND) AS b
               FROM seg),
      pts AS (SELECT day, ts, sum(cs) AS cs, sum(ce) AS ce FROM (
                SELECT day, a AS ts, 1 AS cs, 0 AS ce FROM clip
                UNION ALL
                SELECT day, b, 0, 1 FROM clip)
              GROUP BY 1, 2),
      pk AS (SELECT day, cs,
               coalesce(sum(cs - ce) OVER (PARTITION BY day ORDER BY ts ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cs AS peak
             FROM pts)
      SELECT strftime(day, '%Y-%m-%d') AS day_s,
             CAST(sum(cs) AS BIGINT) AS n_sessions,
             CAST(max(peak) AS BIGINT) AS max_concurrent
      FROM pk GROUP BY day
    """,
    "events_sessionize": """
      WITH g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC))) AS BIGINT) AS gap
        FROM events)
      SELECT user_id,
             CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             count(*) AS n_events
      FROM g GROUP BY user_id
    """,
    # gaps-and-islands rewrite of the native session_window operator:
    # new session when the per-user gap is >= 30 min (session_window's
    # half-open [start, last+gap) boundary); end = last event + gap
    "events_session_window": """
      WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      i AS (
        SELECT user_id, ts, event_type,
               sum(s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM g)
      SELECT user_id,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(max(ts) + INTERVAL 30 MINUTE,
                      '%Y-%m-%d %H:%M:%S') AS session_end,
             count(*) AS n_events,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      FROM i GROUP BY user_id, island
    """,
    # grouped-map least-squares slope == closed-form regr_slope over
    # the same (hour-rank, count) points; verified bit-stable at 6dp
    "events_type_trend": """
      WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
                 FROM events GROUP BY 1, 2),
      x AS (SELECT event_type, CAST(n AS DOUBLE) AS y,
                   CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY hour) - 1 AS DOUBLE) AS x
            FROM h)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             round(regr_slope(y, x), 6) AS slope_per_hour
      FROM x GROUP BY event_type
    """,
    "events_json_stats": """
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type
    """,
    "order_priority_backlog": """
      SELECT o_orderpriority AS priority, count(*) AS n_backlogged
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1
    """,
    "returned_items": """
      WITH pc AS (
        SELECT o_custkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS rev_dec
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY 1
      )
      SELECT c_custkey AS custkey, c_name AS name, n_name AS nation,
             CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS returned_revenue
      FROM pc
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      ORDER BY returned_revenue DESC, custkey ASC
      LIMIT 20
    """,
    "important_parts": """
      WITH pv AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS val_dec
        FROM lineitem GROUP BY 1
      ),
      w AS (SELECT l_partkey, val_dec, sum(val_dec) OVER () AS tot_dec,
                   count(*) OVER () AS n_parts FROM pv)
      SELECT l_partkey AS partkey,
             CAST(CAST(val_dec AS VARCHAR) AS DOUBLE) AS part_value,
             round(CAST(CAST(val_dec AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(tot_dec AS VARCHAR) AS DOUBLE), 9) AS value_share
      FROM w
      WHERE CAST(CAST(val_dec AS VARCHAR) AS DOUBLE)
            > 1.5 * CAST(CAST(tot_dec AS VARCHAR) AS DOUBLE) / n_parts
    """,
    "promo_revenue": """
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                         AS DECIMAL(16,6))
                    ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE) AS promo_revenue,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS total_revenue,
             round(CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                         AS DECIMAL(16,6))
                    ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE), 6) AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    """,
    "sales_opportunity": """
      WITH a AS (
        SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0
      )
      SELECT c_mktsegment AS segment, count(*) AS n_customers,
             CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_balance
      FROM customer, a
      WHERE CAST(c_acctbal AS DOUBLE) > avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '1998-06-01')
      GROUP BY 1
    """,
}
