"""DuckDB SQL generators shared by the oracle modules (ANN, dedup, BPE,
k-means, PQ and sampling oracles).
"""

from __future__ import annotations

from .shared import (
    LANG_MARKERS,
    _SQL_TOKS,
    _sql_shingles,
    _sql_toks,
    lsh_planes,
)



# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _lang_hits_sql() -> str:
    hit_exprs = ",\n      ".join(
        "CAST(len(list_filter(toks, t -> t IN ({vals}))) AS BIGINT) AS hits_{lang}".format(
            vals=", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang=lang
        )
        for lang in sorted(LANG_MARKERS)
    )
    langs = sorted(LANG_MARKERS)
    m = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN hits_{lang} = {m} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
      WITH t AS ({_SQL_TOKS}),
      h AS (SELECT doc_id, lang, {hit_exprs} FROM t)
      SELECT doc_id, lang, {", ".join(f"hits_{lang}" for lang in langs)},
             {pred} AS pred_lang
      FROM h
    """


def _bucket_terms_sql(num_planes: int = 8, dim: int = 64) -> str:
    """The deterministic LSH bucket id as a SQL expression over a
    DOUBLE[] column named dvec -- the exact twin of
    operators.similarity._bucket_col."""
    planes = lsh_planes(num_planes, dim)
    return " + ".join(
        "(CASE WHEN list_dot_product(dvec, [{w}]) >= 0 THEN {p2} ELSE 0 END)".format(
            w=", ".join(repr(x) for x in plane), p2=2**p
        )
        for p, plane in enumerate(planes)
    )


def _banded_bb_sql(bands: int = 24, rows_per_band: int = 5, dim: int = 64) -> str:
    """Banded-LSH (band, bucket) rows as a SQL CTE body over the `v`
    CTE (vec_id, dvec) -- the exact twin of
    operators.similarity.with_lsh_bands: band b uses planes
    [b*r, (b+1)*r) of the splitmix64 sequence, bucket = per-band
    local sign bits (2^0..2^(r-1)). Defaults track with_lsh_bands
    (24x5 as of round 9)."""
    planes = lsh_planes(bands * rows_per_band, dim)
    selects = []
    for b in range(bands):
        band_planes = planes[b * rows_per_band : (b + 1) * rows_per_band]
        terms = " + ".join(
            "(CASE WHEN list_dot_product(dvec, [{w}]) >= 0 THEN {p2} ELSE 0 END)".format(
                w=", ".join(repr(x) for x in plane), p2=2**p
            )
            for p, plane in enumerate(band_planes)
        )
        selects.append(
            f"SELECT vec_id, dvec, {b} AS band, CAST({terms} AS BIGINT) AS bucket FROM v"
        )
    return "\n      UNION ALL ".join(selects)


def _banded_pairs_sql(min_cosine: float = 0.35) -> str:
    """DISTINCT banded-LSH candidate pairs with rounded cosine -- the
    oracle body shared by embedding_dup_pairs_lsh and the mutual-NN
    scale twin."""
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      bb AS ({_banded_bb_sql()}),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b,
               round(list_cosine_similarity(a.dvec, c.dvec), 6) AS cosine
        FROM bb a JOIN bb c USING (band, bucket)
        WHERE a.vec_id < c.vec_id),
      pairs AS (SELECT * FROM cand WHERE cosine >= {min_cosine})"""


def _ann_lsh_banded_sql(
    bands: int = 64,
    rows_per_band: int = 7,
    dim: int = 64,
    n_queries: int = 10,
    k: int = 5,
) -> str:
    """Oracle twin of operators.similarity.ann_lsh_banded_topk:
    OR-of-ANDs banded candidates (collide in ANY band), DISTINCT at
    candidate grain, exact-cosine re-rank top-k. Defaults track
    ANN_BANDS x ANN_ROWS_PER_BAND (64x7 as of round 9)."""
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      bb AS ({_banded_bb_sql(bands, rows_per_band, dim)}),
      qb AS (SELECT vec_id AS query_id, band, bucket FROM bb WHERE vec_id < {n_queries}),
      cand AS (SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id
               FROM qb q JOIN bb e USING (band, bucket)
               WHERE e.vec_id <> q.query_id),
      s AS (SELECT c.query_id, c.neighbor_id,
                   round(list_cosine_similarity(qv.dvec, ev.dvec), 6) AS cosine
            FROM cand c JOIN v qv ON qv.vec_id = c.query_id
                        JOIN v ev ON ev.vec_id = c.neighbor_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {k}
    """


def _ann_lsh_sql(num_planes: int = 8, dim: int = 64, n_queries: int = 10, k: int = 5) -> str:
    bucket_terms = _bucket_terms_sql(num_planes, dim)
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      b AS (SELECT vec_id, dvec, CAST({bucket_terms} AS BIGINT) AS bucket FROM v),
      q AS (SELECT vec_id AS query_id, dvec AS qvec, bucket FROM b WHERE vec_id < {n_queries}),
      s AS (SELECT q.query_id, q.bucket, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.qvec, e.dvec), 6) AS cosine
            FROM q JOIN b e USING (bucket) WHERE e.vec_id <> q.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, bucket, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {k}
    """


def _ann_lsh_multiprobe_sql(
    num_planes: int = 8, dim: int = 64, n_queries: int = 10, k: int = 5
) -> str:
    """Oracle twin of operators.similarity.ann_lsh_multiprobe_topk:
    probe masks = 0 (own bucket) + one-bit flips, unrolled as
    literals so the probe set is byte-for-byte in the SQL."""
    bucket_terms = _bucket_terms_sql(num_planes, dim)
    masks = ", ".join(str(m) for m in [0] + [1 << i for i in range(num_planes)])
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      b AS (SELECT vec_id, dvec, CAST({bucket_terms} AS BIGINT) AS bucket FROM v),
      q AS (SELECT vec_id AS query_id, dvec AS qvec, bucket AS qbucket
            FROM b WHERE vec_id < {n_queries}),
      p AS (SELECT query_id, qvec, xor(qbucket, m.m) AS bucket
            FROM q, (SELECT unnest([{masks}]) AS m) m),
      s AS (SELECT p.query_id, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.qvec, e.dvec), 6) AS cosine
            FROM p JOIN b e USING (bucket) WHERE e.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {k}
    """


def _projection_sql() -> str:
    """Oracle twin of operators.projection.project_embeddings: the
    identical splitmix64-mixed plane literals (round 9 randomness
    fix), list_dot_product's sequential double fold == Spark's
    zip_with/aggregate fold."""
    from ..operators.projection import projection_planes

    cols = ",\n             ".join(
        "round(list_dot_product(dvec, [{w}]), 6) AS p{p}".format(
            w=", ".join(repr(x) for x in plane), p=p
        )
        for p, plane in enumerate(projection_planes())
    )
    return f"""
      SELECT vec_id,
             {cols}
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings)
    """


# One k-token shingle per ROW (with duplicates), matching
# operators.dedup.shingle_rows -- the MinHash input.
def _sql_sh_rows(table: str = "documents") -> str:
    return f"""
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM ({_sql_toks(table)}) WHERE len(toks) >= 3
"""


def _minhash_pairs_sql(
    num_perm: int = 16, bands: int = 8, min_est: float = 0.3, table: str = "documents"
) -> str:
    """Oracle twin of operators.dedup.minhash_near_dup_pairs: the
    identical md5-prefix base hash, the identical LCG permutation
    literals (minhash_perm_constants), the identical md5-prefix band
    hash -- integer arithmetic end-to-end, so signatures, band
    buckets, candidate pairs, and both Jaccard columns reproduce
    exactly."""
    from ..operators.dedup import MINHASH_PRIME, minhash_perm_constants

    rows_per_band = num_perm // bands
    sig_aggs = ",\n               ".join(
        f"min(({a} * hb + {b}) % {MINHASH_PRIME}) AS h{p}"
        for p, (a, b) in enumerate(minhash_perm_constants())
    )
    band_selects = "\n        UNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, CAST(concat('0x', substr(md5("
        "concat_ws(',', {parts})), 1, 15)) AS BIGINT) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(
                f"CAST(h{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    est_sum = " + ".join(
        f"CASE WHEN sa.h{p} = sb.h{p} THEN 1 ELSE 0 END" for p in range(num_perm)
    )
    return f"""
      WITH hb_rows AS (
        SELECT doc_id, CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS hb
        FROM ({_sql_sh_rows(table)})
      ),
      sig AS (SELECT doc_id, {sig_aggs} FROM hb_rows GROUP BY doc_id),
      banded AS (
        {band_selects}
      ),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM banded a JOIN banded b
                 ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id),
      shs AS ({_sql_shingles(table)}),
      p AS (SELECT doc_a, doc_b,
                   round(({est_sum}) / {num_perm}.0, 6) AS est_jaccard,
                   round(len(list_intersect(ja.shset, jb.shset))
                         / len(list_distinct(list_concat(ja.shset, jb.shset))), 6) AS jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = cand.doc_a
            JOIN sig sb ON sb.doc_id = cand.doc_b
            JOIN shs ja ON ja.doc_id = cand.doc_a
            JOIN shs jb ON jb.doc_id = cand.doc_b)
      SELECT doc_a, doc_b, est_jaccard, jaccard FROM p WHERE est_jaccard >= {min_est}
    """


def _simhash_sql() -> str:
    """Oracle twin of operators.dedup.simhash_fp: 60 bit-count sums
    over the md5-prefix token hash, majority vote per bit, disjoint
    bit reassembly -- exact integers cross-engine."""
    from ..operators.dedup import SIMHASH_BITS

    sums = ",\n               ".join(
        f"sum((h >> {i}) & 1) AS s{i}" for i in range(SIMHASH_BITS)
    )
    fp = "\n               + ".join(
        f"(CASE WHEN 2 * s{i} > n THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
      WITH t AS (SELECT doc_id, unnest(toks) AS tok FROM ({_SQL_TOKS})),
      h AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
            FROM t),
      a AS (SELECT doc_id, count(*) AS n, {sums} FROM h GROUP BY doc_id)
      SELECT doc_id,
             CAST({fp} AS BIGINT) AS simhash
      FROM a
    """


def _simhash_pairs_sql(max_hamming: int = 8) -> str:
    """Brute-force all-pairs Hamming oracle: the banded Spark plan
    guarantees FULL recall at the threshold (pigeonhole) and filters
    on the exact distance, so banded == brute force exactly."""
    return f"""
      WITH f AS ({_simhash_sql()})
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM f a JOIN f b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _dedup_clusters_sql() -> str:
    """Recursive-CTE transitive min-label closure over the SAME
    MinHash pair graph _minhash_pairs_sql reproduces -- the iterative
    label_propagation loop, oracle-checked end to end."""
    return f"""
      WITH RECURSIVE base AS (
        SELECT doc_a, doc_b FROM ({_minhash_pairs_sql()})
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
    """


def _kmeans_assign_cte(name: str, cents: str, src: str = "v") -> str:
    """One Lloyd assignment round as a CTE: per-vector argmin of
    ||c||^2 - 2 v.c over the current centroids, ties to the smallest
    cell -- exactly operators.kmeans._assign's array_min(struct)."""
    obj = (
        "list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(v.dvec, c.cvec)"
    )
    return f"""
      {name} AS (
        SELECT vec_id, dvec, cell, obj FROM (
          SELECT v.vec_id, v.dvec, c.cell, {obj} AS obj,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {obj} ASC, c.cell ASC) AS rn
          FROM {src} v CROSS JOIN {cents} c)
        WHERE rn = 1
      )"""


def _kmeans_means_cte(name: str, assigned: str) -> str:
    """One Lloyd update round: per-(cell, dim) exact decimal-sum mean
    (the order-independent recipe of operators.kmeans._centroids_from
    / similarity.ivf_centroids), reassembled into ordered arrays."""
    return f"""
      {name} AS (
        SELECT cell, list(c ORDER BY idx ASC) AS cvec FROM (
          SELECT cell, idx,
                 CAST(CAST(sum(CAST(dvec[idx] AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE)
                   / count(*) AS c
          FROM (SELECT cell, dvec, unnest(range(1, len(dvec) + 1)) AS idx
                FROM {assigned})
          GROUP BY cell, idx)
        GROUP BY cell
      )"""


def _kmeans_ctes(k: int = 8, n_iter: int = 3, src: str = "v", prefix: str = "") -> str:
    """The full unrolled Lloyd fit as a WITH-clause body: seeds =
    smallest k vec_ids, n_iter (assign, update) rounds, final
    assignment in CTE `{prefix}fin`. Every arithmetic step is either
    exact integers/decimals or the same sequential double fold in
    both engines, so the iterative algorithm reproduces bit-for-bit.
    `src`/`prefix` let product quantization unroll one independent
    fit per subspace in a single statement."""
    ctes = [
        f"""
      {prefix}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS BIGINT) AS cell,
                    dvec AS cvec
             FROM (SELECT vec_id, dvec FROM {src} ORDER BY vec_id ASC LIMIT {k}))"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(_kmeans_assign_cte(f"{prefix}a{i}", f"{prefix}c{i - 1}", src))
        ctes.append(_kmeans_means_cte(f"{prefix}c{i}", f"{prefix}a{i}"))
    ctes.append(_kmeans_assign_cte(f"{prefix}fin", f"{prefix}c{n_iter}", src))
    return ",".join(ctes)


_SQL_EMB_V = "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings)"


def _kmeans_cells_sql(k: int = 8, n_iter: int = 3) -> str:
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes(k, n_iter)}
      SELECT vec_id, cell, round(obj, 6) AS obj FROM fin
    """


def _ann_ivf_kmeans_sql(
    k: int = 8, n_iter: int = 3, n_queries: int = 10, n_probe: int = 2, topk: int = 5
) -> str:
    """IVF serve plan over the LEARNED k-means cells: the unrolled
    Lloyd fit above assigns the inverted lists, then the identical
    probe/rank SQL as the ann_ivf oracle (decimal-mean serve
    centroids over the final assignment)."""
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes(k, n_iter)},{_kmeans_means_cte("sc", "fin")},
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {n_queries}),
      qc AS (SELECT q.query_id, q.qvec, c.cell,
                    list_cosine_similarity(q.qvec, c.cvec) AS csim
             FROM q CROSS JOIN sc c),
      probes AS (SELECT query_id, qvec, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY csim DESC, cell ASC) AS pr FROM qc) WHERE pr <= {n_probe}),
      s AS (SELECT p.query_id, p.cell, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.qvec, e.dvec), 6) AS cosine
            FROM probes p JOIN fin e ON e.cell = p.cell
            WHERE e.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, cell, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {topk}
    """


def _pq_ctes(
    m: int = 4, k: int = 4, n_iter: int = 2, dim: int = 64, src: str | None = None
) -> str:
    """WITH-body for product quantization: one independent unrolled
    Lloyd fit per dim/m-wide subspace slice (operators.quantization
    pq_fit/pq_codes twins). Subspace j's final assignment lands in
    CTE s{j}_fin (vec_id, dvec = the slice, cell, obj). Pass `src`
    to quantize another (vec_id, dvec) CTE -- e.g. the residuals in
    the IVFADC oracle -- instead of the raw embeddings."""
    w = dim // m
    ctes = [] if src else [_SQL_EMB_V]
    src = src or "v"
    for j in range(m):
        ctes.append(
            f"""
      v{j} AS (SELECT vec_id, list_slice(dvec, {j * w + 1}, {j * w + w}) AS dvec FROM {src})"""
        )
        ctes.append(_kmeans_ctes(k, n_iter, src=f"v{j}", prefix=f"s{j}_"))
    return ",".join(ctes)


def _pq_codes_sql(m: int = 4, k: int = 4, n_iter: int = 2, dim: int = 64) -> str:
    """Oracle twin of pq_codes, projected to scalar code columns
    c0..c{m-1} (the driver's canonicalizer cannot hash arrays)."""
    code_cols = ",\n             ".join(f"f{j}.cell AS c{j}" for j in range(m))
    err = "\n               + ".join(
        f"(list_dot_product(f{j}.dvec, f{j}.dvec) + f{j}.obj)" for j in range(m)
    )
    joins = "\n      ".join(
        f"JOIN s{j}_fin f{j} ON f{j}.vec_id = v.vec_id" for j in range(m)
    )
    return f"""
      WITH {_pq_ctes(m, k, n_iter, dim)}
      SELECT v.vec_id,
             {code_cols},
             round({err}, 6) AS recon_err
      FROM v
      {joins}
    """


def _pq_search_sql(
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    n_queries: int = 10,
    topk: int = 5,
) -> str:
    """Oracle twin of pq_adc_topk: per-query lookup table of
    subspace-to-codeword squared distances, ADC sum as exact
    decimals, rank with deterministic tie-break."""
    w = dim // m
    cents_union = "\n        UNION ALL\n".join(
        f"SELECT {j} AS j, cell AS code, cvec FROM s{j}_c{n_iter}" for j in range(m)
    )
    codes_union = "\n        UNION ALL\n".join(
        f"SELECT vec_id, {j} AS j, cell AS code FROM s{j}_fin" for j in range(m)
    )
    return f"""
      WITH {_pq_ctes(m, k, n_iter, dim)},
      cents AS (
        {cents_union}
      ),
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {n_queries}),
      qt1 AS (SELECT q.query_id, c.j, c.code, c.cvec,
                     list_slice(q.qvec, c.j * {w} + 1, c.j * {w} + {w}) AS qs
              FROM q CROSS JOIN cents c),
      qt AS (SELECT query_id, j, code, list_dot_product(d, d) AS d2
             FROM (SELECT *, list_transform(range(1, {w} + 1), i -> qs[i] - cvec[i]) AS d
                   FROM qt1)),
      ce AS (
        {codes_union}
      ),
      sc AS (SELECT qt.query_id, ce.vec_id,
                    CAST(CAST(sum(CAST(d2 AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE) AS adc
             FROM ce JOIN qt ON qt.j = ce.j AND qt.code = ce.code
             WHERE ce.vec_id <> qt.query_id
             GROUP BY qt.query_id, ce.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc ASC, vec_id ASC) AS rank FROM sc)
      SELECT query_id, vec_id AS neighbor_id, round(adc, 6) AS adc_dist,
             CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {topk}
    """


def _ivfpq_sql(
    coarse_k: int = 8,
    coarse_iter: int = 3,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    n_queries: int = 10,
    n_probe: int = 2,
    topk: int = 5,
) -> str:
    """Oracle twin of quantization.ivfpq_topk: coarse unrolled Lloyd
    (prefix g_) routes queries to n_probe cells; the per-subspace PQ
    fits supply codes; the ADC scan is restricted to probed cells."""
    w = dim // m
    cents_union = "\n        UNION ALL\n".join(
        f"SELECT {j} AS j, cell AS code, cvec FROM s{j}_c{n_iter}" for j in range(m)
    )
    codes_union = "\n        UNION ALL\n".join(
        f"SELECT vec_id, {j} AS j, cell AS code FROM s{j}_fin" for j in range(m)
    )
    return f"""
      WITH {_pq_ctes(m, k, n_iter, dim)},{_kmeans_ctes(coarse_k, coarse_iter, src="v", prefix="g_")},
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {n_queries}),
      qc AS (SELECT q.query_id, c.cell,
                    list_dot_product(c.cvec, c.cvec)
                      - 2 * list_dot_product(q.qvec, c.cvec) AS obj
             FROM q CROSS JOIN g_c{coarse_iter} c),
      probes AS (SELECT query_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY obj ASC, cell ASC) AS pr FROM qc)
        WHERE pr <= {n_probe}),
      cents AS (
        {cents_union}
      ),
      qt1 AS (SELECT q.query_id, c.j, c.code, c.cvec,
                     list_slice(q.qvec, c.j * {w} + 1, c.j * {w} + {w}) AS qs
              FROM q CROSS JOIN cents c),
      qt AS (SELECT query_id, j, code, list_dot_product(d, d) AS d2
             FROM (SELECT *, list_transform(range(1, {w} + 1), i -> qs[i] - cvec[i]) AS d
                   FROM qt1)),
      ce AS (
        {codes_union}
      ),
      ce2 AS (SELECT ce.vec_id, g.cell AS gcell, ce.j, ce.code
              FROM ce JOIN g_fin g USING (vec_id)),
      sc AS (SELECT p.query_id, ce2.vec_id,
                    CAST(CAST(sum(CAST(qt.d2 AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE) AS adc
             FROM ce2
             JOIN probes p ON p.cell = ce2.gcell
             JOIN qt ON qt.query_id = p.query_id AND qt.j = ce2.j AND qt.code = ce2.code
             WHERE ce2.vec_id <> p.query_id
             GROUP BY p.query_id, ce2.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc ASC, vec_id ASC) AS rank FROM sc)
      SELECT query_id, vec_id AS neighbor_id, round(adc, 6) AS adc_dist,
             CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {topk}
    """


def _duplicate_spans_sql(k: int = 8, min_count: int = 2) -> str:
    """Oracle twin of curation.duplicate_spans: positioned k-gram
    windows via struct unnest, repeated-window marking, and the same
    gaps-and-islands merge (running max of ends -> gap flag ->
    running sum as island id)."""
    return f"""
      WITH t AS ({_SQL_TOKS}),
      s AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {k} + 2),
                     i -> struct_pack(pos := i - 1,
                            sh := array_to_string(list_slice(toks, i, i + {k} - 1), ' '))))
                   AS u
            FROM t WHERE len(toks) >= {k}),
      e AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.sh AS sh FROM s),
      d AS (SELECT sh FROM e GROUP BY sh HAVING count(*) >= {min_count}),
      marked AS (SELECT doc_id, pos FROM e JOIN d USING (sh)),
      x AS (SELECT doc_id, pos, pos + {k} AS e_pos,
                   max(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
            FROM marked),
      f AS (SELECT *, CASE WHEN run_max IS NULL OR pos > run_max
                           THEN 1 ELSE 0 END AS flag FROM x),
      g AS (SELECT *, sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM f)
      SELECT doc_id,
             min(pos) AS span_start,
             max(e_pos) AS span_end,
             max(e_pos) - min(pos) AS n_tokens
      FROM g GROUP BY doc_id, island
    """


def _ivfpq_residual_sql(
    coarse_k: int = 8,
    coarse_iter: int = 3,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    n_queries: int = 10,
    n_probe: int = 2,
    topk: int = 5,
) -> str:
    """Oracle twin of quantization.ivfpq_residual_topk (IVFADC): PQ
    fits run over residuals v - coarse_centroid(cell); the lookup
    table is per-(query, probed cell) against the query residual."""
    w = dim // m
    cents_union = "\n        UNION ALL\n".join(
        f"SELECT {j} AS j, cell AS code, cvec FROM s{j}_c{n_iter}" for j in range(m)
    )
    codes_union = "\n        UNION ALL\n".join(
        f"SELECT vec_id, {j} AS j, cell AS code FROM s{j}_fin" for j in range(m)
    )
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes(coarse_k, coarse_iter, src="v", prefix="g_")},
      r AS (SELECT f.vec_id,
                   list_transform(range(1, {dim} + 1), i -> f.dvec[i] - c.cvec[i]) AS dvec
            FROM g_fin f JOIN g_c{coarse_iter} c USING (cell)),
      {_pq_ctes(m, k, n_iter, dim, src="r")},
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {n_queries}),
      qc AS (SELECT q.query_id, q.qvec, c.cell, c.cvec,
                    list_dot_product(c.cvec, c.cvec)
                      - 2 * list_dot_product(q.qvec, c.cvec) AS obj
             FROM q CROSS JOIN g_c{coarse_iter} c),
      probes AS (SELECT query_id, cell,
                        list_transform(range(1, {dim} + 1), i -> qvec[i] - cvec[i]) AS qres
                 FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                              ORDER BY obj ASC, cell ASC) AS pr FROM qc)
                 WHERE pr <= {n_probe}),
      cents AS (
        {cents_union}
      ),
      qt1 AS (SELECT p.query_id, p.cell, c.j, c.code, c.cvec AS cwvec,
                     list_slice(p.qres, c.j * {w} + 1, c.j * {w} + {w}) AS qs
              FROM probes p CROSS JOIN cents c),
      qt AS (SELECT query_id, cell, j, code, list_dot_product(d, d) AS d2
             FROM (SELECT *, list_transform(range(1, {w} + 1), i -> qs[i] - cwvec[i]) AS d
                   FROM qt1)),
      ce AS (
        {codes_union}
      ),
      ce2 AS (SELECT ce.vec_id, g.cell, ce.j, ce.code
              FROM ce JOIN g_fin g USING (vec_id)),
      sc AS (SELECT qt.query_id, ce2.vec_id,
                    CAST(CAST(sum(CAST(qt.d2 AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE) AS adc
             FROM ce2
             JOIN qt ON qt.cell = ce2.cell AND qt.j = ce2.j AND qt.code = ce2.code
             WHERE ce2.vec_id <> qt.query_id
             GROUP BY qt.query_id, ce2.vec_id),
      r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc ASC, vec_id ASC) AS rank FROM sc)
      SELECT query_id, vec_id AS neighbor_id, round(adc, 6) AS adc_dist,
             CAST(rank AS BIGINT) AS rank
      FROM r2 WHERE rank <= {topk}
    """


def _semantic_dedup_sql(
    min_cosine: float = 0.35, coarse_k: int = 8, coarse_iter: int = 3
) -> str:
    """Oracle twin of similarity.semantic_dedup: the unrolled Lloyd
    fit supplies the cells; within-cell pairs at rounded cosine >=
    threshold mark the larger id keep=false."""
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes(coarse_k, coarse_iter)},
      n AS (SELECT vec_id, cell, dvec,
                   sqrt(list_dot_product(dvec, dvec)) AS nrm
            FROM fin),
      d AS (SELECT DISTINCT b.vec_id
            FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.dvec, b.dvec) / (a.nrm * b.nrm), 6)
                  >= {min_cosine}),
      r AS (SELECT f.vec_id, f.cell, (d.vec_id IS NULL) AS keep
            FROM fin f LEFT JOIN d ON d.vec_id = f.vec_id)
      SELECT vec_id, cell, keep FROM r
    """


def _curate_documents_sql(min_quality: float = 0.5) -> str:
    """Oracle for the COMPOSED curation pipeline (plans/pipeline.py):
    exact dedup keep-min -> MinHash-cluster near-dup removal (the
    portable pair SQL + recursive-CTE closure, over the exact-deduped
    subset) -> quality gate + annotations. Every stage reuses the
    per-operator oracle expression verbatim."""
    norm = "trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))"
    return f"""
      WITH RECURSIVE
      keep AS (
        SELECT min(doc_id) AS doc_id
        FROM (SELECT doc_id, md5({norm}) AS f FROM documents)
        GROUP BY f
      ),
      docs1 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
      base AS (SELECT doc_a, doc_b FROM ({_minhash_pairs_sql(table="docs1")})),
      ee AS (SELECT doc_a, doc_b FROM base
             UNION ALL
             SELECT doc_b AS doc_a, doc_a AS doc_b FROM base),
      cc AS (
        SELECT doc_a AS doc_id, doc_a AS label FROM ee
        UNION
        SELECT ee.doc_a AS doc_id, cc.label FROM ee JOIN cc ON cc.doc_id = ee.doc_b
      ),
      clusters AS (SELECT doc_id, min(label) AS cluster FROM cc GROUP BY doc_id),
      drop_near AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster),
      t AS (SELECT doc_id, text, lang, source,
                   list_filter(string_split_regex({norm}, '\\s+'), w -> w <> '') AS toks
            FROM docs1
            WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)),
      q AS (SELECT doc_id, text, lang, source,
              round(
                least(len(toks) / 50.0, 1.0) * 0.35
                + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                         / greatest(length(text), 1)) * 0.25
                + (len(list_distinct(toks)) / greatest(len(toks), 1)) * 0.2
                + least(len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) / 5.0, 1.0) * 0.2
              , 6) AS quality,
              CAST(coalesce(list_sum(list_transform(toks,
                    t -> CAST(floor((length(t) + 3) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_tokens,
              md5({norm}) AS fingerprint
            FROM t)
      SELECT doc_id, text, lang, source, quality, n_bpe_tokens, fingerprint
      FROM q WHERE quality >= {min_quality}
    """



def _dsir_sql(rel: str = "documents", target: str = "src0") -> str:
    """DSIR oracle SQL over an arbitrary documents-shaped relation --
    shared by the standalone dsir_weights oracle and the composed
    selection-pipeline oracle (same text, different FROM)."""
    return f"""
      WITH t0 AS (SELECT doc_id, source,
                         list_filter(string_split_regex(trim(lower(
                           regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+'),
                           w -> w <> '') AS toks
                  FROM {rel}),
      tr AS (SELECT doc_id, source, unnest(toks) AS w FROM t0),
      tc AS (SELECT w,
                    sum(CASE WHEN source = '{target}' THEN 1 ELSE 0 END) AS ct,
                    sum(CASE WHEN source = '{target}' THEN 0 ELSE 1 END) AS cr
             FROM tr GROUP BY 1),
      tot AS (SELECT sum(ct) AS nt_t, sum(cr) AS nt_r, count(*) AS v FROM tc),
      ratios AS (SELECT w,
                        CAST(round(ln((ct + 1) / CAST(nt_t + v AS DOUBLE)), 9) AS DECIMAL(13,9))
                      - CAST(round(ln((cr + 1) / CAST(nt_r + v AS DOUBLE)), 9) AS DECIMAL(13,9))
                          AS lr
                 FROM tc CROSS JOIN tot),
      hist AS (SELECT doc_id, w, count(*) AS m FROM tr
               WHERE source <> '{target}' GROUP BY 1, 2),
      logw AS (SELECT h.doc_id, sum(CAST(h.m AS DECIMAL(10,0)) * r.lr) AS s
               FROM hist h JOIN ratios r USING (w) GROUP BY 1)
      SELECT d.doc_id, d.lang, d.source,
             round(CAST(CAST(l.s AS VARCHAR) AS DOUBLE), 6) AS dsir_logw
      FROM logw l JOIN {rel} d USING (doc_id)
    """


def _temperature_sql(rel: str = "documents") -> str:
    """Temperature-membership oracle SQL over an arbitrary
    documents-shaped relation (mT5 alpha=0.5 shares; decimal-exact
    normalizer; content-hash membership)."""
    return f"""
      WITH c AS (SELECT lang, count(*) AS n_g FROM {rel} GROUP BY 1),
      n AS (SELECT count(*) AS n_tot FROM {rel}),
      w AS (SELECT lang, n_g, n_tot,
                   CAST(round(sqrt(CAST(n_g AS DOUBLE) / CAST(n_tot AS DOUBLE)), 12)
                        AS DECIMAL(14,12)) AS t
            FROM c CROSS JOIN n),
      s AS (SELECT CAST(CAST(sum(t) AS VARCHAR) AS DOUBLE) AS s FROM w),
      r AS (SELECT lang,
                   least(CAST(1.0 AS DOUBLE),
                         ((CAST(CAST(t AS VARCHAR) AS DOUBLE) / s.s) * n_tot) / n_g) AS rate
            FROM w CROSS JOIN s)
      SELECT d.doc_id, d.lang, d.source
      FROM {rel} d JOIN r USING (lang)
      WHERE CAST(concat('0x', substr(md5(trim(lower(regexp_replace(d.text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 8)) AS BIGINT)
            / 4294967296.0 < r.rate
    """
