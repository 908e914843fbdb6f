"""DuckDB SQL generators shared by the oracle modules (ANN, dedup, BPE,
k-means, PQ and sampling oracles).
"""

from __future__ import annotations

from .shared import (
    LANG_MARKERS,
    _SQL_TOKS,
    _sql_quality,
    _sql_shingles,
    _sql_toks,
    lsh_planes,
)
from .dedup import SIMHASH_MAX_HAMMING
from .similarity import N_QUERIES
from ..operators.bloom import BITS_PER_SLOT, M, M_LOG2, NUM_HASHES, SLOT_SHIFT
from ..operators.cms import CMS_D, CMS_W, CMS_W_LOG2
from ..operators.curation import SPAN_MIN_COUNT, SPAN_NGRAM_K
from ..operators.dedup import DEFAULT_BANDS, DEFAULT_NUM_PERM, MIN_EST_JACCARD
from ..operators.dsir import TARGET_SOURCE
from ..operators.kmeans import KMEANS_ITER, KMEANS_K
from ..operators.quantization import DEFAULT_PQ_ITER, DEFAULT_PQ_K, DEFAULT_PQ_M
from ..operators.similarity import (
    ANN_BANDS,
    ANN_ROWS_PER_BAND,
    DEFAULT_NUM_PLANES,
    DIM,
    LSH_BANDS,
    LSH_ROWS_PER_BAND,
    MIN_COSINE,
    N_PROBE,
    TOPK,
)
from ..plans.pipeline import MIN_QUALITY


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


def _bucket_terms_sql() -> str:
    """The deterministic LSH bucket id as a SQL expression over a
    DOUBLE[] column named dvec -- the exact twin of
    operators.similarity._bucket_col."""
    planes = lsh_planes(DEFAULT_NUM_PLANES)
    return " + ".join(
        "(CASE WHEN list_dot_product(dvec, [{w}]) >= 0 THEN {p2} ELSE 0 END)".format(
            w=", ".join(repr(x) for x in plane), p2=2**p
        )
        for p, plane in enumerate(planes)
    )


def _banded_bb_sql(
    bands: int = LSH_BANDS, rows_per_band: int = LSH_ROWS_PER_BAND
) -> str:
    """Banded-LSH (band, bucket) rows as a SQL CTE body over the `v`
    CTE (vec_id, dvec) -- the exact twin of
    operators.similarity.with_lsh_bands: band b uses planes
    [b*r, (b+1)*r) of the splitmix64 sequence, bucket = per-band
    local sign bits (2^0..2^(r-1)). The defaults are with_lsh_bands'
    own: LSH_BANDS x LSH_ROWS_PER_BAND."""
    planes = lsh_planes(bands * rows_per_band)
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


def _banded_pairs_sql() -> str:
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
      pairs AS (SELECT * FROM cand WHERE cosine >= {MIN_COSINE})"""


def _ann_lsh_banded_sql(bands: int = ANN_BANDS) -> str:
    """Oracle twin of operators.similarity.ann_lsh_banded_topk:
    OR-of-ANDs banded candidates (collide in ANY band), DISTINCT at
    candidate grain, exact-cosine re-rank top-TOPK. Bands default to
    ANN_BANDS, each of ANN_ROWS_PER_BAND planes."""
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      bb AS ({_banded_bb_sql(bands, ANN_ROWS_PER_BAND)}),
      qb AS (SELECT vec_id AS query_id, band, bucket FROM bb WHERE vec_id < {N_QUERIES}),
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
      FROM r WHERE rank <= {TOPK}
    """


def _ann_lsh_sql() -> str:
    bucket_terms = _bucket_terms_sql()
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      b AS (SELECT vec_id, dvec, CAST({bucket_terms} AS BIGINT) AS bucket FROM v),
      q AS (SELECT vec_id AS query_id, dvec AS qvec, bucket FROM b WHERE vec_id < {N_QUERIES}),
      s AS (SELECT q.query_id, q.bucket, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.qvec, e.dvec), 6) AS cosine
            FROM q JOIN b e USING (bucket) WHERE e.vec_id <> q.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, bucket, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {TOPK}
    """


def _ann_lsh_multiprobe_sql() -> str:
    """Oracle twin of operators.similarity.ann_lsh_multiprobe_topk:
    probe masks = 0 (own bucket) + one-bit flips, unrolled as
    literals so the probe set is byte-for-byte in the SQL."""
    bucket_terms = _bucket_terms_sql()
    masks = ", ".join(str(m) for m in [0] + [1 << i for i in range(DEFAULT_NUM_PLANES)])
    return f"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      b AS (SELECT vec_id, dvec, CAST({bucket_terms} AS BIGINT) AS bucket FROM v),
      q AS (SELECT vec_id AS query_id, dvec AS qvec, bucket AS qbucket
            FROM b WHERE vec_id < {N_QUERIES}),
      p AS (SELECT query_id, qvec, xor(qbucket, m.m) AS bucket
            FROM q, (SELECT unnest([{masks}]) AS m) m),
      s AS (SELECT p.query_id, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.qvec, e.dvec), 6) AS cosine
            FROM p JOIN b e USING (bucket) WHERE e.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {TOPK}
    """


# Count-min sketch over a CTE `h` (word, cnt, hv = the 60-bit md5
# prefix): row j counts into bucket (hv >> CMS_W_LOG2*j) % CMS_W --
# operators/cms.py's layout.
_CMS_ROWS = ", ".join(
    f"s{j} AS (SELECT (hv >> {CMS_W_LOG2 * j}) % {CMS_W} AS b{j}, "
    f"CAST(sum(cnt) AS BIGINT) AS c{j} FROM h GROUP BY 1)"
    for j in range(CMS_D)
)
_CMS_EST = "least(" + ", ".join(f"s{j}.c{j}" for j in range(CMS_D)) + ")"


def _cms_joins(hv: str, indent: str) -> str:
    """Join each sketch row at `hv`'s bucket."""
    return f"\n{indent}".join(
        f"JOIN s{j} ON s{j}.b{j} = ({hv} >> {CMS_W_LOG2 * j}) % {CMS_W}"
        for j in range(CMS_D)
    )


def _bloom_pos(h: str, j: int) -> str:
    """Bloom bit position j of hash `h` -- operators/bloom._positions."""
    return f"{h} % {M}" if j == 0 else f"({h} >> {M_LOG2 * j}) % {M}"


# Bloom bitmap and probe over 60-bit md5 prefixes `h` / `t.h`, in
# operators/bloom's slot layout: slot = pos >> SLOT_SHIFT, bit =
# pos % BITS_PER_SLOT
_BLOOM_POSITIONS = ", ".join(_bloom_pos("h", j) for j in range(NUM_HASHES))
_BLOOM_HITS = "\n               AND ".join(
    f"coalesce(((b{j}.bits >> CAST(({_bloom_pos('t.h', j)}) % {BITS_PER_SLOT}"
    f" AS INTEGER)) % 2) = 1, FALSE)"
    for j in range(NUM_HASHES)
)
_BLOOM_JOINS = "\n        ".join(
    f"LEFT JOIN bits b{j} ON b{j}.slot = ({_bloom_pos('t.h', j)}) >> {SLOT_SHIFT}"
    for j in range(NUM_HASHES)
)


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


def _minhash_pairs_sql(table: str = "documents") -> str:
    """Oracle twin of operators.dedup.minhash_near_dup_pairs: the
    identical md5-prefix base hash, the identical LCG permutation
    literals (minhash_perm_constants), the identical md5-prefix band
    hash -- integer arithmetic end-to-end, so signatures, band
    buckets, candidate pairs, and both Jaccard columns reproduce
    exactly."""
    from ..operators.dedup import MINHASH_PRIME, minhash_perm_constants

    rows_per_band = DEFAULT_NUM_PERM // DEFAULT_BANDS
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
        for b in range(DEFAULT_BANDS)
    )
    est_sum = " + ".join(
        f"CASE WHEN sa.h{p} = sb.h{p} THEN 1 ELSE 0 END"
        for p in range(DEFAULT_NUM_PERM)
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
                   round(({est_sum}) / {DEFAULT_NUM_PERM}.0, 6) AS est_jaccard,
                   round(len(list_intersect(ja.shset, jb.shset))
                         / len(list_distinct(list_concat(ja.shset, jb.shset))), 6) AS jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = cand.doc_a
            JOIN sig sb ON sb.doc_id = cand.doc_b
            JOIN shs ja ON ja.doc_id = cand.doc_a
            JOIN shs jb ON jb.doc_id = cand.doc_b)
      SELECT doc_a, doc_b, est_jaccard, jaccard FROM p WHERE est_jaccard >= {MIN_EST_JACCARD}
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


def _simhash_pairs_sql() -> str:
    """Brute-force all-pairs Hamming oracle: the banded Spark plan
    guarantees FULL recall at the threshold (pigeonhole) and filters
    on the exact distance, so banded == brute force exactly."""
    return f"""
      WITH f AS ({_simhash_sql()})
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM f a JOIN f b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
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


def _kmeans_ctes(
    k: int = KMEANS_K, n_iter: int = KMEANS_ITER, src: str = "v", prefix: str = ""
) -> str:
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


def _kmeans_cells_sql() -> str:
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes()}
      SELECT vec_id, cell, round(obj, 6) AS obj FROM fin
    """


def _ann_ivf_kmeans_sql() -> str:
    """IVF serve plan over the LEARNED k-means cells: the unrolled
    Lloyd fit above assigns the inverted lists, then the identical
    probe/rank SQL as the ann_ivf oracle (decimal-mean serve
    centroids over the final assignment)."""
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes()},{_kmeans_means_cte("sc", "fin")},
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
      qc AS (SELECT q.query_id, q.qvec, c.cell,
                    list_cosine_similarity(q.qvec, c.cvec) AS csim
             FROM q CROSS JOIN sc c),
      probes AS (SELECT query_id, qvec, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY csim DESC, cell ASC) AS pr FROM qc) WHERE pr <= {N_PROBE}),
      s AS (SELECT p.query_id, p.cell, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.qvec, e.dvec), 6) AS cosine
            FROM probes p JOIN fin e ON e.cell = p.cell
            WHERE e.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      SELECT query_id, cell, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= {TOPK}
    """


def _pq_ctes(src: str | None = None) -> str:
    """WITH-body for product quantization: one independent unrolled
    Lloyd fit per DIM/DEFAULT_PQ_M-wide subspace slice (operators.quantization
    pq_fit/pq_codes twins). Subspace j's final assignment lands in
    CTE s{j}_fin (vec_id, dvec = the slice, cell, obj). Pass `src`
    to quantize another (vec_id, dvec) CTE -- e.g. the residuals in
    the IVFADC oracle -- instead of the raw embeddings."""
    w = DIM // DEFAULT_PQ_M
    ctes = [] if src else [_SQL_EMB_V]
    src = src or "v"
    for j in range(DEFAULT_PQ_M):
        ctes.append(
            f"""
      v{j} AS (SELECT vec_id, list_slice(dvec, {j * w + 1}, {j * w + w}) AS dvec FROM {src})"""
        )
        ctes.append(
            _kmeans_ctes(DEFAULT_PQ_K, DEFAULT_PQ_ITER, src=f"v{j}", prefix=f"s{j}_")
        )
    return ",".join(ctes)


# per-subspace codebooks and codes of the _pq_ctes fits, one UNION arm
# per subspace
_PQ_CENTS_UNION = "\n        UNION ALL\n".join(
    f"SELECT {j} AS j, cell AS code, cvec FROM s{j}_c{DEFAULT_PQ_ITER}"
    for j in range(DEFAULT_PQ_M)
)
_PQ_CODES_UNION = "\n        UNION ALL\n".join(
    f"SELECT vec_id, {j} AS j, cell AS code FROM s{j}_fin" for j in range(DEFAULT_PQ_M)
)


def _pq_codes_sql() -> str:
    """Oracle twin of pq_codes, projected to scalar code columns
    c0..c{DEFAULT_PQ_M-1} (the driver's canonicalizer cannot hash
    arrays)."""
    subspaces = range(DEFAULT_PQ_M)
    code_cols = ",\n             ".join(f"f{j}.cell AS c{j}" for j in subspaces)
    err = "\n               + ".join(
        f"(list_dot_product(f{j}.dvec, f{j}.dvec) + f{j}.obj)" for j in subspaces
    )
    joins = "\n      ".join(
        f"JOIN s{j}_fin f{j} ON f{j}.vec_id = v.vec_id" for j in subspaces
    )
    return f"""
      WITH {_pq_ctes()}
      SELECT v.vec_id,
             {code_cols},
             round({err}, 6) AS recon_err
      FROM v
      {joins}
    """


def _pq_search_sql() -> str:
    """Oracle twin of pq_adc_topk: per-query lookup table of
    subspace-to-codeword squared distances, ADC sum as exact
    decimals, rank with deterministic tie-break."""
    w = DIM // DEFAULT_PQ_M
    return f"""
      WITH {_pq_ctes()},
      cents AS (
        {_PQ_CENTS_UNION}
      ),
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
      qt1 AS (SELECT q.query_id, c.j, c.code, c.cvec,
                     list_slice(q.qvec, c.j * {w} + 1, c.j * {w} + {w}) AS qs
              FROM q CROSS JOIN cents c),
      qt AS (SELECT query_id, j, code, list_dot_product(d, d) AS d2
             FROM (SELECT *, list_transform(range(1, {w} + 1), i -> qs[i] - cvec[i]) AS d
                   FROM qt1)),
      ce AS (
        {_PQ_CODES_UNION}
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
      FROM r WHERE rank <= {TOPK}
    """


def _ivfpq_sql() -> str:
    """Oracle twin of quantization.ivfpq_topk: coarse unrolled Lloyd
    (prefix g_) routes queries to N_PROBE cells; the per-subspace PQ
    fits supply codes; the ADC scan is restricted to probed cells."""
    w = DIM // DEFAULT_PQ_M
    return f"""
      WITH {_pq_ctes()},{_kmeans_ctes(src="v", prefix="g_")},
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
      qc AS (SELECT q.query_id, c.cell,
                    list_dot_product(c.cvec, c.cvec)
                      - 2 * list_dot_product(q.qvec, c.cvec) AS obj
             FROM q CROSS JOIN g_c{KMEANS_ITER} c),
      probes AS (SELECT query_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY obj ASC, cell ASC) AS pr FROM qc)
        WHERE pr <= {N_PROBE}),
      cents AS (
        {_PQ_CENTS_UNION}
      ),
      qt1 AS (SELECT q.query_id, c.j, c.code, c.cvec,
                     list_slice(q.qvec, c.j * {w} + 1, c.j * {w} + {w}) AS qs
              FROM q CROSS JOIN cents c),
      qt AS (SELECT query_id, j, code, list_dot_product(d, d) AS d2
             FROM (SELECT *, list_transform(range(1, {w} + 1), i -> qs[i] - cvec[i]) AS d
                   FROM qt1)),
      ce AS (
        {_PQ_CODES_UNION}
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
      FROM r WHERE rank <= {TOPK}
    """


def _duplicate_spans_sql() -> str:
    """Oracle twin of curation.duplicate_spans: positioned k-gram
    windows via struct unnest, repeated-window marking, and the same
    gaps-and-islands merge (running max of ends -> gap flag ->
    running sum as island id)."""
    return f"""
      WITH t AS ({_SQL_TOKS}),
      s AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {SPAN_NGRAM_K} + 2),
                     i -> struct_pack(pos := i - 1,
                            sh := array_to_string(list_slice(toks, i, i + {SPAN_NGRAM_K} - 1), ' '))))
                   AS u
            FROM t WHERE len(toks) >= {SPAN_NGRAM_K}),
      e AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.sh AS sh FROM s),
      d AS (SELECT sh FROM e GROUP BY sh HAVING count(*) >= {SPAN_MIN_COUNT}),
      marked AS (SELECT doc_id, pos FROM e JOIN d USING (sh)),
      x AS (SELECT doc_id, pos, pos + {SPAN_NGRAM_K} AS e_pos,
                   max(pos + {SPAN_NGRAM_K}) OVER (PARTITION BY doc_id ORDER BY pos
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


def _ivfpq_residual_sql() -> str:
    """Oracle twin of quantization.ivfpq_residual_topk (IVFADC): PQ
    fits run over residuals v - coarse_centroid(cell); the lookup
    table is per-(query, probed cell) against the query residual."""
    w = DIM // DEFAULT_PQ_M
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes(src="v", prefix="g_")},
      r AS (SELECT f.vec_id,
                   list_transform(range(1, {DIM} + 1), i -> f.dvec[i] - c.cvec[i]) AS dvec
            FROM g_fin f JOIN g_c{KMEANS_ITER} c USING (cell)),
      {_pq_ctes(src="r")},
      q AS (SELECT vec_id AS query_id, dvec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
      qc AS (SELECT q.query_id, q.qvec, c.cell, c.cvec,
                    list_dot_product(c.cvec, c.cvec)
                      - 2 * list_dot_product(q.qvec, c.cvec) AS obj
             FROM q CROSS JOIN g_c{KMEANS_ITER} c),
      probes AS (SELECT query_id, cell,
                        list_transform(range(1, {DIM} + 1), i -> qvec[i] - cvec[i]) AS qres
                 FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                              ORDER BY obj ASC, cell ASC) AS pr FROM qc)
                 WHERE pr <= {N_PROBE}),
      cents AS (
        {_PQ_CENTS_UNION}
      ),
      qt1 AS (SELECT p.query_id, p.cell, c.j, c.code, c.cvec AS cwvec,
                     list_slice(p.qres, c.j * {w} + 1, c.j * {w} + {w}) AS qs
              FROM probes p CROSS JOIN cents c),
      qt AS (SELECT query_id, cell, j, code, list_dot_product(d, d) AS d2
             FROM (SELECT *, list_transform(range(1, {w} + 1), i -> qs[i] - cwvec[i]) AS d
                   FROM qt1)),
      ce AS (
        {_PQ_CODES_UNION}
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
      FROM r2 WHERE rank <= {TOPK}
    """


def _semantic_dedup_sql() -> str:
    """Oracle twin of similarity.semantic_dedup: the unrolled Lloyd
    fit supplies the cells; within-cell pairs at rounded cosine >=
    threshold mark the larger id keep=false."""
    return f"""
      WITH {_SQL_EMB_V},{_kmeans_ctes()},
      n AS (SELECT vec_id, cell, dvec,
                   sqrt(list_dot_product(dvec, dvec)) AS nrm
            FROM fin),
      d AS (SELECT DISTINCT b.vec_id
            FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.dvec, b.dvec) / (a.nrm * b.nrm), 6)
                  >= {MIN_COSINE}),
      r AS (SELECT f.vec_id, f.cell, (d.vec_id IS NULL) AS keep
            FROM fin f LEFT JOIN d ON d.vec_id = f.vec_id)
      SELECT vec_id, cell, keep FROM r
    """


def _curate_documents_sql() -> str:
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
                {_sql_quality(16)}
              , 6) AS quality,
              CAST(coalesce(list_sum(list_transform(toks,
                    t -> CAST(floor((length(t) + 3) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_tokens,
              md5({norm}) AS fingerprint
            FROM t)
      SELECT doc_id, text, lang, source, quality, n_bpe_tokens, fingerprint
      FROM q WHERE quality >= {MIN_QUALITY}
    """



def _dsir_sql(rel: str = "documents") -> str:
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
                    sum(CASE WHEN source = '{TARGET_SOURCE}' THEN 1 ELSE 0 END) AS ct,
                    sum(CASE WHEN source = '{TARGET_SOURCE}' THEN 0 ELSE 1 END) AS cr
             FROM tr GROUP BY 1),
      tot AS (SELECT sum(ct) AS nt_t, sum(cr) AS nt_r, count(*) AS v FROM tc),
      ratios AS (SELECT w,
                        CAST(round(ln((ct + 1) / CAST(nt_t + v AS DOUBLE)), 9) AS DECIMAL(13,9))
                      - CAST(round(ln((cr + 1) / CAST(nt_r + v AS DOUBLE)), 9) AS DECIMAL(13,9))
                          AS lr
                 FROM tc CROSS JOIN tot),
      hist AS (SELECT doc_id, w, count(*) AS m FROM tr
               WHERE source <> '{TARGET_SOURCE}' GROUP BY 1, 2),
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
