"""DuckDB oracle SQL generators mirroring the engine's expressions 1:1.

Each generator emits ANSI-ish SQL (DuckDB dialect) computing *exactly* the
same values as the corresponding Spark operator — same md5-based 60-bit
hashes, same shingling, same tie-breaks — so the driver's value-hash
comparison passes bit-for-bit (doubles only where the arithmetic is
identical IEEE operations; otherwise rounded on both sides).
"""

from __future__ import annotations

from transmog_spark.operators.text import BPE_REGEX, EN_STOPWORDS, LANG_MARKERS, MOD_P


def duck_md5_long(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS UBIGINT)::BIGINT"


def duck_seeded(expr: str, seed: int | str) -> str:
    """Seed-namespaced hash input, mirror of functions.hashing.seeded."""
    return f"('{seed}#' || {expr})"


def duck_quality_expr(
    mean_word_len: str = "mean_word_len",
    stopword_ratio: str = "stopword_ratio",
    punct_ratio: str = "punct_ratio",
) -> str:
    """The composite quality score (mirror of operators.text.quality_score)
    over precomputed feature columns — single source of truth for every
    oracle that ranks or gates on quality (text_profile_sql,
    cap_best_per_source_sql, quality_gate_sql composes its own gates)."""
    return (
        f"(CASE WHEN {mean_word_len} >= 2.0 AND {mean_word_len} <= 12.0 "
        f"THEN 1.0 ELSE 0.3 END) * 0.3"
        f" + least({stopword_ratio} * 4.0, 1.0) * 0.4"
        f" + greatest(0.0, 1.0 - {punct_ratio} * 5.0) * 0.3"
    )


def duck_ws_tokens(text_expr: str) -> str:
    return f"list_filter(string_split_regex(lower({text_expr}), '\\s+'), x -> x <> '')"


def duck_shingles(toks_expr: str, n: int) -> str:
    """Distinct word n-grams; mirrors operators.dedup.word_shingles."""
    grams = (
        f"list_transform(range(1, len({toks_expr}) - {n} + 2), "
        f"i -> array_to_string(list_slice({toks_expr}, i, i + {n} - 1), ' '))"
    )
    return (
        f"CASE WHEN len({toks_expr}) >= {n} THEN list_distinct({grams}) "
        f"ELSE [array_to_string({toks_expr}, ' ')] END"
    )


def minhash_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> str:
    rows = num_hashes // bands
    band_selects = []
    for b in range(bands):
        mins = ", ".join(
            "list_min(list_transform(sh, s -> "
            + duck_md5_long(f"'{b * rows + j}#' || s")
            + "))"
            for j in range(rows)
        )
        band_selects.append(
            f"SELECT id, sh, {b} AS band, concat_ws(',', {mins}) AS bkey FROM base"
        )
    banded = " UNION ALL ".join(band_selects)
    return f"""
WITH docs AS (SELECT {id_col} AS id, {duck_ws_tokens(text_col)} AS t FROM {table}),
base AS (SELECT id, {duck_shingles('t', shingle_n)} AS sh FROM docs),
banded AS ({banded}),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bkey ORDER BY id) AS rn FROM banded
  ) WHERE rn <= {max_bucket}),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh))::DOUBLE
              ELSE 0.0 END AS jaccard_sim
  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
SELECT DISTINCT id_a, id_b, jaccard_sim FROM pairs WHERE jaccard_sim >= {threshold}
"""


def ngram_jaccard_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> str:
    minh = f"list_min(list_transform(sh, s -> {duck_md5_long('s')}))"
    return f"""
WITH docs AS (SELECT {id_col} AS id, {duck_ws_tokens(text_col)} AS t FROM {table}),
base0 AS (SELECT id, {duck_shingles('t', shingle_n)} AS sh FROM docs),
base AS (SELECT id, sh, {minh} AS minh FROM base0),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY minh ORDER BY id) AS rn FROM base
  ) WHERE rn <= {max_bucket}),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh))::DOUBLE
              ELSE 0.0 END AS jaccard_sim
  FROM capped a JOIN capped b ON a.minh = b.minh AND a.id < b.id)
SELECT DISTINCT id_a, id_b, jaccard_sim FROM pairs WHERE jaccard_sim >= {threshold}
"""


def simhash_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> str:
    h = duck_md5_long("tok")
    return f"""
WITH docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}),
hs AS (SELECT {id_col}, list_transform(t, tok -> {h}) AS hl FROM docs)
SELECT {id_col},
       COALESCE(CAST(list_sum(list_transform(range(0, {bits}), j ->
         CASE WHEN COALESCE(list_sum(list_transform(hl, h -> ((h >> j) & 1) * 2 - 1)), 0) > 0
              THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT), 0) AS simhash
FROM hs
"""


def tokenize_docs_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text", vocab: int = 32768
) -> str:
    """North-rule input shape from raw text. Token arrays are projected to
    an order-preserving md5 of the comma-joined ids (equality-preserving;
    the driver canonicalizer cannot hash list cells — per-element parity is
    separately gated by token_positions)."""
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"
    return f"""
WITH docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t, source FROM {table})
SELECT {id_col},
       md5(array_to_string(list_transform(t, x -> CAST({tok} AS VARCHAR)), ',')) AS tokens_md5,
       len(t) AS n_tok, source
FROM docs
"""


def token_positions_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text", vocab: int = 32768
) -> str:
    """Normalized (doc, pos, token) rows — the explode/flatten invariant."""
    tok = f"CAST({duck_md5_long('tok')} % {vocab} AS INT)"
    return f"""
WITH docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}),
ex AS (SELECT {id_col}, unnest(t) AS tok,
              generate_subscripts(t, 1) - 1 AS pos FROM docs)
SELECT {id_col}, pos, {tok} AS token_id FROM ex
"""


def token_features_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text", vocab: int = 32768
) -> str:
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"
    return f"""
WITH docs AS (
  SELECT {id_col},
         list_transform({duck_ws_tokens(text_col)}, x -> {tok}) AS tk
  FROM {table})
SELECT {id_col},
       len(tk) AS n_tok,
       list_min(tk) AS tok_min,
       list_max(tk) AS tok_max,
       COALESCE(CAST(list_sum(tk) AS BIGINT), 0) AS tok_sum,
       CASE WHEN len(tk) > 0 THEN round(CAST(list_sum(tk) AS DOUBLE) / len(tk), 4) END AS tok_mean,
       len(list_distinct(tk)) AS tok_distinct,
       md5(array_to_string(list_transform(tk[1:8], x -> CAST(x AS VARCHAR)), ',')) AS tok_head8_md5
FROM docs
"""


def simhash_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> str:
    bands = bits // band_bits
    h = duck_md5_long("tok")
    band_vals = ",".join(f"({b})" for b in range(bands))
    return f"""
WITH docs AS (SELECT {id_col} AS id, {duck_ws_tokens(text_col)} AS t FROM {table}),
hs AS (SELECT id, list_transform(t, tok -> {h}) AS hl FROM docs),
sg AS (
  SELECT id,
         COALESCE(CAST(list_sum(list_transform(range(0, {bits}), j ->
           CASE WHEN COALESCE(list_sum(list_transform(hl, h -> ((h >> j) & 1) * 2 - 1)), 0) > 0
                THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT), 0) AS simhash
  FROM hs),
banded AS (
  SELECT id, simhash, b.b AS band, (simhash >> (b.b * {band_bits})) % {1 << band_bits} AS bkey
  FROM sg CROSS JOIN (VALUES {band_vals}) AS b(b)),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bkey ORDER BY id) AS rn FROM banded
  ) WHERE rn <= {max_bucket}),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def _ivf_assignment_ctes(
    *,
    table: str,
    id_col: str,
    vec_col: str,
    nlist: int,
    refine_iterations: int,
    dim: int,
) -> tuple[str, str]:
    """Shared CTE prefix for the IVF family (ivf_topk_sql, semdedup_sql):
    ``e`` (typed vectors), ``cent`` (md5-seeded centroids), the optional
    Lloyd refine chain, ``assigned`` (argmax cluster per vector). Refine
    mirrors kmeans_refine: per-iteration argmax + per-dimension means as
    exact scaled-integer sums (sum of round(v·1e6) longs, cast DOUBLE at
    the end) — bit-identical to the engine regardless of summation order;
    empty lists carry their previous centroid (COALESCE). Returns
    (ctes_without_WITH, final_centroid_cte_name)."""
    h = duck_md5_long(f"CAST({id_col} AS VARCHAR)")
    refine = ""
    prev = "cent"
    for t in range(refine_iterations):
        means = ", ".join(
            f"CAST(sum(CAST(round(v[{i + 1}] * 1000000) AS BIGINT)) AS DOUBLE)"
            f" / (count(*) * 1000000.0)"
            for i in range(dim)
        )
        refine += f"""
asg{t} AS (
  SELECT nid, v, cid FROM (
    SELECT e.nid, e.v, c.cid,
           row_number() OVER (PARTITION BY e.nid
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1),
agg{t} AS (SELECT cid, [{means}] AS mv FROM asg{t} GROUP BY cid),
cent{t + 1} AS (
  SELECT c.cid, COALESCE(a.mv, c.cv) AS cv
  FROM {prev} c LEFT JOIN agg{t} a USING (cid)),"""
        prev = f"cent{t + 1}"
    ctes = f"""e AS (SELECT {id_col} AS nid, {vec_col}::DOUBLE[] AS v FROM {table}),
cent AS (
  SELECT nid AS cid, v AS cv FROM e ORDER BY {h.replace(id_col, 'nid')}, nid LIMIT {nlist}),{refine}
assigned AS (
  SELECT nid, v, cid FROM (
    SELECT e.nid, e.v, c.cid,
           row_number() OVER (PARTITION BY e.nid
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1)"""
    return ctes, prev


def ivf_topk_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 10",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    refine_iterations: int = 0,
    dim: int = 64,
) -> str:
    """Mirror of operators.similarity.ivf_topk (same centroid rule, same
    round(·,6) rank keys, same tie-breaks); centroid/assignment CTEs shared
    with semdedup_sql via _ivf_assignment_ctes."""
    ctes, prev = _ivf_assignment_ctes(
        table=table, id_col=id_col, vec_col=vec_col, nlist=nlist,
        refine_iterations=refine_iterations, dim=dim,
    )
    return f"""
WITH {ctes},
q AS (SELECT {id_col} AS qid, {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {query_filter}),
probes AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cid) AS rn
    FROM q CROSS JOIN {prev} c) WHERE rn <= {nprobe}),
scored AS (
  SELECT p.qid AS query_id, a.nid AS neighbor_id,
         round(list_cosine_similarity(p.qv, a.v), 6) AS cos
  FROM probes p JOIN assigned a ON p.cid = a.cid AND a.nid <> p.qid)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= {k}
"""


def semdedup_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    refine_iterations: int = 0,
    dim: int = 64,
    threshold: float = 0.95,
) -> str:
    """Mirror of operators.similarity.semdedup: same centroid/assignment
    CTEs as the IVF oracle, then the SemDeDup keep rule — x is dropped iff
    a same-cluster y has round(cos(x,y),6) >= threshold and a strictly
    smaller (cent_sim, id) key. All comparisons on round(·,6) doubles."""
    ctes, prev = _ivf_assignment_ctes(
        table=table, id_col=id_col, vec_col=vec_col, nlist=nlist,
        refine_iterations=refine_iterations, dim=dim,
    )
    return f"""
WITH {ctes},
cs AS (
  SELECT a.nid, a.v, a.cid,
         round(list_cosine_similarity(a.v, c.cv), 6) AS cent_sim
  FROM assigned a JOIN {prev} c ON a.cid = c.cid),
dup AS (
  SELECT DISTINCT x.nid
  FROM cs x JOIN cs y ON x.cid = y.cid AND x.nid <> y.nid
  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
    AND (y.cent_sim < x.cent_sim
         OR (y.cent_sim = x.cent_sim AND y.nid < x.nid)))
SELECT cs.nid AS {id_col}, cs.cid AS cluster_id, cs.cent_sim,
       CAST(CASE WHEN d.nid IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM cs LEFT JOIN dup d ON cs.nid = d.nid
"""


def diverse_sample_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    refine_iterations: int = 0,
    dim: int = 64,
    per_cell: int = 5,
    lam: float = 0.5,
) -> str:
    """Mirror of operators.similarity.diverse_sample: the semdedup
    assignment CTEs, then per-cluster greedy MMR as a recursive CTE in the
    engine's own incremental max-sim form — each level scores the remaining
    candidates (coalesce(maxsim, 0.0) makes the first level plain
    relevance), picks the per-cluster argmax via a window, and folds
    sim-to-the-pick into every survivor's running max with a
    ``first_value`` window over the same ordering (one recursive reference,
    no quadratic pairwise CTE). Same round-6 grids and ascending-id
    tie-breaks as the engine."""
    ctes, prev = _ivf_assignment_ctes(
        table=table, id_col=id_col, vec_col=vec_col, nlist=nlist,
        refine_iterations=refine_iterations, dim=dim,
    )
    onelam = 1.0 - lam
    return f"""
WITH RECURSIVE {ctes},
pool AS (
  SELECT a.cid, a.nid, round(list_cosine_similarity(a.v, c.cv), 6) AS rel, a.v
  FROM assigned a JOIN {prev} c ON a.cid = c.cid),
step(it, cid, nid, rel, v, maxsim, picked, score) AS (
  SELECT 0, cid, nid, rel, v, CAST(NULL AS DOUBLE), FALSE, CAST(NULL AS DOUBLE)
  FROM pool
  UNION ALL
  SELECT it + 1, cid, nid, rel, v,
         CASE WHEN rn = 1 THEN maxsim
              ELSE greatest(coalesce(maxsim, -2.0),
                            round(list_cosine_similarity(v, pv), 6)) END,
         rn = 1, sc
  FROM (
    SELECT z.*,
           row_number() OVER (PARTITION BY z.cid
             ORDER BY z.sc DESC, z.nid) AS rn,
           first_value(z.v) OVER (PARTITION BY z.cid
             ORDER BY z.sc DESC, z.nid) AS pv
    FROM (
      SELECT s.it, s.cid, s.nid, s.rel, s.v, s.maxsim,
             round({lam!r} * s.rel
                   - {onelam!r} * coalesce(s.maxsim, 0.0), 6) AS sc
      FROM step s WHERE NOT s.picked AND s.it < {per_cell}) z) w)
SELECT cid AS cluster_id, nid AS {id_col}, round(score, 4) AS mmr,
       CAST(it AS INTEGER) AS rank
FROM step WHERE picked
"""


def pq_topk_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 10",
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ksub: int = 8,
    refine_iterations: int = 1,
) -> str:
    """Mirror of operators.similarity.pq_topk: per-subspace codebooks
    (same md5 seeding, scaled-integer Lloyd means), scaled-integer
    squared-L2 assignment/ADC keys — every distance is an exact BIGINT on
    both engines, so argmin codes, ranks, and ties are bit-identical."""
    d0 = dim // m
    h = duck_md5_long(f"CAST({id_col} AS VARCHAR)")

    def dist(sv: str, cv: str) -> str:
        return (
            f"CAST(COALESCE(list_sum(list_transform(range(1, {d0} + 1), "
            f"i -> CAST(round(({sv}[i] - {cv}[i]) * ({sv}[i] - {cv}[i]) "
            f"* 1000000000000) AS BIGINT))), 0) AS BIGINT)"
        )

    ctes = [
        f"e AS (SELECT {id_col} AS nid, {vec_col}::DOUBLE[] AS v FROM {table})",
        f"""seedj AS (
  SELECT row_number() OVER (ORDER BY nid) - 1 AS j, v
  FROM (SELECT nid, v FROM e ORDER BY {h.replace(id_col, 'nid')}, nid LIMIT {ksub}))""",
    ]
    finals = []
    for s in range(m):
        lo, hi = s * d0 + 1, (s + 1) * d0
        ctes.append(f"esub{s} AS (SELECT nid, list_slice(v, {lo}, {hi}) AS sv FROM e)")
        ctes.append(
            f"cent{s}_0 AS (SELECT j, list_slice(v, {lo}, {hi}) AS cv FROM seedj)"
        )
        prev = f"cent{s}_0"
        for t in range(refine_iterations):
            means = ", ".join(
                f"CAST(sum(CAST(round(sv[{i + 1}] * 1000000) AS BIGINT)) AS DOUBLE)"
                f" / (count(*) * 1000000.0)"
                for i in range(d0)
            )
            ctes.append(f"""a{s}_{t} AS (
  SELECT nid, sv, j FROM (
    SELECT t.nid, t.sv, c.j,
           row_number() OVER (PARTITION BY t.nid
             ORDER BY {dist('t.sv', 'c.cv')}, c.j) AS rn
    FROM esub{s} t CROSS JOIN {prev} c) WHERE rn = 1)""")
            ctes.append(
                f"g{s}_{t} AS (SELECT j, [{means}] AS mv FROM a{s}_{t} GROUP BY j)"
            )
            ctes.append(f"""cent{s}_{t + 1} AS (
  SELECT c.j, COALESCE(g.mv, c.cv) AS cv
  FROM {prev} c LEFT JOIN g{s}_{t} g USING (j))""")
            prev = f"cent{s}_{t + 1}"
        finals.append(prev)
        ctes.append(f"""code{s} AS (
  SELECT nid, j FROM (
    SELECT t.nid, c.j,
           row_number() OVER (PARTITION BY t.nid
             ORDER BY {dist('t.sv', 'c.cv')}, c.j) AS rn
    FROM esub{s} t CROSS JOIN {prev} c) WHERE rn = 1)""")
    joins = " ".join(f"JOIN code{s} c{s} USING (nid)" for s in range(1, m))
    code_cols = ", ".join(
        (f"c{s}.j AS j{s}" if s else "c0.j AS j0") for s in range(m)
    )
    ctes.append(f"codes AS (SELECT c0.nid, {code_cols} FROM code0 c0 {joins})")
    ctes.append(
        f"q AS (SELECT {id_col} AS qid, {vec_col}::DOUBLE[] AS qv "
        f"FROM {table} WHERE {query_filter})"
    )
    score = " + ".join(
        dist(f"list_slice(q.qv, {s * d0 + 1}, {(s + 1) * d0})", f"z{s}.cv")
        for s in range(m)
    )
    zjoins = " ".join(
        f"JOIN {finals[s]} z{s} ON z{s}.j = cd.j{s}" for s in range(m)
    )
    ctes.append(f"""scored AS (
  SELECT q.qid AS query_id, cd.nid AS neighbor_id, {score} AS score
  FROM codes cd {zjoins} CROSS JOIN q
  WHERE cd.nid <> q.qid)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, neighbor_id, round(CAST(score AS DOUBLE) / 1000000000000, 4) AS dist2, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score, neighbor_id) AS rank FROM scored)
WHERE rank <= {k}
"""


def ivfpq_topk_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 10",
    k: int = 5,
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 8,
    coarse_refine_iterations: int = 0,
    pq_refine_iterations: int = 1,
) -> str:
    """Mirror of operators.similarity.ivfpq_topk: the shared IVF
    centroid/assignment CTEs, residuals as plain double subtractions of
    the same centroids, then the pq_topk_sql codebook chain over residual
    subvectors and per-probe residual ADC. Every assignment/ADC key is an
    exact scaled-integer BIGINT, so codes, ranks and ties are
    bit-identical to the engine. ``res`` and ``codes`` are MATERIALIZED —
    DuckDB inlines CTEs per reference, and both feed many consumers."""
    d0 = dim // m
    h = duck_md5_long(f"CAST({id_col} AS VARCHAR)")

    def dist(sv: str, cv: str) -> str:
        return (
            f"CAST(COALESCE(list_sum(list_transform(range(1, {d0} + 1), "
            f"i -> CAST(round(({sv}[i] - {cv}[i]) * ({sv}[i] - {cv}[i]) "
            f"* 1000000000000) AS BIGINT))), 0) AS BIGINT)"
        )

    ivf_ctes, cent = _ivf_assignment_ctes(
        table=table, id_col=id_col, vec_col=vec_col, nlist=nlist,
        refine_iterations=coarse_refine_iterations, dim=dim,
    )
    ctes = [
        ivf_ctes,
        f"""res AS MATERIALIZED (
  SELECT a.nid, a.cid,
         list_transform(range(1, {dim} + 1), i -> a.v[i] - c.cv[i]) AS rv
  FROM assigned a JOIN {cent} c ON a.cid = c.cid)""",
        f"""seedj AS (
  SELECT row_number() OVER (ORDER BY nid) - 1 AS j, rv
  FROM (SELECT nid, rv FROM res ORDER BY {h.replace(id_col, 'nid')}, nid LIMIT {ksub}))""",
    ]
    finals = []
    for s in range(m):
        lo, hi = s * d0 + 1, (s + 1) * d0
        ctes.append(f"esub{s} AS (SELECT nid, list_slice(rv, {lo}, {hi}) AS sv FROM res)")
        ctes.append(
            f"cent{s}_0 AS (SELECT j, list_slice(rv, {lo}, {hi}) AS cv FROM seedj)"
        )
        prev = f"cent{s}_0"
        for t in range(pq_refine_iterations):
            means = ", ".join(
                f"CAST(sum(CAST(round(sv[{i + 1}] * 1000000) AS BIGINT)) AS DOUBLE)"
                f" / (count(*) * 1000000.0)"
                for i in range(d0)
            )
            ctes.append(f"""a{s}_{t} AS (
  SELECT nid, sv, j FROM (
    SELECT t.nid, t.sv, c.j,
           row_number() OVER (PARTITION BY t.nid
             ORDER BY {dist('t.sv', 'c.cv')}, c.j) AS rn
    FROM esub{s} t CROSS JOIN {prev} c) WHERE rn = 1)""")
            ctes.append(
                f"g{s}_{t} AS (SELECT j, [{means}] AS mv FROM a{s}_{t} GROUP BY j)"
            )
            ctes.append(f"""cent{s}_{t + 1} AS (
  SELECT c.j, COALESCE(g.mv, c.cv) AS cv
  FROM {prev} c LEFT JOIN g{s}_{t} g USING (j))""")
            prev = f"cent{s}_{t + 1}"
        finals.append(prev)
        ctes.append(f"""code{s} AS (
  SELECT nid, j FROM (
    SELECT t.nid, c.j,
           row_number() OVER (PARTITION BY t.nid
             ORDER BY {dist('t.sv', 'c.cv')}, c.j) AS rn
    FROM esub{s} t CROSS JOIN {prev} c) WHERE rn = 1)""")
    joins = " ".join(f"JOIN code{s} c{s} USING (nid)" for s in range(1, m))
    code_cols = ", ".join(
        (f"c{s}.j AS j{s}" if s else "c0.j AS j0") for s in range(m)
    )
    ctes.append(
        f"codes AS MATERIALIZED (SELECT c0.nid, rc.cid, {code_cols} "
        f"FROM code0 c0 {joins} JOIN (SELECT nid, cid FROM res) rc ON rc.nid = c0.nid)"
    )
    ctes.append(
        f"q AS (SELECT {id_col} AS qid, {vec_col}::DOUBLE[] AS qv "
        f"FROM {table} WHERE {query_filter})"
    )
    ctes.append(f"""probes AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cid) AS rn
    FROM q CROSS JOIN {cent} c) WHERE rn <= {nprobe})""")
    ctes.append(f"""qres AS (
  SELECT p.qid, p.cid,
         list_transform(range(1, {dim} + 1), i -> p.qv[i] - c.cv[i]) AS qr
  FROM probes p JOIN {cent} c ON p.cid = c.cid)""")
    score = " + ".join(
        dist(f"list_slice(p.qr, {s * d0 + 1}, {(s + 1) * d0})", f"z{s}.cv")
        for s in range(m)
    )
    zjoins = " ".join(
        f"JOIN {finals[s]} z{s} ON z{s}.j = cd.j{s}" for s in range(m)
    )
    ctes.append(f"""scored AS (
  SELECT p.qid AS query_id, cd.nid AS neighbor_id, {score} AS score
  FROM codes cd {zjoins} JOIN qres p ON p.cid = cd.cid AND cd.nid <> p.qid)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, neighbor_id, round(CAST(score AS DOUBLE) / 1000000000000, 4) AS dist2, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score, neighbor_id) AS rank FROM scored)
WHERE rank <= {k}
"""


def rerank_topk_sql(
    candidates_sql: str,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 10",
    k: int = 5,
) -> str:
    """Mirror of operators.similarity.rerank_topk: exact cosine re-scoring
    of an approximate tier's top-R candidate set.  ``candidates_sql`` is any
    full topk oracle query (pq_topk_sql / ivfpq_topk_sql / ivf_topk_sql …)
    returning (query_id, neighbor_id, …); it nests as a MATERIALIZED CTE —
    its candidate set is bit-identical to the engine's (exact BIGINT ADC
    keys), so the rerank compares identical sets on both sides."""
    return f"""
WITH cand AS MATERIALIZED ({candidates_sql}),
e AS (SELECT {id_col} AS nid, {vec_col}::DOUBLE[] AS v FROM {table}),
q AS (SELECT {id_col} AS qid, {vec_col}::DOUBLE[] AS qv
      FROM {table} WHERE {query_filter}),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_cosine_similarity(c.v, p.qv), 6) AS cos
  FROM cand
  JOIN e c ON c.nid = cand.neighbor_id
  JOIN q p ON p.qid = cand.query_id)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= {k}
"""


def mmr_topk_sql(
    candidates_sql: str | None = None,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 10",
    k: int = 5,
    fetch_r: int = 20,
    lam: float = 0.7,
) -> str:
    """Mirror of operators.similarity.mmr_topk: greedy maximal-marginal-
    relevance selection as a recursive CTE — the base case picks the
    max-relevance candidate per query; each recursive step scores the
    remaining pool against the accumulated ``sel`` list (correlated
    ``max(sim)`` over the pairwise-sims CTE) and keeps the per-query argmax
    via a window. Same round-6 grids and ascending-id tie-breaks as the
    engine. ``candidates_sql`` is any topk oracle query returning
    (query_id, neighbor_id, …); default is the exact brute-force
    top-``fetch_r`` (raw-cosine ordering — the ``embedding_topk`` pair)."""
    onelam = 1.0 - lam
    if candidates_sql is None:
        candidates_sql = f"""
  SELECT query_id, neighbor_id FROM (
    SELECT p.qid AS query_id, c.nid AS neighbor_id,
           row_number() OVER (PARTITION BY p.qid
             ORDER BY list_cosine_similarity(p.qv, c.v) DESC, c.nid) AS rn
    FROM q p CROSS JOIN e c WHERE c.nid <> p.qid) WHERE rn <= {fetch_r}"""
    return f"""
WITH RECURSIVE
e AS (SELECT {id_col} AS nid, {vec_col}::DOUBLE[] AS v FROM {table}),
q AS (SELECT nid AS qid, v AS qv FROM e WHERE {query_filter.replace(id_col, 'nid')}),
cand AS MATERIALIZED ({candidates_sql}),
pool AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_cosine_similarity(c.v, p.qv), 6) AS rel
  FROM cand JOIN e c ON c.nid = cand.neighbor_id
            JOIN q p ON p.qid = cand.query_id),
sims AS (
  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
  FROM pool a JOIN pool b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
  JOIN e ea ON ea.nid = a.neighbor_id JOIN e eb ON eb.nid = b.neighbor_id),
step(query_id, rank, sel, nid, mmr) AS (
  SELECT query_id, 1, [neighbor_id], neighbor_id, round({lam!r} * rel, 6) FROM (
    SELECT query_id, neighbor_id, rel,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, neighbor_id) AS rn
    FROM pool) WHERE rn = 1
  UNION ALL
  SELECT query_id, rank + 1, list_append(sel, nid2), nid2, mmr2 FROM (
    SELECT z.*, row_number() OVER (PARTITION BY z.query_id
             ORDER BY z.mmr2 DESC, z.nid2) AS rn
    FROM (
      SELECT s.query_id, s.rank, s.sel, p.neighbor_id AS nid2,
             round({lam!r} * p.rel - {onelam!r} * coalesce(
               (SELECT max(x.sim) FROM sims x
                WHERE x.query_id = s.query_id AND x.i = p.neighbor_id
                  AND list_contains(s.sel, x.j)), 0.0), 6) AS mmr2
      FROM step s JOIN pool p
        ON p.query_id = s.query_id AND NOT list_contains(s.sel, p.neighbor_id)
      WHERE s.rank < {k}) z) WHERE rn = 1)
SELECT query_id, nid AS neighbor_id, round(mmr, 4) AS mmr, rank FROM step
"""


def lsh_topk_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 10",
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 3,
    dim: int = 64,
) -> str:
    """Mirror of operators.similarity.lsh_topk: same md5-derived hyperplane
    literals, bit-packed sign signature, one-bit-flip multi-probe, and
    round(·,6) rank keys with id tie-breaks."""
    from transmog_spark.operators.dedup import hyperplane_weights

    planes = hyperplane_weights(dim, n_planes)
    sig_terms = []
    for p, w in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in w) + "]"
        dot = f"list_sum(list_transform(range(1, {dim + 1}), i -> v[i] * ({lit})[i]))"
        sig_terms.append(f"(CASE WHEN {dot} > 0 THEN ({1 << p}::BIGINT) ELSE 0::BIGINT END)")
    sig = " + ".join(sig_terms)
    flips = ", ".join(
        f"xor(qsig, {1 << p}::BIGINT)" for p in range(max(0, min(n_probes - 1, n_planes)))
    )
    return f"""
WITH e AS (SELECT {id_col} AS nid, {vec_col}::DOUBLE[] AS v FROM {table}),
sigs AS (SELECT nid, v, {sig} AS sig FROM e),
q AS (SELECT nid AS qid, v AS qv, sig AS qsig FROM sigs WHERE {query_filter.replace(id_col, 'nid')}),
probes AS (
  SELECT qid, qv, unnest(list_distinct([qsig, {flips}])) AS bkey FROM q),
scored AS (
  SELECT DISTINCT p.qid AS query_id, s.nid AS neighbor_id,
         round(list_cosine_similarity(p.qv, s.v), 6) AS cos
  FROM probes p JOIN sigs s ON s.sig = p.bkey AND s.nid <> p.qid)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= {k}
"""


def sq8_topk_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 10",
    k: int = 5,
    dim: int = 64,
) -> str:
    """Mirror of operators.similarity.sq8_topk: same per-dim (min, span),
    same quantize/dequantize op sequence (the rounded value is always
    non-negative, so HALF_UP == half-away-from-zero on both engines)."""
    deq = (
        f"pm.m[i] + CAST((CAST(round((v[i] - pm.m[i]) / pm.s[i] * 255.0) - 128 AS INT)"
        f" + 128) AS DOUBLE) * pm.s[i] / 255.0"
    )
    return f"""
WITH e AS (SELECT {id_col} AS nid, {vec_col}::DOUBLE[] AS v FROM {table}),
px AS (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
params AS (SELECT pos, min(x) AS mn,
                  CASE WHEN max(x) - min(x) = 0 THEN 1.0 ELSE max(x) - min(x) END AS sp
           FROM px GROUP BY pos),
pm AS (SELECT list(mn ORDER BY pos) AS m, list(sp ORDER BY pos) AS s FROM params),
deq AS (SELECT nid, list_transform(range(1, {dim + 1}), i -> {deq}) AS dv
        FROM e CROSS JOIN pm),
q AS (SELECT {id_col} AS qid, {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {query_filter}),
scored AS (SELECT q.qid AS query_id, d.nid AS neighbor_id,
                  round(list_cosine_similarity(q.qv, d.dv), 6) AS cos
           FROM deq d, q WHERE d.nid <> q.qid)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= {k}
"""


def bm25_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.5,
    b: float = 0.75,
) -> str:
    """Mirror of operators.corpus.bm25_scores — identical expression shape
    (constants pre-folded exactly as Python folds them on the Spark side)."""
    return f"""
WITH docs AS (SELECT {id_col} AS doc_id, {duck_ws_tokens(text_col)} AS t FROM {table}),
base AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM docs),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM base GROUP BY 1, 2, 3),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM docs)
SELECT t.doc_id, t.term, t.tf,
       round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (t.tf * {k1 + 1.0})
             / (t.tf + {k1} * ({1.0 - b} + {b} * t.dl / s.avgdl)), 4) AS bm25
FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
"""


def bm25_topk_sql(
    *,
    query_terms: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.5,
    b: float = 0.75,
) -> str:
    """Mirror of operators.corpus.bm25_topk: same exact scaled-integer
    per-doc sum (order-independent), same (score DESC, doc_id) rank keys."""
    terms = ", ".join(
        "'" + t.replace("'", "''") + "'"
        for t in sorted({t.lower() for t in query_terms})
    )
    inner = bm25_sql(table=table, id_col=id_col, text_col=text_col, k1=k1, b=b)
    return f"""
WITH scored AS ({inner}),
hits AS (SELECT * FROM scored WHERE term IN ({terms})),
agg AS (
  SELECT doc_id,
         CAST(sum(CAST(round(bm25 * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS score,
         count(*) AS terms_matched
  FROM hits GROUP BY 1)
SELECT doc_id, round(score, 4) AS score, terms_matched, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
WHERE rank <= {k}
"""


def hybrid_topk_sql(
    *,
    query_terms: list[str],
    query_vec_id: int,
    doc_table: str = "documents",
    vec_table: str = "embeddings",
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    depth: int = 20,
    rrf_k: int = 60,
    lexical_weight: float = 1.0,
    semantic_weight: float = 1.0,
) -> str:
    """Mirror of operators.fusion.hybrid_topk: BM25 top-``depth`` fused by
    reciprocal-rank fusion with the exact-cosine top-``depth`` around the
    query document.  Same scaled-integer contribution grid
    (``round(w·10^6/(rrf_k+rank))`` summed as BIGINT — addition-order
    independent), same round(·,6) semantic rank keys with id tie-breaks,
    same (score DESC, id) fused ordering."""
    lex = bm25_topk_sql(
        query_terms=query_terms,
        table=doc_table,
        id_col=id_col,
        text_col=text_col,
        k=depth,
    )
    return f"""
WITH lex AS (SELECT doc_id, rank FROM ({lex})),
e AS (SELECT {vec_id_col} AS nid, {vec_col}::DOUBLE[] AS v FROM {vec_table}),
q AS (SELECT v AS qv FROM e WHERE nid = {query_vec_id}),
sem_scored AS (
  SELECT c.nid AS doc_id, round(list_cosine_similarity(c.v, q.qv), 6) AS cos
  FROM e c, q WHERE c.nid <> {query_vec_id}),
sem AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
    FROM sem_scored) WHERE rank <= {depth}),
contrib AS (
  SELECT doc_id,
         CAST(round({lexical_weight * 1_000_000.0} / ({rrf_k} + rank)) AS BIGINT) AS c
  FROM lex
  UNION ALL
  SELECT doc_id,
         CAST(round({semantic_weight * 1_000_000.0} / ({rrf_k} + rank)) AS BIGINT) AS c
  FROM sem),
agg AS (
  SELECT doc_id, CAST(sum(c) AS DOUBLE) / 1000000.0 AS score,
         count(*) AS n_lists
  FROM contrib GROUP BY 1)
SELECT doc_id, round(score, 6) AS rrf_score, n_lists, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
WHERE rank <= {k}
"""


def stratified_sample_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    strata_col: str = "source",
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: str = "smpl",
    buckets: int = 10_000,
    select: str = "doc_id, source",
) -> str:
    thr = str(int(default_fraction * buckets))
    for k, frac in sorted(fractions.items()):
        thr = (
            f"CASE WHEN {strata_col} = '{k}' THEN {int(frac * buckets)} ELSE {thr} END"
        )
    h = duck_md5_long(f"'{seed}#' || CAST({id_col} AS VARCHAR)")
    return f"SELECT {select} FROM {table} WHERE {h} % {buckets} < ({thr})"


def components_sql(pairs_sql: str, *, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """Connected components over a pair query via transitive closure
    (recursive CTE; mirror of operators.dedup.duplicate_components)."""
    return f"""
WITH RECURSIVE pairs AS (SELECT {id_a}, {id_b} FROM ({pairs_sql})),
sym AS (SELECT {id_a} AS node, {id_b} AS peer FROM pairs
        UNION SELECT {id_b}, {id_a} FROM pairs),
closure(node, peer) AS (
  SELECT node, peer FROM sym
  UNION
  SELECT c.node, s.peer FROM closure c JOIN sym s ON c.peer = s.node)
SELECT node AS doc_id, least(node, min(peer)) AS cluster_id
FROM closure GROUP BY node
"""


def dedupe_near_sql(
    pairs_sql: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    select_cols: str = "doc_id, source",
    rank_by: str | None = None,
    descending: bool = True,
) -> str:
    """Near-dup keep/drop application (operators/dedup.py:dedupe_near):
    connected components over the pair query, then the corpus filtered to
    one representative per cluster — the min-id member by default, or the
    best-merit member (``rank_by`` column, ``descending`` order, id
    tie-break) mirroring the operator's merit keep rule."""
    comp = components_sql(pairs_sql)
    if rank_by is None:
        drops = "SELECT doc_id AS drop_id FROM comps WHERE doc_id <> cluster_id"
    else:
        direction = "DESC" if descending else "ASC"
        # NULLS LAST pinned: engine ranks null merit worst on both orders
        drops = f"""SELECT doc_id AS drop_id FROM (
  SELECT c.doc_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY m.{rank_by} {direction} NULLS LAST, c.doc_id) AS r
  FROM comps c JOIN {table} m ON m.{id_col} = c.doc_id) WHERE r > 1"""
    return f"""
WITH comps AS ({comp}),
drops AS ({drops})
SELECT {select_cols} FROM {table} t
WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.drop_id = t.{id_col})
"""


def retrieval_recall_sql(approx_sql: str, exact_sql: str) -> str:
    """Mirror of operators.similarity.retrieval_recall: per-query recall of
    the approx tier against exact ground truth, both given as complete
    (query_id, neighbor_id, …) SELECTs embedded as CTEs; LEFT join so
    short approx result sets score as misses."""
    hit = "CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END"
    return f"""
WITH ap AS ({approx_sql}),
ex AS ({exact_sql})
SELECT ex.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum({hit}) AS BIGINT) AS n_hit,
       round(CAST(sum({hit}) AS DOUBLE) / count(*), 4) AS recall
FROM ex LEFT JOIN ap
  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
GROUP BY ex.query_id
"""


def retrieval_metrics_sql(approx_sql: str, exact_sql: str, *, k: int = 10) -> str:
    """Mirror of operators.similarity.retrieval_metrics: MRR + NDCG@k on
    the SAME plan-time integer weight grids the Spark side ships (Python
    computes round(1e6/r) and round(1e6/log2(r+1)) once; both engines sum
    exact BIGINTs and divide round-4), binary relevance = exact-top-k
    membership, best (min) rank per (query, neighbor)."""
    import math as _math

    w_mrr = [round(1_000_000 / r) for r in range(1, k + 1)]
    w_dcg = [round(1_000_000 / _math.log2(r + 1)) for r in range(1, k + 1)]
    idcg = []
    acc = 0
    for w in w_dcg:
        acc += w
        idcg.append(acc)
    lm = "[" + ", ".join(str(w) for w in w_mrr) + "]"
    ld = "[" + ", ".join(str(w) for w in w_dcg) + "]"
    li = "[" + ", ".join(str(w) for w in idcg) + "]"
    return f"""
WITH ap0 AS ({approx_sql}),
ap AS (
  SELECT query_id, neighbor_id, min(rank) AS r
  FROM ap0 GROUP BY 1, 2),
apk AS (SELECT * FROM ap WHERE r <= {k}),
ex AS (SELECT DISTINCT query_id, neighbor_id FROM ({exact_sql})),
j AS (
  SELECT ex.query_id, apk.r
  FROM ex LEFT JOIN apk
    ON apk.query_id = ex.query_id AND apk.neighbor_id = ex.neighbor_id),
agg AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS n_exact,
         CAST(count(r) AS BIGINT) AS n_hit,
         CAST(coalesce(max({lm}[r]), 0) AS BIGINT) AS best,
         CAST(coalesce(sum({ld}[r]), 0) AS BIGINT) AS dcg
  FROM j GROUP BY 1)
SELECT query_id, n_exact, n_hit,
       round(best / 1000000.0, 4) AS mrr,
       round(dcg::DOUBLE / ({li}[least(n_exact, {k})]), 4) AS ndcg
FROM agg
"""


def source_overlap_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
    shingle_n: int = 3,
) -> str:
    """Cross-source shingle overlap matrix
    (operators/corpus.py:source_overlap). Distinct (source, gram-hash)
    pairs, pairwise shared counts via a gram-keyed self-join (the Spark
    side's bounded posexplode over the per-gram source set computes the
    same relation), totals per source, Jaccard + both containments on the
    round-4 grid."""
    gh = duck_md5_long("s")
    return f"""
WITH docs AS (SELECT {source_col} AS src, {duck_ws_tokens(text_col)} AS t
              FROM {table}),
g AS (SELECT DISTINCT src, gh FROM (
        SELECT src,
               unnest(list_transform({duck_shingles('t', shingle_n)},
                                     s -> {gh})) AS gh
        FROM docs)),
tot AS (SELECT src, count(*) AS n FROM g GROUP BY 1),
p AS (SELECT a.src AS source_a, b.src AS source_b,
             count(*) AS shared_grams
      FROM g a JOIN g b ON a.gh = b.gh AND a.src < b.src
      GROUP BY 1, 2)
SELECT source_a, source_b, shared_grams,
       ta.n AS grams_a, tb.n AS grams_b,
       round(shared_grams / (ta.n + tb.n - shared_grams), 4) AS jaccard,
       round(shared_grams / ta.n, 4) AS containment_a,
       round(shared_grams / tb.n, 4) AS containment_b
FROM p
JOIN tot ta ON ta.src = p.source_a
JOIN tot tb ON tb.src = p.source_b
"""


def dedup_report_sql(
    pairs_sql: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> str:
    """Per-group dedup telemetry (operators/dedup.py:dedup_report):
    components over the pair query LEFT-joined to the corpus, conditional
    counts per group, min-id drop rule on the round-4 rate grid."""
    comp = components_sql(pairs_sql)
    dropped = "c.cluster_id IS NOT NULL AND j.did <> c.cluster_id"
    return f"""
WITH comps AS ({comp}),
j AS (SELECT t.{group_col} AS grp, t.{id_col} AS did FROM {table} t)
SELECT grp AS {group_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
       CAST(sum(CASE WHEN {dropped} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       round(CAST(sum(CASE WHEN {dropped} THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS drop_rate
FROM j LEFT JOIN comps c ON c.doc_id = j.did
GROUP BY grp
"""


def cluster_size_histogram_sql(pairs_sql: str) -> str:
    """Duplicate-cluster size distribution (operators/dedup.py:
    cluster_size_histogram): component sizes, then counts per size."""
    comp = components_sql(pairs_sql)
    return f"""
WITH comps AS ({comp}),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comps GROUP BY cluster_id)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
"""


def hard_negatives_sql(
    *,
    query_filter: str = "vec_id < 10",
    positives_cond: str = "c.vec_id % 101 = q.vec_id % 101",
    k_hard: int = 5,
    k_rand: int = 5,
    seed: int | str = 0,
) -> str:
    """Mirror of operators/similarity.py:hard_negatives — per-query top
    ``k_hard`` non-positive cosine neighbors (scaled-integer e6 score
    grid, id tie-break) plus ``k_rand`` seeded-md5 uniform negatives from
    beyond the hard set. ``positives_cond`` names the labeled positives as
    a predicate over corpus alias ``c`` and query alias ``q``."""
    u = duck_md5_long(
        f"'{seed}#' || CAST(query_id AS VARCHAR) || '#' || CAST(neighbor_id AS VARCHAR)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE {query_filter}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(round(list_cosine_similarity(c.v, q.v) * 1000000) AS BIGINT) AS cosine_e6
  FROM e c, q
  WHERE c.vec_id <> q.vec_id AND NOT ({positives_cond})),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_e6 DESC, neighbor_id) AS hr
  FROM scored)
SELECT query_id, neighbor_id, cosine_e6, 'hard' AS kind, hr AS rank
FROM ranked WHERE hr <= {k_hard}
UNION ALL
SELECT query_id, neighbor_id, cosine_e6, 'random' AS kind, rr AS rank
FROM (
  SELECT query_id, neighbor_id, cosine_e6,
         row_number() OVER (PARTITION BY query_id ORDER BY {u}, neighbor_id) AS rr
  FROM ranked WHERE hr > {k_hard}) WHERE rr <= {k_rand}
"""


def bloom_dedup_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    col: str = "text",
    history_filter: str = "doc_id % 2 = 0",
    n_longs: int = 1024,
    k: int = 4,
    seed: str = "bf",
) -> str:
    """Mirror of operators.bloom: build the filter words from the history
    slice with the same seeded md5-60 positions and bit_or, probe every
    row with the same k bit-tests — all integer/bit arithmetic, so the
    verdicts are bit-identical."""
    m = 63 * n_longs  # 63 usable bits/word: 1<<63 overflows DuckDB's checked shift

    def pos(j: int, src: str) -> str:
        h = duck_md5_long(f"'{seed}{j}#' || CAST({src} AS VARCHAR)")
        return f"{h} % {m}"

    hist_pos = " UNION ALL ".join(
        f"SELECT {pos(j, col)} AS p FROM {table} WHERE {history_filter}"
        for j in range(k)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT {id_col}, {pos(j, col)} AS p FROM {table}" for j in range(k)
    )
    return f"""
WITH hp AS ({hist_pos}),
bloom AS (
  SELECT CAST(p // 63 AS INTEGER) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS bits
  FROM hp GROUP BY 1),
pp AS ({probe_pos}),
probed AS (
  SELECT pp.{id_col},
         coalesce((b.bits >> CAST(pp.p % 63 AS INTEGER)) & CAST(1 AS BIGINT), 0) AS bit_set
  FROM pp LEFT JOIN bloom b ON b.word_idx = CAST(pp.p // 63 AS INTEGER))
SELECT {id_col}, CAST(min(bit_set) AS INTEGER) AS maybe_seen
FROM probed GROUP BY 1
"""


def leakage_safe_split_sql(
    pairs_sql: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    val_fraction: float = 0.1,
    seed: str = "split",
    buckets: int = 10_000,
) -> str:
    """Near-dup-aware split mirror (operators/corpus.py:leakage_safe_split):
    connected components over the pair query, split decided by the seeded
    60-bit md5 of the cluster representative (own id when unclustered)."""
    comp = components_sql(pairs_sql)
    h = duck_md5_long(f"'{seed}#' || CAST(split_key AS VARCHAR)")
    return f"""
WITH comps AS ({comp}),
keyed AS (
  SELECT t.{id_col}, coalesce(c.cluster_id, t.{id_col}) AS split_key
  FROM {table} t LEFT JOIN comps c ON c.doc_id = t.{id_col})
SELECT {id_col}, CAST(split_key AS BIGINT) AS split_key,
       CASE WHEN {h} % {buckets} < {int(val_fraction * buckets)}
            THEN 'val' ELSE 'train' END AS split
FROM keyed
"""


def leakage_folds_sql(
    pairs_sql: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    n_folds: int = 5,
    seed: str = "folds",
) -> str:
    """k-fold near-dup-aware assignment mirror (operators/corpus.py:
    leakage_folds): connected components over the pair query, fold =
    seeded 60-bit md5 of the cluster representative mod n_folds."""
    comp = components_sql(pairs_sql)
    h = duck_md5_long(f"'{seed}#' || CAST(split_key AS VARCHAR)")
    return f"""
WITH comps AS ({comp}),
keyed AS (
  SELECT t.{id_col}, coalesce(c.cluster_id, t.{id_col}) AS split_key
  FROM {table} t LEFT JOIN comps c ON c.doc_id = t.{id_col})
SELECT {id_col}, CAST(split_key AS BIGINT) AS split_key,
       CAST({h} % {n_folds} AS INTEGER) AS fold
FROM keyed
"""


def token_pipeline_sql(
    *,
    n_docs: int = 2000,
    events_per_doc: int = 4,
    seed: str = "tmg",
    gap_seconds: float = 6 * 3600.0,
    n_revisions: int = 3,
    min_len: int = 8,
    max_len: int = 64,
    n_sources: int = 20,
) -> str:
    """Full mirror of pipeline.token_features(hash_mode='md5'): regenerates
    the three deterministic synthetic tables in pure SQL (same 60-bit md5 of
    ``seed|id[|sub]``, sources/synth.py), then replays flatten→as-of→
    sessionize→lag. ``tokens_len`` equals ``n_tok`` by construction
    (sequence(1, n_tok) has exactly n_tok elements)."""
    from transmog_spark.sources.synth import EPOCH_S

    span = max_len - min_len + 1
    day30 = 86400 * 30
    gap_us = int(gap_seconds * 1_000_000)

    def h(tag: str, *subs: str) -> str:
        expr = " || '|' || ".join(f"CAST({s} AS VARCHAR)" for s in subs)
        return duck_md5_long(f"'{seed}:{tag}|' || {expr}")

    did = "'doc' || lpad(CAST(id AS VARCHAR), 12, '0')"
    src = (
        f"CASE WHEN ({h('src', 'id')} % 1000) < 500 THEN 'src_hot' "
        f"ELSE 'src_' || lpad(CAST(({h('srcn', 'id')} % {n_sources}) AS VARCHAR), 2, '0') END"
    )
    return f"""
WITH ids AS (SELECT range AS id FROM range(0, {n_docs})),
seq AS (
  SELECT {did} AS doc_id,
         CAST({min_len} + ({h('len', 'id')} % {span}) AS INT) AS n_tok,
         {src} AS source
  FROM ids),
revbase AS (
  SELECT id, {did} AS doc_id, 1 + ({h('nrev', 'id')} % {n_revisions}) AS n_rev FROM ids),
revx AS (
  SELECT id, doc_id, unnest(range(1, n_rev + 1)) AS rev FROM revbase),
revd AS (
  SELECT doc_id, CAST(rev AS INT) AS rev,
         make_timestamp(({EPOCH_S} + ({h('rts', 'id', 'rev')} % {day30})) * 1000000) AS ts,
         CAST({min_len} + ({h('rnt', 'id', 'rev')} % {span}) AS INT) AS rev_n_tok
  FROM revx),
feids AS (SELECT range AS id FROM range(0, {n_docs * events_per_doc})),
fe AS (
  SELECT 'doc' || lpad(CAST(id % {n_docs} AS VARCHAR), 12, '0') AS doc_id,
         make_timestamp(({EPOCH_S} + ({h('fts', 'id')} % {day30})) * 1000000) AS ts,
         ({h('fv', 'id')} % 100000) / 1000.0 AS feature_v
  FROM feids),
feg AS (SELECT doc_id, ts, max(feature_v) AS feature_v FROM fe GROUP BY 1, 2),
pit AS (
  SELECT r.doc_id, r.rev, r.ts, r.rev_n_tok, f.feature_v
  FROM revd r ASOF LEFT JOIN feg f ON r.doc_id = f.doc_id AND r.ts >= f.ts),
flagged AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
                 THEN 1 ELSE 0 END AS is_new
  FROM pit WINDOW w AS (PARTITION BY doc_id ORDER BY ts, rev)),
sessioned AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY doc_id ORDER BY ts, rev
                              ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_index
  FROM flagged),
lagged AS (
  SELECT *, lag(rev_n_tok, 1) OVER w AS rev_n_tok_lag1
  FROM sessioned WINDOW w AS (PARTITION BY doc_id ORDER BY ts, rev))
SELECT l.doc_id, s.source, l.rev, l.ts, l.rev_n_tok, l.feature_v,
       l.session_index, l.rev_n_tok_lag1, s.n_tok, s.n_tok AS tokens_len
FROM lagged l JOIN seq s ON l.doc_id = s.doc_id
"""


def _lang_score(toks: str, lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({toks}, x -> list_contains([{markers}], x)))"


def text_profile_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    stop = ", ".join(f"'{m}'" for m in EN_STOPWORDS)
    # NOTE: lang_pred CASE chain is the SQL equivalent of operators.text.lang_id's
    # later-wins loop over (es, fr, de, en) — verified equivalent in tests.
    return f"""
WITH docs AS (
  SELECT {id_col}, {text_col} AS txt, {duck_ws_tokens(text_col)} AS t FROM {table}),
scored AS (
  SELECT {id_col}, txt, t,
         {_lang_score('t', 'en')} AS s_en, {_lang_score('t', 'de')} AS s_de,
         {_lang_score('t', 'fr')} AS s_fr, {_lang_score('t', 'es')} AS s_es,
         len(t) AS n_words,
         length(txt) AS n_chars,
         len(regexp_extract_all(txt, '[^\\w\\s]')) AS n_punct,
         len(list_filter(t, x -> list_contains([{stop}], x))) AS n_stop,
         CASE WHEN len(t) > 0
              THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
              ELSE 0.0 END AS mean_word_len
  FROM docs),
feat AS (
  SELECT *,
         CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_words > 0 THEN n_stop::DOUBLE / n_words ELSE 0.0 END AS stopword_ratio
  FROM scored),
quality AS (
  SELECT *, {duck_quality_expr()} AS quality
  FROM feat)
SELECT {id_col},
       n_words AS n_tokens_ws,
       len(regexp_extract_all(lower(txt), '{BPE_REGEX}')) AS n_tokens_bpe,
       CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'und' END AS lang_pred,
       n_chars, punct_ratio, stopword_ratio, mean_word_len, quality,
       COALESCE(CAST(
         list_sum(list_transform(range(1, len(t) + 1),
                  i -> {duck_md5_long("i || '#' || t[i]")} % {MOD_P})) % {MOD_P}
         AS BIGINT), 0) AS fingerprint
FROM quality
"""


def pack_concat_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    budget: int = 256,
    hash_blocks: int | None = None,
) -> str:
    """Concat-then-chunk packing (operators/packing.py:pack_concat).

    The engine's two-level distributed scan reduces to a plain window
    cumsum at oracle scale — identical integer arithmetic. For string ids
    (``hash_blocks`` set) the packing order is ``(hash block, id)``,
    mirroring operators/packing.py:_blocked."""
    blk = (
        f", {duck_md5_long(id_col)} % {hash_blocks} AS blk"
        if hash_blocks
        else ""
    )
    order = f"blk, {id_col}" if hash_blocks else id_col
    return f"""
WITH docs AS (SELECT {id_col}, {source_col},
                     len({duck_ws_tokens(text_col)}) AS n_tok{blk} FROM {table}),
nz AS (SELECT * FROM docs WHERE n_tok > 0),
off AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (
          PARTITION BY {source_col} ORDER BY {order}
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM nz),
spans AS (SELECT {source_col}, {id_col}, tok_start, n_tok,
                 unnest(generate_series(tok_start // {budget},
                                        (tok_start + n_tok - 1) // {budget})) AS seq_id
          FROM off)
SELECT {source_col}, CAST(seq_id AS BIGINT) AS seq_id, {id_col},
       CAST(greatest(tok_start, seq_id * {budget}) - seq_id * {budget} AS BIGINT) AS seq_offset,
       CAST(greatest(tok_start, seq_id * {budget}) - tok_start AS BIGINT) AS doc_offset,
       CAST(least(tok_start + n_tok, seq_id * {budget} + {budget})
            - greatest(tok_start, seq_id * {budget}) AS BIGINT) AS span_len
FROM spans
"""


def pack_greedy_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    budget: int = 256,
    block_rows: int = 128,
) -> str:
    """First-fit no-split packing (operators/packing.py:pack_greedy).

    The per-block running-fill recurrence as a recursive CTE walking rows
    in (source, block, doc_id) order — blocks are tiny, recursion depth is
    max rows per block."""
    return f"""
WITH RECURSIVE docs AS (
  SELECT {id_col}, {source_col},
         len({duck_ws_tokens(text_col)}) AS n_tok,
         {id_col} // {block_rows} AS block
  FROM {table}),
nz AS (
  SELECT *, row_number() OVER (PARTITION BY {source_col}, block ORDER BY {id_col}) AS rn
  FROM docs WHERE n_tok > 0),
walk AS (
  SELECT {source_col}, block, {id_col}, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_in_block, CAST(0 AS BIGINT) AS seq_offset,
         CAST(n_tok AS BIGINT) AS fill
  FROM nz WHERE rn = 1
  UNION ALL
  SELECT d.{source_col}, d.block, d.{id_col}, d.n_tok, d.rn,
         CASE WHEN w.fill > 0 AND w.fill + d.n_tok > {budget}
              THEN w.seq_in_block + 1 ELSE w.seq_in_block END,
         CASE WHEN w.fill > 0 AND w.fill + d.n_tok > {budget}
              THEN CAST(0 AS BIGINT) ELSE w.fill END,
         CASE WHEN w.fill > 0 AND w.fill + d.n_tok > {budget}
              THEN CAST(d.n_tok AS BIGINT) ELSE w.fill + d.n_tok END
  FROM walk w
  JOIN nz d ON d.{source_col} = w.{source_col} AND d.block = w.block AND d.rn = w.rn + 1)
SELECT {source_col}, CAST(block AS BIGINT) AS block, {id_col},
       CAST(n_tok AS BIGINT) AS n_tok, seq_in_block, seq_offset
FROM walk
"""


def pack_bestfit_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    budget: int = 256,
    block_rows: int = 128,
) -> str:
    """Best-fit-decreasing packing (operators/packing.py:pack_bestfit):
    recursive-CTE walk over the (n_tok DESC, id) order carrying the
    bin-fill LIST (a plain BIGINT list — safe from the DuckDB 1.0
    list_reduce struct-accumulator bug). The tightest-fit argmax is
    encoded as one BIGINT per candidate bin ((fill+1)*1e6 - j, always
    positive so integer division stays floor-free) and decoded back to
    the bin index — list_max as argmax, no lateral joins."""
    # enc over candidate bins j (1-based): (fills[j] + 1) * 1e6 - j, NULL
    # for non-candidates; NULL list_max -> open a new bin
    enc = (
        f"list_max(list_filter(list_transform(range(1, len(w.fills) + 1), "
        f"j -> CASE WHEN d.n_tok <= {budget} "
        f"AND w.fills[j] + d.n_tok <= {budget} "
        f"THEN (w.fills[j] + 1) * 1000000 - j END), x -> x IS NOT NULL))"
    )
    jx = f"(({enc}) // 1000000 + 1) * 1000000 - ({enc})"
    return f"""
WITH RECURSIVE docs AS (
  SELECT {id_col}, {source_col},
         len({duck_ws_tokens(text_col)}) AS n_tok,
         {id_col} // {block_rows} AS block
  FROM {table}),
nz AS (
  SELECT *, row_number() OVER (
      PARTITION BY {source_col}, block
      ORDER BY n_tok DESC, {id_col}) AS rn
  FROM docs WHERE n_tok > 0),
walk AS (
  SELECT {source_col}, block, {id_col}, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_in_block, CAST(0 AS BIGINT) AS seq_offset,
         [CAST(n_tok AS BIGINT)] AS fills
  FROM nz WHERE rn = 1
  UNION ALL
  SELECT d.{source_col}, d.block, d.{id_col}, d.n_tok, d.rn,
         CAST(CASE WHEN {enc} IS NULL THEN len(w.fills)
              ELSE {jx} - 1 END AS BIGINT),
         CAST(CASE WHEN {enc} IS NULL THEN 0
              ELSE w.fills[CAST({jx} AS INTEGER)] END AS BIGINT),
         CASE WHEN {enc} IS NULL
              THEN list_append(w.fills, CAST(d.n_tok AS BIGINT))
              ELSE list_transform(range(1, len(w.fills) + 1),
                     j -> CASE WHEN j = {jx}
                          THEN w.fills[j] + d.n_tok ELSE w.fills[j] END)
         END
  FROM walk w
  JOIN nz d ON d.{source_col} = w.{source_col} AND d.block = w.block
           AND d.rn = w.rn + 1)
SELECT {source_col}, CAST(block AS BIGINT) AS block, {id_col},
       CAST(n_tok AS BIGINT) AS n_tok, seq_in_block, seq_offset
FROM walk
"""


def pack_stats_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    budget: int = 256,
    block_rows: int = 128,
) -> str:
    """Packing-efficiency telemetry (operators/packing.py:pack_stats) over
    the greedy packing's recursive-CTE mirror. Exact longs until the two
    final round-4 divisions."""
    inner = pack_greedy_sql(
        table=table,
        id_col=id_col,
        text_col=text_col,
        source_col=source_col,
        budget=budget,
        block_rows=block_rows,
    )
    return f"""
WITH per_seq AS (
  SELECT {source_col}, block, seq_in_block,
         sum(n_tok) AS tok, count(*) AS docs,
         max(CASE WHEN n_tok > {budget} THEN 1 ELSE 0 END) AS over
  FROM ({inner})
  GROUP BY 1, 2, 3)
SELECT {source_col},
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(docs) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(sum(over) AS BIGINT) AS oversized_seqs,
       CAST(min(tok) AS BIGINT) AS min_seq_tokens,
       CAST(max(tok) AS BIGINT) AS max_seq_tokens,
       CAST(sum(greatest({budget} - tok, 0)) AS BIGINT) AS waste_tokens,
       round(CAST(sum(tok) AS DOUBLE) / (count(*) * {budget}), 4) AS fill_rate,
       round(CAST(sum(docs) AS DOUBLE) / count(*), 4) AS docs_per_seq
FROM per_seq GROUP BY {source_col}
"""


def pack_assemble_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    vocab: int = 32768,
    budget: int = 256,
    hash_blocks: int | None = None,
) -> str:
    """Materialized packed sequences (operators/packing.py:pack_assemble).

    Same integer span arithmetic as ``pack_concat_sql``, then the document
    slices are concatenated per (source, seq_id) in seq_offset order via
    ``flatten(list(piece ORDER BY seq_offset))``; the assembled token array
    is scalarized to an order-preserving md5 for the driver's canonicalizer
    (per-element parity is independently gated by ``token_positions``)."""
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"
    lo = f"seq_id * {budget}"
    start = f"greatest(tok_start, {lo})"
    stop = f"least(tok_start + n_tok, {lo} + {budget})"
    blk = (
        f", {duck_md5_long(id_col)} % {hash_blocks} AS blk"
        if hash_blocks
        else ""
    )
    order = f"blk, {id_col}" if hash_blocks else id_col
    return f"""
WITH docs AS (SELECT {id_col}, {source_col},
                     list_transform({duck_ws_tokens(text_col)}, x -> {tok}) AS tk{blk}
              FROM {table}),
d2 AS (SELECT *, len(tk) AS n_tok FROM docs WHERE len(tk) > 0),
off AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (
          PARTITION BY {source_col} ORDER BY {order}
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM d2),
spans AS (SELECT {source_col}, {id_col}, tk, tok_start, n_tok,
                 unnest(generate_series(tok_start // {budget},
                                        (tok_start + n_tok - 1) // {budget})) AS seq_id
          FROM off),
pieces AS (SELECT {source_col}, CAST(seq_id AS BIGINT) AS seq_id,
                  CAST({start} - {lo} AS BIGINT) AS seq_offset,
                  list_slice(tk, {start} - tok_start + 1, {stop} - tok_start) AS piece
           FROM spans),
asm AS (SELECT {source_col}, seq_id,
               flatten(list(piece ORDER BY seq_offset)) AS tokens
        FROM pieces GROUP BY 1, 2)
SELECT {source_col}, seq_id, CAST(len(tokens) AS BIGINT) AS seq_len,
       md5(array_to_string(list_transform(tokens, x -> CAST(x AS VARCHAR)), ',')) AS tokens_md5
FROM asm
"""


def pack_masks_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    vocab: int = 32768,
    budget: int = 256,
) -> str:
    """Packed sequences + per-token attention/loss metadata
    (operators/packing.py:pack_masks).

    Same span arithmetic as ``pack_assemble_sql``; the piece ordinal is a
    row_number over seq_offset (Spark's transform-with-index over the
    sorted piece structs), position_ids continue each document's own
    offset across splits, loss_mask is 0 exactly where position == 0.
    All five arrays scalarized to order-preserving md5s."""
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"
    lo = f"seq_id * {budget}"
    start = f"greatest(tok_start, {lo})"
    stop = f"least(tok_start + n_tok, {lo} + {budget})"

    def _md5(arr: str) -> str:
        return (
            f"md5(array_to_string(list_transform({arr}, "
            "x -> CAST(x AS VARCHAR)), ','))"
        )

    return f"""
WITH docs AS (SELECT {id_col}, {source_col},
                     list_transform({duck_ws_tokens(text_col)}, x -> {tok}) AS tk
              FROM {table}),
d2 AS (SELECT *, len(tk) AS n_tok FROM docs WHERE len(tk) > 0),
off AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (
          PARTITION BY {source_col} ORDER BY {id_col}
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM d2),
spans AS (SELECT {source_col}, {id_col}, tk, tok_start, n_tok,
                 unnest(generate_series(tok_start // {budget},
                                        (tok_start + n_tok - 1) // {budget})) AS seq_id
          FROM off),
pieces AS (SELECT {source_col}, CAST(seq_id AS BIGINT) AS seq_id,
                  CAST({start} - {lo} AS BIGINT) AS seq_offset,
                  CAST({start} - tok_start AS BIGINT) AS doc_offset,
                  list_slice(tk, {start} - tok_start + 1, {stop} - tok_start) AS piece
           FROM spans),
ord AS (SELECT *,
               CAST(row_number() OVER (
                 PARTITION BY {source_col}, seq_id ORDER BY seq_offset) AS BIGINT) AS seg
        FROM pieces),
asm AS (SELECT {source_col}, seq_id,
               flatten(list(piece ORDER BY seq_offset)) AS tokens,
               flatten(list(list_transform(piece, x -> seg)
                            ORDER BY seq_offset)) AS segment_ids,
               flatten(list(generate_series(doc_offset, doc_offset + len(piece) - 1)
                            ORDER BY seq_offset)) AS position_ids,
               list(CAST(len(piece) AS BIGINT) ORDER BY seq_offset) AS piece_lens
        FROM ord GROUP BY 1, 2)
SELECT {source_col}, seq_id, CAST(len(tokens) AS BIGINT) AS seq_len,
       {_md5('tokens')} AS tokens_md5,
       {_md5('segment_ids')} AS segment_md5,
       {_md5('position_ids')} AS position_md5,
       {_md5("list_transform(position_ids, p -> CASE WHEN p = 0 THEN 0 ELSE 1 END)")} AS loss_md5,
       {_md5('piece_lens')} AS piece_lens_md5
FROM asm
"""


def pack_assemble_greedy_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    vocab: int = 32768,
    budget: int = 256,
    block_rows: int = 128,
) -> str:
    """Materialized greedy sequences (packing.py:pack_assemble_greedy).

    Same recursive-CTE first-fit walk as ``pack_greedy_sql``, then member
    token arrays concatenated per (source, block, seq_in_block) in
    seq_offset order; arrays scalarized to an order-preserving md5."""
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"
    return f"""
WITH RECURSIVE docs AS (
  SELECT {id_col}, {source_col},
         list_transform({duck_ws_tokens(text_col)}, x -> {tok}) AS tk,
         {id_col} // {block_rows} AS block
  FROM {table}),
nz AS (
  SELECT *, len(tk) AS n_tok,
         row_number() OVER (PARTITION BY {source_col}, block ORDER BY {id_col}) AS rn
  FROM docs WHERE len(tk) > 0),
walk AS (
  SELECT {source_col}, block, {id_col}, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_in_block, CAST(0 AS BIGINT) AS seq_offset,
         CAST(n_tok AS BIGINT) AS fill
  FROM nz WHERE rn = 1
  UNION ALL
  SELECT d.{source_col}, d.block, d.{id_col}, d.n_tok, d.rn,
         CASE WHEN w.fill > 0 AND w.fill + d.n_tok > {budget}
              THEN w.seq_in_block + 1 ELSE w.seq_in_block END,
         CASE WHEN w.fill > 0 AND w.fill + d.n_tok > {budget}
              THEN CAST(0 AS BIGINT) ELSE w.fill END,
         CASE WHEN w.fill > 0 AND w.fill + d.n_tok > {budget}
              THEN CAST(d.n_tok AS BIGINT) ELSE w.fill + d.n_tok END
  FROM walk w
  JOIN nz d ON d.{source_col} = w.{source_col} AND d.block = w.block AND d.rn = w.rn + 1),
asm AS (
  SELECT w.{source_col}, w.block, w.seq_in_block,
         flatten(list(n.tk ORDER BY w.seq_offset)) AS tokens
  FROM walk w JOIN nz n ON n.{id_col} = w.{id_col}
  GROUP BY 1, 2, 3)
SELECT {source_col}, CAST(block AS BIGINT) AS block, seq_in_block,
       CAST(len(tokens) AS BIGINT) AS seq_len,
       md5(array_to_string(list_transform(tokens, x -> CAST(x AS VARCHAR)), ',')) AS tokens_md5
FROM asm
"""


def token_chunks_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: int = 32768,
    window: int = 32,
    stride: int = 16,
) -> str:
    """Sliding token windows (operators/packing.py:token_chunks); chunk
    arrays scalarized to an order-preserving md5."""
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"
    sl = f"list_slice(tk, chunk_id * {stride} + 1, chunk_id * {stride} + {window})"
    return f"""
WITH docs AS (SELECT {id_col},
                     list_transform({duck_ws_tokens(text_col)}, x -> {tok}) AS tk
              FROM {table}),
nz AS (SELECT * FROM docs WHERE len(tk) > 0),
ex AS (SELECT {id_col}, tk,
              unnest(generate_series(0,
                CASE WHEN len(tk) <= {window} THEN 0
                     ELSE (len(tk) - {window} + {stride} - 1) // {stride} END)) AS chunk_id
       FROM nz)
SELECT {id_col}, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len({sl}) AS BIGINT) AS chunk_len,
       md5(array_to_string(list_transform({sl}, x -> CAST(x AS VARCHAR)), ',')) AS chunk_md5
FROM ex
"""


def decontaminate_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bench_mod: int = 97,
) -> str:
    """Benchmark n-gram decontamination (operators/corpus.py:decontaminate);
    benchmark = docs with id % bench_mod = 0, corpus = the rest."""
    h = duck_md5_long("s")
    return f"""
WITH docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}),
hs AS (SELECT {id_col},
              list_transform({duck_shingles('t', shingle_n)}, s -> {h}) AS g
       FROM docs),
bench AS (SELECT DISTINCT unnest(g) AS g FROM hs WHERE {id_col} % {bench_mod} = 0),
corp AS (SELECT {id_col}, unnest(g) AS g FROM hs WHERE {id_col} % {bench_mod} <> 0),
j AS (SELECT c.{id_col}, CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM corp c LEFT JOIN bench b ON c.g = b.g)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS contamination
FROM j GROUP BY {id_col}
"""


def decontaminate_fuzzy_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    bench_mod: int = 97,
) -> str:
    """Per-item fuzzy decontamination (operators/corpus.py:
    decontaminate_fuzzy); benchmark = docs with id % bench_mod = 0, corpus =
    the rest. Same 60-bit md5 shingle hashes, same round-4 containment /
    Jaccard grids, same (containment DESC, jaccard DESC, bench id ASC)
    argmax tie-break."""
    h = duck_md5_long("s")
    return f"""
WITH docs AS (SELECT {id_col} AS id, {duck_ws_tokens(text_col)} AS t FROM {table}),
hs AS (SELECT id, list_transform({duck_shingles('t', shingle_n)}, s -> {h}) AS g FROM docs),
ben AS (SELECT id AS bid, unnest(g) AS g FROM hs WHERE id % {bench_mod} = 0),
bsz AS (SELECT id AS bid, len(g) AS bn FROM hs WHERE id % {bench_mod} = 0),
corp AS (SELECT id AS cid, unnest(g) AS g FROM hs WHERE id % {bench_mod} <> 0),
csz AS (SELECT id AS cid, len(g) AS cn FROM hs WHERE id % {bench_mod} <> 0),
inter AS (
  SELECT c.cid, b.bid, count(*) AS i
  FROM corp c JOIN ben b ON c.g = b.g GROUP BY c.cid, b.bid),
jac AS (
  SELECT i.cid, i.bid,
         round(CAST(i.i AS DOUBLE) / bsz.bn, 4) AS cont,
         round(CAST(i.i AS DOUBLE) / (csz.cn + bsz.bn - i.i), 4) AS j
  FROM inter i JOIN csz ON i.cid = csz.cid JOIN bsz ON i.bid = bsz.bid),
best AS (
  SELECT cid, bid, cont, j FROM (
    SELECT cid, bid, cont, j,
           row_number() OVER (PARTITION BY cid ORDER BY cont DESC, j DESC, bid) AS rn
    FROM jac) WHERE rn = 1)
SELECT csz.cid AS {id_col},
       CAST(csz.cn AS BIGINT) AS n_shingles,
       CAST(best.bid AS BIGINT) AS bench_id,
       coalesce(best.cont, 0.0) AS containment,
       coalesce(best.j, 0.0) AS jaccard,
       CAST(CASE WHEN coalesce(best.cont, 0.0) >= {threshold} THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM csz LEFT JOIN best ON csz.cid = best.cid
"""


def repetition_profile_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Within-doc repetition signals (operators/text.py:repetition_profile).
    Docs with zero tokens are absent (the unigram frame anchors the join)."""

    def grams(n: int) -> str:
        return (
            f"list_transform(range(1, len(t) - {n} + 2), "
            f"i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))"
        )

    h = duck_md5_long("g")
    return f"""
WITH docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}),
allg AS (
  SELECT {id_col}, 1 AS n, {h} AS gh FROM (SELECT {id_col}, unnest(t) AS g FROM docs)
  UNION ALL
  SELECT {id_col}, 2 AS n, {h} AS gh FROM (SELECT {id_col}, unnest({grams(2)}) AS g FROM docs)
  UNION ALL
  SELECT {id_col}, 3 AS n, {h} AS gh FROM (SELECT {id_col}, unnest({grams(3)}) AS g FROM docs)),
cnt AS (SELECT {id_col}, n, gh, count(*) AS c FROM allg GROUP BY 1, 2, 3),
prof AS (SELECT {id_col},
                max(CASE WHEN n = 1 THEN c END) AS t1_max,
                CAST(sum(CASE WHEN n = 1 THEN c END) AS BIGINT) AS t1_total,
                max(CASE WHEN n = 2 THEN c END) AS t2_max,
                CAST(sum(CASE WHEN n = 3 AND c > 1 THEN c END) AS BIGINT) AS t3_dup,
                CAST(sum(CASE WHEN n = 3 THEN c END) AS BIGINT) AS t3_total
         FROM cnt GROUP BY 1)
SELECT {id_col}, t1_total AS n_tok,
       round(COALESCE(CAST(t1_max AS DOUBLE) / t1_total, 0), 4) AS top_tok_frac,
       round(COALESCE(CAST(t2_max * 2 AS DOUBLE) / t1_total, 0), 4) AS top_2gram_frac,
       round(COALESCE(CAST(t3_dup AS DOUBLE) / t3_total, 0), 4) AS dup_3gram_frac
FROM prof
"""


def training_order_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    n_shards: int = 4,
    seed: str = "",
    ntok_expr: str | None = None,
) -> str:
    """Mirror of operators.corpus.training_order: md5(seed#id) permutation
    key, shard = key mod n_shards, 0-based rank in shard; optional n_tok
    passthrough + exclusive running token offset."""
    key = duck_md5_long(f"concat('{seed}', '#', CAST({id_col} AS VARCHAR))")
    tok_cols = ""
    if ntok_expr is not None:
        tok_cols = f""",
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST(COALESCE(sum(n_tok) OVER (PARTITION BY key % {n_shards}
         ORDER BY key, {id_col}
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset"""
    ntok_sel = f", {ntok_expr} AS n_tok" if ntok_expr is not None else ""
    return f"""
WITH k AS (SELECT {id_col}, {key} AS key{ntok_sel} FROM {table})
SELECT {id_col},
       CAST(key % {n_shards} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY key % {n_shards}
         ORDER BY key, {id_col}) - 1 AS INT) AS shard_pos{tok_cols}
FROM k
"""


def shard_manifest_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    n_shards: int = 4,
    seed: str = "",
    ntok_expr: str | None = None,
) -> str:
    """Mirror of operators.corpus.shard_manifest: per-shard row count,
    optional token total, and the order-sensitive id-sequence digest."""
    inner = training_order_sql(
        table=table, id_col=id_col, n_shards=n_shards, seed=seed, ntok_expr=ntok_expr
    )
    tok = ", CAST(sum(n_tok) AS BIGINT) AS tok_total" if ntok_expr is not None else ""
    return f"""
WITH ordered AS ({inner})
SELECT shard, CAST(count(*) AS BIGINT) AS n_rows{tok},
       md5(string_agg(CAST({id_col} AS VARCHAR), ',' ORDER BY shard_pos)) AS ids_md5
FROM ordered GROUP BY shard
"""


def _span_ctes(
    *, table: str, id_col: str, text_col: str, n: int, min_count: int
) -> str:
    """Shared CTE chain for the duplicated-span family (mirrors
    operators/spans.py): docs -> positioned n-gram hashes -> corpus-wide
    duplicate grams -> per-doc merged coverage spans. Ends with a
    ``spans`` CTE (doc, span_start, span_end); no opening WITH."""
    grams = (
        f"list_transform(range(1, len(t) - {n} + 2), "
        f"i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))"
    )
    h = duck_md5_long("gram")
    return f"""docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}),
g AS (
  SELECT {id_col}, p, {h} AS gh
  FROM (SELECT {id_col}, unnest(gl) AS gram, generate_subscripts(gl, 1) - 1 AS p
        FROM (SELECT {id_col}, {grams} AS gl FROM docs))),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= {min_count}),
dpos AS (SELECT g.{id_col}, g.p FROM g JOIN dup USING (gh)),
flagged AS (
  SELECT {id_col}, p,
         max(p + {n} - 1) OVER (PARTITION BY {id_col} ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM dpos),
isl AS (
  SELECT {id_col}, p,
         sum(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY {id_col} ORDER BY p) AS island
  FROM flagged),
spans AS (
  SELECT {id_col}, CAST(min(p) AS INT) AS span_start,
         CAST(max(p) + {n} - 1 AS INT) AS span_end
  FROM isl GROUP BY {id_col}, island)"""


def duplicate_spans_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> str:
    """Mirror of operators.spans.duplicate_spans."""
    ctes = _span_ctes(
        table=table, id_col=id_col, text_col=text_col, n=n, min_count=min_count
    )
    return f"""
WITH {ctes}
SELECT {id_col}, span_start, span_end,
       CAST(span_end - span_start + 1 AS INT) AS span_len
FROM spans
"""


def strip_duplicate_spans_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> str:
    """Mirror of operators.spans.strip_duplicate_spans: remove covered
    token positions, fingerprint the kept tokens (md5 of space-rejoined
    tokens; md5('') when none survive)."""
    ctes = _span_ctes(
        table=table, id_col=id_col, text_col=text_col, n=n, min_count=min_count
    )
    return f"""
WITH {ctes},
covered AS (
  SELECT DISTINCT {id_col}, unnest(range(span_start, span_end + 1)) AS pos
  FROM spans),
tokpos AS (
  SELECT {id_col}, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM docs),
kept AS (
  SELECT tp.{id_col}, tp.pos, tp.tok
  FROM tokpos tp LEFT JOIN covered c
    ON tp.{id_col} = c.{id_col} AND tp.pos = c.pos
  WHERE c.pos IS NULL),
agg AS (
  SELECT {id_col}, CAST(count(*) AS INT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
  FROM kept GROUP BY {id_col})
SELECT d.{id_col},
       CAST(len(d.t) AS INT) AS n_tok,
       CAST(len(d.t) - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
       COALESCE(a.fp, md5('')) AS clean_md5
FROM docs d LEFT JOIN agg a ON d.{id_col} = a.{id_col}
"""


def quality_gate_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    min_word_len: float = 2.0,
    max_word_len: float = 12.0,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.02,
    max_top2gram: float = 0.15,
    max_ppl: float = 31.5,
    max_pii: int = 3,
) -> str:
    """Composite quality verdict (operators/quality.py:quality_gate):
    the per-operator oracles composed as CTEs + the same fixed-precedence
    CASE. Rule comparisons see the identical bit-exact doubles the
    standalone oracles already hash."""
    from transmog_spark.operators.pii import PII_PATTERNS

    tp = text_profile_sql(table=table, id_col=id_col, text_col=text_col)
    rp = repetition_profile_sql(table=table, id_col=id_col, text_col=text_col)
    lm = lm_perplexity_sql(table=table, id_col=id_col, text_col=text_col)
    pii_total = " + ".join(
        f"len(regexp_extract_all({text_col}, '{pat}'))"
        for pat in PII_PATTERNS.values()
    )
    return f"""
WITH tp AS ({tp}),
rp AS ({rp}),
lm AS ({lm}),
pii AS (SELECT {id_col}, CAST({pii_total} AS BIGINT) AS n_pii FROM {table})
SELECT tp.{id_col},
       tp.n_tokens_ws,
       tp.stopword_ratio,
       coalesce(rp.top_2gram_frac, 0.0) AS top_2gram_frac,
       coalesce(lm.ppl, 0.0) AS ppl,
       pii.n_pii,
       CASE WHEN tp.n_tokens_ws < {min_tokens} THEN 'too_short'
            WHEN tp.mean_word_len < {min_word_len}
                 OR tp.mean_word_len > {max_word_len} THEN 'word_shape'
            WHEN tp.punct_ratio > {max_punct_ratio} THEN 'punct_heavy'
            WHEN tp.stopword_ratio < {min_stopword_ratio} THEN 'low_stopword'
            WHEN coalesce(rp.top_2gram_frac, 0.0) > {max_top2gram} THEN 'repetitive'
            WHEN coalesce(lm.ppl, 0.0) > {max_ppl} THEN 'high_ppl'
            WHEN pii.n_pii > {max_pii} THEN 'pii_heavy'
            ELSE 'keep' END AS verdict
FROM tp
LEFT JOIN rp ON tp.{id_col} = rp.{id_col}
LEFT JOIN lm ON tp.{id_col} = lm.{id_col}
JOIN pii ON tp.{id_col} = pii.{id_col}
"""


def _curation_stage_ctes(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    shingle_n: int = 3,
    bench_mod: int = 97,
    max_contamination: float = 0.02,
    near_num_hashes: int = 8,
    near_bands: int = 4,
    near_threshold: float = 0.5,
    near_max_bucket: int = 500,
    span_n: int = 8,
    span_min_count: int = 2,
) -> str:
    """The curation chain's stage CTE prefix (through nz, the span-stripped
    nonzero survivors) — shared by curation_pipeline_sql (packing tail) and
    curation_funnel_sql (attrition tail)."""
    qg = quality_gate_sql(table=table, id_col=id_col, text_col=text_col)
    dec = decontaminate_sql(
        table=table,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        bench_mod=bench_mod,
    )
    nd_pairs = minhash_pairs_sql(
        table="ded",
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=near_num_hashes,
        bands=near_bands,
        threshold=near_threshold,
        max_bucket=near_max_bucket,
    )
    comps = components_sql(nd_pairs)
    strip = strip_duplicate_spans_sql(
        table="nded", id_col=id_col, text_col=text_col,
        n=span_n, min_count=span_min_count,
    )
    # AS MATERIALIZED on every multiply-referenced stage: DuckDB inlines
    # plain CTEs per reference, re-evaluating the whole upstream chain
    # (the un-hinted form measured 236s vs 6s at sf0.01, identical rows)
    return f"""
WITH qg AS MATERIALIZED ({qg}),
dec AS MATERIALIZED ({dec}),
corpus AS (SELECT * FROM {table} WHERE {id_col} % {bench_mod} <> 0),
keep AS MATERIALIZED (
  SELECT c.{id_col}, c.{source_col}, c.{text_col}
  FROM corpus c
  JOIN qg q ON c.{id_col} = q.{id_col}
  JOIN dec d ON c.{id_col} = d.{id_col}
  WHERE q.verdict = 'keep'
    AND d.contamination <= {max_contamination}),
ded AS MATERIALIZED (
  SELECT {id_col}, {source_col}, {text_col} FROM (
    SELECT *, row_number() OVER (PARTITION BY md5({text_col})
                                 ORDER BY {id_col}) AS rn
    FROM keep)
  WHERE rn = 1),
comps AS MATERIALIZED ({comps}),
nded AS MATERIALIZED (
  SELECT d.* FROM ded d
  WHERE NOT EXISTS (SELECT 1 FROM comps c
                    WHERE c.doc_id = d.{id_col} AND c.doc_id <> c.cluster_id)),
stripped AS MATERIALIZED ({strip}),
docs AS (
  SELECT n.{id_col}, n.{source_col}, s.n_tok - s.n_removed AS n_tok
  FROM nded n JOIN stripped s ON n.{id_col} = s.{id_col}),
nz AS (SELECT * FROM docs WHERE n_tok > 0)"""


def curation_pipeline_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    shingle_n: int = 3,
    bench_mod: int = 97,
    max_contamination: float = 0.02,
    budget: int = 256,
    near_num_hashes: int = 8,
    near_bands: int = 4,
    near_threshold: float = 0.5,
    near_max_bucket: int = 500,
    span_n: int = 8,
    span_min_count: int = 2,
) -> str:
    """End-to-end curation flagship: composite quality gate -> benchmark
    decontamination -> exact dedup (min-id keeper) -> NEAR-dup dedup
    (MinHash+LSH pairs -> connected components -> min-id representative
    per cluster) -> duplicated-span strip -> concat packing over the kept
    token counts. Composes the per-operator oracles as CTEs, so any
    mismatch localizes to the stage whose standalone oracle also fails."""
    prefix = _curation_stage_ctes(
        table=table, id_col=id_col, text_col=text_col, source_col=source_col,
        shingle_n=shingle_n, bench_mod=bench_mod,
        max_contamination=max_contamination,
        near_num_hashes=near_num_hashes, near_bands=near_bands,
        near_threshold=near_threshold, near_max_bucket=near_max_bucket,
        span_n=span_n, span_min_count=span_min_count,
    )
    return f"""{prefix},
off AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (
          PARTITION BY {source_col} ORDER BY {id_col}
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM nz),
spans AS (SELECT {source_col}, {id_col}, tok_start, n_tok,
                 unnest(generate_series(tok_start // {budget},
                                        (tok_start + n_tok - 1) // {budget})) AS seq_id
          FROM off)
SELECT {source_col}, CAST(seq_id AS BIGINT) AS seq_id, {id_col},
       CAST(greatest(tok_start, seq_id * {budget}) - seq_id * {budget} AS BIGINT) AS seq_offset,
       CAST(greatest(tok_start, seq_id * {budget}) - tok_start AS BIGINT) AS doc_offset,
       CAST(least(tok_start + n_tok, seq_id * {budget} + {budget})
            - greatest(tok_start, seq_id * {budget}) AS BIGINT) AS span_len
FROM spans
"""


def curation_funnel_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    **chain_kwargs,
) -> str:
    """Per-stage attrition over the same composed stage CTEs: (stage_idx,
    stage, n_docs, n_tokens, drop_docs, drop_frac). Whitespace token
    counts for the text-bearing stages, POST-strip totals for the final
    stage — mirrors __spark_entry__._q_curation_funnel exactly."""
    prefix = _curation_stage_ctes(
        table=table, id_col=id_col, text_col=text_col,
        source_col=source_col, **chain_kwargs,
    )
    ws = f"len({duck_ws_tokens(text_col)})"

    def stage(rel, idx, name, tok=None):
        return (
            f"SELECT {idx} AS stage_idx, '{name}' AS stage, "
            f"CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(coalesce(sum({tok or ws}), 0) AS BIGINT) AS n_tokens "
            f"FROM {rel}"
        )

    stages = "\nUNION ALL\n".join(
        [
            stage(table, 0, "raw"),
            stage("corpus", 1, "bench_holdout_removed"),
            stage("keep", 2, "quality_decontaminated"),
            stage("ded", 3, "exact_dedup"),
            stage("nded", 4, "near_dedup"),
            stage("nz", 5, "span_stripped", tok="n_tok"),
        ]
    )
    return f"""{prefix},
funnel AS ({stages})
SELECT stage_idx, stage, n_docs, n_tokens,
       lag(n_docs) OVER (ORDER BY stage_idx) - n_docs AS drop_docs,
       CASE WHEN lag(n_docs) OVER (ORDER BY stage_idx) > 0
            THEN round((lag(n_docs) OVER (ORDER BY stage_idx) - n_docs)
                       / lag(n_docs) OVER (ORDER BY stage_idx), 4)
       END AS drop_frac
FROM funnel
"""


def alpha_mixture_weights_sql(
    *,
    table: str = "documents",
    strata_col: str = "source",
    alpha: float = 0.3,
    budget_factor: float = 1.0,
) -> str:
    """Mirror of operators.corpus.alpha_mixture_weights: same
    ``q_s = n_s^α / Σ n_t^α`` (N^α cancelled), same round(·,6) outputs."""
    return f"""
WITH counts AS (
  SELECT {strata_col}, count(*) AS n_docs, pow(count(*), {alpha}) AS powa
  FROM {table} GROUP BY 1),
tot AS (SELECT sum(n_docs) AS n, sum(powa) AS s FROM counts)
SELECT {strata_col}, n_docs,
       round(n_docs / n, 6) AS p_nat,
       round(powa / s, 6) AS q_target,
       round({budget_factor} * powa * n / (s * n_docs), 6) AS weight
FROM counts CROSS JOIN tot
"""


def epoch_mixture_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    strata_col: str = "source",
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
    seed: str = "mix",
    buckets: int = 1_000_000,
) -> str:
    """Fractional-epoch mixture (operators/corpus.py:epoch_mixture)."""
    weights = weights or {}
    base_cases = " ".join(
        f"WHEN '{k}' THEN {int(w)}" for k, w in sorted(weights.items())
    )
    thr_cases = " ".join(
        f"WHEN '{k}' THEN {int(round((w - int(w)) * buckets))}"
        for k, w in sorted(weights.items())
    )
    h = duck_md5_long(f"'{seed}#' || CAST({id_col} AS VARCHAR)")
    return f"""
WITH w AS (
  SELECT {id_col}, {strata_col},
         CASE {strata_col} {base_cases} ELSE {int(default_weight)} END AS base,
         CASE {strata_col} {thr_cases}
              ELSE {int(round((default_weight - int(default_weight)) * buckets))} END AS thr
  FROM {table}),
c AS (SELECT {id_col}, {strata_col},
             base + CASE WHEN ({h}) % {buckets} < thr THEN 1 ELSE 0 END AS n
      FROM w)
SELECT {id_col}, {strata_col},
       CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS epoch
FROM c WHERE n > 0
"""


def vocab_stats_sql(
    *, table: str = "documents", strata_col: str = "source", text_col: str = "text"
) -> str:
    """Per-stratum vocabulary stats (operators/corpus.py:vocab_stats)."""
    h = duck_md5_long("t")
    return f"""
WITH toks AS (
  SELECT {strata_col}, {h} AS th
  FROM (SELECT {strata_col}, unnest({duck_ws_tokens(text_col)}) AS t FROM {table})),
cnt AS (SELECT {strata_col}, th, count(*) AS c FROM toks GROUP BY 1, 2)
SELECT {strata_col},
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab_size,
       round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS type_token_ratio,
       round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_token_share
FROM cnt GROUP BY 1
"""


def vocab_kl_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    """Per-source unigram KL drift (operators/lm.py:vocab_kl). Same 60-bit
    token hashes, same 1e-4 ln grid, exact long sums."""
    h = duck_md5_long("t")
    return f"""
WITH toks AS (SELECT {source_col},
                     unnest(list_transform({duck_ws_tokens(text_col)}, t -> {h})) AS gh
              FROM {table} WHERE {source_col} IS NOT NULL),
st AS (SELECT {source_col}, gh, count(*) AS c FROM toks GROUP BY 1, 2),
gcnt AS (SELECT gh, sum(c) AS ct FROM st GROUP BY 1),
per_src AS (SELECT {source_col}, sum(c) AS ts, count(*) AS types FROM st GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM st),
term AS (
  SELECT st.{source_col}, st.c, p.ts, p.types,
         CAST(round(ln((CAST(st.c AS DOUBLE) * CAST(tot.t AS DOUBLE)) /
                       (CAST(g.ct AS DOUBLE) * CAST(p.ts AS DOUBLE))) * 10000) AS BIGINT) AS l
  FROM st JOIN gcnt g USING (gh) JOIN per_src p USING ({source_col}) CROSS JOIN tot)
SELECT {source_col},
       CAST(max(ts) AS BIGINT) AS n_tokens,
       CAST(max(types) AS BIGINT) AS n_types,
       round(CAST(sum(l * c) AS DOUBLE) / max(ts) / 10000.0, 4) AS kl
FROM term GROUP BY {source_col}
"""


def lm_perplexity_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pct: int = 80,
    k: float = 0.5,
) -> str:
    """Bigram-LM quality scoring (operators/lm.py:lm_score): add-k-smoothed
    mean ln P(w2|w1) per doc, model trained on the md5 hash-split. Scaled-
    integer sum of round(logp, 4) keeps the aggregate order-independent;
    ln() sees bit-identical doubles on both engines (exact integer
    counts), so the 1e-4 grid absorbs last-ulp libm divergence."""
    split = f"{duck_md5_long(f'CAST({id_col} AS VARCHAR)')} % 100 < {train_pct}"
    return f"""
WITH toks AS (
  SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}
),
grams AS (
  SELECT {id_col},
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
),
bc AS (
  SELECT gram, count(*) AS c2 FROM grams WHERE {split} GROUP BY gram
),
cc AS (
  SELECT split_part(gram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
  FROM bc GROUP BY 1
),
vocab AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(t) AS tok FROM toks WHERE {split})
),
dg AS (
  SELECT {id_col}, gram, count(*) AS m FROM grams GROUP BY 1, 2
),
scored AS (
  SELECT dg.{id_col}, dg.m,
         coalesce(bc.c2, 0) AS c2, coalesce(cc.c1, 0) AS c1, vocab.v
  FROM dg
  LEFT JOIN bc USING (gram)
  LEFT JOIN cc ON split_part(dg.gram, ' ', 1) = cc.w1
  CROSS JOIN vocab
),
per_doc AS (
  SELECT {id_col},
         CAST(sum(m) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN c2 = 0 THEN m ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(sum(CAST(round(ln((c2 + {k}) / (c1 + {k} * greatest(v, 1))) * 10000) AS BIGINT) * m)
              AS BIGINT) AS slp
  FROM scored GROUP BY 1
),
final AS (
  SELECT {id_col}, n_bigrams, n_oov,
         -- exact half-away-from-zero at the 1e-4 grid via BIGINT division:
         -- slp/n hits .5 ties with prob ~1/(2n) and double round() ties
         -- diverge across engines (Spark BigDecimal vs C libm)
         (CASE WHEN slp < 0 THEN -1 ELSE 1 END)
           * ((abs(slp) * 2 + n_bigrams) // (2 * n_bigrams)) AS avg_e4
  FROM per_doc
)
SELECT {id_col}, n_bigrams, n_oov,
       avg_e4 / 10000.0 AS avg_logp,
       round(exp(-(avg_e4 / 10000.0)), 2) AS ppl
FROM final
"""


def kn_perplexity_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pct: int = 80,
    discount: float = 0.75,
    k: float = 0.5,
) -> str:
    """Interpolated Kneser-Ney bigram scoring (operators/lm.py:kn_score).
    Same hash-split, doc-gram, and scaled-integer machinery as
    ``lm_perplexity_sql``; the probability expression is written with the
    IDENTICAL operation order as the Spark side so ln() sees bit-identical
    doubles before the 1e-4 grid."""
    split = f"{duck_md5_long(f'CAST({id_col} AS VARCHAR)')} % 100 < {train_pct}"
    pcont = f"(n1bwd + {k}) / (n_types + {k} * greatest(v, 1))"
    seen = (
        f"greatest(c2 - {discount}, 0.0) / c1 + "
        f"({discount} * n1fwd / c1) * ({pcont})"
    )
    return f"""
WITH toks AS (
  SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}
),
grams AS (
  SELECT {id_col},
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
),
bc AS (
  SELECT gram, count(*) AS c2 FROM grams WHERE {split} GROUP BY gram
),
cc AS (
  SELECT split_part(gram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1fwd
  FROM bc GROUP BY 1
),
cont AS (
  SELECT split_part(gram, ' ', -1) AS w2, CAST(count(*) AS BIGINT) AS n1bwd
  FROM bc GROUP BY 1
),
stats AS (
  SELECT (SELECT count(DISTINCT tok)
          FROM (SELECT unnest(t) AS tok FROM toks WHERE {split})) AS v,
         (SELECT count(*) FROM bc) AS n_types
),
dg AS (
  SELECT {id_col}, gram, count(*) AS m FROM grams GROUP BY 1, 2
),
scored AS (
  SELECT dg.{id_col}, dg.m,
         coalesce(bc.c2, 0) AS c2, coalesce(cc.c1, 0) AS c1,
         coalesce(cc.n1fwd, 0) AS n1fwd, coalesce(cont.n1bwd, 0) AS n1bwd,
         stats.v, stats.n_types
  FROM dg
  LEFT JOIN bc USING (gram)
  LEFT JOIN cc ON split_part(dg.gram, ' ', 1) = cc.w1
  LEFT JOIN cont ON split_part(dg.gram, ' ', -1) = cont.w2
  CROSS JOIN stats
),
per_doc AS (
  SELECT {id_col},
         CAST(sum(m) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN c2 = 0 THEN m ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(sum(CAST(round(ln(CASE WHEN c1 > 0 THEN {seen} ELSE {pcont} END) * 10000)
                       AS BIGINT) * m)
              AS BIGINT) AS slp
  FROM scored GROUP BY 1
),
final AS (
  SELECT {id_col}, n_bigrams, n_oov,
         (CASE WHEN slp < 0 THEN -1 ELSE 1 END)
           * ((abs(slp) * 2 + n_bigrams) // (2 * n_bigrams)) AS avg_e4
  FROM per_doc
)
SELECT {id_col}, n_bigrams, n_oov,
       avg_e4 / 10000.0 AS avg_logp,
       round(exp(-(avg_e4 / 10000.0)), 2) AS ppl
FROM final
"""


def quality_report_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    """Per-source quality-gate verdict histogram (operators/quality.py:
    quality_report): the full quality_gate query as a CTE, joined to the
    (id, source) spine, then the exact-fraction share per (source,
    verdict) — round-4 of BIGINT/BIGINT on both engines."""
    qg = quality_gate_sql(table=table, id_col=id_col, text_col=text_col)
    return f"""
WITH qg AS (
{qg}
),
j AS (
  SELECT d.{source_col} AS {source_col}, qg.verdict
  FROM qg JOIN {table} d USING ({id_col})
),
per AS (
  SELECT {source_col}, verdict, CAST(count(*) AS BIGINT) AS n
  FROM j GROUP BY 1, 2
),
tot AS (
  SELECT {source_col}, CAST(sum(n) AS BIGINT) AS n_source
  FROM per GROUP BY 1
)
SELECT per.{source_col}, per.verdict, per.n, tot.n_source,
       round(CAST(per.n AS DOUBLE) / tot.n_source, 4) AS frac
FROM per JOIN tot USING ({source_col})
"""


def contamination_report_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    shingle_n: int = 3,
    bench_mod: int = 97,
    threshold: float = 0.0,
) -> str:
    """Per-source contamination telemetry (operators/corpus.py:
    contamination_report): the decontaminate query as a CTE, left-joined
    from the corpus spine (short gram-less docs count as clean), flagged
    strictly above the round-4 threshold."""
    dec = decontaminate_sql(
        table=table, id_col=id_col, text_col=text_col,
        shingle_n=shingle_n, bench_mod=bench_mod,
    )
    return f"""
WITH dec AS (
{dec}
),
spine AS (
  SELECT {id_col}, {source_col} FROM {table} WHERE {id_col} % {bench_mod} <> 0
),
j AS (
  SELECT spine.{source_col} AS {source_col},
         coalesce(dec.contamination, 0.0) AS c
  FROM spine LEFT JOIN dec USING ({id_col})
)
SELECT {source_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c > {threshold} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       round(CAST(sum(CASE WHEN c > {threshold} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS flag_rate,
       round(max(c), 4) AS max_contamination
FROM j GROUP BY 1
"""


def ppl_buckets_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    train_pct: int = 80,
    k: float = 0.5,
) -> str:
    """CCNet head/middle/tail perplexity split (operators/lm.py:ppl_buckets,
    cutoffs='exact'): the full lm_perplexity query as a CTE, joined back to
    the corpus for the stratum column, then ntile(n) per stratum ordered by
    avg_logp DESC, id ASC. avg_logp is the exact 1e-4-grid integer-derived
    double on both engines and ntile's larger-groups-first split is SQL
    standard in both, so bucket boundaries are engine-identical."""
    lm = lm_perplexity_sql(
        table=table, id_col=id_col, text_col=text_col, train_pct=train_pct, k=k
    )
    lab_list = ", ".join("'" + lab.replace("'", "''") + "'" for lab in labels)
    n = len(labels)
    return f"""
WITH lm AS (
{lm}
),
j AS (
  SELECT lm.{id_col} AS {id_col}, d.{group_col} AS {group_col},
         lm.ppl, lm.avg_logp
  FROM lm JOIN {table} d USING ({id_col})
)
SELECT {id_col}, {group_col}, ppl,
       ([{lab_list}])[
         ntile({n}) OVER (PARTITION BY {group_col}
                          ORDER BY avg_logp DESC, {id_col})
       ] AS bucket
FROM j
"""


def nb_classify_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "source",
    train_pct: int = 80,
    k: float = 1.0,
) -> str:
    """Multinomial Naive-Bayes classifier (operators/nb.py:nb_classify):
    train on the md5 hash-split, argmax class per doc with runner-up
    margin. Per-token log-probs on the 1e-4 scaled-integer grid (lm.py
    idiom); OOV mass enters as n_tok·unk_e4 so the matched join carries
    deltas — identical arithmetic to the Spark plan, hence hash-equal."""
    split = f"{duck_md5_long(f'CAST({id_col} AS VARCHAR)')} % 100 < {train_pct}"
    # self-train classifies the labeled corpus: null-label rows excluded
    # up front on BOTH engines (operators/nb.py nb_classify)
    labeled = f"(SELECT * FROM {table} WHERE {label_col} IS NOT NULL)"
    return f"""
WITH train AS (
  SELECT {label_col} AS label, {duck_ws_tokens(text_col)} AS t
  FROM {labeled} WHERE {split}
),
tc AS (
  SELECT label, tok, count(*) AS c
  FROM (SELECT label, unnest(t) AS tok FROM train)
  WHERE tok IS NOT NULL GROUP BY 1, 2
),
ct AS (SELECT label, CAST(sum(c) AS BIGINT) AS n_toks FROM tc GROUP BY 1),
vocab AS (SELECT greatest(count(DISTINCT tok), 1) AS v FROM tc),
cd AS (
  SELECT {label_col} AS label, count(*) AS n_docs FROM {labeled}
  WHERE {split} GROUP BY 1
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS d FROM cd),
classes AS (
  SELECT cd.label, cd.n_docs, coalesce(ct.n_toks, 0) AS n_toks,
         CAST(round(ln(cd.n_docs / tot.d) * 10000) AS BIGINT) AS prior_e4,
         CAST(round(ln({k} / (coalesce(ct.n_toks, 0) + {k} * vocab.v)) * 10000)
              AS BIGINT) AS unk_e4
  FROM cd LEFT JOIN ct USING (label) CROSS JOIN vocab CROSS JOIN tot
),
tok_lp AS (
  SELECT tc.tok, tc.label,
         CAST(round(ln((tc.c + {k}) / (classes.n_toks + {k} * vocab.v)) * 10000)
              AS BIGINT) - classes.unk_e4 AS dlp_e4
  FROM tc JOIN classes USING (label) CROSS JOIN vocab
),
dt AS (
  SELECT {id_col}, tok, count(*) AS m
  FROM (SELECT {id_col}, unnest({duck_ws_tokens(text_col)}) AS tok FROM {labeled})
  WHERE tok IS NOT NULL GROUP BY 1, 2
),
p1 AS (
  SELECT dt.{id_col}, tok_lp.label, CAST(sum(dt.m * tok_lp.dlp_e4) AS BIGINT) AS s1
  FROM dt JOIN tok_lp USING (tok) GROUP BY 1, 2
),
spine AS (
  SELECT {id_col}, coalesce(len({duck_ws_tokens(text_col)}), 0) AS n_tok
  FROM {labeled}
),
scores AS (
  SELECT spine.{id_col}, classes.label, spine.n_tok,
         classes.prior_e4 + CAST(spine.n_tok AS BIGINT) * classes.unk_e4
           + coalesce(p1.s1, 0) AS score_e4
  FROM spine CROSS JOIN classes
  LEFT JOIN p1 ON p1.{id_col} = spine.{id_col} AND p1.label = classes.label
),
ranked AS (
  SELECT {id_col}, label, n_tok, score_e4,
         row_number() OVER w AS rk, lead(score_e4) OVER w AS nxt
  FROM scores
  WINDOW w AS (PARTITION BY {id_col} ORDER BY score_e4 DESC, label ASC)
)
SELECT {id_col}, label AS pred_label,
       score_e4 / 10000.0 AS score,
       (score_e4 - nxt) / 10000.0 AS margin,
       CAST(n_tok AS BIGINT) AS n_tok
FROM ranked WHERE rk = 1
"""


def nb_gate_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "source",
    target: str = "src0",
    min_margin: float = 0.0,
    train_pct: int = 80,
    k: float = 1.0,
) -> str:
    """Classifier-as-filter (operators/nb.py:nb_gate): keep docs predicted
    ``target`` with >= min_margin nats over the runner-up."""
    preds = nb_classify_sql(
        table=table,
        id_col=id_col,
        text_col=text_col,
        label_col=label_col,
        train_pct=train_pct,
        k=k,
    )
    return f"""
WITH preds AS ({preds})
SELECT {id_col}, score, margin, n_tok
FROM preds
WHERE pred_label = {_duck_str(target)}
  AND coalesce(margin >= {min_margin}, TRUE)
"""


def nb_confusion_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "source",
    train_pct: int = 80,
    k: float = 1.0,
) -> str:
    """Held-out confusion matrix (operators/nb.py:nb_confusion): restrict
    nb_classify's predictions to docs OUTSIDE the train split, cross with
    true labels, row-normalize on the exact 1e-4 integer grid."""
    preds = nb_classify_sql(
        table=table,
        id_col=id_col,
        text_col=text_col,
        label_col=label_col,
        train_pct=train_pct,
        k=k,
    )
    split = f"{duck_md5_long(f'CAST({id_col} AS VARCHAR)')} % 100 < {train_pct}"
    return f"""
WITH preds AS ({preds}),
heldout AS (
  SELECT {id_col}, {label_col} AS label FROM {table}
  WHERE NOT ({split}) AND {label_col} IS NOT NULL
),
cm AS (
  SELECT h.label, p.pred_label, count(*) AS n
  FROM heldout h JOIN preds p USING ({id_col})
  GROUP BY 1, 2
),
norm AS (
  SELECT label, pred_label, CAST(n AS BIGINT) AS n,
         CAST(sum(n) OVER (PARTITION BY label) AS BIGINT) AS n_label
  FROM cm
)
SELECT label, pred_label, n, n_label,
       ((n * 20000 + n_label) // (2 * n_label)) / 10000.0 AS frac
FROM norm
"""


def _bpe_ctes(table: str, id_col: str, text_col: str) -> str:
    """Shared BPE-encoding CTE chain (through ``wtok``): the recursive-CTE
    subword encoder over the DISTINCT pre-token vocabulary.

    Each word's symbol sequence is a boundary-safe string (every symbol
    wrapped as chr(31)||sym||chr(31)), and iteration r applies merge rank
    r as one plain ``replace`` — string replace is exactly BPE's
    non-overlapping left-to-right merge-all, and the double-separator
    wrapping makes mid-symbol false matches impossible. Applying merges
    once each in rank order equals the lowest-rank-first encoder for
    training-consistent merge lists (property-tested on the Spark side).
    Work is vocabulary x num_merges, not corpus x num_merges. Must be
    placed inside a ``WITH RECURSIVE``.
    """
    from transmog_spark.operators.bpe import PRETOKEN_RE, seed_merges

    def q(s: str) -> str:
        return s.replace("'", "''")

    sep = "chr(31)"
    merges = seed_merges()
    vals = ",\n    ".join(
        f"({i + 1}, {sep} || '{q(l)}' || {sep} || {sep} || '{q(r)}' || {sep}, "
        f"{sep} || '{q(l)}{q(r)}' || {sep})"
        for i, (l, r) in enumerate(merges)
    )
    n = len(merges)
    return f"""merges(rank, pat, rep) AS (
  SELECT * FROM (VALUES
    {vals}) v
),
pre AS (
  SELECT {id_col}, regexp_extract_all({text_col}, '{PRETOKEN_RE}') AS ws
  FROM {table}
),
words AS (
  SELECT {id_col}, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM pre
),
dw AS (SELECT DISTINCT w FROM words),
init AS (
  SELECT w,
         {sep} || array_to_string(regexp_extract_all(w, '.'), {sep} || {sep}) || {sep} AS s
  FROM dw
),
enc AS (
  SELECT w, s, 1 AS r FROM init
  UNION ALL
  SELECT e.w,
         CASE WHEN m.pat IS NOT NULL THEN replace(e.s, m.pat, m.rep) ELSE e.s END,
         e.r + 1
  FROM enc e LEFT JOIN merges m ON m.rank = e.r
  WHERE e.r <= {n}
),
wtok AS (
  SELECT w,
         len(string_split(s, {sep} || {sep})) AS n_tok,
         replace(substr(s, 2, length(s) - 2), {sep} || {sep}, chr(30)) AS toks
  FROM enc WHERE r = {n} + 1
)"""


def bpe_tokenize_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """BPE subword tokenization mirror (operators/bpe.py:bpe_tokenize) using
    the fixed seed merge table; see ``_bpe_ctes`` for the encoder."""
    return f"""
WITH RECURSIVE {_bpe_ctes(table, id_col, text_col)},
agg AS (
  SELECT words.{id_col},
         count(*) AS n_words,
         CAST(sum(wt.n_tok) AS BIGINT) AS n_tokens,
         string_agg(wt.toks, chr(30) ORDER BY words.pos) AS stream
  FROM words JOIN wtok wt USING (w)
  GROUP BY 1
)
SELECT d.{id_col},
       CAST(coalesce(a.n_words, 0) AS INTEGER) AS n_words,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       md5(coalesce(a.stream, '')) AS tok_md5
FROM {table} d LEFT JOIN agg a USING ({id_col})
"""


def tokenizer_fertility_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    source_col: str = "source",
) -> str:
    """Per-source tokenizer fertility/compression mirror (operators/bpe.py:
    tokenizer_fertility): the full recursive-CTE BPE encoder as a CTE,
    joined to the (id, source, chars) projection, exact BIGINT sums,
    round-4 divisions on identical integers."""
    bt = bpe_tokenize_sql(table=table, id_col=id_col, text_col=text_col)
    return f"""
WITH bt AS (
{bt}
),
spine AS (
  SELECT {id_col}, {source_col},
         CAST(length({text_col}) AS BIGINT) AS chars
  FROM {table}
),
agg AS (
  SELECT spine.{source_col} AS {source_col},
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(bt.n_words) AS BIGINT) AS n_words,
         CAST(sum(bt.n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(spine.chars) AS BIGINT) AS sum_chars
  FROM bt JOIN spine USING ({id_col})
  GROUP BY 1
)
SELECT {source_col}, n_docs, n_words, n_tokens,
       CASE WHEN n_words > 0
            THEN round(CAST(n_tokens AS DOUBLE) / n_words, 4) END AS fertility,
       CASE WHEN n_tokens > 0
            THEN round(CAST(sum_chars AS DOUBLE) / n_tokens, 4) END AS chars_per_token
FROM agg
"""


def bpe_chunks_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: int = 32768,
    window: int = 32,
    stride: int = 16,
) -> str:
    """BPE-tokenized context windows: the subword encoder (``_bpe_ctes``)
    composed with the sliding-window chunker (``token_chunks_sql``) — the
    end-to-end documents -> subword ids -> fixed context windows flow."""
    sl = f"list_slice(tk, chunk_id * {stride} + 1, chunk_id * {stride} + {window})"
    return f"""
WITH RECURSIVE {_bpe_ctes(table, id_col, text_col)},
doc_toks AS (
  SELECT words.{id_col},
         flatten(list(string_split(wt.toks, chr(30)) ORDER BY words.pos)) AS st
  FROM words JOIN wtok wt USING (w)
  GROUP BY 1
),
ids AS (
  SELECT {id_col},
         list_transform(st, x -> CAST({duck_md5_long('x')} % {vocab} AS INT)) AS tk
  FROM doc_toks
),
nz AS (SELECT * FROM ids WHERE len(tk) > 0),
ex AS (SELECT {id_col}, tk,
              unnest(generate_series(0,
                CASE WHEN len(tk) <= {window} THEN 0
                     ELSE (len(tk) - {window} + {stride} - 1) // {stride} END)) AS chunk_id
       FROM nz)
SELECT {id_col}, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len({sl}) AS BIGINT) AS chunk_len,
       md5(array_to_string(list_transform({sl}, x -> CAST(x AS VARCHAR)), ',')) AS chunk_md5
FROM ex
"""


def unigram_tokenize_sql(
    vocab: "list[tuple[str, int]] | tuple[tuple[str, int], ...]",
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_cost: int = 24_000_000,
) -> str:
    """Mirror of operators.unigram.unigram_tokenize: a recursive CTE
    enumerates every segmentation path of each DISTINCT pre-token word
    through the (piece, cost) lattice — bounded by the distinct-word
    vocabulary, never the corpus — and row_number() on the exact
    (cost, n_pieces, path) keys picks the same Viterbi optimum the engine's
    DP computes (costs are integers fixed at train time; equal-key paths
    are equal-length strings, so the orderings coincide). OOV characters
    join the step relation as single-char pieces at ``oov_cost``."""
    from transmog_spark.operators.bpe import PRETOKEN_RE

    def q(s: str) -> str:
        return s.replace("'", "''")

    vals = ",\n    ".join(f"('{q(p)}', {c})" for p, c in vocab)
    return f"""
WITH RECURSIVE
vocab(piece, cost) AS (SELECT * FROM (VALUES
    {vals}) v),
pre AS (
  SELECT {id_col}, regexp_extract_all({text_col}, '{PRETOKEN_RE}') AS ws
  FROM {table}),
words AS (
  SELECT {id_col}, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM pre),
dw AS (SELECT DISTINCT w FROM words),
oovc AS (
  SELECT DISTINCT ch AS piece, CAST({oov_cost} AS BIGINT) AS cost
  FROM (SELECT unnest(list_transform(range(1, length(w) + 1),
                                     i -> substr(w, i, 1))) AS ch FROM dw)
  WHERE ch NOT IN (SELECT piece FROM vocab)),
step AS (SELECT piece, CAST(cost AS BIGINT) AS cost FROM vocab
         UNION ALL SELECT piece, cost FROM oovc),
paths AS (
  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS path FROM dw
  UNION ALL
  SELECT p.w, p.pos + length(s.piece), p.cost + s.cost, p.np + 1,
         CASE WHEN p.path = '' THEN s.piece
              ELSE p.path || chr(31) || s.piece END
  FROM paths p JOIN step s
    ON substr(p.w, p.pos + 1, length(s.piece)) = s.piece
  WHERE p.pos < length(p.w)),
best AS (
  SELECT w, cost, np, path FROM (
    SELECT *, row_number() OVER (PARTITION BY w ORDER BY cost, np, path) AS rn
    FROM paths WHERE pos = length(w)) WHERE rn = 1),
agg AS (
  SELECT words.{id_col},
         count(*) AS n_words,
         CAST(sum(b.np) AS BIGINT) AS n_pieces,
         CAST(sum(b.cost) AS BIGINT) AS total_cost,
         string_agg(b.path, chr(30) ORDER BY words.pos) AS stream
  FROM words JOIN best b USING (w)
  GROUP BY 1)
SELECT d.{id_col},
       CAST(coalesce(a.n_words, 0) AS INTEGER) AS n_words,
       CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
       CAST(coalesce(a.total_cost, 0) AS BIGINT) AS total_cost,
       md5(coalesce(a.stream, '')) AS piece_md5
FROM {table} d LEFT JOIN agg a USING ({id_col})
"""


def importance_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_pred: str = "lang = 'en'",
    k: float = 0.5,
) -> str:
    """DSIR importance weighting mirror (operators/lm.py:importance_weights):
    bigram-LM avg logp under the ``target_pred`` subset model minus under
    the whole-corpus model, all in scaled-integer arithmetic."""
    return f"""
WITH toks AS (
  SELECT {id_col}, ({target_pred}) AS tgt, {duck_ws_tokens(text_col)} AS t
  FROM {table}
),
grams AS (
  SELECT {id_col}, tgt,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
),
bct AS (SELECT gram, count(*) AS c2t FROM grams WHERE tgt GROUP BY gram),
bcr AS (SELECT gram, count(*) AS c2r FROM grams GROUP BY gram),
cct AS (
  SELECT split_part(gram, ' ', 1) AS w1, CAST(sum(c2t) AS BIGINT) AS c1t
  FROM bct GROUP BY 1
),
ccr AS (
  SELECT split_part(gram, ' ', 1) AS w1, CAST(sum(c2r) AS BIGINT) AS c1r
  FROM bcr GROUP BY 1
),
vt AS (SELECT count(DISTINCT tok) AS v
       FROM (SELECT unnest(t) AS tok FROM toks WHERE tgt)),
vr AS (SELECT count(DISTINCT tok) AS v
       FROM (SELECT unnest(t) AS tok FROM toks)),
dg AS (SELECT {id_col}, gram, count(*) AS m FROM grams GROUP BY 1, 2),
scored AS (
  SELECT dg.{id_col}, dg.m,
         coalesce(bct.c2t, 0) AS c2t, coalesce(bcr.c2r, 0) AS c2r,
         coalesce(cct.c1t, 0) AS c1t, coalesce(ccr.c1r, 0) AS c1r,
         vt.v AS v_t, vr.v AS v_r
  FROM dg
  LEFT JOIN bct USING (gram)
  LEFT JOIN bcr USING (gram)
  LEFT JOIN cct ON split_part(dg.gram, ' ', 1) = cct.w1
  LEFT JOIN ccr ON split_part(dg.gram, ' ', 1) = ccr.w1
  CROSS JOIN vt CROSS JOIN vr
),
per_doc AS (
  SELECT {id_col},
         CAST(sum(m) AS BIGINT) AS n_bigrams,
         CAST(sum(CAST(round(ln((c2t + {k}) / (c1t + {k} * greatest(v_t, 1))) * 10000) AS BIGINT) * m)
              AS BIGINT) AS slp_t,
         CAST(sum(CAST(round(ln((c2r + {k}) / (c1r + {k} * greatest(v_r, 1))) * 10000) AS BIGINT) * m)
              AS BIGINT) AS slp_r
  FROM scored GROUP BY 1
),
final AS (
  SELECT {id_col}, n_bigrams,
         (CASE WHEN slp_t < 0 THEN -1 ELSE 1 END)
           * ((abs(slp_t) * 2 + n_bigrams) // (2 * n_bigrams)) AS t_e4,
         (CASE WHEN slp_r < 0 THEN -1 ELSE 1 END)
           * ((abs(slp_r) * 2 + n_bigrams) // (2 * n_bigrams)) AS r_e4
  FROM per_doc
)
SELECT {id_col}, n_bigrams,
       t_e4 / 10000.0 AS avg_logp_target,
       r_e4 / 10000.0 AS avg_logp_raw,
       (t_e4 - r_e4) / 10000.0 AS log_ratio
FROM final
"""


def domain_weights_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    target_pred: str = "lang = 'en'",
    temperature: float = 1.0,
    k: float = 0.5,
) -> str:
    """DoReMi-lite domain reweighting mirror (operators/lm.py:
    domain_weights): per-domain mean of the DSIR log-ratio (integer e4
    grid), exp snapped back to the 1e-4 grid, integer-sum normalizer."""
    iw = importance_sql(
        table=table, id_col=id_col, text_col=text_col,
        target_pred=target_pred, k=k,
    )
    return f"""
WITH iw AS MATERIALIZED ({iw}),
per AS (
  SELECT d.{source_col}, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(round(iw.log_ratio * 10000) AS BIGINT)) AS BIGINT) AS slr
  FROM iw JOIN {table} d USING ({id_col}) GROUP BY 1),
m AS (
  SELECT {source_col}, n_docs,
         (CASE WHEN slr < 0 THEN -1 ELSE 1 END)
           * ((abs(slr) * 2 + n_docs) // (2 * n_docs)) AS mean_e4
  FROM per),
w AS (
  SELECT *, CAST(round(exp(mean_e4 / 10000.0 / {temperature}) * 10000)
                 AS BIGINT) AS w_int
  FROM m),
t AS (SELECT CAST(sum(w_int) AS BIGINT) AS tot FROM w)
SELECT {source_col}, n_docs, mean_e4 / 10000.0 AS mean_log_ratio,
       round(CAST(w_int AS DOUBLE) / tot, 4) AS weight
FROM w CROSS JOIN t
"""


def pii_scan_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """PII scan + redaction mirror (operators/pii.py): identical RE2-safe
    pattern strings, counts over the ORIGINAL text, redaction applied in
    the same fixed order with the 'g' flag (Spark regexp_replace is
    global by default)."""
    from transmog_spark.operators.pii import PII_PATTERNS

    inject = (
        f"{text_col} || ' ' || CASE {id_col} % 3 "
        f"WHEN 0 THEN 'mail u' || {id_col} || '@example.org now' "
        f"WHEN 1 THEN 'call 555-867-5309 today' "
        f"ELSE 'host 192.168.' || ({id_col} % 200) || '.42 id 123-45-6789' END"
    )
    counts = ", ".join(
        f"len(regexp_extract_all(txt, '{pat}')) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    total = " + ".join(f"n_{name}" for name in PII_PATTERNS)
    red = "txt"
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
WITH docs AS (SELECT {id_col}, {inject} AS txt FROM {table}),
cnt AS (SELECT {id_col}, txt, {counts} FROM docs)
SELECT {id_col}, n_email, n_ssn, n_phone, n_ipv4,
       {total} AS n_pii,
       md5({red}) AS redacted_md5
FROM cnt
"""


def _winnow_ctes(
    *, table: str, id_col: str, text_col: str, k: int, w: int
) -> str:
    """Shared CTE chain for the winnowing family (mirrors
    operators/winnow.py): docs -> positioned k-gram hashes -> rightmost-
    min-per-window fingerprint selection (struct min, full windows only,
    whole-stream window for short docs). Ends with an ``fps`` CTE
    (id, fp_pos, fp_hash); no opening WITH."""
    grams = (
        f"list_transform(range(1, len(t) - {k} + 2), "
        f"i -> array_to_string(list_slice(t, i, i + {k} - 1), ' '))"
    )
    h = duck_md5_long("gram")
    return f"""docs AS (SELECT {id_col} AS id, {duck_ws_tokens(text_col)} AS t FROM {table}),
g AS (
  SELECT id, p, {h} AS gh
  FROM (SELECT id, unnest(gl) AS gram, generate_subscripts(gl, 1) - 1 AS p
        FROM (SELECT id, {grams} AS gl FROM docs))),
wins AS (
  SELECT id, p,
         max(p) OVER (PARTITION BY id) AS maxp,
         min(struct_pack(h := gh, np := -p)) OVER (
           PARTITION BY id ORDER BY p
           ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS fp
  FROM g),
fps AS (
  SELECT DISTINCT id, CAST(-fp.np AS INT) AS fp_pos, fp.h AS fp_hash
  FROM wins WHERE p >= least({w - 1}, maxp))"""


def winnow_fingerprints_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> str:
    """Mirror of operators.winnow.winnow_fingerprints."""
    ctes = _winnow_ctes(table=table, id_col=id_col, text_col=text_col, k=k, w=w)
    return f"""
WITH {ctes}
SELECT id AS {id_col}, fp_pos, fp_hash FROM fps
"""


def winnow_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int = 1000,
) -> str:
    """Mirror of operators.winnow.winnow_pairs: distinct (id, fp_hash),
    per-hash bucket cap by id order, self-join, shared-count filter."""
    ctes = _winnow_ctes(table=table, id_col=id_col, text_col=text_col, k=k, w=w)
    return f"""
WITH {ctes},
dfps AS (SELECT DISTINCT id, fp_hash FROM fps),
capped AS (
  SELECT id, fp_hash FROM (
    SELECT *, row_number() OVER (PARTITION BY fp_hash ORDER BY id) AS rn FROM dfps
  ) WHERE rn <= {max_bucket})
SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS INT) AS shared
FROM capped a JOIN capped b ON a.fp_hash = b.fp_hash AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(*) >= {min_shared}
"""


def hll_distinct_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    p: int = 12,
) -> str:
    """Mirror of operators.sketch.hll_distinct: same md5-60 term hash,
    same top-p-bit bucket / length(bin(rest)) rho, same exact-integer
    scaled harmonic denominator and linear-counting branch."""
    m = 1 << p
    rest_bits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    scale = 61 - p  # covers max register 60 - p + 1 for every p (49 at p=12)
    h = duck_md5_long("term")
    return f"""
WITH toks AS (
  SELECT unnest({duck_ws_tokens(text_col)}) AS term FROM {table}),
hashed AS (
  SELECT {h} >> {rest_bits} AS bucket,
         {h} & {(1 << rest_bits) - 1} AS rest
  FROM toks),
regs AS (
  SELECT bucket,
         max(CASE WHEN rest = 0 THEN {rest_bits + 1}
                  ELSE {rest_bits} - length(bin(rest)) + 1 END) AS reg
  FROM hashed GROUP BY bucket),
agg AS (
  SELECT count(*) AS n_present,
         CAST(coalesce(sum(1::BIGINT << ({scale} - reg)), 0) AS BIGINT) AS cells
  FROM regs),
exact AS (SELECT count(DISTINCT term) AS exact_distinct FROM toks),
est AS (
  SELECT n_present, exact_distinct,
         CASE WHEN {alpha!r} * {float(m * m * (1 << scale))!r}
                   / (cells + ({m} - n_present) * {1 << scale}::BIGINT)
                   <= {2.5 * m!r}
               AND ({m} - n_present) > 0
              THEN {float(m)!r} * ln({float(m)!r} / ({m} - n_present))
              ELSE {alpha!r} * {float(m * m * (1 << scale))!r}
                   / (cells + ({m} - n_present) * {1 << scale}::BIGINT)
         END AS raw_est
  FROM agg, exact)
SELECT {m} AS m,
       CAST(n_present AS BIGINT) AS n_present,
       round(raw_est, 4) AS hll_est,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CASE WHEN exact_distinct = 0 THEN NULL
            ELSE round((round(raw_est, 4) - exact_distinct)
                       / exact_distinct * 100.0, 4)
       END AS rel_err_pct
FROM est
"""


def hdr_quantiles_sql(
    *,
    table: str = "documents",
    value_col: str = "n_chars",
    group_col: str = "source",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    k: int = 32,
) -> str:
    """Mirror of operators.sketch.hdr_value_quantiles: same integer
    HdrHistogram bucketing (s = max(0, bit_length(u)-1-log2 k), idx =
    s*k + (u >> s)), same ceil(q*total) rank on a running count, same
    integer bucket decode, same exact discrete quantile rider."""
    b = k.bit_length() - 1
    qlist = ", ".join(f"{q!r}::DOUBLE" for q in qs)
    s2 = f"greatest(0, bucket // {k} - 1)"
    m2 = f"(bucket - {s2} * {k})"
    return f"""
WITH v AS (
  SELECT {group_col} AS grp, CAST({value_col} AS BIGINT) + 1 AS u,
         CAST({value_col} AS BIGINT) AS val
  FROM {table} WHERE {value_col} IS NOT NULL),
hist AS (
  SELECT grp,
         greatest(0, length(bin(u)) - 1 - {b}) * {k}
           + (u >> greatest(0, length(bin(u)) - 1 - {b})) AS bucket,
         count(*) AS cnt
  FROM v GROUP BY 1, 2),
cum AS (
  SELECT grp, bucket,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cumc,
         sum(cnt) OVER (PARTITION BY grp) AS total
  FROM hist),
qq AS (SELECT unnest([{qlist}]) AS q),
hit AS (
  SELECT grp, q, min(bucket) AS bucket
  FROM cum, qq WHERE cumc >= ceil(q * total) GROUP BY 1, 2),
est AS (
  SELECT grp, q, bucket,
         ({m2} << CAST({s2} AS INT)) - 1 AS est_lo,
         (({m2} + 1) << CAST({s2} AS INT)) - 2 AS est_hi
  FROM hit),
rk AS (
  SELECT grp, val,
         count(*) OVER (PARTITION BY grp ORDER BY val) AS cumv,
         count(*) OVER (PARTITION BY grp) AS total
  FROM v),
ex AS (
  SELECT grp, q, min(val) AS exact_q
  FROM rk, qq WHERE cumv >= ceil(q * total) GROUP BY 1, 2)
SELECT e.grp AS {group_col}, e.q, e.bucket, e.est_lo, e.est_hi, x.exact_q,
       (x.exact_q >= e.est_lo AND x.exact_q <= e.est_hi) AS contained
FROM est e JOIN ex x ON e.grp = x.grp AND e.q = x.q
"""


def cms_heavy_hitters_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
    threshold: int = 100,
) -> str:
    """Mirror of operators.sketch.cms_heavy_hitters: same md5-60 row
    hashes over '{d}#' || term, same grid-from-rollup construction, same
    min-over-rows estimate and sketch-side threshold."""
    probe_rows = " UNION ALL ".join(
        f"SELECT term, exact, {d} AS d, "
        + duck_md5_long(f"'{d}#' || term")
        + f" % {width} AS bucket FROM counts"
        for d in range(depth)
    )
    return f"""
WITH docs AS (SELECT {id_col} AS id, {duck_ws_tokens(text_col)} AS t FROM {table}),
counts AS (
  SELECT term, count(*) AS exact
  FROM (SELECT unnest(t) AS term FROM docs) GROUP BY term),
probes AS ({probe_rows}),
grid AS (SELECT d, bucket, CAST(sum(exact) AS BIGINT) AS cnt
         FROM probes GROUP BY d, bucket),
est AS (
  SELECT p.term, p.exact, CAST(min(g.cnt) AS BIGINT) AS cms_est
  FROM probes p JOIN grid g ON p.d = g.d AND p.bucket = g.bucket
  GROUP BY p.term, p.exact)
SELECT term, cms_est, exact, cms_est - exact AS overcount
FROM est WHERE cms_est >= {threshold}
"""


def hash_features_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    seed: int = 1,
) -> str:
    """Mirror of operators.hashfeat.hash_features: same md5-60 bucket
    and sign hashes, same signed-tf rollup, same zero-weight drop."""
    b = duck_md5_long(duck_seeded("term", f"b{seed}"))
    s = duck_md5_long(duck_seeded("term", f"s{seed}"))
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, unnest({duck_ws_tokens(text_col)}) AS term
  FROM {table})
SELECT id, {b} % {dim} AS bucket,
       CAST(sum(CASE WHEN {s} % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
FROM toks GROUP BY id, bucket
HAVING sum(CASE WHEN {s} % 2 = 0 THEN 1 ELSE -1 END) <> 0
"""


def hashed_cosine_topk_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    seed: int = 1,
    query_filter: str = "doc_id < 5",
    k: int = 5,
) -> str:
    """Mirror of operators.hashfeat.hashed_cosine_topk: exact integer
    dots, round-4 cosine BEFORE ranking, (cos DESC, id) tie-break."""
    feats = hash_features_sql(
        table=table, id_col=id_col, text_col=text_col, dim=dim, seed=seed
    ).strip()
    return f"""
WITH feats AS ({feats}),
norms AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS sumsq FROM feats GROUP BY id),
q AS (SELECT {id_col} AS id FROM {table} WHERE {query_filter}),
qf AS (SELECT f.id AS query_id, f.bucket, f.w AS qw
       FROM feats f JOIN q ON f.id = q.id),
qn AS (SELECT n.id AS query_id, n.sumsq AS q_sumsq
       FROM norms n JOIN q ON n.id = q.id),
dots AS (
  SELECT qf.query_id, f.id, CAST(sum(f.w * qf.qw) AS BIGINT) AS dot
  FROM feats f JOIN qf ON f.bucket = qf.bucket
  WHERE f.id <> qf.query_id
  GROUP BY qf.query_id, f.id),
scored AS (
  SELECT d.query_id, d.id, d.dot,
         round(d.dot / sqrt(CAST(n.sumsq * qn.q_sumsq AS DOUBLE)), 4) AS cos
  FROM dots d
  JOIN norms n ON d.id = n.id
  JOIN qn ON d.query_id = qn.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, id) AS rank
  FROM scored)
SELECT query_id, id, dot, cos, rank FROM ranked WHERE rank <= {k}
"""


def importance_resample_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_pred: str = "lang = 'en'",
    k: float = 0.5,
    n: int = 50,
    seed: int | str = 0,
    temperature: float = 1.0,
) -> str:
    """Mirror of operators.lm.importance_resample: same Efraimidis-
    Spirakis log-keys over the DSIR log-ratio, round(.,6) BEFORE ranking,
    id tie-break."""
    imp = importance_sql(
        table=table, id_col=id_col, text_col=text_col,
        target_pred=target_pred, k=k,
    ).strip()
    u = duck_md5_long(duck_seeded(f"CAST({id_col} AS VARCHAR)", seed))
    return f"""
WITH imp AS ({imp}),
keys AS (
  SELECT {id_col}, log_ratio,
         round(exp(log_ratio / {temperature!r}), 4) AS w,
         round(ln(({u} + 1.0) / {float(1 << 60)!r})
               * exp(-log_ratio / {temperature!r}), 6) AS key
  FROM imp),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY key DESC, {id_col}) AS rank
  FROM keys)
SELECT {id_col}, log_ratio, w, key, rank FROM ranked WHERE rank <= {n}
"""


def centroid_classify_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "source",
    dim: int = 256,
    seed: int = 1,
    labeled_filter: str = "TRUE",
) -> str:
    """Mirror of operators.hashfeat.centroid_classify: unscaled integer
    centroid sums, exact dot/sumsq, round-4-then-argmax, label tie-break."""
    feats = hash_features_sql(
        table=table, id_col=id_col, text_col=text_col, dim=dim, seed=seed
    ).strip()
    return f"""
WITH feats AS ({feats}),
labels AS (SELECT {id_col} AS id, {label_col} AS true_label FROM {table}),
train AS (SELECT {id_col} AS id FROM {table} WHERE {labeled_filter}),
cents AS (
  SELECT l.true_label AS label, f.bucket, CAST(sum(f.w) AS BIGINT) AS sw
  FROM feats f JOIN train t ON f.id = t.id JOIN labels l ON f.id = l.id
  GROUP BY 1, 2),
cstats AS (
  SELECT label, CAST(sum(sw * sw) AS BIGINT) AS c_sumsq FROM cents GROUP BY 1),
dnorm AS (
  SELECT id, CAST(sum(w * w) AS BIGINT) AS d_sumsq FROM feats GROUP BY 1),
dots AS (
  SELECT f.id, c.label, CAST(sum(f.w * c.sw) AS BIGINT) AS dot
  FROM feats f JOIN cents c ON f.bucket = c.bucket GROUP BY 1, 2),
scored AS (
  SELECT d.id, d.label,
         round(d.dot / sqrt(CAST(n.d_sumsq * s.c_sumsq AS DOUBLE)), 4) AS cos
  FROM dots d
  JOIN cstats s ON d.label = s.label
  JOIN dnorm n ON d.id = n.id),
best AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, label) AS rn
  FROM scored)
SELECT b.id, b.label, b.cos, l.true_label
FROM best b JOIN labels l ON b.id = l.id WHERE rn = 1
"""


def _duck_str(s: str) -> str:
    """A Python string as a DuckDB single-quoted literal."""
    return "'" + s.replace("'", "''") + "'"


def _line_cand_ctes(
    *, table: str, id_col: str, text_expr: str, min_chars: int, sep: str
) -> str:
    """Shared CTEs: per-line position/hash stream for line-level dedup."""
    lh = duck_md5_long("trim(line)")
    return f"""
lx AS (
  SELECT {id_col}, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS line
  FROM (SELECT {id_col}, string_split({text_expr}, {_duck_str(sep)}) AS l
        FROM {table})),
cand AS (
  SELECT {id_col}, pos, {lh} AS lh
  FROM lx WHERE length(trim(line)) >= {min_chars})"""


def duplicated_lines_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    min_count: int = 2,
    min_chars: int = 1,
    sep: str = "\n",
) -> str:
    """Mirror of operators.lines.duplicated_lines."""
    ctes = _line_cand_ctes(
        table=table, id_col=id_col, text_expr=text_expr,
        min_chars=min_chars, sep=sep,
    )
    return f"""
WITH {ctes},
per_doc AS (SELECT lh, {id_col}, count(*) AS c FROM cand GROUP BY 1, 2)
SELECT lh AS line_md5,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS n_occurrences
FROM per_doc GROUP BY 1
HAVING sum(c) >= {min_count}
"""


def strip_duplicated_lines_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    min_count: int = 2,
    min_chars: int = 1,
    sep: str = "\n",
) -> str:
    """Mirror of operators.lines.strip_duplicated_lines."""
    ctes = _line_cand_ctes(
        table=table, id_col=id_col, text_expr=text_expr,
        min_chars=min_chars, sep=sep,
    )
    s = _duck_str(sep)
    return f"""
WITH {ctes},
dup AS (SELECT lh FROM cand GROUP BY lh HAVING count(*) >= {min_count}),
rem AS (SELECT cand.{id_col}, cand.pos FROM cand JOIN dup USING (lh)),
kept AS (
  SELECT lx.{id_col}, lx.pos, lx.line
  FROM lx LEFT JOIN rem ON lx.{id_col} = rem.{id_col} AND lx.pos = rem.pos
  WHERE rem.pos IS NULL)
SELECT d.{id_col},
       CAST(len(string_split({text_expr}, {s})) AS INT) AS n_lines,
       CAST(len(string_split({text_expr}, {s})) - coalesce(kc.nk, 0) AS INT)
         AS n_removed,
       md5(coalesce(kc.joined, '')) AS clean_md5
FROM {table} d
LEFT JOIN (
  SELECT {id_col}, count(*) AS nk,
         string_agg(line, {s} ORDER BY pos) AS joined
  FROM kept GROUP BY {id_col}) kc
ON d.{id_col} = kc.{id_col}
"""


def strip_repeated_lines_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    min_chars: int = 1,
    sep: str = "\n",
) -> str:
    """Mirror of operators.lines.strip_repeated_lines: within-doc
    keep-first dedup on the trimmed line form, blank/short lines always
    kept, via DuckDB's indexed list lambda (1-based i, matching Spark's
    0-based i + 1)."""
    s = _duck_str(sep)
    lines = f"string_split({text_expr}, {s})"
    norm = f"list_transform({lines}, y -> trim(y))"
    kept = (
        f"list_filter({lines}, (x, i) -> length(trim(x)) < {min_chars} "
        f"OR list_position({norm}, trim(x)) = i)"
    )
    return f"""
SELECT {id_col},
       array_to_string({kept}, {s}) AS text,
       CAST(len({lines}) AS INT) AS n_lines,
       CAST(len({lines}) - len({kept}) AS INT) AS n_removed
FROM {table}
"""


def cap_per_source_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    cap: int,
    seed: str = "cap",
) -> str:
    """Mirror of operators.corpus.cap_per_source."""
    key = duck_md5_long(f"concat('{seed}', '#', CAST({id_col} AS VARCHAR))")
    return f"""
WITH k AS (SELECT {id_col}, {source_col}, {key} AS key FROM {table}),
r AS (
  SELECT {id_col}, {source_col},
         row_number() OVER (PARTITION BY {source_col}
           ORDER BY key, {id_col}) AS src_rank
  FROM k)
SELECT {id_col}, {source_col}, CAST(src_rank AS INT) AS src_rank,
       src_rank <= {cap} AS kept
FROM r
"""


def cap_best_per_source_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    cap: int,
    seed: str = "cap",
) -> str:
    """Mirror of operators.corpus.cap_per_source with
    ``rank_by=round(quality_score, 4)``: merit-ordered source quota. Same
    quality formula as text_profile_sql, same round-4 grid on the rank
    key, same seeded-hash + id tie-breaks."""
    stop = ", ".join(f"'{m}'" for m in EN_STOPWORDS)
    key = duck_md5_long(f"concat('{seed}', '#', CAST({id_col} AS VARCHAR))")
    return f"""
WITH docs AS (
  SELECT {id_col}, {source_col}, {text_col} AS txt,
         {duck_ws_tokens(text_col)} AS t, {key} AS key
  FROM {table}),
feat AS (
  SELECT {id_col}, {source_col}, key,
         len(t) AS n_words,
         length(txt) AS n_chars,
         len(regexp_extract_all(txt, '[^\\w\\s]')) AS n_punct,
         len(list_filter(t, x -> list_contains([{stop}], x))) AS n_stop,
         CASE WHEN len(t) > 0
              THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
              ELSE 0.0 END AS mean_word_len
  FROM docs),
ratio AS (
  SELECT {id_col}, {source_col}, key, mean_word_len,
         CASE WHEN n_words > 0 THEN n_stop::DOUBLE / n_words ELSE 0.0 END AS stopword_ratio,
         CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio
  FROM feat),
q AS (
  SELECT {id_col}, {source_col}, key,
         round({duck_quality_expr()}, 4) AS quality
  FROM ratio),
r AS (
  SELECT {id_col}, {source_col},
         row_number() OVER (PARTITION BY {source_col}
           ORDER BY quality DESC, key, {id_col}) AS src_rank
  FROM q)
SELECT {id_col}, {source_col}, CAST(src_rank AS INT) AS src_rank,
       src_rank <= {cap} AS kept
FROM r
"""


def cap_tokens_per_source_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    budget: int,
    seed: str = "tokcap",
) -> str:
    """Mirror of operators.corpus.cap_tokens_per_source: same seeded md5
    rank inside the source, same exact integer running token total, same
    greedy ``cum <= budget`` admission."""
    key = duck_md5_long(f"concat('{seed}', '#', CAST({id_col} AS VARCHAR))")
    return f"""
WITH k AS (
  SELECT {id_col}, {source_col},
         CAST(len({duck_ws_tokens(text_col)}) AS BIGINT) AS n_tok,
         {key} AS key
  FROM {table}),
r AS (
  SELECT {id_col}, {source_col}, n_tok,
         row_number() OVER (PARTITION BY {source_col}
           ORDER BY key, {id_col}) AS src_rank,
         sum(n_tok) OVER (PARTITION BY {source_col}
           ORDER BY key, {id_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM k)
SELECT {id_col}, {source_col}, n_tok, CAST(src_rank AS INT) AS src_rank,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens <= {budget} AS kept
FROM r
"""


def minhash_probe_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    store_filter: str,
    probe_filter: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> str:
    """Mirror of operators.minhash_index.minhash_probe with the store
    built over ``store_filter`` rows and probed with ``probe_filter``
    rows (the partition-bucketed store layout is an IO detail — the
    match set it serves is exactly this banded join)."""
    rows = num_hashes // bands

    def half(name: str, filt: str) -> str:
        mins = ", ".join(
            "list_min(list_transform(sh, s -> "
            + duck_md5_long(f"'{i}#' || s")
            + f")) AS h{i}"
            for i in range(num_hashes)
        )
        band_selects = " UNION ALL ".join(
            f"SELECT id, {', '.join(f'h{i}' for i in range(num_hashes))}, "
            f"{b} AS band, concat_ws(',', "
            + ", ".join(f"CAST(h{b * rows + j} AS VARCHAR)" for j in range(rows))
            + f") AS bkey FROM {name}_sig"
            for b in range(bands)
        )
        return f"""
{name}_docs AS (SELECT {id_col} AS id, {duck_ws_tokens(text_col)} AS t
  FROM {table} WHERE {filt}),
{name}_base AS (SELECT id, {duck_shingles('t', shingle_n)} AS sh FROM {name}_docs),
{name}_sig AS (SELECT id, {mins} FROM {name}_base),
{name}_band AS ({band_selects})"""

    agree = " + ".join(
        f"CASE WHEN s.h{i} = p.h{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
WITH {half('s', store_filter)},
{half('p', probe_filter)},
s_cap AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bn
    FROM s_band) WHERE bn <= {max_bucket})
SELECT DISTINCT p.id AS probe_id, s.id AS match_id,
       ({agree})::DOUBLE / {num_hashes} AS sig_sim
FROM s_cap s JOIN p_band p
  ON s.band = p.band AND s.bkey = p.bkey AND s.id <> p.id
WHERE ({agree})::DOUBLE / {num_hashes} >= {threshold}
"""


def tfidf_keywords_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> str:
    """Mirror of operators.corpus.tfidf_keywords (smooth-idf, scaled-
    integer rank grid, term tie-break)."""
    return f"""
WITH docs AS (SELECT {id_col} AS doc_id, {duck_ws_tokens(text_col)} AS t FROM {table}),
ex AS (SELECT doc_id, unnest(t) AS term FROM docs),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM docs),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(round(tf.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) * 10000)
              AS BIGINT) AS s
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
rk AS (
  SELECT doc_id, term, tf, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term ASC)
           AS rank
  FROM sc)
SELECT doc_id, term, tf, CAST(s AS DOUBLE) / 10000.0 AS score, rank
FROM rk WHERE rank <= {k}
"""


def entropy_profile_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Mirror of operators.text.entropy_profile — same scaled-integer
    entropy grid (g(c) = round(ln(c)*1e4) summed as BIGINT, so the
    reduction is order-independent on both engines), same 60-bit unit
    hashing, same left-join-to-spine zero semantics for empty docs."""
    ent = (
        "CASE WHEN d = 1 THEN 0.0 ELSE greatest(0.0, "
        "round((ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / "
        "(CAST(n AS DOUBLE) * 10000.0)) / ln(2.0), 4)) END"
    )
    return f"""
WITH docs AS (SELECT {id_col} AS id, lower({text_col}) AS lt FROM {table}),
units AS (
  SELECT id, 0 AS gn, u
  FROM docs, unnest(list_filter(
    string_split(regexp_replace(lt, '\\s+', '', 'g'), ''), x -> x <> '')) AS t(u)
  UNION ALL
  SELECT id, 1 AS gn, u
  FROM docs, unnest(list_filter(string_split_regex(lt, '\\s+'), x -> x <> '')) AS t(u)),
cnt AS (
  SELECT id, gn, {duck_md5_long('u')} AS uh, count(*) AS c
  FROM units GROUP BY 1, 2, 3),
per AS (
  SELECT id, gn, sum(c) AS n,
         sum(c * CAST(round(ln(c) * 10000) AS BIGINT)) AS s,
         count(*) AS d
  FROM cnt GROUP BY 1, 2),
scored AS (SELECT id, gn, n, d, {ent} AS h FROM per),
prof AS (
  SELECT id,
         max(CASE WHEN gn = 0 THEN n END) AS nc,
         max(CASE WHEN gn = 0 THEN h END) AS hc,
         max(CASE WHEN gn = 1 THEN n END) AS nt,
         max(CASE WHEN gn = 1 THEN h END) AS ht,
         max(CASE WHEN gn = 1 THEN d END) AS dt
  FROM scored GROUP BY 1)
SELECT d.{id_col},
       CAST(coalesce(p.nc, 0) AS BIGINT) AS n_chars_nws,
       coalesce(p.hc, 0.0) AS char_entropy,
       CAST(coalesce(p.nt, 0) AS BIGINT) AS n_tok,
       coalesce(p.ht, 0.0) AS token_entropy,
       CASE WHEN coalesce(p.nt, 0) > 0
            THEN round(CAST(p.dt AS DOUBLE) / CAST(p.nt AS DOUBLE), 4)
            ELSE 0.0 END AS distinct_token_ratio
FROM {table} d LEFT JOIN prof p ON d.{id_col} = p.id
"""


def duck_strip_html(expr: str) -> str:
    """RE2 mirror of operators.text.strip_html: identical pattern set (no
    backreferences by design), identical entity order ('&amp;' last)."""
    c = f"regexp_replace({expr}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?s)<!--.*?-->', ' ', 'g')"
    c = f"regexp_replace({c}, '(?s)<[^>]+>', ' ', 'g')"
    c = f"replace({c}, '&lt;', '<')"
    c = f"replace({c}, '&gt;', '>')"
    c = f"replace({c}, '&quot;', '\"')"
    c = f"replace({c}, '&#39;', chr(39))"
    c = f"replace({c}, '&nbsp;', ' ')"
    c = f"replace({c}, '&amp;', '&')"
    return f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"


# HTML synthesis literals live next to the Spark builder so both engines
# concatenate byte-identical strings (operators/text.py demo_html).
from transmog_spark.operators.text import (  # noqa: E402
    HTML_MID1 as _HTML_MID1,
    HTML_MID2 as _HTML_MID2,
    HTML_MID3 as _HTML_MID3,
    HTML_POST as _HTML_POST,
    HTML_PRE as _HTML_PRE,
)


def demo_html_sql(id_expr: str, text_expr: str, source_expr: str) -> str:
    mid2 = _HTML_MID2.replace("'", "''")
    return (
        f"'{_HTML_PRE}' || CAST({id_expr} AS VARCHAR) || '{_HTML_MID1}' || "
        f"CAST({id_expr} AS VARCHAR) || '{mid2}' || "
        f"replace({text_expr}, 'the ', '<b>the</b> ') || '{_HTML_MID3}' || "
        f"{source_expr} || '{_HTML_POST}'"
    )


def strip_html_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    html = demo_html_sql(id_col, text_col, "source")
    return f"""
WITH synth AS (SELECT {id_col}, {html} AS html FROM {table}),
cleaned AS (SELECT {id_col}, {duck_strip_html('html')} AS clean_text FROM synth)
SELECT {id_col}, clean_text,
       CAST(length(clean_text) AS BIGINT) AS clean_chars
FROM cleaned
"""


def demo_url_sql(id_expr: str, source_expr: str) -> str:
    """Mirror of operators.text.demo_url (same literals, same casts)."""
    i = f"CAST({id_expr} AS VARCHAR)"
    return (
        f"'HTTPS://WWW.' || {source_expr} || CAST({id_expr} % 7 AS VARCHAR) || "
        f"'.Example.COM:443/Path/' || {i} || "
        f"CASE WHEN {id_expr} % 3 = 0 THEN '/' ELSE '' END || "
        f"'?utm_source=feed&id=' || CAST({id_expr} % 5 AS VARCHAR) || "
        f"'&utm_medium=x' || "
        f"CASE WHEN {id_expr} % 2 = 0 THEN '&ref=home' ELSE '' END || '#frag'"
    )


def url_profile_sql(
    *, table: str = "documents", id_col: str = "doc_id"
) -> str:
    """Mirror of operators.text.url_parts + url_normalize over the shared
    deterministic URL synthesis — identical RE2-safe pattern set, identical
    tracking-param filter, identical default-port/trailing-slash rules."""
    hostport = (
        "regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]+)', 1)"
    )
    return f"""
WITH synth AS (SELECT {id_col}, {demo_url_sql(id_col, 'source')} AS u FROM {table}),
parts AS (
  SELECT {id_col}, u,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract({hostport}, '^([^:]+)', 1)) AS host,
         regexp_extract({hostport}, ':([0-9]+)$', 1) AS port,
         regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(u, '\\?([^#]*)', 1) AS q
  FROM synth),
filt AS (
  SELECT *,
         array_to_string(list_filter(string_split(q, '&'),
           kv -> kv <> '' AND substring(kv, 1, 4) <> 'utm_'
                 AND NOT regexp_matches(kv, '^(fbclid|gclid|msclkid)=')), '&')
           AS q2,
         regexp_replace(path, '/+$', '') AS p1
  FROM parts)
SELECT {id_col}, host,
       regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
       CASE WHEN scheme = '' THEN trim(u) ELSE
         scheme || '://' || regexp_replace(host, '^www\\.', '') ||
         CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
              THEN '' ELSE ':' || port END ||
         CASE WHEN p1 = '' THEN '/' ELSE p1 END ||
         CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END
       END AS norm_url
FROM filt
"""


def cooc_pairs_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    window: int = 2,
    min_count: int = 2,
    k: int = 100,
) -> str:
    """Mirror of operators.cooc.cooc_pairs — position self-join instead of
    the shifted-zip (same pair set by construction), identical ln-chain
    order and 1e-4 rank grid."""
    return f"""
WITH docs AS (
  SELECT row_number() OVER () AS did, {duck_ws_tokens(text_col)} AS t
  FROM {table}),
ex AS (
  SELECT did, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM docs),
pairs AS (
  SELECT least(e1.tok, e2.tok) AS tok_a, greatest(e1.tok, e2.tok) AS tok_b,
         count(*) AS c_ab
  FROM ex e1 JOIN ex e2
    ON e1.did = e2.did AND e2.pos > e1.pos AND e2.pos <= e1.pos + {window}
  GROUP BY 1, 2 HAVING count(*) >= {min_count}),
uni AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
n AS (SELECT sum(c) AS n_tok FROM uni),
scored AS (
  SELECT p.tok_a, p.tok_b, p.c_ab, ua.c AS c_a, ub.c AS c_b,
         round(ln(CAST(p.c_ab AS DOUBLE)) + ln(CAST(n_tok AS DOUBLE))
               - ln(CAST(ua.c AS DOUBLE)) - ln(CAST(ub.c AS DOUBLE)), 4) AS pmi
  FROM pairs p
  JOIN uni ua ON p.tok_a = ua.tok
  JOIN uni ub ON p.tok_b = ub.tok
  CROSS JOIN n),
rk AS (
  SELECT *, row_number() OVER (
    ORDER BY CAST(round(pmi * 10000) AS BIGINT) DESC, tok_a, tok_b) AS rank
  FROM scored)
SELECT tok_a, tok_b, c_ab, c_a, c_b, pmi, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {k}
"""


def ngram_diversity_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
    max_n: int = 3,
) -> str:
    """Mirror of operators.cooc.ngram_diversity — ordered non-distinct
    n-grams (duplicates kept, the word_ngrams contract), same 60-bit gram
    hash, distinct/total per (source, n)."""
    def grams(n: int) -> str:
        lst = (
            f"list_transform(range(1, len(t) - {n} + 2), "
            f"i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))"
        )
        return (
            f"SELECT src, {n} AS n, unnest(CASE WHEN len(t) >= {n} "
            f"THEN {lst} ELSE [] END) AS g FROM docs"
        )
    union = "\n  UNION ALL\n  ".join(grams(n) for n in range(1, max_n + 1))
    return f"""
WITH docs AS (
  SELECT {source_col} AS src, {duck_ws_tokens(text_col)} AS t FROM {table}),
grams AS (
  {union}),
hashed AS (SELECT src, n, {duck_md5_long('g')} AS gh FROM grams),
agg AS (
  SELECT src AS source, n, count(*) AS total_grams,
         count(DISTINCT gh) AS distinct_grams
  FROM hashed GROUP BY 1, 2)
SELECT source, CAST(n AS INT) AS n, total_grams, distinct_grams,
       round(CAST(distinct_grams AS DOUBLE) / total_grams, 4) AS distinct_ratio
FROM agg
"""


def boundary_chunks_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 12,
    sentencify: int = 5,
) -> str:
    """Mirror of operators.packing.boundary_chunks over the shared
    deterministic sentencification (a '.' appended to every
    ``sentencify``-th token). The greedy fold is a recursive CTE over the
    per-doc sentence index — NOT list_reduce: DuckDB 1.0's list_reduce
    corrupts struct accumulators that carry a growing list (the list field
    collapses to its last element; verified in-sandbox), so lambda-fold
    mirrors are off-limits for list-accumulating state."""
    sep = "chr(31)"
    sent = (
        f"string_split(regexp_replace(txt, '([.!?])\\s+', '\\1' || {sep}, 'g'), {sep})"
    )
    wst = "list_filter(string_split_regex(lower(s), '\\s+'), x -> x <> '')"
    return f"""
WITH RECURSIVE base AS (
  SELECT {id_col}, string_split({text_col}, ' ') AS sp FROM {table}),
docs AS (
  SELECT {id_col},
         array_to_string(list_transform(range(1, len(sp) + 1),
           i -> CASE WHEN i % {sentencify} = 0 THEN sp[i] || '.' ELSE sp[i] END),
           ' ') AS txt
  FROM base WHERE len(sp) > 0),
st AS (
  SELECT {id_col},
         list_transform(
           list_filter({sent}, s -> trim(s) <> ''),
           s -> struct_pack(s := trim(s), l := len({wst}))) AS sl
  FROM docs),
f AS (
  SELECT {id_col}, sl, 1 AS i, sl[1].l AS cur, 0 AS cid
  FROM st WHERE len(sl) > 0
  UNION ALL
  SELECT {id_col}, sl, i + 1,
         CASE WHEN cur + sl[i + 1].l > {max_tokens}
              THEN sl[i + 1].l ELSE cur + sl[i + 1].l END,
         CASE WHEN cur + sl[i + 1].l > {max_tokens}
              THEN cid + 1 ELSE cid END
  FROM f WHERE i < len(sl)),
assigned AS (
  SELECT {id_col}, cid, sl[i].s AS s, sl[i].l AS l, i FROM f)
SELECT {id_col}, CAST(cid AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(sum(l) AS BIGINT) AS chunk_tokens,
       string_agg(s, ' ' ORDER BY i) AS chunk
FROM assigned GROUP BY 1, 2
"""


def phrase_search_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    phrase: str = "table part",
) -> str:
    """Mirror of operators.corpus.phrase_search — same align-and-count
    (slot j per matching term, DISTINCT-slot obligation per start)."""
    terms = [t for t in phrase.lower().split() if t]
    m = len(terms)
    conds = " OR ".join(
        f"(j = {j} AND tok = '{t}')" for j, t in enumerate(terms)
    )
    slots = ", ".join(str(j) for j in range(m))
    return f"""
WITH docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}),
ex AS (
  SELECT {id_col}, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos
  FROM docs),
hits AS (
  SELECT {id_col}, pos, j
  FROM ex, unnest([{slots}]) AS s(j)
  WHERE {conds}),
starts AS (
  SELECT {id_col}, pos - j AS start
  FROM hits WHERE pos - j >= 0
  GROUP BY 1, 2 HAVING count(DISTINCT j) = {m})
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(start) AS BIGINT) AS first_pos
FROM starts GROUP BY 1
"""


def near_search_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: tuple[str, ...] = ("spark", "vector"),
    window: int = 8,
) -> str:
    """Mirror of operators.corpus.near_search (same window-start fan-out
    and DISTINCT-term obligation)."""
    want = sorted({t for t in (x.lower() for x in terms) if t})
    inlist = ", ".join(f"'{t}'" for t in want)
    return f"""
WITH docs AS (SELECT {id_col}, {duck_ws_tokens(text_col)} AS t FROM {table}),
ex AS (
  SELECT {id_col}, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos
  FROM docs),
hits AS (SELECT {id_col}, tok, pos FROM ex WHERE tok IN ({inlist})),
starts AS (
  SELECT {id_col}, tok, unnest(range(greatest(pos - {window - 1}, 0), pos + 1))
           AS start
  FROM hits),
wins AS (
  SELECT {id_col}, start
  FROM starts GROUP BY 1, 2 HAVING count(DISTINCT tok) = {len(want)})
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_windows,
       CAST(min(start) AS BIGINT) AS first_pos
FROM wins GROUP BY 1
"""


def pii_pseudo_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "r5",
) -> str:
    """Mirror of operators.pii.pii_pseudonymize over the pii_scan
    injection: per type in PII_PATTERNS order, split-around-matches +
    stable md5 surrogates, interleaved by index (the padded-zip)."""
    from transmog_spark.operators.pii import PII_PATTERNS

    inject = (
        f"{text_col} || ' ' || CASE {id_col} % 3 "
        f"WHEN 0 THEN 'mail u' || {id_col} || '@example.org now' "
        f"WHEN 1 THEN 'call 555-867-5309 today' "
        f"ELSE 'host 192.168.' || ({id_col} % 200) || '.42 id 123-45-6789' END"
    )
    ctes = [f"t0 AS (SELECT {id_col}, {inject} AS txt FROM {table})"]
    for i, (name, pat) in enumerate(PII_PATTERNS.items()):
        surr = (
            f"'<{name.upper()}:' || substring(md5('{salt}#{name}#' || m), 1, 8) || '>'"
        )
        ctes.append(
            f"""t{i + 1} AS (
  SELECT {id_col},
         array_to_string(list_transform(
           range(1, len(regexp_split_to_array(txt, '{pat}')) + 1),
           i -> regexp_split_to_array(txt, '{pat}')[i] ||
                list_append(list_transform(regexp_extract_all(txt, '{pat}'),
                                           m -> {surr}), '')[i]), '') AS txt
  FROM t{i})"""
        )
    n = len(PII_PATTERNS)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT {id_col}, txt AS pseudo_text FROM t{n}\n"
    )


def interleave_sources_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    target_shares: dict[str, float] | None = None,
    seed: str = "",
) -> str:
    """Mirror of operators.corpus.interleave_sources — same 1e-6 weight
    grid, same u = md5 % 1000003 uniform, same exact-BIGINT key division
    (// mirrors Spark's DIV)."""
    if target_shares:
        total = sum(target_shares.values())
        case = (
            "CASE src "
            + " ".join(
                f"WHEN '{s}' THEN {v / total!r}" for s, v in target_shares.items()
            )
            + " END"
        )
        w = f"CAST(round(({case}) / p * 1000000) AS BIGINT)"
    else:
        w = "CAST(round(1.0 * 1000000) AS BIGINT)"
    u = duck_md5_long(f"'{seed}#' || CAST({id_col} AS VARCHAR)")
    return f"""
WITH n AS (SELECT {source_col} AS src, count(*) AS n FROM {table} GROUP BY 1),
p AS (SELECT src, n / (SELECT sum(n) FROM n) AS p FROM n),
w AS (SELECT src, {w} AS w_grid FROM p),
d AS (SELECT {id_col}, {source_col} AS src, {u} % 1000003 AS u FROM {table})
SELECT d.{id_col}, d.src AS {source_col},
       CAST((u * 1000000000000) // w_grid AS BIGINT) AS interleave_key
FROM d JOIN w USING (src) WHERE w_grid > 0
"""


def span_corruption_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: int = 32768,
    noise_density: float = 0.15,
    span_len: int = 3,
    sentinel_base: int = 32000,
    seed: str = "",
    prefix: int | None = None,
) -> str:
    """Mirror of operators.objectives.span_corruption over tokenize_ids —
    same seeded per-position start hash, same cummax interval merge, same
    sentinel indexing; input/target arrays md5-scalarized (driver
    canonicalizer cannot hash list cells). ``prefix`` prepends a paradigm
    token to the hashed input stream (the UL2 [R]/[X] framing)."""
    thresh = round(noise_density / span_len * 1000000)
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"
    h = duck_md5_long(
        f"'{seed}#' || CAST({id_col} AS VARCHAR) || '#' || CAST(u AS VARCHAR)"
    )
    inspan = "list_filter(sp, x -> x.s <= p AND p < x.e)"
    if prefix is None:
        pfx = "coalesce(array_to_string(input_ids, ','), '')"
    else:
        pfx = (
            f"'{prefix}' || CASE WHEN len(input_ids) = 0 THEN '' "
            f"ELSE ',' || array_to_string(input_ids, ',') END"
        )
    return f"""
WITH docs AS (
  SELECT {id_col}, list_transform({duck_ws_tokens(text_col)}, x -> {tok}) AS t
  FROM {table}),
flag AS (
  SELECT {id_col}, u AS s, least(u + {span_len}, len(t)) AS e
  FROM docs, unnest(range(0, len(t))) AS r(u)
  WHERE {h} % 1000000 < {thresh}),
m1 AS (
  SELECT {id_col}, s, e,
         max(e) OVER (PARTITION BY {id_col} ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_e
  FROM flag),
m2 AS (
  SELECT {id_col}, s, e,
         sum(CASE WHEN s >= coalesce(prev_e, 0) THEN 1 ELSE 0 END)
           OVER (PARTITION BY {id_col} ORDER BY s) AS g
  FROM m1),
merged AS (SELECT {id_col}, min(s) AS s, max(e) AS e FROM m2 GROUP BY {id_col}, g),
agg AS (
  SELECT {id_col}, list(struct_pack(s := s, e := e) ORDER BY s) AS raw
  FROM merged GROUP BY 1),
j AS (
  SELECT d.{id_col}, d.t, coalesce(a.raw, []) AS raw
  FROM docs d LEFT JOIN agg a USING ({id_col})),
kd AS (
  SELECT {id_col}, t,
         list_transform(range(1, len(raw) + 1),
           i -> struct_pack(s := raw[i].s, e := raw[i].e, k := i - 1)) AS sp
  FROM j),
built AS (
  SELECT {id_col},
         len(t) AS n_tok,
         len(sp) AS n_spans,
         CASE WHEN len(t) > 0
              THEN round(coalesce(list_sum(list_transform(sp, x -> x.e - x.s)), 0)
                         / CAST(len(t) AS DOUBLE), 4)
              ELSE 0.0 END AS corrupted_frac,
         flatten(list_transform(range(0, len(t)), p -> CASE
           WHEN len({inspan}) = 0 THEN [t[p + 1]]
           WHEN ({inspan})[1].s = p
             THEN [CAST({sentinel_base} + ({inspan})[1].k AS INT)]
           ELSE [] END)) AS input_ids,
         flatten(list_transform(sp,
           x -> list_concat([CAST({sentinel_base} + x.k AS INT)],
                            list_slice(t, x.s + 1, x.e)))) AS target_ids
  FROM kd)
SELECT {id_col}, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(n_spans AS BIGINT) AS n_spans, corrupted_frac,
       md5({pfx}) AS input_md5,
       md5(coalesce(array_to_string(target_ids, ','), '')) AS target_md5
FROM built
"""


def mlm_mask_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: int = 32768,
    mask_rate: float = 0.15,
    mask_id: int = 32001,
    seed: str = "",
) -> str:
    """Mirror of operators.objectives.mlm_mask — same three seeded hash
    draws per position (select / 80-10-10 branch / replacement), arrays
    md5-scalarized."""
    grid = round(mask_rate * 1000000)
    tok = f"CAST({duck_md5_long('x')} % {vocab} AS INT)"

    def h(tag: str) -> str:
        return duck_md5_long(
            f"'{seed}#{tag}#' || CAST({id_col} AS VARCHAR) || '#' || "
            f"CAST(i - 1 AS VARCHAR)"
        )

    sel = f"({h('sel')} % 1000000 < {grid})"
    br = f"({h('br')} % 10)"
    rnd = f"CAST({h('rnd')} % {vocab} AS INT)"
    return f"""
WITH docs AS (
  SELECT {id_col}, list_transform({duck_ws_tokens(text_col)}, x -> {tok}) AS t
  FROM {table}),
m AS (
  SELECT {id_col}, len(t) AS n_tok,
         list_transform(range(1, len(t) + 1), i -> struct_pack(
           x := CASE WHEN {sel} THEN
                  CASE WHEN {br} < 8 THEN {mask_id}
                       WHEN {br} = 8 THEN {rnd}
                       ELSE t[i] END
                ELSE t[i] END,
           y := CASE WHEN {sel} THEN t[i] ELSE -100 END)) AS mm
  FROM docs)
SELECT {id_col}, CAST(n_tok AS BIGINT) AS n_tok,
       md5(coalesce(array_to_string(list_transform(mm, z -> z.x), ','), ''))
         AS input_md5,
       md5(coalesce(array_to_string(list_transform(mm, z -> z.y), ','), ''))
         AS labels_md5,
       CAST(len(list_filter(mm, z -> z.y <> -100)) AS BIGINT) AS n_masked
FROM m
"""


def wordpiece_tokenize_sql(
    vocab: "list[str] | tuple[str, ...]",
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Mirror of operators.wordpiece.wordpiece_tokenize. Greedy
    longest-match is PATH-INDEPENDENT — the chosen piece at (word, pos)
    depends only on the word text and position — so the mirror
    precomputes the argmax-length match for EVERY (distinct word,
    position) non-recursively (window rank over the candidate join) and
    a recursive CTE merely walks the choices; a position with no match
    collapses the whole word to '[UNK]' (np = 1, partial path
    discarded), exactly the engine's rule. Bounded by the distinct-word
    vocabulary times word length, never the corpus."""
    from transmog_spark.operators.wordpiece import WP_WORD_RE

    def q(s: str) -> str:
        return s.replace("'", "''")

    vals = ",\n    ".join(f"('{q(p)}')" for p in vocab if p != "[UNK]")
    return f"""
WITH RECURSIVE
vocab(piece) AS (SELECT * FROM (VALUES
    {vals}) v),
pre AS (
  SELECT {id_col}, regexp_extract_all({text_col}, '{WP_WORD_RE}') AS ws
  FROM {table}),
words AS (
  SELECT {id_col}, unnest(ws) AS w, generate_subscripts(ws, 1) AS wpos
  FROM pre),
dw AS (SELECT DISTINCT w FROM words),
allpos AS (
  SELECT w, unnest(range(0, length(w))) AS p FROM dw),
cand AS (
  SELECT a.w, a.p, v.piece,
         CASE WHEN a.p = 0 THEN length(v.piece)
              ELSE length(v.piece) - 2 END AS consumed
  FROM allpos a JOIN vocab v
    ON CASE WHEN a.p = 0 THEN
              v.piece NOT LIKE '##%'
              AND substr(a.w, 1, length(v.piece)) = v.piece
            ELSE
              v.piece LIKE '##%' AND length(v.piece) > 2
              AND substr(a.w, a.p + 1, length(v.piece) - 2)
                  = substr(v.piece, 3)
       END),
choice AS (
  SELECT w, p, piece, consumed FROM (
    SELECT *, row_number() OVER (
        PARTITION BY w, p ORDER BY consumed DESC, piece) AS rn
    FROM cand) WHERE rn = 1),
walk AS (
  SELECT w, 0 AS pos, 0 AS np, '' AS path, FALSE AS unk FROM dw
  UNION ALL
  SELECT wk.w,
         CASE WHEN c.w IS NULL THEN length(wk.w)
              ELSE wk.pos + c.consumed END,
         CASE WHEN c.w IS NULL THEN 1 ELSE wk.np + 1 END,
         CASE WHEN c.w IS NULL THEN '[UNK]'
              WHEN wk.path = '' THEN c.piece
              ELSE wk.path || chr(31) || c.piece END,
         c.w IS NULL
  FROM walk wk LEFT JOIN choice c ON c.w = wk.w AND c.p = wk.pos
  WHERE wk.pos < length(wk.w)),
best AS (
  SELECT w, np, path, unk FROM walk WHERE pos >= length(w)),
agg AS (
  SELECT words.{id_col},
         count(*) AS n_words,
         CAST(sum(b.np) AS BIGINT) AS n_pieces,
         CAST(sum(CASE WHEN b.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
         string_agg(b.path, chr(30) ORDER BY words.wpos) AS stream
  FROM words JOIN best b USING (w)
  GROUP BY 1)
SELECT d.{id_col},
       CAST(coalesce(a.n_words, 0) AS INTEGER) AS n_words,
       CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
       CAST(coalesce(a.n_unk, 0) AS BIGINT) AS n_unk,
       md5(coalesce(a.stream, '')) AS piece_md5
FROM {table} d LEFT JOIN agg a USING ({id_col})
"""
