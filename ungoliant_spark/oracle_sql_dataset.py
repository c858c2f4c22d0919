"""DuckDB oracle SQL for the dedup / similarity / text-analysis
queries (plans/dataset_queries.py). Each statement independently
recomputes the operator semantics with DuckDB list functions and the
portable md5-prefix hash."""

from __future__ import annotations

from ungoliant_spark.functions.textstats import STOPWORDS
from ungoliant_spark.operators.dedup import MERSENNE, N_BANDS, N_PERMS, PERMS

H64 = "(('0x' || substr(md5({0}), 1, 15))::BIGINT)"
NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
TOKENS = (
    "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'),"
    " x -> x <> '')"
)

# distinct word-3-gram hashes
SHINGLES = f"""
CASE WHEN len(toks) >= 3 THEN
  list_distinct(list_transform(
    list_transform(range(1, len(toks) - 3 + 2),
                   i -> array_to_string(toks[i:i+2], ' ')),
    g -> {H64.format('g')}))
ELSE [ {H64.format("array_to_string(toks, ' ')")} ]
END
"""


def oracle_dedup_exact() -> str:
    return f"""
WITH keyed AS (
  SELECT doc_id, {H64.format(NORM)} AS fingerprint FROM documents
)
SELECT doc_id, fingerprint,
  min(doc_id) OVER (PARTITION BY fingerprint) AS rep_id,
  doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_dup
FROM keyed
"""


def oracle_dedup_reps() -> str:
    return f"""
WITH keyed AS (
  SELECT doc_id, {H64.format(NORM)} AS fingerprint FROM documents
)
SELECT doc_id,
  min(doc_id) OVER (PARTITION BY fingerprint) AS rep_id,
  count(*) OVER (PARTITION BY fingerprint) AS cluster_size
FROM keyed
"""


def oracle_dedup_stats() -> str:
    """SQL twin of dedup.dedup_cluster_stats — log2 histogram of
    exact-dup cluster sizes. floor(log2(n)) is bit-safe cross-engine:
    log2 of exact powers of two is exact in IEEE doubles, and other
    integers sit far from the floor boundary."""
    return f"""
WITH keyed AS (
  SELECT {H64.format(NORM)} AS fingerprint FROM documents
), sizes AS (
  SELECT fingerprint, count(*) AS sz FROM keyed GROUP BY fingerprint
)
SELECT CAST(floor(log2(sz)) AS INTEGER) AS bucket,
       CAST(min(sz) AS BIGINT) AS min_size,
       CAST(max(sz) AS BIGINT) AS max_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY bucket
"""


_SHINGLE_BASE = f"""
WITH toked AS (
  SELECT doc_id, {TOKENS} AS toks FROM documents
), shingled AS (
  SELECT doc_id, ({SHINGLES}) AS shingles FROM toked
)
"""


def oracle_dedup_jaccard(threshold: float = 0.5) -> str:
    return (
        _SHINGLE_BASE
        + f"""
, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS n_common,
         len(a.shingles) AS size_a, len(b.shingles) AS size_b
  FROM shingled a, shingled b
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  round(CAST(n_common AS DOUBLE) / (size_a + size_b - n_common), 6) AS jaccard
FROM pairs
WHERE n_common > 0
  AND CAST(n_common AS DOUBLE) / (size_a + size_b - n_common) >= {threshold}
"""
    )


def _sig_exprs() -> str:
    outs = []
    for a, b in PERMS:
        outs.append(
            f"list_aggregate(list_transform(shingles,"
            f" h -> ({a} * (h % {MERSENNE}) + {b}) % {MERSENNE}), 'min')"
        )
    return "[" + ", ".join(outs) + "]"


def oracle_dedup_minhash(threshold: float = 0.5) -> str:
    rpb = N_PERMS // N_BANDS
    band_keys = []
    for bi in range(N_BANDS):
        parts = " || '_' || ".join(
            f"CAST(sig[{bi * rpb + r + 1}] AS VARCHAR)" for r in range(rpb)
        )
        band_keys.append(
            f"struct_pack(band := {bi}, bkey := {H64.format('(' + parts + ')')})"
        )
    return (
        _SHINGLE_BASE
        + f"""
, sigs AS (
  SELECT doc_id, shingles, {_sig_exprs()} AS sig FROM shingled
), banded AS (
  SELECT doc_id, shingles, unnest([{', '.join(band_keys)}]) AS bh FROM sigs
), flat AS (
  SELECT doc_id, shingles, bh.band AS band, bh.bkey AS bkey FROM banded
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM flat a JOIN flat b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), scored AS (
  SELECT c.id_a, c.id_b,
    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS n_common,
    len(sa.shingles) AS size_a, len(sb.shingles) AS size_b
  FROM cand c
  JOIN shingled sa ON sa.doc_id = c.id_a
  JOIN shingled sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b,
  round(CAST(n_common AS DOUBLE) / (size_a + size_b - n_common), 6) AS jaccard
FROM scored
WHERE CAST(n_common AS DOUBLE) / (size_a + size_b - n_common) >= {threshold}
"""
    )


_SIMHASH_CTE = """
WITH toked AS (
  SELECT doc_id, {TOKENS} AS toks FROM documents
), hashes AS (
  SELECT doc_id, list_transform(toks, t -> {H}) AS hs FROM toked
), exploded AS (
  SELECT doc_id, unnest(hs) AS h FROM hashes
), votes AS (
  SELECT e.doc_id, r.b,
         sum(CASE WHEN (e.h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM exploded e, range(0, 63) r(b)
  GROUP BY e.doc_id, r.b
), sh0 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
), sh AS (
  SELECT d.doc_id, COALESCE(sh0.simhash, 0)::BIGINT AS simhash
  FROM documents d LEFT JOIN sh0 ON d.doc_id = sh0.doc_id
)
"""


def _simhash_cte() -> str:
    return _SIMHASH_CTE.format(TOKENS=TOKENS, H=H64.format("t"))


def oracle_dedup_simhash_pairs(max_hamming: int = 3) -> str:
    """SQL twin of dedup.simhash_pairs: band the 63-bit word into
    16+16+16+15-bit chunks, join on (band, chunk), verify Hamming
    distance via bit_count(xor)."""
    from ungoliant_spark.operators.dedup import SIMHASH_BANDS

    chunks = ", ".join(
        f"struct_pack(band := {bi},"
        f" chunk := (simhash >> {off}) & {(1 << width) - 1})"
        for bi, (off, width) in enumerate(SIMHASH_BANDS)
    )
    return (
        _simhash_cte()
        + f"""
, banded AS (
  SELECT doc_id, simhash, unnest([{chunks}]) AS bh FROM sh
), flat AS (
  SELECT doc_id, simhash, bh.band AS band, bh.chunk AS chunk FROM banded
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM flat a JOIN flat b ON a.band = b.band AND a.chunk = b.chunk
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""
    )


def _components_closure(
    pairs_sql: str, node_table: str = "documents", node_col: str = "doc_id"
) -> str:
    """Wrap a node-level (id_a, id_b[, score]) pair query in a
    recursive transitive closure (WITH RECURSIVE) from every node
    over bidirectional edges, then min reachable id per node — the
    label-propagation fixpoint computed a completely different way
    (recursion in SQL checks the fixpoint's defining property, not
    the algorithm)."""
    return f"""
WITH RECURSIVE pairs AS (
  {pairs_sql}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(id, r) AS (
  SELECT {node_col}, {node_col} FROM {node_table}
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS {node_col}, min(r) AS component_rep FROM reach GROUP BY id
"""


def oracle_dedup_components_embedding() -> str:
    """Transitive closure over the LSH-bucket-restricted embedding
    near-dup pairs — the twin of near_dup_components over
    embedding_near_dup_pairs (nodes = the embeddings table)."""
    return _components_closure(
        oracle_dedup_embedding(0.5),
        node_table="embeddings",
        node_col="vec_id",
    )


def oracle_dedup_components() -> str:
    """SQL twin of dedup.near_dup_components over the simhash pair
    edges — see _components_closure."""
    return _components_closure(oracle_dedup_simhash_pairs())


def oracle_dedup_components_minhash() -> str:
    """DOC-level-graph twin of dedup.minhash_components: transitive
    closure over the naive banded MinHash pair set. The engine never
    materializes those doc pairs (rep-level graph only), so the hash
    match proves the rep composition clusters identically."""
    return _components_closure(oracle_dedup_minhash())


def oracle_dedup_components_jaccard() -> str:
    """DOC-level-graph twin of dedup.jaccard_components: transitive
    closure over the naive all-pairs Jaccard ≥ 0.5 pair set."""
    return _components_closure(oracle_dedup_jaccard())


def oracle_simhash() -> str:
    return f"""
WITH toked AS (
  SELECT doc_id, {TOKENS} AS toks FROM documents
), hashes AS (
  SELECT doc_id, list_transform(toks, t -> {H64.format('t')}) AS hs FROM toked
), exploded AS (
  SELECT doc_id, unnest(hs) AS h FROM hashes
), votes AS (
  SELECT e.doc_id, r.b,
         sum(CASE WHEN (e.h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM exploded e, range(0, 63) r(b)
  GROUP BY e.doc_id, r.b
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(sh.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
"""


def _vec_lit(v: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in v) + "]"


def _bucket_expr(planes: list[list[float]]) -> str:
    """Sign-random-projection bucket id over `e` (DOUBLE[]) — the SQL
    twin of similarity._bucket_of (same plane literals, same > 0)."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(e, {_vec_lit(p)}) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _lsh_keys_list() -> str:
    from ungoliant_spark.operators.similarity import TABLES

    return "[" + ", ".join(
        f"struct_pack(t := {t}, b := ({_bucket_expr(planes)}))"
        for t, planes in enumerate(TABLES)
    ) + "]"


_COS = (
    "round(list_dot_product({a}, {b}) /"
    " (sqrt(list_dot_product({a}, {a})) *"
    " sqrt(list_dot_product({b}, {b}))), 6)"
)


def oracle_dedup_embedding(threshold: float = 0.9) -> str:
    """LSH-bucket-restricted near-dup pairs — the exact SQL twin of
    similarity.embedding_near_dup_pairs (same multi-table SRP keys),
    so the driver verifies the production sub-quadratic algorithm,
    not the O(n²) all-pairs form."""
    sim = _COS.format(a="va.e", b="vb.e")
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), keyed AS (
  SELECT vec_id, unnest({_lsh_keys_list()}) AS k FROM v
), flat AS (
  SELECT vec_id, k.t AS t, k.b AS b FROM keyed
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM flat a JOIN flat b ON a.t = b.t AND a.b = b.b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, {sim} AS sim
FROM cand
JOIN v va ON va.vec_id = id_a
JOIN v vb ON vb.vec_id = id_b
WHERE {sim} >= {threshold}
"""


def _probe_keys_lists() -> tuple[str, str]:
    """(corpus_keys, query_probe_keys) SQL list expressions over `e`
    (DOUBLE[]) — the twins of similarity.lsh_keys(PROBE_TABLES) and
    similarity.lsh_probe_keys: corpus vectors carry one base-bucket
    key per table; queries add, per table, the buckets reached by
    flipping the PROBE_EXTRA lowest-|margin| hyperplane signs in
    margin order (list_sort over (|dot|, idx) structs — the same
    field-order comparison Spark's sort_array uses)."""
    from ungoliant_spark.operators.similarity import (
        PROBE_EXTRA,
        PROBE_TABLES,
    )

    corpus = "[" + ", ".join(
        f"struct_pack(t := {t}, b := ({_bucket_expr(planes)}))"
        for t, planes in enumerate(PROBE_TABLES)
    ) + "]"
    parts = []
    for t, planes in enumerate(PROBE_TABLES):
        dots = [f"list_dot_product(e, {_vec_lit(p)})" for p in planes]
        base = " + ".join(
            f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(dots)
        )
        parts.append(f"struct_pack(t := {t}, b := ({base}))")
        ordered = "list_sort([" + ", ".join(
            f"struct_pack(m := abs({d}), i := {i})"
            for i, d in enumerate(dots)
        ) + "])"
        pow2 = "[" + ", ".join(
            str(1 << i) for i in range(len(planes))
        ) + "]"
        for j in range(PROBE_EXTRA):
            parts.append(
                f"struct_pack(t := {t}, b := xor(({base}),"
                f" ({pow2})[({ordered})[{j + 1}].i + 1]))"
            )
    return corpus, "[" + ", ".join(parts) + "]"


def oracle_knn_ann_lsh(n_query: int = 20, k: int = 5) -> str:
    """SQL twin of similarity.ann_lsh_topk (multi-probe default):
    identical PROBE_TABLES base keys on the corpus side, identical
    margin-ordered single-bit-flip probe keys on the query side,
    cosine on survivors, deterministic (sim desc, neighbor asc)
    ranking — the driver hash-check verifies the multi-probe
    candidate generation itself, not just the ranking."""
    corpus_keys, query_keys = _probe_keys_lists()
    sim = _COS.format(a="vq.e", b="vc.e")
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), ckeyed AS (
  SELECT vec_id, unnest({corpus_keys}) AS k FROM v
), cflat AS (
  SELECT vec_id, k.t AS t, k.b AS b FROM ckeyed
), qkeyed AS (
  SELECT vec_id, unnest({query_keys}) AS k FROM v
  WHERE vec_id < {n_query}
), qflat AS (
  SELECT vec_id, k.t AS t, k.b AS b FROM qkeyed
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qflat q JOIN cflat c ON q.t = c.t AND q.b = c.b
  WHERE q.vec_id <> c.vec_id
), s AS (
  SELECT query_id, neighbor_id, {sim} AS sim
  FROM cand
  JOIN v vq ON vq.vec_id = query_id
  JOIN v vc ON vc.vec_id = neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, sim
FROM ranked WHERE rank <= {k}
"""


def oracle_knn_cosine(n_query: int = 20, k: int = 5) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {n_query}
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
    round(list_dot_product(qv, cv) /
          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
          6) AS sim
  FROM q, c WHERE query_id <> neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, sim
FROM ranked WHERE rank <= {k}
"""


def _stop_hits(lang: str) -> str:
    lit = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return f"len(list_filter(toks, t -> list_contains({lit}, t)))"


def oracle_knn_ann_ivf(
    n_query: int = 20, k: int = 5, n_cells: int = 32, nprobe: int = 4
) -> str:
    """SQL twin of similarity.ann_ivf_topk: fixed-budget centroids
    (the n_cells smallest Knuth-scrambled ids — same arithmetic as
    similarity.IVF_SCRAMBLE), per-vector centroid ranking by rounded
    cosine (ties → lowest centroid id), corpus keeps its cell,
    queries probe nprobe cells."""
    csim = _COS.format(a="v.e", b="c.e")
    sim = _COS.format(a="vq.e", b="vc.e")
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cents AS (
  SELECT vec_id AS cid, e FROM v
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 4294967296, vec_id
  LIMIT {n_cells}
), ranked_cells AS (
  SELECT v.vec_id AS id, c.cid,
    row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY {csim} DESC, c.cid ASC) AS crank
  FROM v, cents c
), corpus_cells AS (
  SELECT id AS neighbor_id, cid FROM ranked_cells WHERE crank = 1
), query_cells AS (
  SELECT id AS query_id, cid FROM ranked_cells
  WHERE crank <= {nprobe} AND id < {n_query}
), cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM query_cells q JOIN corpus_cells c USING (cid)
  WHERE query_id <> neighbor_id
), s AS (
  SELECT query_id, neighbor_id, {sim} AS sim
  FROM cand
  JOIN v vq ON vq.vec_id = query_id
  JOIN v vc ON vc.vec_id = neighbor_id
), final_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, sim
FROM final_ranked WHERE rank <= {k}
"""


def oracle_knn_ann_ivf_variants() -> str:
    """Both IVF quantizer variants under one driver row (variant
    column), matching plans.dataset_queries.q_knn_ann_ivf — the
    driver correctness artifact caps at 50 recorded rows."""
    return f"""
SELECT 'ivf' AS variant, * FROM ({oracle_knn_ann_ivf()})
UNION ALL
SELECT 'ivf_lloyd' AS variant, * FROM ({oracle_knn_ann_ivf_lloyd()})
"""


def oracle_knn_ann_ivf_lloyd(
    n_query: int = 20,
    k: int = 5,
    n_cells: int = 32,
    nprobe: int = 4,
    dim: int = 64,
) -> str:
    """SQL twin of ann_ivf_topk(lloyd_iters=1, lloyd_round_dp=6):
    seed centroids as in oracle_knn_ann_ivf, assign every vector to
    its nearest seed (rounded cosine, ties → lowest cid), replace each
    non-empty cell's centroid with its per-dimension mean rounded to
    6 dp, then run the standard IVF probe over the refined cells.

    RESIDUAL FLAKE RISK (ADVICE r4, documented by design): both
    engines round per-cell means to 6 dp so downstream cosine ranks
    agree bit-for-bit, but rounding does not commute with differing
    partial-sum orders — an unrounded mean lying within ~1 ulp of a
    .5×10^-6 boundary could round apart between Spark's partial
    aggregation and DuckDB's serial sum. The committed embeddings
    fixture has no mean near a boundary (hash-green across rounds);
    on OTHER datasets this row may flake where every other row would
    still pass. Raising lloyd_round_dp in BOTH engines or comparing
    with a tolerance are the mitigations if that ever bites; exact
    decimal aggregation would fix it outright at the cost of the
    codegen'd float sum."""
    csim0 = _COS.format(a="v.e", b="c.e")
    csim = _COS.format(a="v.e", b="c.e")
    sim = _COS.format(a="vq.e", b="vc.e")
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cents0 AS (
  SELECT vec_id AS cid, e FROM v
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 4294967296, vec_id
  LIMIT {n_cells}
), assign0 AS (
  SELECT v.vec_id AS id, c.cid,
    row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY {csim0} DESC, c.cid ASC) AS crank
  FROM v, cents0 c
), cells0 AS (
  SELECT id, cid FROM assign0 WHERE crank = 1
), means AS (
  SELECT c0.cid, t.pos, round(avg(v.e[t.pos]), 6) AS m
  FROM cells0 c0
  JOIN v ON v.vec_id = c0.id
  CROSS JOIN range(1, {dim} + 1) t(pos)
  GROUP BY c0.cid, t.pos
), cents AS (
  SELECT cid, list(m ORDER BY pos) AS e FROM means GROUP BY cid
), ranked_cells AS (
  SELECT v.vec_id AS id, c.cid,
    row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY {csim} DESC, c.cid ASC) AS crank
  FROM v, cents c
), corpus_cells AS (
  SELECT id AS neighbor_id, cid FROM ranked_cells WHERE crank = 1
), query_cells AS (
  SELECT id AS query_id, cid FROM ranked_cells
  WHERE crank <= {nprobe} AND id < {n_query}
), cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM query_cells q JOIN corpus_cells c USING (cid)
  WHERE query_id <> neighbor_id
), s AS (
  SELECT query_id, neighbor_id, {sim} AS sim
  FROM cand
  JOIN v vq ON vq.vec_id = query_id
  JOIN v vc ON vc.vec_id = neighbor_id
), final_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, sim
FROM final_ranked WHERE rank <= {k}
"""


def oracle_text_stats() -> str:
    hits_total = " + ".join(_stop_hits(lg) for lg in STOPWORDS)
    guess = "NULL"
    for lg in reversed(list(STOPWORDS)):
        guess = (
            f"CASE WHEN s_{lg} = mx THEN '{lg}' ELSE {guess} END"
        )
    stop_cols = ", ".join(
        f"{_stop_hits(lg)} AS s_{lg}" for lg in STOPWORDS
    )
    return f"""
WITH toked AS (
  SELECT doc_id, text, {TOKENS} AS toks FROM documents
), stats AS (
  SELECT doc_id, text, toks,
    len(toks) AS n_tokens,
    {H64.format(NORM)} AS fingerprint,
    {stop_cols},
    CASE WHEN length(text) > 0 THEN
      CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{M}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE) / length(text)
    ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(toks) > 0 THEN
      CAST({hits_total} AS DOUBLE) / len(toks)
    ELSE 0.0 END AS stopword_ratio
  FROM toked
), guessed AS (
  SELECT *, greatest(s_en, s_fr, s_de, s_es) AS mx FROM stats
)
SELECT doc_id, n_tokens, fingerprint,
  CASE WHEN mx > 0 THEN {guess} END AS lang_guess,
  round(punct_ratio, 6) AS punct_ratio,
  round(mean_token_len, 6) AS mean_token_len,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(0.3 * least(n_tokens / 50.0, 1.0)
      + 0.3 * (1.0 - least(punct_ratio / 0.3, 1.0))
      + 0.2 * least(stopword_ratio / 0.2, 1.0)
      + 0.2 * (1.0 - least(abs(mean_token_len - 5.0) / 5.0, 1.0)), 6)
    AS quality_score
FROM guessed
"""


def oracle_dedup_against(
    new_min: int = 200, ref_max: int = 300
) -> str:
    """SQL twin of dedup.exact_dedup_against on the driver split."""
    return f"""
WITH k AS (
  SELECT doc_id, {H64.format(NORM)} AS fingerprint FROM documents
), ref AS (
  SELECT fingerprint, min(doc_id) AS dup_of_ref
  FROM k WHERE doc_id < {ref_max} GROUP BY fingerprint
), newb AS (
  SELECT doc_id, fingerprint FROM k WHERE doc_id >= {new_min}
), within AS (
  SELECT fingerprint, min(doc_id) AS rep_id FROM newb GROUP BY fingerprint
)
SELECT n.doc_id, n.fingerprint, r.dup_of_ref, w.rep_id,
  (r.dup_of_ref IS NOT NULL OR n.doc_id <> w.rep_id) AS is_dup
FROM newb n
LEFT JOIN ref r USING (fingerprint)
JOIN within w USING (fingerprint)
"""


def oracle_decontam_flags(bench_max: int = 5, min_overlap: int = 1) -> str:
    """SQL twin of decontam.flag_contaminated: same distinct 3-gram
    shingle hashes (SHINGLES), benchmark = doc_id < bench_max."""
    return (
        _SHINGLE_BASE
        + f"""
, bench AS (
  SELECT DISTINCT unnest(shingles) AS g FROM shingled
  WHERE doc_id < {bench_max}
), grams AS (
  SELECT doc_id, unnest(shingles) AS g FROM shingled
), hits AS (
  SELECT doc_id, count(*) AS n FROM grams JOIN bench USING (g)
  GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap_ngrams,
  COALESCE(h.n, 0) >= {min_overlap} AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""
    )


def oracle_stream_dedup() -> str:
    """Batch twin of the streaming exact dedup replay
    (plans/dataset_queries.q_stream_dedup): the wave layout feeds
    each fingerprint's occurrences in doc_id order across
    micro-batches and the watermark horizon exceeds the replay span,
    so the surviving set is exactly the min-doc_id row per
    fingerprint, carrying its wave-1 ingest timestamp
    (base + doc_id mod 60 seconds)."""
    return f"""
WITH keyed AS (
  SELECT doc_id, source, {H64.format(NORM)} AS fingerprint
  FROM documents
), reps AS (
  SELECT fingerprint, min(doc_id) AS doc_id
  FROM keyed GROUP BY fingerprint
)
SELECT k.doc_id, k.source, k.fingerprint,
  TIMESTAMP '2026-01-01 00:00:00'
    + INTERVAL (k.doc_id % 60) SECOND AS ingest_ts
FROM keyed k
JOIN reps r ON k.fingerprint = r.fingerprint AND k.doc_id = r.doc_id
"""


def oracle_curation_sample() -> str:
    """SQL twin of curation.stratified_sample with the driver rates:
    the md5 ticket is the same portable 60-bit hash, and the ticket
    cutoffs are the SAME precomputed Python integers the engine
    injects (curation.sample_cutoff) — no engine-side float→int cast
    whose rounding could diverge (ADVICE r5: Spark cast truncates,
    DuckDB CAST rounds; rate 0.3 scaled is 299999.99999999994)."""
    from ungoliant_spark.operators.curation import (
        SAMPLE_DENOM,
        sample_cutoff,
    )
    from ungoliant_spark.plans.dataset_queries import (
        CURATION_DEFAULT_RATE,
        CURATION_RATES,
    )

    cutoff = f"{sample_cutoff(CURATION_DEFAULT_RATE)}"
    for s, r in reversed(list(CURATION_RATES.items())):
        cutoff = (
            f"CASE WHEN source = '{s}' THEN {sample_cutoff(r)} "
            f"ELSE {cutoff} END"
        )
    ticket = H64.format("'sample-v1:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH t AS (
  SELECT doc_id, source,
    ({ticket}) % {SAMPLE_DENOM} AS sample_ticket,
    ({cutoff}) AS cutoff
  FROM documents
)
SELECT doc_id, source, CAST(sample_ticket AS BIGINT) AS sample_ticket
FROM t
WHERE sample_ticket < cutoff
"""


def _quality_scored_cte() -> str:
    """CTE ending in ``scored(doc_id, source, weight, priority)`` —
    token count + the frozen 6-dp quality score (same expressions as
    oracle_text_stats, already hash-proven against the engine)."""
    hits_total = " + ".join(_stop_hits(lg) for lg in STOPWORDS)
    return f"""
WITH toked AS (
  SELECT doc_id, source, text, {TOKENS} AS toks FROM documents
), stats AS (
  SELECT doc_id, source,
    len(toks) AS n_tokens,
    CASE WHEN length(text) > 0 THEN
      CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{M}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE) / length(text)
    ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(toks) > 0 THEN
      CAST({hits_total} AS DOUBLE) / len(toks)
    ELSE 0.0 END AS stopword_ratio
  FROM toked
), scored AS (
  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS weight,
    round(0.3 * least(n_tokens / 50.0, 1.0)
        + 0.3 * (1.0 - least(punct_ratio / 0.3, 1.0))
        + 0.2 * least(stopword_ratio / 0.2, 1.0)
        + 0.2 * (1.0 - least(abs(mean_token_len - 5.0) / 5.0, 1.0)), 6)
      AS priority
  FROM stats
)
"""


def _oracle_budget_pack(budget: int, unit_weight: bool) -> str:
    """Naive global-window twin of curation.budget_pack: one prefix
    sum per stratum over the (priority desc, id asc) total order —
    partitioning-independent, so the hash match proves the engine's
    range-partition + offset decomposition computes identical sums."""
    w = "1" if unit_weight else "weight"
    return (
        _quality_scored_cte()
        + f"""
, sel AS (
  SELECT doc_id, source, CAST({w} AS BIGINT) AS weight, priority,
    sum(CAST({w} AS BIGINT)) OVER (
      PARTITION BY source ORDER BY priority DESC, doc_id ASC
      ROWS UNBOUNDED PRECEDING) AS cum_weight
  FROM scored
)
SELECT doc_id, source, weight, priority,
       CAST(cum_weight AS BIGINT) AS cum_weight
FROM sel WHERE cum_weight <= {budget}
"""
    )


def oracle_curation_pack_tokens() -> str:
    from ungoliant_spark.plans.dataset_queries import CURATION_BUDGET

    return _oracle_budget_pack(CURATION_BUDGET, unit_weight=False)


def oracle_curation_topk() -> str:
    from ungoliant_spark.plans.dataset_queries import CURATION_TOPK

    return _oracle_budget_pack(CURATION_TOPK, unit_weight=True)


def oracle_curation_sequences() -> str:
    """Naive global-window twin of curation.pack_sequences: the doc's
    START offset (cum - weight) fixes its sequence id and in-sequence
    offset."""
    from ungoliant_spark.plans.dataset_queries import CURATION_SEQ_LEN

    s = CURATION_SEQ_LEN
    return (
        _quality_scored_cte()
        + f"""
, sel AS (
  SELECT doc_id, source, weight, priority,
    sum(weight) OVER (
      PARTITION BY source ORDER BY priority DESC, doc_id ASC
      ROWS UNBOUNDED PRECEDING) AS cum_weight
  FROM scored
)
SELECT doc_id, source, weight, priority,
       CAST(cum_weight AS BIGINT) AS cum_weight,
       CAST((cum_weight - weight) // {s} AS BIGINT) AS seq_id,
       CAST((cum_weight - weight) % {s} AS BIGINT) AS seq_offset
FROM sel
"""
    )


def oracle_repetition_signals(ns: tuple[int, ...] = (2, 3)) -> str:
    """SQL twin of repetition.repetition_signals: same non-distinct
    n-gram lists, same deterministic (count, gram)-struct mode
    tie-break, same 6-dp rounding."""
    ctes = [f"WITH toked AS (\n  SELECT doc_id, text, {TOKENS} AS toks FROM documents\n)"]
    cols = ["d.doc_id"]
    joins = []
    for n in ns:
        gram_list = (
            f"CASE WHEN len(toks) >= {n} THEN "
            f"list_transform(range(1, len(toks) - {n} + 2), "
            f"i -> array_to_string(toks[i:i+{n - 1}], ' ')) "
            f"ELSE [] END"
        )
        ctes.append(
            f"g{n} AS (\n  SELECT doc_id, text, ({gram_list}) AS grams"
            "\n  FROM toked\n)"
        )
        ctes.append(
            f"ex{n} AS (\n  SELECT doc_id, unnest(grams) AS g FROM g{n}\n)"
        )
        ctes.append(
            f"cnt{n} AS (\n  SELECT doc_id, g, count(*) AS c FROM ex{n}"
            "\n  GROUP BY doc_id, g\n)"
        )
        ctes.append(
            f"mode{n} AS (\n  SELECT doc_id,"
            f" max(struct_pack(cnt := c, g := g)) AS m\n  FROM cnt{n}"
            "\n  GROUP BY doc_id\n)"
        )
        cols.append(
            f"CASE WHEN len(g{n}.grams) > 0 THEN round(1.0 - "
            f"CAST(len(list_distinct(g{n}.grams)) AS DOUBLE)"
            f" / len(g{n}.grams), 6) ELSE 0.0 END AS dup{n}_frac"
        )
        cols.append(
            f"CASE WHEN mode{n}.m IS NOT NULL AND length(d.text) > 0"
            f" THEN round(mode{n}.m.cnt *"
            f" CAST(length(mode{n}.m.g) AS DOUBLE) / length(d.text), 6)"
            f" ELSE 0.0 END AS top{n}_char_frac"
        )
        joins.append(f"JOIN g{n} ON g{n}.doc_id = d.doc_id")
        joins.append(f"LEFT JOIN mode{n} ON mode{n}.doc_id = d.doc_id")
    return (
        ",\n".join(ctes)
        + "\nSELECT "
        + ",\n  ".join(cols)
        + "\nFROM documents d\n"
        + "\n".join(joins)
    )


def oracle_zipf_check() -> str:
    return f"""
WITH words AS (
  SELECT unnest({TOKENS}) AS word FROM documents
), counts AS (
  SELECT word, count(*) AS n FROM words GROUP BY word
), total AS (
  SELECT sum(n) AS total FROM counts
), ranked AS (
  SELECT word, n,
    CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS INTEGER) AS rank
  FROM counts
)
SELECT word, CAST(n AS BIGINT) AS n, rank,
  round(CAST(n AS DOUBLE) / total, 6) AS prob,
  round(rank * CAST(n AS DOUBLE) / total, 6) AS zipf_constant
FROM ranked, total WHERE rank <= 100
"""


def oracle_events_hourly() -> str:
    return """
SELECT date_trunc('hour', ts) AS hour, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 6) AS sum_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
"""


def oracle_events_sessions_streaming(gap_minutes: int = 30) -> str:
    """Oracle for the STREAMING sessionizer row: identical gap
    sessionization, projected without session_idx (the stateful
    operator emits sessions, not per-user ordinals). Each
    (user_id, session_idx) group stays one output row, so dropping
    the ordinal loses no rows."""
    inner = oracle_events_sessions(gap_minutes)
    return (
        "SELECT user_id, session_start, session_end, n_events, "
        f"sum_value FROM ({inner})"
    )


def oracle_events_sessions(gap_minutes: int = 30) -> str:
    """Gap sessionization via lag + cumulative flag sum — independent
    recomputation of dataset_queries.q_events_sessions."""
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
              > {gap_minutes} * 60 * 1000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
  min(ts) AS session_start,
  max(ts) AS session_end,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 6) AS sum_value
FROM numbered GROUP BY user_id, session_idx
"""


def oracle_events_running_avg() -> str:
    return """
SELECT event_id, user_id,
  round(avg(value) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS running_avg
FROM events WHERE user_id < 100
"""



def oracle_quality_by_source() -> str:
    return f"""
WITH toked AS (
  SELECT doc_id, source, text, {TOKENS} AS toks FROM documents
), stats AS (
  SELECT source,
    len(toks) AS n_tokens,
    CASE WHEN length(text) > 0 THEN
      CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{M}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE) / length(text)
    ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(toks) > 0 THEN
      CAST({' + '.join(_stop_hits(lg) for lg in STOPWORDS)} AS DOUBLE) / len(toks)
    ELSE 0.0 END AS stopword_ratio
  FROM toked
)
SELECT source,
  round(avg(round(0.3 * least(n_tokens / 50.0, 1.0)
      + 0.3 * (1.0 - least(punct_ratio / 0.3, 1.0))
      + 0.2 * least(stopword_ratio / 0.2, 1.0)
      + 0.2 * (1.0 - least(abs(mean_token_len - 5.0) / 5.0, 1.0)), 6)), 6)
    AS avg_quality,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM stats GROUP BY source
"""
