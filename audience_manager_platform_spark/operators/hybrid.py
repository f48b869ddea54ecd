"""Hybrid search: reciprocal-rank fusion (RRF) of the lexical (BM25)
and semantic (exact-cosine ANN) retrieval paths.

This is the standard two-tower serving combination (Cormack et al.'s
RRF, the fusion most vector databases ship): each ranker contributes
``1 / (c + rank)`` for the documents it retrieved, and the fused
ranking is robust to the two scorers' incomparable score scales
because only RANKS cross the boundary.

Scale shape: both sub-retrievers already end in bounded top-``pool``
results (TakeOrderedAndProject / per-query windows), so the fusion
join touches at most ``2 * pool`` rows — driver-scale regardless of
corpus size. The heavy lifting stays inside the sub-operators, which
keep their own documented 100 TB postures (filtered-posting shuffle
for BM25, broadcast-query scan for cosine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dot, l2_norm
from .similarity import cosine_topk, cosine_topk_sql, recall_at_k, topk
from .text import bm25_topk, bm25_topk_sql

RRF_C = 60  # Cormack's constant; dampens the head of each ranking


def hybrid_search_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    pool: int = 50,
    c: int = RRF_C,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Fuse BM25 top-``pool`` (over ``docs``) with exact-cosine
    top-``pool`` neighbors of ``query_vec_id`` (over ``emb``; the
    fixtures align doc_id == vec_id) and return the RRF top-``k``.

    Ranks are integers derived from already-quantized sub-scores, and
    ``1/(c + rank)`` is one IEEE division — the fused score is
    bit-identical across engines, so the oracle needs no tolerance.

    ``postings``: the standing term-postings table threaded through to
    the BM25 tower (r11 shared-intermediate discipline)."""
    lex = topk(
        bm25_topk(docs, query_terms, k=pool, postings=postings),
        pool,
        "bm25",
        key=None,
        item="doc_id",
        rank="rank_lex",
    ).select(F.col("doc_id").alias("id"), "rank_lex")
    sem = cosine_topk(emb, [query_vec_id], k=pool).select(
        F.col("neighbor_id").alias("id"), F.col("rank").alias("rank_sem")
    )
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(c) + F.col(r)), F.lit(0.0)
    )
    return (
        lex.join(sem, "id", "full_outer")
        .select(
            "id",
            "rank_lex",
            "rank_sem",
            F.round(contrib("rank_lex") + contrib("rank_sem"), 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("id"))
        .limit(k)
    )


def hybrid_search_rrf_sql(
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    pool: int = 50,
    c: int = RRF_C,
    docs_src: str = "documents",
    emb_src: str = "embeddings",
) -> str:
    bm25 = bm25_topk_sql(query_terms, src=docs_src, k=pool)
    cosine = cosine_topk_sql([query_vec_id], k=pool, src=emb_src)
    return f"""
        WITH lex AS (
          SELECT doc_id AS id,
                 ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)
                   AS rank_lex
          FROM ({bm25}) b
        ),
        sem AS (
          SELECT neighbor_id AS id, rank AS rank_sem FROM ({cosine}) s
        )
        SELECT id, rank_lex, rank_sem,
               ROUND(COALESCE(1.0 / ({c} + rank_lex), 0.0)
                     + COALESCE(1.0 / ({c} + rank_sem), 0.0), 6) AS rrf
        FROM lex FULL OUTER JOIN sem USING (id)
        ORDER BY rrf DESC, id ASC LIMIT {k}
    """


# --------------------------------------- late-interaction (MaxSim) search
CHUNK_ID_BASE = 1_000_000  # composite chunk id = doc_id * BASE + chunk_idx


def _maxsim_topk(scored: DataFrame, k: int) -> DataFrame:
    """MaxSim pooling + top-k over (query_id, doc_id, chunk_idx, cos)
    chunk scores: per (query, doc) the best chunk's cosine (ties to the
    lowest chunk_idx, an argmax via struct-max in one combinable
    aggregate), then the top-k docs per query by (maxsim DESC, doc_id
    ASC)."""
    pooled = scored.groupBy("query_id", "doc_id").agg(
        F.max(F.struct(F.col("cos"), (-F.col("chunk_idx")).alias("nci"))).alias(
            "best"
        )
    )
    return topk(
        pooled.select(
            "query_id",
            "doc_id",
            F.col("best.cos").alias("maxsim"),
            (-F.col("best.nci")).cast("bigint").alias("best_chunk_idx"),
        ),
        k,
        "maxsim",
        item="doc_id",
    )


def chunk_maxsim_topk(
    docs: DataFrame,
    query_ids: list[int],
    k: int = 5,
    chunk: int = 32,
    stride: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Late-interaction retrieval (the ColBERT/long-doc serving shape):
    score a document by its BEST-MATCHING CHUNK instead of one pooled
    doc vector — max-pooling over sub-document similarities is what
    keeps a single relevant paragraph findable inside a 50-page
    document, where mean-pooled doc vectors wash it out.

    Pipeline: sliding-window chunking → hashing-trick chunk vectors (no
    trained encoder needed; swap :func:`~.text.hash_embed` for a real
    encoder output table at parity) → broadcast the query tower →
    cosine per (query, chunk) → per (query, doc) max-pool with the best
    chunk recorded → top-``k`` docs per query.

    Shape at scale: the query tower is O(|queries|·dim) and broadcast;
    chunk scoring is a map-side projection over the chunk-vector
    relation (no shuffle); max-pooling is ONE map-side-combinable
    aggregate keyed (query, doc) — an argmax via struct-max, never a
    window over the scored relation; only the |queries|×|docs| pooled
    table reaches the top-k window. Cosines are exact-integer dots in
    double (hash_embed weights are integers), 6dp-rounded before any
    ordering so ranks are engine-identical.

    CONTRACT NOTE (100 TB): this is the EXACT late-interaction scorer —
    it scans every chunk per query set by design, as the recall
    reference the gated serving path (:func:`chunk_maxsim_ivf_topk`)
    is graded against. Serve with the IVF-gated variant; run this one
    for evaluation (recall/nDCG baselines), where a full scan is the
    point.
    """
    from .text import chunk_tokens, hash_embed

    chunks = chunk_tokens(docs, chunk, stride).filter(
        F.col("chunk_tokens") > 0
    )
    cvec = hash_embed(
        chunks.select(
            (F.col("doc_id") * CHUNK_ID_BASE + F.col("chunk_idx")).alias(
                "doc_id"
            ),
            F.col("chunk_text").alias("text"),
        ),
        dim,
    ).select(
        F.expr(f"vec_id div {CHUNK_ID_BASE}").alias("doc_id"),
        (F.col("vec_id") % CHUNK_ID_BASE).alias("chunk_idx"),
        F.col("embedding").alias("cv"),
    )
    qvec = hash_embed(
        docs.filter(F.col("doc_id").isin(query_ids)), dim
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    # norms computed ONCE per side (cosine_similarity would re-derive the
    # chunk norm per query). dot and l2_norm are the shared folds: the
    # former 64-term F.expr string kernels are slower on PySpark 4.1.2
    # (this query's warm median at sf0.1 went from 4.5 s to 2.7 s
    # without them, 4 vCPU)
    cvec_n = cvec.select(
        "doc_id", "chunk_idx", "cv", l2_norm(F.col("cv")).alias("cn")
    ).filter(F.col("cn") > 0)
    qvec_n = qvec.select(
        "query_id", "qv", l2_norm(F.col("qv")).alias("qn")
    ).filter(F.col("qn") > 0)
    scored = (
        cvec_n.crossJoin(F.broadcast(qvec_n))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            "chunk_idx",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos"),
        )
    )
    return _maxsim_topk(scored, k)


def chunk_maxsim_topk_sql(
    query_ids: list[int],
    k: int = 5,
    chunk: int = 32,
    stride: int = 16,
    dim: int = 64,
    src: str = "documents",
) -> str:
    from .text import chunk_tokens_sql, hash_embed_sql

    ids = ", ".join(str(i) for i in query_ids)
    chunks_rel = (
        f"(SELECT doc_id * {CHUNK_ID_BASE} + chunk_idx AS doc_id, "
        f"chunk_text AS text FROM ({chunk_tokens_sql(src, chunk, stride)}) ck "
        "WHERE chunk_tokens > 0) cr"
    )
    queries_rel = f"(SELECT * FROM {src} WHERE doc_id IN ({ids})) qr"
    return f"""
        WITH cemb AS ({hash_embed_sql(chunks_rel, dim)}),
        cvec AS (
          SELECT vec_id // {CHUNK_ID_BASE} AS doc_id,
                 vec_id % {CHUNK_ID_BASE} AS chunk_idx,
                 embedding AS cv
          FROM cemb
          WHERE list_sum(list_transform(embedding, x -> x * x)) > 0
        ),
        qvec AS (
          SELECT vec_id AS query_id, embedding AS qv
          FROM ({hash_embed_sql(queries_rel, dim)}) qe
          WHERE list_sum(list_transform(embedding, x -> x * x)) > 0
        ),
        scored AS MATERIALIZED (
          SELECT query_id, doc_id, chunk_idx,
                 ROUND(list_cosine_similarity(qv, cv), 6) AS cos
          FROM cvec CROSS JOIN qvec
          WHERE doc_id != query_id
        ),
        pooledmax AS (
          SELECT query_id, doc_id, MAX(cos) AS maxsim
          FROM scored GROUP BY 1, 2
        ),
        pooled AS (
          SELECT s.query_id, s.doc_id, p.maxsim,
                 MIN(s.chunk_idx) AS best_chunk_idx
          FROM scored s
          JOIN pooledmax p
            ON s.query_id = p.query_id AND s.doc_id = p.doc_id
           AND s.cos = p.maxsim
          GROUP BY 1, 2, 3
        )
        SELECT query_id, doc_id, maxsim,
               CAST(best_chunk_idx AS BIGINT) AS best_chunk_idx, rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY maxsim DESC, doc_id ASC) AS rank
          FROM pooled
        ) r WHERE rank <= {k}
    """


# ------------------------------------------------ IVF-gated late interaction
MAXSIM_CELLS = 16  # coarse-quantizer cells over CHUNK vectors
MAXSIM_PROBES = 4  # cells scanned per query


def _fit_vec_id(n_cells: int) -> str:
    """Chunk -> synthetic vec_id remap that makes the SHARED k-means
    seed rule (``vec_id < k`` — ``similarity.kmeans_fit_model`` and
    ``_kmeans_ctes`` alike) pick a deterministic, SF-stable seed set:
    the first chunk of docs ``0..n_cells-1``. Everything else gets a
    unique id above the seed range. Pure projection, invertible."""
    return (
        f"CASE WHEN chunk_idx = 0 AND doc_id < {n_cells} THEN doc_id "
        f"ELSE {n_cells} + doc_id * {CHUNK_ID_BASE} + chunk_idx END"
    )


def _chunk_vec_frame(
    docs: DataFrame,
    chunk: int,
    stride: int,
    dim: int,
    n_cells: int,
    materialized: bool = True,
) -> DataFrame:
    """(doc_id, chunk_idx, vec_id, embedding) chunk-vector frame with
    the seed-remapped synthetic id. ``materialized=True`` snapshots it
    to parquet — worth it ONLY when multiple actions consume it (the
    fit's seed collect + mean job, the residual IVF-PQ pattern); the
    single-action serving query keeps the narrow lineage instead (a
    measured 2x: the snapshot write of every chunk vector dominated
    the gated scan it was meant to help)."""
    from .partitioning import materialize
    from .text import chunk_tokens, hash_embed

    chunks = chunk_tokens(docs, chunk, stride).filter(
        F.col("chunk_tokens") > 0
    )
    cvec = hash_embed(
        chunks.select(
            (F.col("doc_id") * CHUNK_ID_BASE + F.col("chunk_idx")).alias(
                "doc_id"
            ),
            F.col("chunk_text").alias("text"),
        ),
        dim,
    ).select(
        F.expr(f"vec_id div {CHUNK_ID_BASE}").alias("doc_id"),
        (F.col("vec_id") % CHUNK_ID_BASE).alias("chunk_idx"),
        "embedding",
    )
    out = cvec.filter(l2_norm(F.col("embedding")) > 0).select(
        "doc_id",
        "chunk_idx",
        F.expr(_fit_vec_id(n_cells)).alias("vec_id"),
        "embedding",
    )
    return materialize(out) if materialized else out


def chunk_cell_model(
    docs: DataFrame,
    chunk: int = 32,
    stride: int = 16,
    dim: int = 64,
    n_cells: int = MAXSIM_CELLS,
    _cvec: DataFrame | None = None,
) -> list[tuple[int, list[float]]]:
    """Train the coarse quantizer over the chunk vectors — half of the
    index build (see :func:`chunk_cell_index` for the full build)."""
    from .similarity import kmeans_fit_model

    cvec = (
        _chunk_vec_frame(docs, chunk, stride, dim, n_cells)
        if _cvec is None
        else _cvec
    )
    return kmeans_fit_model(
        cvec.select("vec_id", "embedding"), n_cells, iters=1
    )


def chunk_cell_index(
    docs: DataFrame,
    chunk: int = 32,
    stride: int = 16,
    dim: int = 64,
    n_cells: int = MAXSIM_CELLS,
):
    """The FULL index build a deployment runs once per corpus snapshot
    and serves many query sets from: coarse-cell model (driver state)
    PLUS the cell-assigned chunk-vector table, materialized. Assigning
    chunks to cells at QUERY time would do K cosines per chunk — more
    arithmetic than the exact scan whenever |queries| < K, which is
    why IVF systems always persist the inverted lists at build time
    (measured here: per-query assignment made the gated path 2.7x
    SLOWER than exact at 5 queries / 16 cells; with the prebuilt index
    the gated query beats exact). The vector NORM is precomputed and
    stored alongside each vector — the standard IVF payload — so the
    serving plan carries one dot, not a dot plus a norm.
    Returns ``(cell_model, assigned)`` where ``assigned`` is
    (doc_id, chunk_idx, cent_id, v, vn)."""
    from .partitioning import materialize
    from .similarity import _vec_double, assign_cells_arrow

    cvec_n = _chunk_vec_frame(docs, chunk, stride, dim, n_cells)
    cell_model = chunk_cell_model(
        docs, chunk, stride, dim, n_cells, _cvec=cvec_n
    )
    inv_doc = (
        f"CASE WHEN vec_id < {n_cells} THEN vec_id "
        f"ELSE (vec_id - {n_cells}) div {CHUNK_ID_BASE} END"
    )
    inv_chunk = (
        f"CASE WHEN vec_id < {n_cells} THEN 0L "
        f"ELSE (vec_id - {n_cells}) % {CHUNK_ID_BASE} END"
    )
    assigned = materialize(
        assign_cells_arrow(
            cvec_n.select("vec_id", _vec_double().alias("v")),
            cell_model,
            keep_vec=True,
        ).select(
            F.expr(inv_doc).alias("doc_id"),
            F.expr(inv_chunk).alias("chunk_idx"),
            "cent_id",
            "v",
            l2_norm(F.col("v")).alias("vn"),
        )
    )
    return cell_model, assigned


def chunk_maxsim_ivf_topk(
    docs: DataFrame,
    query_ids: list[int],
    k: int = 5,
    chunk: int = 32,
    stride: int = 16,
    dim: int = 64,
    n_cells: int = MAXSIM_CELLS,
    n_probes: int = MAXSIM_PROBES,
    index=None,
) -> DataFrame:
    """The SERVING shape for late-interaction retrieval: a learned
    coarse quantizer over the CHUNK vectors (spherical k-means, the
    engine's shared fit) gates max-sim scoring to each query's
    ``n_probes`` nearest cells — candidate chunks drop by roughly
    ``n_probes / n_cells`` versus the exact scan
    (:func:`chunk_maxsim_topk`, which stays as the recall reference).
    Recall < 1 comes from unprobed cells, exactly the IVF semantics of
    the ``ann_ivf*`` family, now composed in front of chunk scoring.

    Plan shape at 100 TB: the index build (:func:`chunk_cell_index` —
    chunking, hashing-trick embedding, fit, cell assignment) runs ONCE
    per corpus snapshot and persists the inverted lists; the QUERY is
    then probe selection (O(|queries| x n_cells), broadcast), one
    equi-join keyed on cent_id against the assigned table, a map-side
    cosine projection over only the probed cells' chunks, one
    combinable max-pool aggregate, and the per-query top-k window.

    ``index``: the prebuilt ``(cell_model, assigned)`` pair from
    :func:`chunk_cell_index` (the registry memoizes one build per
    corpus — production trains the index once and serves many query
    sets; without it this function builds the index inline first)."""
    from .partitioning import local_table, spread
    from .similarity import _model_df, probe_cells
    from .text import hash_embed

    if index is None:
        index = chunk_cell_index(docs, chunk, stride, dim, n_cells)
    cell_model, assigned = index

    spark = docs.sparkSession
    qvec = (
        hash_embed(docs.filter(F.col("doc_id").isin(query_ids)), dim)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
        .filter(l2_norm(F.col("qv")) > 0)
    )
    # probe selection is |queries| x n_cells rows cut to |queries| x
    # n_probes — model-scale (the same bound the broadcast carried);
    # collect it ONCE and inline the survivors, so the serving query is
    # a single join whose cent_id filter pushes into the inverted-lists
    # scan instead of a lazy probe subplan re-run per action (r11,
    # guide §1/§7.2)
    probe_rows = (
        probe_cells(qvec, _model_df(spark, cell_model), n_probes, vec="qv", norm="qn")
        .drop("probe_rank")
        .collect()
    )
    probes = local_table(
        spark,
        probe_rows,
        "query_id bigint, qv array<double>, qn double, cent_id bigint",
    )
    cells = sorted({int(r["cent_id"]) for r in probe_rows})
    # spread: the materialized index reads back in O(file-count)
    # partitions — re-spread so scoring parallelism tracks the cluster,
    # not the snapshot's file layout; the isin filter is the probed-cell
    # pushdown an IVF read does (probe set decides which lists load)
    scored = (
        F.broadcast(probes)
        .join(spread(assigned.filter(F.col("cent_id").isin(cells))), "cent_id")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            "chunk_idx",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn")), 6
            ).alias("cos"),
        )
    )
    return _maxsim_topk(scored, k)


def chunk_maxsim_ivf_topk_sql(
    query_ids: list[int],
    k: int = 5,
    chunk: int = 32,
    stride: int = 16,
    dim: int = 64,
    n_cells: int = MAXSIM_CELLS,
    n_probes: int = MAXSIM_PROBES,
    src: str = "documents",
) -> str:
    from .similarity import _kmeans_ctes
    from .text import chunk_tokens_sql, hash_embed_sql

    ids = ", ".join(str(i) for i in query_ids)
    chunks_rel = (
        f"(SELECT doc_id * {CHUNK_ID_BASE} + chunk_idx AS doc_id, "
        f"chunk_text AS text FROM ({chunk_tokens_sql(src, chunk, stride)}) ck "
        "WHERE chunk_tokens > 0) cr"
    )
    queries_rel = f"(SELECT * FROM {src} WHERE doc_id IN ({ids})) qr"
    fit_id = _fit_vec_id(n_cells)
    return f"""
        WITH cemb AS MATERIALIZED ({hash_embed_sql(chunks_rel, dim)}),
        cvec AS MATERIALIZED (
          SELECT vec_id // {CHUNK_ID_BASE} AS doc_id,
                 vec_id % {CHUNK_ID_BASE} AS chunk_idx,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM cemb
          WHERE list_sum(list_transform(embedding, x -> x * x)) > 0
        ),
        cm AS (
          SELECT {fit_id} AS vec_id, cv AS embedding FROM cvec
        ),
        {_kmeans_ctes(n_cells, 1, "cm")},
        assigned AS (
          SELECT vec_id, cent_id FROM (
            SELECT e.vec_id, c.cent_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6) DESC,
                              c.cent_id ASC) AS rn
            FROM e CROSS JOIN cents c
          ) x WHERE rn = 1
        ),
        ac AS (
          SELECT CASE WHEN vec_id < {n_cells} THEN vec_id
                      ELSE (vec_id - {n_cells}) // {CHUNK_ID_BASE} END
                   AS doc_id,
                 CASE WHEN vec_id < {n_cells} THEN 0
                      ELSE (vec_id - {n_cells}) % {CHUNK_ID_BASE} END
                   AS chunk_idx,
                 cent_id
          FROM assigned
        ),
        qvec AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM ({hash_embed_sql(queries_rel, dim)}) qe
          WHERE list_sum(list_transform(embedding, x -> x * x)) > 0
        ),
        probes AS (
          SELECT query_id, cent_id FROM (
            SELECT q.query_id, c.cent_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.query_id
                     ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                              c.cent_id ASC) AS rn
            FROM qvec q CROSS JOIN cents c
          ) p WHERE rn <= {n_probes}
        ),
        scored AS MATERIALIZED (
          SELECT p.query_id, a.doc_id, a.chunk_idx,
                 ROUND(list_cosine_similarity(q.qv, v.cv), 6) AS cos
          FROM probes p
          JOIN ac a USING (cent_id)
          JOIN cvec v ON v.doc_id = a.doc_id AND v.chunk_idx = a.chunk_idx
          JOIN qvec q ON q.query_id = p.query_id
          WHERE a.doc_id != p.query_id
        ),
        pooledmax AS (
          SELECT query_id, doc_id, MAX(cos) AS maxsim
          FROM scored GROUP BY 1, 2
        ),
        pooled AS (
          SELECT s.query_id, s.doc_id, p.maxsim,
                 MIN(s.chunk_idx) AS best_chunk_idx
          FROM scored s
          JOIN pooledmax p
            ON s.query_id = p.query_id AND s.doc_id = p.doc_id
           AND s.cos = p.maxsim
          GROUP BY 1, 2, 3
        )
        SELECT query_id, doc_id, maxsim,
               CAST(best_chunk_idx AS BIGINT) AS best_chunk_idx, rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY maxsim DESC, doc_id ASC) AS rank
          FROM pooled
        ) r WHERE rank <= {k}
    """


def chunk_maxsim_recall_eval(
    docs: DataFrame,
    query_ids: list[int],
    k: int = 5,
    index=None,
) -> DataFrame:
    """Recall@k of the IVF-gated late-interaction serving path against
    the exact full-chunk scan — the QA number that prices the
    n_probes/n_cells scan reduction, completing the family contract
    (every gated retrieval tier here ships with its recall eval: IVF,
    PQ, binary, and now chunked maxsim). Output (query_id, hits,
    recall_at_k); compare joins are |queries| x k rows, driver-scale at
    any corpus size — the cost is the two retrieval plans under test."""
    return recall_at_k(
        chunk_maxsim_topk(docs, query_ids, k),
        chunk_maxsim_ivf_topk(docs, query_ids, k, index=index),
        k,
        item="doc_id",
    )


def chunk_maxsim_recall_eval_sql(
    query_ids: list[int], k: int = 5, src: str = "documents"
) -> str:
    exact = chunk_maxsim_topk_sql(query_ids, k, src=src)
    approx = chunk_maxsim_ivf_topk_sql(query_ids, k, src=src)
    return f"""
        SELECT e.query_id,
               COUNT(a.doc_id) AS hits,
               ROUND(COUNT(a.doc_id) / CAST({k} AS DOUBLE), 4)
                 AS recall_at_k
        FROM ({exact}) e
        LEFT JOIN ({approx}) a
          ON e.query_id = a.query_id AND e.doc_id = a.doc_id
        GROUP BY e.query_id
    """
