"""Embedding similarity-search query family on the embeddings fixture.

``ann_similar_pairs`` finds *similar* pairs at a moderate threshold
(0.45 — near the fixture's best candidate cosine of ≈0.47), while
``dedup_embedding_near_dup`` runs at the honest near-duplicate threshold
(0.9) over a derived corpus with planted twins (cosine 0.92-0.94 — the
raw fixture contains no true near-dups; VERDICT r1 finding 3).
"""

from __future__ import annotations

from ..operators import hybrid as H
from ..operators import pq as PQ
from ..operators import similarity as S
from ..operators import sq as SQ
from ..sources import load_table

_QUERY_IDS = [0, 1, 2, 3, 4]


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _doc_postings(s, d):
    """The shared standing term-postings table (built/owned by
    registry.textops) — the hybrid query's BM25 tower reads the same
    asset as the lexical retrieval family (r11)."""
    from .textops import _postings

    return _postings(s, d)


# Fitted-model memo: a production ANN service trains an index ONCE and
# serves many queries against it, so the registry's four k-means
# consumers (clusters, IVF-kmeans, IVF-PQ x2) and three PQ consumers
# (histogram, flat ADC, IVF-PQ) share one fit per (sf_dir, params)
# instead of retraining inside every query. The model is O(K x dim)
# driver state; keying on sf_dir is sound because fixtures are
# immutable — a mutable-source deployment would key on a snapshot id.
_FIT_CACHE: dict[tuple, object] = {}


def _cached_fit(key, fit):
    if key not in _FIT_CACHE:
        _FIT_CACHE[key] = fit()
    return _FIT_CACHE[key]


def _kmeans_model(s, d, k=S.KMEANS_K, iters=1):
    return _cached_fit(
        ("kmeans", d, k, iters), lambda: S.kmeans_fit_model(_emb(s, d), k, iters)
    )


def _pq_model(s, d, iters=PQ.PQ_ITERS):
    return _cached_fit(
        ("pq", d, iters), lambda: PQ.pq_fit_model(_emb(s, d), iters)
    )


def _kmeans_assigned(s, d, k=S.KMEANS_K, iters=1):
    """Shared materialized cell-assignment table (vec_id, v, cent_id,
    csim) under the memoized k-means fit — the inverted-lists side of a
    served IVF index, built once per session and read by every consumer
    (cluster summary / quality audit / IVF probe / margin gating)."""
    from ..operators.partitioning import materialize, spread
    from ._shared import shared

    # spread on BOTH sides of the materialize: the single-file fixture
    # scan would run the Arrow kernel in one task, and the materialized
    # table would land as one file and serialize every consumer's cell
    # join the same way (no-op on real multi-split tables — r10)
    return shared(
        s,
        ("kmeans_assigned", d, k, iters),
        lambda: spread(
            materialize(
                S.assign_cells_arrow(
                    spread(_emb(s, d)).select(
                        "vec_id", S._vec_double().alias("v")
                    ),
                    _kmeans_model(s, d, k, iters),
                    keep_vec=True,
                )
            )
        ),
    )


def _graph_edges(s, d):
    """Shared materialized NSW edge table (within-cell top-M neighbor
    graph, symmetrized) under the memoized k-means fit — the standing
    graph-ANN index both the beam query and its recall eval read."""
    from ._shared import shared

    return shared(
        s,
        ("graph_knn_edges", d),
        lambda: S.graph_knn_edges(
            _emb(s, d),
            model=_kmeans_model(s, d),
            assigned=_kmeans_assigned(s, d),
        ),
    )


def _residual_index(s, d):
    """Shared residual-IVFPQ index (cell model + materialized residual
    and code tables) under the memoized coarse quantizer — the served
    FAISS index artifact; contains DataFrames, so it lives in the
    session-keyed cache, not the plain fit memo."""
    from ._shared import shared

    return shared(
        s, ("ivfpq_residual_index", d),
        lambda: PQ.ivfpq_residual_index(
            _emb(s, d), cell_model=_kmeans_model(s, d)
        ),
    )


def _margin_exact(s, d):
    """Shared materialized output of the exact margin miner — a mined-
    pair table a deployment stores; the miner query and the recall eval
    read the same table instead of re-mining."""
    from ..operators.partitioning import materialize
    from ._shared import shared

    return shared(
        s, ("margin_exact", d),
        lambda: materialize(S.margin_mutual_knn(_emb(s, d))),
    )


def _margin_gated(s, d):
    """IVF-gated twin of :func:`_margin_exact` (independent cache keys:
    a single-query run only builds the side it needs)."""
    from ..operators.partitioning import materialize
    from ._shared import shared

    return shared(
        s, ("margin_gated", d),
        lambda: materialize(
            S.margin_mutual_knn_ivf(
                _emb(s, d), iters=1, model=_kmeans_model(s, d),
                assigned=_kmeans_assigned(s, d),
            )
        ),
    )


def _ivf_ingest_streaming(spark, sf_dir):
    """Drive the incremental IVF ingest over a 3-chunk replay of the
    embeddings fixture and summarize the settled inverted-lists log —
    checked against the ONE-SHOT batch assignment oracle (shared
    k-means CTE fit), the hard evidence that ingestion-time index
    maintenance converges to batch semantics exactly."""
    import os

    from pyspark.sql import functions as F

    from functools import partial

    from ..operators.partitioning import tracked_tempdir
    from ..streaming.jobs import chunked_replay, fold_stream, ivf_ingest_fold

    model = _kmeans_model(spark, sf_dir, iters=1)
    work = tracked_tempdir("amps_ivf_ingest_")
    fold_stream(
        chunked_replay(_emb(spark, sf_dir), "vec_id", work),
        partial(ivf_ingest_fold, model=model),
        os.path.join(work, "lists"),
        os.path.join(work, "ckpt"),
        append=True,
    )
    lists = spark.read.parquet(os.path.join(work, "lists"))
    return lists.groupBy("cent_id").agg(
        F.count("*").alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
        F.round(F.avg("csim"), 6).alias("mean_sim"),
    )


# Hybrid search: same literal query on both towers (the fixtures align
# doc_id == vec_id, so one id addresses a doc and its embedding).
HYBRID_TERMS = ["spark", "join", "window"]
HYBRID_QVEC = 7
MAXSIM_QUERY_DOCS = [0, 100, 200, 300, 400]


QUERIES = {
    "ann_cosine_topk": lambda s, d: S.cosine_topk(_emb(s, d), _QUERY_IDS, k=5),
    # r6 (wave 23): binary 1-bit codes — Hamming shortlist, exact re-rank
    "ann_hamming_topk": lambda s, d: S.hamming_topk(
        _emb(s, d), _QUERY_IDS, k=5
    ),
    # r6 (wave 23): recall@k pricing the 64x binary compression
    "ann_recall_hamming_vs_exact": lambda s, d: S.hamming_recall_eval(
        _emb(s, d), _QUERY_IDS, k=5
    ),
    # r6 (wave 23): dim-prefix (matryoshka-tier) retrieval recall curve
    "emb_matryoshka_recall": lambda s, d: S.matryoshka_recall(
        _emb(s, d), _QUERY_IDS, k=5
    ),
    # r6 (wave 23): streaming IVF index maintenance (ingest == batch)
    "streaming_ivf_ingest": _ivf_ingest_streaming,
    # r6 (wave 23): recall@k of the gated maxsim serving path vs exact
    "ann_recall_maxsim_ivf_vs_exact": lambda s, d: H.chunk_maxsim_recall_eval(
        load_table(s, d, "documents"),
        MAXSIM_QUERY_DOCS,
        k=5,
        index=_cached_fit(
            ("maxsim_index", d),
            lambda: H.chunk_cell_index(load_table(s, d, "documents")),
        ),
    ),
    # r6 queue: filtered vector search (pre-filter exact semantics)
    "ann_filtered_topk": lambda s, d: S.filtered_cosine_topk(
        _emb(s, d), _QUERY_IDS, allowed_labels=[0, 2, 4], k=5
    ),
    # r5 (deferred window): JL dimension-reduction distortion audit
    "emb_jl_distortion": lambda s, d: S.jl_distortion(_emb(s, d)),
    # r5 (deferred window): greedy farthest-point diversity core-set
    "sample_kcenter_diverse": lambda s, d: S.kcenter_select(_emb(s, d)),
    # r5 (deferred window): inter-class centroid separation QA
    "emb_label_separation": lambda s, d: S.label_centroid_separation(
        _emb(s, d)
    ),
    # r4 window: reciprocal-rank fusion of BM25 and exact-cosine retrieval
    # (BM25 tower reads the shared standing postings table — r11)
    "hybrid_search_rrf": lambda s, d: H.hybrid_search_rrf(
        load_table(s, d, "documents"), _emb(s, d), HYBRID_TERMS, HYBRID_QVEC,
        postings=_doc_postings(s, d),
    ),
    # r5: late-interaction (ColBERT-shape) retrieval — docs scored by
    # their best-matching chunk over hashing-trick chunk vectors.
    # EXACT full-chunk scan: the recall reference / eval baseline for
    # the gated serving path below (see the operator's contract note)
    "ann_chunk_maxsim_topk": lambda s, d: H.chunk_maxsim_topk(
        load_table(s, d, "documents"), MAXSIM_QUERY_DOCS, k=5
    ),
    # r6: the SERVING path — learned coarse cells over chunk vectors
    # gate scoring to n_probes cells per query (the ann_ivf* layout
    # composed in front of late interaction); the full index (model +
    # materialized inverted lists) is memoized per corpus like every
    # other ANN family fit
    "ann_chunk_maxsim_ivf_topk": lambda s, d: H.chunk_maxsim_ivf_topk(
        load_table(s, d, "documents"),
        MAXSIM_QUERY_DOCS,
        k=5,
        index=_cached_fit(
            ("maxsim_index", d),
            lambda: H.chunk_cell_index(load_table(s, d, "documents")),
        ),
    ),
    # r5: IVF tuning curve — recall@k per probe count, one assignment
    "ann_ivf_probe_sweep": lambda s, d: S.ivf_probe_sweep(
        _emb(s, d), _QUERY_IDS, k=5
    ),
    # r6 queue: hard-negative mining over the planted-twin corpus — the
    # 0.92-0.94 twins are POSITIVES the 0.9 cut must exclude
    "ann_hard_negatives": lambda s, d: S.hard_negatives(
        S.plant_near_dups(_emb(s, d)), _QUERY_IDS, k=5, pos_threshold=0.9
    ),
    "ann_lsh_near_pairs": lambda s, d: S.lsh_near_pairs(_emb(s, d), threshold=0.35),
    "ann_ivf_topk": lambda s, d: S.ivf_topk(_emb(s, d), _QUERY_IDS, k=5),
    # r9 wave 46: NSW graph-ANN — beam search over the shared
    # materialized within-cell kNN edge table, + its measured recall
    "ann_graph_beam_topk": lambda s, d: S.graph_beam_topk(
        _emb(s, d),
        _QUERY_IDS,
        k=5,
        model=_kmeans_model(s, d),
        assigned=_kmeans_assigned(s, d),
        edges=_graph_edges(s, d),
    ),
    "ann_recall_beam_vs_exact": lambda s, d: S.graph_beam_recall_eval(
        _emb(s, d),
        _QUERY_IDS,
        k=5,
        model=_kmeans_model(s, d),
        assigned=_kmeans_assigned(s, d),
        edges=_graph_edges(s, d),
    ),
    "ann_similar_pairs": lambda s, d: S.lsh_near_pairs(_emb(s, d), threshold=0.45),
    "dedup_embedding_near_dup": lambda s, d: S.embedding_near_dup(
        S.plant_near_dups(_emb(s, d)), threshold=0.9
    ),
    # one Lloyd refinement step in the gated queries (iters is a free
    # parameter; multi-iteration convergence is pinned by
    # tests/test_textops.py::test_kmeans_*) — each extra iteration is a
    # full assignment+mean job whose cost the per-round sweep pays 2x
    "kmeans_embedding_clusters": lambda s, d: S.kmeans_clusters(
        _emb(s, d), iters=1, model=_kmeans_model(s, d),
        assigned=_kmeans_assigned(s, d),
    ),
    # r10 (wave 50): the hierarchical coarse quantizer's production
    # two-level Arrow assign kernel, oracle-pinned with seed centroids
    # (the large-K auto fit path is driver state; see hier_fit_model)
    "ann_two_level_assign": lambda s, d: S.two_level_seed_assign(
        _emb(s, d), k1=4, k2=4
    ),
    # r6 queue: Davies-Bouldin audit of the shared coarse quantizer
    "kmeans_cluster_quality": lambda s, d: S.kmeans_quality(
        _emb(s, d), iters=1, model=_kmeans_model(s, d),
        assigned=_kmeans_assigned(s, d),
    ),
    "ann_ivf_kmeans_topk": lambda s, d: S.ivf_kmeans_topk(
        _emb(s, d), _QUERY_IDS, k=5, iters=1, model=_kmeans_model(s, d),
        assigned=_kmeans_assigned(s, d),
    ),
    # SemDeDup over the planted-twin corpus: the k-means cells bound the
    # pairwise stage, the greedy keep-min-id rule drops each twin
    # (model memoized like every other fit: train once, serve many —
    # the un-memoized form refit the planted corpus on EVERY run, r10)
    "dedup_semantic": lambda s, d: S.semantic_dedup(
        S.plant_near_dups(_emb(s, d)), threshold=0.9, iters=1,
        model=_cached_fit(
            ("semdedup_planted", d),
            lambda: S.kmeans_fit_model(
                S.plant_near_dups(_emb(s, d)), S.KMEANS_K, 1
            ),
        ),
    ),
    # product quantization: 4x16-dim codebooks, ADC scoring (r3)
    "pq_code_histogram": lambda s, d: PQ.pq_code_histogram(
        _emb(s, d), model=_pq_model(s, d)
    ),
    "ann_pq_adc_topk": lambda s, d: PQ.pq_adc_topk(
        _emb(s, d), _QUERY_IDS, k=5, model=_pq_model(s, d)
    ),
    # r6 queue: two-stage retrieval — ADC shortlist + exact re-rank
    "ann_adc_rerank_topk": lambda s, d: PQ.adc_rerank_topk(
        _emb(s, d), _QUERY_IDS, k=5, model=_pq_model(s, d)
    ),
    # r5 wave 4: quantization-loss audit — PQ/ADC recall vs exact L2
    "ann_recall_pq_vs_exact": lambda s, d: PQ.pq_recall_eval(
        _emb(s, d), _QUERY_IDS, k=5, model=_pq_model(s, d)
    ),
    # the composed FAISS layout: learned cells gate the ADC scan
    "ann_ivfpq_adc_topk": lambda s, d: PQ.ivfpq_topk(
        _emb(s, d), _QUERY_IDS, k=5,
        cell_model=_kmeans_model(s, d), pq_model=_pq_model(s, d),
    ),
    # r4: FAISS-exact variant — codebooks train on per-cell RESIDUALS.
    # The FULL index (residual table + codebooks + code table) is built
    # once per corpus and served from the session cache (r11): the
    # un-memoized form refit the codebooks and re-encoded the corpus on
    # EVERY call — the same train-once-serve-many miss dedup_semantic
    # had in r10
    "ann_ivfpq_residual_topk": lambda s, d: PQ.ivfpq_residual_topk(
        _emb(s, d), _QUERY_IDS, k=5,
        index=_residual_index(s, d),
    ),
    # r4: radius-bounded retrieval (the dual of top-k) + the norm-drift
    # profile an embedding pipeline checks after every encoder change
    "ann_cosine_range_search": lambda s, d: S.cosine_range_search(
        _emb(s, d), _QUERY_IDS, threshold=0.3
    ),
    "emb_norm_stats_by_label": lambda s, d: S.norm_stats_by_label(_emb(s, d)),
    # r6 queue: snapshot-to-snapshot centroid/norm drift per label
    "emb_snapshot_drift": lambda s, d: S.snapshot_drift(_emb(s, d)),
    # r6 queue: nearest-centroid classifier graded against labels
    "emb_centroid_classifier_eval": lambda s, d:
        S.centroid_classifier_eval(_emb(s, d)),
    # r6 queue: LASER/CCMatrix margin-based mutual-kNN alignment
    # mining between the even/odd embedding halves
    "emb_margin_mutual_knn": lambda s, d: _margin_exact(s, d),
    # r8 (wave 41): the SCALE-SAFE margin miner — candidates from the
    # IVF cell join (shared memoized k-means fit), not the bipartite
    # cross join; plus its measured pair-recall eval vs the exact miner
    "emb_margin_mutual_knn_ivf": lambda s, d: _margin_gated(s, d),
    "ann_recall_margin_ivf_vs_exact": lambda s, d: S.margin_recall_eval(
        _emb(s, d),
        exact_df=_margin_exact(s, d),
        gated_df=_margin_gated(s, d),
    ),
    # r6 queue: the IVF latency/recall tuning curve (probe sweep over a
    # single materialized cell assignment)
    "ann_probe_recall_curve": lambda s, d: S.probe_recall_curve(
        _emb(s, d), _QUERY_IDS, k=5
    ),
    # r4: scalar quantization (SQ8) — the third quantizer family next to
    # IVF and PQ; fit = one agg pass, encode/ADC = codegen projections
    "sq_code_stats": lambda s, d: SQ.sq_code_stats(_emb(s, d)),
    "ann_sq_adc_topk": lambda s, d: SQ.sq_adc_topk(_emb(s, d), _QUERY_IDS, k=5),
    # r4: retrieval QA — recall@k of the probed IVF path vs the exact scan
    "ann_recall_ivf_vs_exact": lambda s, d: S.recall_eval(
        _emb(s, d), _QUERY_IDS, k=5
    ),
    # wave 17: order-aware retrieval QA — nDCG@10 of the IVF ranking
    # graded by exact-scan standing (recall@k can't see scrambles)
    "ann_ndcg_ivf_vs_exact": lambda s, d: S.ndcg_eval(
        _emb(s, d), _QUERY_IDS, k=10
    ),
    # wave 18: MMR diversification of the exact shortlist (integer-exact
    # greedy; sequential per query over <= pool rows — the sanctioned
    # custom-stateful shape, replayed by a recursive-CTE twin)
    "ann_mmr_rerank_topk": lambda s, d: S.mmr_rerank_topk(
        _emb(s, d), _QUERY_IDS, k=5
    ),
}

ORACLES = {
    "ann_hamming_topk": S.hamming_topk_sql(_QUERY_IDS, k=5),
    "ann_recall_hamming_vs_exact": S.hamming_recall_eval_sql(_QUERY_IDS, k=5),
    "emb_matryoshka_recall": S.matryoshka_recall_sql(_QUERY_IDS, k=5),
    "streaming_ivf_ingest": S.ivf_ingest_summary_sql(iters=1),
    "ann_recall_maxsim_ivf_vs_exact": H.chunk_maxsim_recall_eval_sql(
        MAXSIM_QUERY_DOCS, k=5
    ),
    "ann_filtered_topk": S.filtered_cosine_topk_sql(
        _QUERY_IDS, allowed_labels=[0, 2, 4], k=5
    ),
    "ann_cosine_topk": S.cosine_topk_sql(_QUERY_IDS, k=5),
    "hybrid_search_rrf": H.hybrid_search_rrf_sql(HYBRID_TERMS, HYBRID_QVEC),
    "ann_chunk_maxsim_topk": H.chunk_maxsim_topk_sql(MAXSIM_QUERY_DOCS, k=5),
    "ann_chunk_maxsim_ivf_topk": H.chunk_maxsim_ivf_topk_sql(
        MAXSIM_QUERY_DOCS, k=5
    ),
    "ann_ivf_probe_sweep": S.ivf_probe_sweep_sql(_QUERY_IDS, k=5),
    "emb_jl_distortion": S.jl_distortion_sql(),
    "sample_kcenter_diverse": S.kcenter_select_sql(),
    "emb_label_separation": S.label_centroid_separation_sql(),
    "ann_lsh_near_pairs": S.lsh_near_pairs_sql(threshold=0.35),
    "ann_ivf_topk": S.ivf_topk_sql(_QUERY_IDS, k=5),
    "ann_graph_beam_topk": S.graph_beam_topk_sql(_QUERY_IDS, k=5, iters=1),
    "ann_recall_beam_vs_exact": S.graph_beam_recall_eval_sql(
        _QUERY_IDS, k=5, iters=1
    ),
    "ann_similar_pairs": S.lsh_near_pairs_sql(threshold=0.45),
    "dedup_embedding_near_dup": S.lsh_near_pairs_sql(
        threshold=0.9, src=S.near_dup_src_sql()
    ),
    "kmeans_embedding_clusters": S.kmeans_clusters_sql(iters=1),
    "ann_two_level_assign": S.two_level_seed_assign_sql(k1=4, k2=4),
    "kmeans_cluster_quality": S.kmeans_quality_sql(iters=1),
    "ann_hard_negatives": S.hard_negatives_sql(
        _QUERY_IDS, k=5, pos_threshold=0.9, src=S.near_dup_src_sql()
    ),
    "ann_ivf_kmeans_topk": S.ivf_kmeans_topk_sql(_QUERY_IDS, k=5, iters=1),
    "dedup_semantic": S.semantic_dedup_sql(
        threshold=0.9, iters=1, src=S.near_dup_src_sql()
    ),
    "pq_code_histogram": PQ.pq_histogram_sql(),
    "ann_pq_adc_topk": PQ.pq_adc_topk_sql(_QUERY_IDS, k=5),
    "ann_adc_rerank_topk": PQ.adc_rerank_topk_sql(_QUERY_IDS, k=5),
    "ann_recall_pq_vs_exact": PQ.pq_recall_eval_sql(_QUERY_IDS, k=5),
    "ann_ivfpq_adc_topk": PQ.ivfpq_topk_sql(_QUERY_IDS, k=5),
    "ann_ivfpq_residual_topk": PQ.ivfpq_residual_topk_sql(_QUERY_IDS, k=5),
    "ann_cosine_range_search": S.cosine_range_search_sql(
        _QUERY_IDS, threshold=0.3
    ),
    "emb_norm_stats_by_label": S.norm_stats_by_label_sql(),
    "emb_snapshot_drift": S.snapshot_drift_sql(),
    "emb_centroid_classifier_eval": S.centroid_classifier_eval_sql(),
    "emb_margin_mutual_knn": S.margin_mutual_knn_sql(),
    "emb_margin_mutual_knn_ivf": S.margin_mutual_knn_ivf_sql(iters=1),
    "ann_recall_margin_ivf_vs_exact": S.margin_recall_eval_sql(iters=1),
    "ann_probe_recall_curve": S.probe_recall_curve_sql(_QUERY_IDS, k=5),
    "sq_code_stats": SQ.sq_code_stats_sql(),
    "ann_sq_adc_topk": SQ.sq_adc_topk_sql(_QUERY_IDS, k=5),
    "ann_recall_ivf_vs_exact": S.recall_eval_sql(_QUERY_IDS, k=5),
    "ann_ndcg_ivf_vs_exact": S.ndcg_eval_sql(_QUERY_IDS, k=10),
    "ann_mmr_rerank_topk": S.mmr_rerank_topk_sql(_QUERY_IDS, k=5),
}
