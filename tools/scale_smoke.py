#!/usr/bin/env python
"""Scale smoke: drive the CORE engine capabilities on a synthetic
transaction stream orders of magnitude larger than the fixtures
(default 10M rows, set SCALE_ROWS to push further).

This answers the "would this plan survive 100x?" question empirically on
the local shape: data is generated inside Spark (spark.range — no disk,
no driver materialization), so the measured time is pure plan execution.

Usage: python tools/scale_smoke.py          # 10M rows
       SCALE_ROWS=100000000 python tools/scale_smoke.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from audience_manager_platform_spark.operators import analytics as A  # noqa: E402
from audience_manager_platform_spark.plans import RuleCompiler  # noqa: E402
from bench import force, shutdown, start_session  # noqa: E402

ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
USERS = max(1000, ROWS // 1000)


def synthetic_stream(spark, n: int):
    """n transactions across USERS users, generated partition-parallel."""
    u = lambda salt: (F.abs(F.xxhash64("id", F.lit(salt))) % 1_000_000) / 1_000_000.0  # noqa: E731
    return spark.range(n).select(
        (F.col("id") % USERS).alias("user_id"),
        F.round(u(1) * 2000.0 + 10.0, 2).alias("amount"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2025-01-01 00:00:00"))
            + (F.abs(F.xxhash64("id", F.lit(2))) % (364 * 86400))
        ).alias("transaction_date"),
        F.element_at(
            F.array(*[F.lit(c) for c in ("A", "B", "C", "D", "E", "F", "G", "H")]),
            (F.abs(F.xxhash64("id", F.lit(3))) % 8 + 1).cast("int"),
        ).alias("category"),
        (F.abs(F.xxhash64("id", F.lit(4))) % 4 + 1).cast("int").alias("city_tier"),
        F.when(F.col("id") % 5 < 3, "UPI").otherwise("CREDIT_CARD").alias(
            "transaction_type"
        ),
    )


def timed(label: str, df) -> None:
    """Force FULL materialization of every output column
    (:func:`bench.force`), so the number measures the operator, not a
    pruned skeleton of it.

    ``SCALE_ONLY`` (comma-separated, case-insensitive substrings) skips
    every non-matching label — so individual ops can be pushed to
    SCALE_ROWS=100M+ without paying for the whole sweep."""
    only = os.environ.get("SCALE_ONLY")
    if only and not any(
        s.strip().lower() in label.lower()
        for s in only.split(",") if s.strip()
    ):
        return
    t0 = time.perf_counter()
    if callable(df):
        # thunk form: operators with EAGER stages (materialize() builds)
        # must construct inside the timer or the build escapes the number
        df = df()
    n = force(df)
    dt = time.perf_counter() - t0
    print(
        f"{label:36s} {n:>12,} out-rows  {dt:7.2f}s  "
        f"{ROWS / dt / 1e6:6.1f}M in-rows/s"
    )


def main() -> None:
    global ROWS
    spark = start_session("scale_smoke")
    txns = synthetic_stream(spark, ROWS)
    print(f"rows={ROWS:,} users={USERS:,} cores={spark.sparkContext.defaultParallelism}")

    rule = RuleCompiler().compile(
        [
            {"field": "transaction_amount", "operator": ">", "value": "500"},
            {"field": "city_tier", "operator": "IN", "value": [1, 2]},
            {"field": "transaction_count", "operator": ">=", "value": 100},
        ]
    )
    timed("segment rule (filter+agg+having)", rule.dataframe(txns))
    timed("trailing rollups 30/60/90d", A.trailing_rollups(txns))
    timed("category totals", A.category_totals(txns))
    timed("favorite category (argmax)", A.favorite_category(txns))

    # ------------------------- document pipeline at DOCS scale
    from audience_manager_platform_spark.operators import dedup as D
    from audience_manager_platform_spark.operators import text as T

    n_docs = int(os.environ.get("SCALE_DOCS", 100_000))
    vocab = [f"w{i}" for i in range(500)]
    varr = F.array(*[F.lit(w) for w in vocab])
    # ~60-token synthetic docs; every 50th doc reuses the previous doc's
    # words plus one extra token -> 2% planted near-dups
    base_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.element_at(
                varr, (F.abs(F.xxhash64(F.col("id") - (F.col("id") % 50 == 0).cast("long"), i)) % 500 + 1).cast("int")
            ),
        ),
        " ",
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 50 == 0, F.concat(base_text, F.lit(" extra")))
        .otherwise(base_text)
        .alias("text"),
    )
    ROWS = n_docs
    print(f"docs={n_docs:,} (2% planted near-dups)")
    timed("token stats", T.token_stats(docs))
    timed("exact dedup", D.exact_dedup(docs))
    timed("simhash fingerprints", D.simhash(docs))
    timed("minhash+LSH near-dup pairs", D.minhash_lsh_pairs(docs))
    timed("simhash hamming pairs (banded)", D.simhash_hamming_pairs(docs))

    # ------------------------- round-3 families at scale
    from audience_manager_platform_spark.operators import pq as PQ
    from audience_manager_platform_spark.operators import timeseries as TS
    from audience_manager_platform_spark.operators.graph import pagerank

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    events = synthetic_stream(spark, ROWS).select(
        F.monotonically_increasing_id().alias("event_id"),
        F.col("transaction_date").alias("ts"),
        "user_id",
        F.col("amount").alias("value"),
    )
    timed("ts LOCF resample (user x day grid)", TS.resample_locf(events))
    timed("ts EWMA smoothing", TS.ewma_smooth(events))

    # ------------------------- round-4 additions at scale
    from audience_manager_platform_spark.operators.corpus import (
        weighted_priority_sample,
    )

    typed_events = events.withColumn(
        "event_type",
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.abs(F.xxhash64("event_id", F.lit(11))) % 3 + 1).cast("int"),
        ),
    )
    timed(
        "last-touch attribution (LOCF window)",
        A.last_touch_attribution(typed_events),
    )
    timed(
        "weighted priority sample n=1000",
        weighted_priority_sample(
            events, F.col("value") + F.lit(1.0), "event_id", n=1000
        ),
    )

    n_edges = int(os.environ.get("SCALE_EDGES", 1_000_000))
    ROWS = n_edges * 2
    pairs = spark.range(n_edges).select(
        F.concat(F.lit("c"), F.col("id") % 50_000).alias("a"),
        F.concat(
            F.lit("s"), F.abs(F.xxhash64("id", F.lit(9))) % 5_000
        ).alias("b"),
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    timed("pagerank 3 iters (55k nodes)", pagerank(edges))

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    ROWS = n_vecs
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.abs(F.xxhash64("id", F.lit(i))) % 1000) / 500.0 - 1.0)
                for i in range(64)
            ]
        ).alias("embedding"),
    )
    model = PQ.pq_fit_model(vecs)
    # Arrow kernel (the production path; bit-identical to the inline
    # encode — test-pinned); aggregate over the code columns so column
    # pruning can't skip the encode (a bare count() would)
    timed(
        "PQ encode (Arrow kernel)",
        PQ.pq_encode_arrow(vecs, model).groupBy("c0", "c1", "c2", "c3").count(),
    )

    # ------------------------- round-4 quantizer + corpus additions
    from audience_manager_platform_spark.operators import sq as SQ
    from audience_manager_platform_spark.operators.corpus import (
        bloom_decontaminate,
    )
    from audience_manager_platform_spark.operators.pq import (
        ivfpq_residual_topk,
    )
    from audience_manager_platform_spark.operators.text import (
        inverted_postings,
    )

    sq_model = SQ.sq_fit_model(vecs)
    # aggregate over two code positions so the encode projection can't
    # be pruned away
    timed(
        "SQ8 encode (codegen projection)",
        SQ.sq_encode(vecs, sq_model).select(
            F.sum(F.expr("codes[0] + codes[63]")).alias("s")
        ),
    )
    timed("SQ8 ADC top-k (5 queries)", SQ.sq_adc_topk(vecs, [0, 1, 2, 3, 4]))
    timed(
        "residual IVF-PQ top-k (5 queries)",
        ivfpq_residual_topk(vecs, [0, 1, 2, 3, 4]),
    )

    ROWS = n_docs
    timed(
        "bloom decontaminate (2k-doc bench)",
        bloom_decontaminate(docs, docs.filter(F.col("doc_id") % 50 == 0)),
    )
    timed("inverted postings top-25", inverted_postings(docs))

    # ------------------------- round-5 additions at scale
    from audience_manager_platform_spark.operators.text import bm25_topk
    from audience_manager_platform_spark.operators.validation import (
        k_anonymity_audit,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed("RFM segmentation", A.rfm_segments(typed_events))
    timed(
        "session paths top-20 (30min gap)",
        A.top_session_paths(typed_events),
    )
    timed(
        "linear attribution (RANGE frame)",
        A.linear_attribution(typed_events),
    )
    timed(
        "k-anonymity audit (3 QIs)",
        k_anonymity_audit(
            typed_events.select(
                "event_type",
                (F.col("user_id") % 100).alias("geo_band"),
                F.floor(F.col("value") / 100).alias("value_band"),
            ),
            ["event_type", "geo_band", "value_band"],
        ),
    )

    ROWS = n_docs
    timed("line-level dedup stats", D.line_dedup_stats(docs))
    timed("line-level dedup rewrite", D.line_dedup_rewrite(docs))

    # ------------------------- round-5 additions at scale
    from audience_manager_platform_spark.operators.text import (
        bpe_train,
        bpe_vocab_stats,
    )
    from audience_manager_platform_spark.operators.validation import (
        dp_noisy_counts,
    )

    timed(
        "exact-substring span dedup (k=8 grams)",
        D.duplicate_ngram_spans(docs),
    )
    timed("BPE training (6 merges)", bpe_train(docs))
    timed("BPE corpus compression stats", bpe_vocab_stats(docs))
    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed("DP noisy count release", dp_noisy_counts(typed_events))
    timed(
        "BM25 top-10 (3-term query)",
        bm25_topk(docs, ["w1", "w2", "w3"], k=10),
    )
    from audience_manager_platform_spark.operators.similarity import (
        semantic_dedup,
    )
    from audience_manager_platform_spark.operators.text import (
        hash_embed,
        unigram_logprob,
    )

    timed("unigram LM scoring", unigram_logprob(docs))
    timed("hash-embed 64-dim vectorizer", hash_embed(docs))
    # k is SemDeDup's scale knob (cells bound the pairwise stage at
    # sum(|cell|^2)): k=16 over 100k docs leaves ~6k-member cells and a
    # quadratic blow-up (measured 375s); k=256 keeps cells executor-
    # sized, the same ratio the paper runs (11k cells for 5B points)
    timed(
        "SemDeDup over hashed text (k=256)",
        semantic_dedup(hash_embed(docs), threshold=0.9, k=256, iters=1),
    )

    from audience_manager_platform_spark.operators.similarity import (
        jl_distortion,
        kcenter_select,
    )
    from audience_manager_platform_spark.operators.skew import cms_estimate

    ROWS = n_vecs
    timed("JL 64->16 distortion audit", jl_distortion(vecs))
    timed("k-center diverse pick (k=8)", kcenter_select(vecs, k=8))

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed(
        "count-min sketch (10 probes)",
        cms_estimate(typed_events, "user_id", list(range(10))),
    )

    # ------------------------- round-5 wave-4 additions at scale
    from audience_manager_platform_spark.operators.corpus import dsir_weights
    from audience_manager_platform_spark.operators.dedup import (
        minhash_accuracy,
    )
    from audience_manager_platform_spark.operators.hybrid import (
        chunk_maxsim_topk,
    )
    from audience_manager_platform_spark.operators.similarity import (
        ivf_probe_sweep,
    )

    ROWS = n_docs
    # a fifth of the corpus is the "target domain" slice
    tagged = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit("en")).otherwise(F.lit("de")),
    )
    timed("DSIR importance weights", dsir_weights(tagged))
    timed(
        "MinHash estimator accuracy audit",
        minhash_accuracy(docs, max_band_size=200),
    )
    timed(
        "chunk MaxSim top-5 (5 queries)",
        chunk_maxsim_topk(docs, [0, 50, 100, 150, 200], k=5),
    )
    ROWS = n_vecs
    timed(
        "IVF probe sweep (1/2/4 probes, 5 queries)",
        ivf_probe_sweep(vecs, [0, 1, 2, 3, 4], k=5),
    )

    # ------------------------- round-5 wave-4b additions at scale
    from audience_manager_platform_spark.operators.analytics import (
        ab_conversion_ztest,
    )
    from audience_manager_platform_spark.operators.corpus import (
        filter_funnel,
        pack_efficiency,
    )
    from audience_manager_platform_spark.operators.text import bigram_logprob

    ROWS = n_docs
    timed("curation filter funnel", filter_funnel(docs))
    timed("packing efficiency histogram", pack_efficiency(docs))
    timed("bigram LM scoring", bigram_logprob(docs))
    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed("A/B conversion z-test", ab_conversion_ztest(typed_events))

    # ------------------------- round-5 wave-5 additions at scale
    from audience_manager_platform_spark.operators.corpus import ngram_novelty
    from audience_manager_platform_spark.operators.skew import key_skew_profile
    from audience_manager_platform_spark.operators.timeseries import (
        changepoint_mean_shift,
    )

    timed("key-skew decile profile", key_skew_profile(typed_events, "user_id"))
    timed(
        "mean-shift changepoint scan", changepoint_mean_shift(typed_events)
    )
    ROWS = n_docs
    timed("n-gram novelty curve", ngram_novelty(docs))

    # ------------------------- round-5 wave-6/7/8 additions at scale
    from audience_manager_platform_spark.operators.corpus import (
        epoch_budget,
        source_unigram_jsd,
    )
    from audience_manager_platform_spark.operators.dedup import (
        cross_corpus_contamination,
    )
    from audience_manager_platform_spark.operators.text import (
        rake_keywords,
        readability_scores,
    )
    from audience_manager_platform_spark.operators.timeseries import (
        rolling_regression,
    )

    timed("readability scoring", readability_scores(docs))
    timed("RAKE corpus keyphrases", rake_keywords(docs))
    # a 1% slice plays the held-out benchmark corpus
    tagged_src = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 100 == 0, F.lit("bench")).otherwise(
            F.lit("train")
        ),
    )
    timed(
        "cross-corpus contamination (1% eval side)",
        cross_corpus_contamination(
            tagged_src, eval_source="bench", max_band_size=200
        ),
    )
    timed("per-source unigram JSD", source_unigram_jsd(tagged_src))
    timed("epoch-budget allocation", epoch_budget(tagged, group_col="lang"))
    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed("rolling OLS trend (14d windows)", rolling_regression(typed_events))

    # ------------------------- round-5 wave-9/10 additions at scale
    from audience_manager_platform_spark.operators.dedup import (
        incremental_lsh_probe,
    )
    from audience_manager_platform_spark.operators.er import (
        fuzzy_blocked_pairs,
    )
    from audience_manager_platform_spark.operators.graph import (
        bfs_distances,
        triangle_participation,
    )
    from audience_manager_platform_spark.operators.pq import adc_rerank_topk
    from audience_manager_platform_spark.operators.corpus import (
        cluster_safe_split,
    )
    from audience_manager_platform_spark.operators.similarity import (
        margin_mutual_knn,
    )
    from audience_manager_platform_spark.operators.skew import (
        hll_retention_overlap,
    )
    from audience_manager_platform_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )
    from audience_manager_platform_spark.operators.validation import (
        t_closeness_audit,
    )

    # ER: 200k catalog rows, ~2k blocks of ~100 names each
    n_cat = int(os.environ.get("SCALE_CATALOG", 200_000))
    first = F.concat(
        F.lit("tok"), (F.abs(F.xxhash64("id", F.lit(21))) % 2000).cast("string")
    )
    w2 = F.concat(
        F.lit("mid"), (F.abs(F.xxhash64("id", F.lit(22))) % 40).cast("string")
    )
    w3 = F.concat(
        F.lit("end"), (F.abs(F.xxhash64("id", F.lit(23))) % 40).cast("string")
    )
    catalog = spark.range(n_cat).select(
        F.col("id").alias("k"),
        F.concat_ws(" ", first, w2, w3).alias("name"),
        F.concat(
            F.lit("B"), (F.abs(F.xxhash64("id", F.lit(24))) % 5).cast("string")
        ).alias("brand"),
    )
    ROWS = n_cat
    timed(
        "ER blocked fuzzy pairs (2k blocks x ~100)",
        fuzzy_blocked_pairs(catalog, "k", "name", agree_col="brand"),
    )

    # margin mining: brute bipartite baseline at 12k vectors (36M pairs);
    # beyond this the IVF-cell candidate path replaces the cross scoring
    n_mv = int(os.environ.get("SCALE_MARGIN_VECS", 12_000))
    mvecs = spark.range(n_mv).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (F.abs(F.xxhash64("id", i)) % 1000) / 500.0 - 1.0,
        ).alias("embedding"),
    )
    ROWS = n_mv
    timed(
        "margin mutual-kNN mining (6k x 6k brute)",
        margin_mutual_knn(mvecs),
    )
    ROWS = n_vecs
    timed(
        "ADC shortlist + exact re-rank (5 queries)",
        adc_rerank_topk(vecs, [0, 1, 2, 3, 4], k=5),
    )

    ROWS = n_docs
    timed(
        "incremental LSH delta probe (10% batch)",
        incremental_lsh_probe(docs),
    )
    timed("cluster-safe split audit", cluster_safe_split(docs))

    # co-occurrence graph: 100k contexts x ~10 items -> support-cut edges
    n_rel = int(os.environ.get("SCALE_REL", 1_000_000))
    rel = spark.range(n_rel).select(
        (F.col("id") % 100_000).alias("ctx"),
        (F.abs(F.xxhash64("id", F.lit(31))) % 10_000).alias("item"),
    )
    ROWS = n_rel
    timed(
        "triangle participation (1M co-occurrences)",
        triangle_participation(rel, "ctx", "item", min_cooc=2),
    )
    timed(
        "BFS hop distances d<=3",
        bfs_distances(rel, "ctx", "item", min_cooc=2),
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed(
        "t-closeness audit (2 QIDs)",
        t_closeness_audit(
            txns.select("city_tier", "category", "transaction_type"),
            ["city_tier", "category"],
            sensitive="transaction_type",
        ),
    )
    orders_like = txns.select(
        F.col("transaction_date").alias("o_orderdate"),
        F.col("user_id").alias("o_custkey"),
    )
    timed("HLL retention overlap (month pairs)", hll_retention_overlap(orders_like))
    timed(
        "seasonal-naive backtest (lag-7 MAPE)",
        seasonal_naive_backtest(typed_events),
    )

    # ------------------------- wave-12+ additions at scale
    from audience_manager_platform_spark.operators.analytics import (
        decayed_popularity,
        pareto_coverage,
        position_attribution,
        survival_retention,
    )
    from audience_manager_platform_spark.operators.skew import (
        quantile_histogram,
        salted_join,
    )

    timed(
        "mergeable quantile sketch (p50/p90/p99 + exact audit)",
        quantile_histogram(txns, "amount"),
    )
    dim = spark.range(USERS).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("seg"), F.col("id") % 7).alias("segment"),
    )
    timed(
        "salted join + segment rollup (16 buckets)",
        salted_join(txns, dim, "user_id", salt_buckets=16)
        .groupBy("segment")
        .agg(F.count("*").alias("n")),
    )
    timed("decayed popularity (exact halving grid)",
          decayed_popularity(typed_events.withColumn(
              "event_type", F.col("event_type"))))
    timed("U-shaped attribution (RANGE window)",
          position_attribution(typed_events))
    timed("Pareto 80pct coverage", pareto_coverage(typed_events))
    timed("Kaplan-Meier retention", survival_retention(typed_events))

    # ------------------------- wave-17+ additions at scale
    from audience_manager_platform_spark.operators.corpus import (
        neyman_allocation,
    )
    from audience_manager_platform_spark.operators.maintenance import (
        pruning_audit,
    )
    from audience_manager_platform_spark.operators.timeseries import (
        crosscorr_lead_lag,
    )
    from audience_manager_platform_spark.operators.validation import (
        auc_exact,
        benford_digit_audit,
        ks_value_drift,
        psi_value_drift,
    )

    timed("PSI drift (log2x8 histogram pair)", psi_value_drift(typed_events))
    timed("KS drift (exact ECDF max gap)", ks_value_drift(typed_events))
    timed("Benford digit audit", benford_digit_audit(txns, "amount"))
    scored = typed_events.select(
        (F.abs(F.xxhash64("event_id", F.lit(41))) % 40).alias("score"),
        (F.abs(F.xxhash64("event_id", F.lit(42))) % 3 == 0)
        .cast("int")
        .alias("label"),
    )
    timed("exact AUC (tie-corrected rank sum)",
          auc_exact(scored, "score", "label"))
    timed("lead/lag CCF -7..7", crosscorr_lead_lag(typed_events))
    timed("Neyman allocation design", neyman_allocation(typed_events))
    timed("zone-map pruning audit (2 sorts)", pruning_audit(typed_events))
    from audience_manager_platform_spark.operators.similarity import (
        mmr_rerank_topk,
        ndcg_eval,
    )

    ROWS = n_vecs
    timed("MMR rerank (5 queries, pool 15)",
          mmr_rerank_topk(vecs, [0, 1, 2, 3, 4], k=5))
    timed("nDCG@10 IVF vs exact", ndcg_eval(vecs, [0, 1, 2, 3, 4], k=10))

    # ------------------------- wave-20/21 additions at scale
    from audience_manager_platform_spark.operators.text import (
        prf_expanded_topk,
        token_fertility,
    )
    from audience_manager_platform_spark.operators.validation import (
        mix_drift,
    )
    from audience_manager_platform_spark.operators.relational import (
        item_knn_cosine,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed("chi-square mix drift", mix_drift(typed_events))
    ROWS = n_docs
    lang_docs = docs.withColumn(
        "lang",
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "es", "fr", "zh")]),
            (F.abs(F.xxhash64("doc_id", F.lit(51))) % 5 + 1).cast("int"),
        ),
    )
    timed("token fertility by lang", token_fertility(lang_docs))
    timed(
        "PRF expansion (RM3-lite, 2 BM25 passes)",
        prf_expanded_topk(docs, ["w1", "w2"], k=10),
    )
    n_li = int(os.environ.get("SCALE_BASKETS", 2_000_000))
    ROWS = n_li
    li = spark.range(n_li).select(
        (F.col("id") % 400_000).alias("l_orderkey"),
        (F.abs(F.xxhash64("id", F.lit(61))) % 1000).alias("l_partkey"),
    )
    brands = spark.range(1000).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.lit("B"), F.col("id") % 40).alias("p_brand"),
    )
    timed("item-item kNN (2M basket lines)", item_knn_cosine(li, brands))

    # ------------------------- round-6 additions at scale
    from audience_manager_platform_spark.operators.hybrid import (
        chunk_cell_index,
        chunk_maxsim_ivf_topk,
    )
    from audience_manager_platform_spark.operators.maintenance import (
        pruning_audit,
    )
    from audience_manager_platform_spark.operators.similarity import (
        hamming_topk,
        matryoshka_recall,
    )

    ROWS = n_vecs
    timed(
        "binary Hamming top-5 + exact re-rank",
        hamming_topk(vecs, [0, 1, 2, 3, 4], k=5),
    )
    timed(
        "matryoshka prefix recall (4 dims)",
        matryoshka_recall(vecs, [0, 1, 2, 3, 4], k=5),
    )
    ROWS = n_docs
    t0 = time.perf_counter()
    idx = chunk_cell_index(docs)
    print(
        f"{'maxsim IVF index build (once/corpus)':36s} "
        f"{'-':>12s} out-rows  {time.perf_counter() - t0:7.2f}s"
    )
    timed(
        "gated chunk MaxSim top-5 (5 queries)",
        chunk_maxsim_ivf_topk(docs, [0, 50, 100, 150, 200], k=5, index=idx),
    )
    # synthetic events stream for the distributed-rank pruning audit
    n_ev = int(os.environ.get("SCALE_EVENTS", 10_000_000))
    ROWS = n_ev
    ev = spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 2654435761 % 1000003).alias("user_id"),
        (
            F.to_timestamp(F.lit("2025-01-01"))
            + F.make_interval(days=(F.col("id") % 300).cast("int"))
        ).alias("ts"),
    )
    timed("zone-map pruning audit (10M events)", pruning_audit(ev))

    # ------------------------- round-6 wave-24 additions at scale
    from audience_manager_platform_spark.operators.dedup import (
        url_canonical_dedup,
    )
    from audience_manager_platform_spark.operators.maintenance import (
        compaction_plan,
    )
    from audience_manager_platform_spark.operators.timeseries import (
        ewma_anomaly,
    )
    from audience_manager_platform_spark.operators.validation import (
        partition_completeness,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    # the monitors' windows must ride the AGGREGATED day tables, never
    # the raw stream — these timings prove the reduction dominates
    timed("EWMA anomaly monitor", ewma_anomaly(typed_events))
    timed(
        "partition completeness audit",
        partition_completeness(typed_events),
    )
    timed("compaction plan (type x day files)", compaction_plan(
        typed_events.withColumn(
            "props", F.concat(F.lit("p"), (F.col("event_id") % 97))
        )
    ))
    ROWS = n_docs
    timed(
        "canonical-URL dedup (100k docs)",
        url_canonical_dedup(
            docs.withColumn(
                "source", F.concat(F.lit("src"), F.col("doc_id") % 10)
            )
        ),
    )
    from audience_manager_platform_spark.operators.text import (
        weak_label_votes,
    )

    timed(
        "weak-supervision LF diagnostics",
        weak_label_votes(
            docs.withColumn(
                "lang",
                F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de"),
            )
        ),
    )
    from audience_manager_platform_spark.operators.relational import (
        pit_feature_leakage,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    # PIT feature join at stream scale: the as-of is ONE union-window
    # pass on user_id — no per-label probe, no range explosion
    timed("PIT feature join + leakage audit", pit_feature_leakage(
        typed_events
    ))

    # wave 24/26 additions (r7): decode-bound multimodal, calibration,
    # MERGE audit, algebraic rollup, winsorize
    from audience_manager_platform_spark.operators.multimodal import (
        phash_hamming_pairs,
        synthesize_textured_bmp,
    )

    n_imgs = int(os.environ.get("SCALE_IMGS", 20_000))
    ROWS = n_imgs
    # pHash is O(pixels)/row with zero shuffle before the band join;
    # this measures decode+DCT throughput per core at 40x the fixture
    timed(
        f"pHash near-dup ({n_imgs:,} BMPs decoded)",
        phash_hamming_pairs(
            synthesize_textured_bmp(
                spark.range(n_imgs).select(F.col("id").alias("doc_id"))
            )
        ),
    )

    from audience_manager_platform_spark.operators.text import (
        langid_calibration,
    )

    ROWS = n_docs
    timed(
        "language-ID calibration bins",
        langid_calibration(
            docs.withColumn(
                "lang",
                F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de"),
            )
        ),
    )

    from audience_manager_platform_spark.operators.merge import (
        algebraic_rollup_merge,
        merge_upsert_actions,
    )
    from audience_manager_platform_spark.operators.validation import (
        winsorize_stats,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed(
        "MERGE dry-run audit (insert/update/nochange)",
        merge_upsert_actions(typed_events, cutoff="2025-07-01 00:00:00"),
    )
    orders_like = typed_events.select(
        F.col("event_id").alias("o_orderkey"),
        F.col("user_id").alias("o_custkey"),
        F.col("ts").alias("o_orderdate"),
        F.col("value").alias("o_totalprice"),
    )
    timed(
        "algebraic rollup merge (prev + delta)",
        algebraic_rollup_merge(orders_like, cutoff="2025-07-01 00:00:00"),
    )
    timed("winsorized robust stats", winsorize_stats(typed_events))

    # ------------------------- round-7 wave 29-31 additions at scale
    from audience_manager_platform_spark.operators.analytics import (
        markov_order2_lift,
    )
    from audience_manager_platform_spark.operators.geo import (
        geo_neighbor_smoothing,
    )
    from audience_manager_platform_spark.operators.graph import (
        link_prediction_scores,
    )
    from audience_manager_platform_spark.operators.maintenance import (
        snapshot_retention_plan,
    )
    from audience_manager_platform_spark.operators.multimodal import (
        bmp_tile_stats,
        synthesize_bmp_shaded,
    )
    from audience_manager_platform_spark.operators.timeseries import (
        conformal_interval_backtest,
    )
    from audience_manager_platform_spark.operators.validation import (
        id_density_audit,
        pseudonym_bucket_audit,
        target_encode_loo,
    )
    from audience_manager_platform_spark.streaming.jobs import (
        late_arrival_audit,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    # day-table monitors: the raw stream contributes one aggregate each
    timed("conformal interval backtest", conformal_interval_backtest(
        typed_events
    ))
    timed("snapshot retention plan", snapshot_retention_plan(typed_events))
    timed("late-arrival audit (batch form)", late_arrival_audit(
        typed_events
    ))
    # user-window + two broadcast argmax tables
    timed("Markov order-2 lift", markov_order2_lift(typed_events))
    # distinct-users reduce + 16-bucket hash audit
    timed("pseudonymization audit", pseudonym_bucket_audit(typed_events))
    # broadcast class/prior tables onto the deterministic audit slice
    timed("LOO target encoding (slice)", target_encode_loo(typed_events))
    # |grid|-bounded scatter/gather kernel
    timed("geo 3x3 kernel smoothing", geo_neighbor_smoothing(typed_events))
    # sparse ids: every bucket gappy -> measures worst-case emit path
    timed("id-density audit", id_density_audit(
        typed_events, plant_residue=None
    ))
    # co-occurrence graph from 2M 5-item contexts over 200k items: the
    # min_cooc=2 support cut keeps the wedge stage sparse by design
    lp_pairs = spark.range(ROWS).select(
        F.expr("id div 5").alias("ctx"),
        (F.abs(F.xxhash64("id", F.lit(31))) % 200_000).alias("item"),
    )
    timed("link prediction (support-cut graph)", link_prediction_scores(
        lp_pairs, "ctx", "item", min_cooc=2, top_n=50
    ))
    ROWS = n_imgs
    timed(
        f"BMP 2x2 tile stats ({n_imgs:,} decoded)",
        bmp_tile_stats(
            synthesize_bmp_shaded(
                spark.range(n_imgs).select(F.col("id").alias("doc_id"))
            )
        ),
    )

    # ------------------------- round-7 wave 32-36 additions at scale
    from audience_manager_platform_spark.operators.analytics import (
        ab_srm_check,
        interevent_gap_bands,
        simpson_diversity_bands,
        windowed_funnel,
    )
    from audience_manager_platform_spark.operators.merge import (
        bitemporal_restatements,
    )
    from audience_manager_platform_spark.operators.relational import (
        bucketized_range_join,
        nearest_conversion_gap,
    )
    from audience_manager_platform_spark.operators.timeseries import (
        cusum_alarm,
        max_drawdown,
    )
    from audience_manager_platform_spark.operators.validation import (
        duplicate_charge_audit,
        order_balance_audit,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed("Simpson diversity bands", simpson_diversity_bands(typed_events))
    timed("nearest-asof conversion gaps", nearest_conversion_gap(
        typed_events
    ))
    timed("windowed funnel (2d hops)", windowed_funnel(typed_events))
    timed("CUSUM drift alarms", cusum_alarm(typed_events))
    timed("max drawdown per series", max_drawdown(typed_events))
    timed("duplicate-charge audit", duplicate_charge_audit(typed_events))
    timed("inter-event gap bands", interevent_gap_bands(typed_events))
    timed("A/B SRM gate", ab_srm_check(typed_events))
    timed("bitemporal restatements", bitemporal_restatements(typed_events))
    timed("bucketized range join (10k bands)", bucketized_range_join(
        typed_events
    ))
    orders_bal = typed_events.select(
        F.col("event_id").alias("o_orderkey"),
        F.round(F.col("value") * 1.1, 2).alias("o_totalprice"),
    )
    li_bal = typed_events.select(
        F.col("event_id").alias("l_orderkey"),
        F.col("value").alias("l_extendedprice"),
        F.lit(0.05).alias("l_discount"),
        F.lit(0.08).alias("l_tax"),
    )
    timed("order-balance reconciliation", order_balance_audit(
        orders_bal, li_bal
    ))

    # ------------------------- round-7 wave 37-40 additions at scale
    from audience_manager_platform_spark.operators.analytics import (
        delta_attribution,
        growth_accounting,
        mix_rate_decomposition,
        repeat_purchase_curve,
    )
    from audience_manager_platform_spark.operators.skew import salt_plan
    from audience_manager_platform_spark.operators.timeseries import (
        seasonal_strength,
        theilsen_trend,
    )
    from audience_manager_platform_spark.operators.validation import (
        kanon_utility_sweep,
    )
    from audience_manager_platform_spark.operators.relational import (
        null_aware_anti_join,
    )

    ROWS = int(os.environ.get("SCALE_ROWS", 10_000_000))
    timed("salt plan (hot-key ceil)", salt_plan(
        typed_events, "event_type", target_rows=1_000_000
    ))
    timed("repeat-purchase curve", repeat_purchase_curve(typed_events))
    timed("growth accounting (weekly)", growth_accounting(typed_events))
    timed("delta attribution (spike day)", delta_attribution(typed_events))
    timed("mix/rate decomposition", mix_rate_decomposition(typed_events))
    timed("Theil-Sen robust trend", theilsen_trend(typed_events))
    timed("seasonal strength", seasonal_strength(typed_events))
    timed("k-anon utility sweep", kanon_utility_sweep(
        typed_events.select(
            "event_type",
            (F.col("user_id") % 1000).alias("ub"),
            (F.col("value") < 1000).alias("vb"),
        ),
        ["event_type", "ub", "vb"],
    ))
    orders_na = typed_events.select(
        F.col("event_id").alias("o_orderkey"),
        F.col("user_id").alias("o_custkey"),
        F.col("value").alias("o_totalprice"),
    )
    cust_na = spark.range(25).select(
        F.col("id").alias("c_custkey"),
        F.col("id").alias("c_nationkey"),
    )
    timed("null-aware anti join (NOT IN)", null_aware_anti_join(
        orders_na, cust_na
    ))

    # ------------------------- round-8: salt plan wired into a consumer
    # A 50%-hot Zipf head: half of all rows share ONE key. The salted
    # two-stage aggregate and the plain GROUP BY are both timed so the
    # comparison is measured, not assumed — note that for built-in
    # ALGEBRAIC aggregates Spark's map-side partial aggregation already
    # collapses each partition to <=|keys| rows before the shuffle, so
    # the plain plan has no straggler to save; the salted plan must
    # therefore land within noise of it (the wiring is the point: same
    # answer, and the salt discipline is what transfers to the
    # non-combinable shapes — sort-based windows and joins — where
    # join_skew_salted already applies it).
    from audience_manager_platform_spark.operators.skew import (
        salted_agg_by_plan,
    )

    zipf = spark.range(ROWS).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 997).cast("string")))
        .alias("k"),
        ((F.abs(F.xxhash64("id")) % 100_000) / 100.0).alias("value"),
        F.col("id").alias("rid"),
    )
    timed(
        "plain groupBy, 50pct-hot key",
        zipf.groupBy("k").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
            ).cast("long").alias("total_cents"),
        ),
    )
    timed(
        "salted agg by plan, same key",
        salted_agg_by_plan(zipf, "k", "value", "rid", target_rows=1_000_000),
    )

    # ------------------------- round-8 wave 42-45 additions at scale
    from audience_manager_platform_spark.operators.analytics import (
        cuped_adjustment,
        diff_in_diff,
        qini_uplift_deciles,
        sprt_monitor,
    )
    from audience_manager_platform_spark.operators.skew import (
        cms_heavy_change,
    )
    from audience_manager_platform_spark.operators.validation import (
        fd_audit,
    )

    timed("diff-in-diff 2x2 readout", diff_in_diff(typed_events))
    # CUPED at scale is the overflow test: mean-centered integer Cov/Var
    # must stay in bigint where raw n*Sxy - Sx*Sy would not
    timed("CUPED variance reduction", cuped_adjustment(typed_events))
    timed("SPRT daily monitor", sprt_monitor(typed_events))
    timed("Qini uplift deciles", qini_uplift_deciles(typed_events))
    timed(
        "CMS heavy-change (2 period sketches)",
        cms_heavy_change(
            typed_events, "user_id", "ts",
            [0, 7, 13, 29, 42, 55, 68, 91, 120, 149],
        ),
    )
    timed(
        "FD audit (2 claims)",
        fd_audit(
            typed_events.select(
                "event_id", "user_id", "event_type"
            ),
            [("event_id", "user_id"), ("user_id", "event_type")],
        ),
    )

    # --------------- round-9: the sharded global-rank helper under load
    # (the r8 weak set: these used to push every per-user/per-key row
    # through ONE unpartitioned window task; now global_row_positions)
    from audience_manager_platform_spark.operators.analytics import (
        pareto_coverage,
        revenue_gini,
        spend_percentile_rank,
    )
    from audience_manager_platform_spark.operators.skew import (
        key_skew_profile,
    )

    timed("pareto 80pct coverage (sharded cumsum)", pareto_coverage(typed_events))
    timed("revenue gini (sharded rank)", revenue_gini(typed_events))
    timed(
        "spend percentile rank (sharded, |users| out)",
        spend_percentile_rank(typed_events),
    )
    timed(
        "key skew profile (sharded exact ntile)",
        key_skew_profile(typed_events, "user_id"),
    )

    # ------------------ round-10 wave 50/51: experiment-ops at scale
    # same per-user-reduce shape as the smoked welch/anova family; the
    # bootstrap's 64x amplification collapses map-side (the shuffle
    # carries |B| rows per partition), the winsorized mean rides the
    # sharded rank. SCALE_ONLY=expstats to isolate.
    # thunk form: these ops build eager materialize() stages, which must
    # run inside the timer (and not at all when the label is filtered)
    timed(
        "stratified ATE (confounded bands) [expstats]",
        lambda: A.stratified_ate(typed_events),
    )
    timed(
        "MDE/power per arm pair [expstats]",
        lambda: A.mde_power_arms(typed_events),
    )
    timed(
        "BH-FDR over Welch pairs [expstats]",
        lambda: A.welch_bh_fdr(typed_events),
    )
    timed(
        "Poisson bootstrap CI (64 reps) [expstats]",
        lambda: A.poisson_bootstrap_ci(typed_events),
    )
    timed(
        "winsorized/trimmed mean (sharded ranks) [expstats]",
        lambda: A.winsorized_mean(typed_events),
    )

    # ------------------ round-9: NSW graph-ANN at 100k vectors (wave 46)
    # The edge build's cost is Σ|cell|² = n x (cell size), so the cell
    # count must scale LINEARLY with the corpus to hold cell size at a
    # constant target (~200 here): 100k/512. A 1563-vec cell (the first
    # attempt: 100k/64) made the build 156M pairs and blew the smoke's
    # wall clock — measured proof that cell sizing, not corpus size, is
    # the build's knob. Deterministic synthetic vectors, in-Spark.
    from audience_manager_platform_spark.operators import similarity as SIM

    only = os.environ.get("SCALE_ONLY")
    if only and "nsw" not in only.lower() and "hier" not in only.lower():
        shutdown(spark)
    n_vecs = int(os.environ.get("SCALE_VECS", 100_000))
    graph_cells = int(os.environ.get("SCALE_GRAPH_CELLS", 512))
    vec = F.array(
        *[
            (
                (F.abs(F.xxhash64("id", F.lit(i))) % 2_000_000)
                / 1_000_000.0
                - 1.0
            )
            for i in range(SIM.EMBED_DIM)
        ]
    )
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    if not only or "nsw" in only.lower():
        gm = SIM.kmeans_fit_model(vecs, graph_cells, 1)
        edges = None

        def _edges():
            nonlocal edges
            if edges is None:
                edges = SIM.graph_knn_edges(
                    vecs, n_clusters=graph_cells, model=gm
                )
            return edges

        timed(
            f"NSW edge build ({n_vecs:,} vecs, {graph_cells} cells)", _edges
        )
        timed(
            "NSW beam search (5 queries over the standing graph)",
            lambda: SIM.graph_beam_topk(
                vecs, [0, 1, 2, 3, 4], k=5, n_clusters=graph_cells,
                model=gm, edges=_edges(),
            ),
        )

    # ---------------- round-10: auto-sized edge build, ~linear growth
    # (r9 verdict #2) graph_knn_edges now derives the cell count from
    # one count() via graph_auto_n_clusters (target cell ~200), so the
    # pair stage is n x 200 — LINEAR. These three doubling sizes make
    # the linearity a measured number. SCALE_ONLY=nsw-auto to run.
    def _mkvecs(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"), vec.alias("embedding")
        )

    for nv in (50_000, 100_000, 200_000):
        k_auto = SIM.graph_auto_n_clusters(nv)
        timed(
            f"NSW auto-sized edge build ({nv:,} vecs -> {k_auto} cells)"
            " [nsw-auto]",
            lambda nv=nv: SIM.graph_knn_edges(_mkvecs(nv)),
        )

    # ---------------- round-10: beam SERVING path at 10M nodes
    # (r9 verdict #8) the serving plan joins the query frontier against
    # a standing 10M-node vector table and its ~2m-degree edge table;
    # the edge table here is deterministic-synthetic (each node forward-
    # links to m xxhash-derived neighbors, symmetrized — the build cost
    # is the PREVIOUS entries' subject, serving-shape is this one's).
    # Per-superstep frontier sizes are recorded and checked against the
    # documented <= |q| x beam x (2m+1) bound. SCALE_ONLY=nsw-serve.
    if only and "nsw-serve" in only.lower():
        from audience_manager_platform_spark.operators.partitioning import (
            materialize,
        )

        n_serve = int(os.environ.get("SCALE_SERVE_VECS", 10_000_000))
        sv = _mkvecs(n_serve)
        fwd = (
            spark.range(n_serve)
            .select(
                F.col("id").alias("src"),
                F.explode(
                    F.array(*[F.lit(i) for i in range(SIM.GRAPH_M)])
                ).alias("j"),
            )
            .select(
                "src",
                (
                    F.abs(F.xxhash64("src", F.col("j"))) % F.lit(n_serve)
                ).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        t0 = time.perf_counter()
        syn_edges = materialize(
            fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
        )
        print(f"synthetic edge table: {time.perf_counter() - t0:7.2f}s")
        sm = SIM.kmeans_fit_model(sv, 512, 1)
        steps_rows: list[int] = []
        qids = [0, 1, 2, 3, 4]
        timed(
            f"NSW beam serving ({n_serve:,} nodes) [nsw-serve]",
            lambda: SIM.graph_beam_topk(
                sv, qids, k=5, model=sm, edges=syn_edges,
                superstep_rows=steps_rows,
            ),
        )
        # the 2m+1 degree factor assumes out-degree m symmetrized; hash
        # collisions give a few nodes higher in-degree, so the sound
        # bound uses the graph's MEASURED max degree (r9 test finding)
        max_deg = (
            syn_edges.groupBy("src").count().agg(F.max("count")).collect()
        )[0][0]
        bound = len(qids) * SIM.GRAPH_BEAM * (max_deg + 1)
        doc_bound = len(qids) * SIM.GRAPH_BEAM * (2 * SIM.GRAPH_M + 1)
        print(
            f"superstep frontier rows: {steps_rows} "
            f"(doc bound {doc_bound}, measured-degree bound {bound})"
        )
        assert all(r <= bound for r in steps_rows), (steps_rows, bound)

    # ---------------- round-10: two-level quantizer assign at large K
    # The flat assign is n x K dots; with the auto rule K = n/200 that is
    # n²/200 — the honest residual the hierarchical quantizer closes.
    # Same corpus, same auto K, both paths measured: the two-level fit
    # (driver-side sample Lloyd) + assign (n x 2·sqrt(K) dots) against
    # the flat assign over the SAME flattened sub-centroids. The flat
    # leg IS the old default at this K — its wall clock is the cost the
    # switch removes. SCALE_ONLY=hier to run.
    if only and "hier" in only.lower():
        n_h = int(os.environ.get("SCALE_HIER_VECS", 400_000))
        hv = _mkvecs(n_h)
        k_auto = SIM.graph_auto_n_clusters(n_h)
        hbase = hv.select("vec_id", SIM._vec_double().alias("v"))
        t0 = time.perf_counter()
        m1, m2 = SIM.hier_fit_model(hv, k_auto, iters=1, n_vectors=n_h)
        flat_model = SIM.hier_flat_model(m2)
        print(
            f"hier fit ({n_h:,} vecs -> K={k_auto}: {len(m1)} supers, "
            f"{len(flat_model)} cells): {time.perf_counter() - t0:7.2f}s"
        )
        timed(
            f"two-level assign ({n_h:,} x ~2sqrtK) [hier]",
            SIM.assign_cells_two_level(hbase, m1, m2),
        )
        timed(
            f"flat assign over same {len(flat_model)} cells [hier]",
            SIM.assign_cells_arrow(hbase, flat_model),
        )
    shutdown(spark)


if __name__ == "__main__":
    main()
