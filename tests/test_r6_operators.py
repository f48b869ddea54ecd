"""Round-6 additions: IVF-gated late-interaction retrieval and the
environment-skew canaries."""

from audience_manager_platform_spark.operators import envprobe as E
from audience_manager_platform_spark.operators.hybrid import (
    chunk_maxsim_ivf_topk,
    chunk_maxsim_topk,
)
from audience_manager_platform_spark.sources import load_table


def test_chunk_maxsim_ivf_subset_of_exact(spark, sf_dir):
    """Cell gating loses chunks, never invents or re-scores them: every
    (query, doc) the gated path returns must appear in the exact scan's
    pooled table with a maxsim >= the gated maxsim (equality whenever
    the best chunk's cell was probed), and best_chunk_idx must be a
    chunk the exact path scored for that pair."""
    docs = load_table(spark, sf_dir, "documents")
    qids = [0, 100, 200]
    exact = {
        (r.query_id, r.doc_id): r.maxsim
        for r in chunk_maxsim_topk(docs, qids, k=10**6).collect()
    }
    gated = chunk_maxsim_ivf_topk(docs, qids, k=5).collect()
    assert gated, "gated path returned nothing"
    for r in gated:
        assert r.doc_id != r.query_id
        assert (r.query_id, r.doc_id) in exact
        assert r.maxsim <= exact[(r.query_id, r.doc_id)]
    # the gate must actually bite at default settings (4/16 cells):
    # at least one query's top-1 differs OR every returned score equals
    # exact — either way the result is well-formed top-k per query
    by_q = {}
    for r in gated:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_chunk_maxsim_ivf_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    key = lambda rows: sorted(  # noqa: E731
        (r.query_id, r.rank, r.doc_id, r.maxsim) for r in rows
    )
    a = key(chunk_maxsim_ivf_topk(docs.repartition(1), [0, 100], k=3).collect())
    b = key(chunk_maxsim_ivf_topk(docs.repartition(7), [0, 100], k=3).collect())
    assert a == b
    assert a, "empty result"


def test_env_probe_vector_is_boundary_heavy():
    """The canary vector must keep its adversarial cases: exact .5
    boundaries after the 1e6 scaling and the r4 repro magnitude."""
    import math

    vals = dict(E.PROBE_VECTOR)
    # exact representable .5 boundaries (multiply is exact for these)
    assert vals["c02_half_ulp_small"] * 1e6 == 0.5
    assert vals["c03_one_and_half"] * 1e6 == 1.5
    # r4 magnitude class present with both signs
    assert vals["c08_r4_repro_pos"] == -vals["c09_r4_repro_neg"]
    assert abs(vals["c08_r4_repro_pos"] * 1e6) > 1e12
    # floor-micro stays within int64 for every probe value
    for _, v in E.PROBE_VECTOR:
        assert abs(math.floor(v * 1e6 + 0.5)) < 2**53


def test_env_probes_match_oracles(spark, duck):
    """All four probes green against their own oracles in-process (the
    same check the driver runs)."""
    for q, sql in [
        (E.probe_floor_micro, E.probe_floor_micro_sql()),
        (E.probe_round_half, E.probe_round_half_sql()),
        (E.probe_arrow_floor, E.probe_arrow_floor_sql()),
        (E.probe_versions, E.probe_versions_sql()),
    ]:
        got = {tuple(r) for r in q(spark).collect()}
        want = {tuple(r) for r in duck.sql(sql).fetchall()}
        assert got == want, q.__name__


def test_hamming_code_matches_vector_signs(spark, sf_dir):
    """The packed BIGINT code must agree bit-for-bit with the vector's
    signs, including bit 63 (the two's-complement wrap both engines
    need as a pre-wrapped literal)."""
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators.similarity import (
        _sign_code_expr,
        _vec_double,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.select("vec_id", _vec_double().alias("v"))
        .select("vec_id", "v", _sign_code_expr("v").alias("code"))
        .limit(20)
        .collect()
    )
    assert rows
    for r in rows:
        expect = 0
        for i, x in enumerate(r.v):
            if x > 0:
                expect |= 1 << i
        # reinterpret as signed 64-bit (bit 63 set -> negative)
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert r.code == expect, r.vec_id


def test_hamming_topk_reranks_within_shortlist(spark, sf_dir):
    """Every returned neighbor must come from the Hamming shortlist
    (subset property), carry the exact 6dp cosine, and rank densely."""
    from audience_manager_platform_spark.operators.similarity import (
        cosine_topk,
        hamming_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    got = hamming_topk(emb, qids, k=5).collect()
    assert got
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, qids, k=10**6).collect()
    }
    by_q = {}
    for r in got:
        assert 0 <= r.hamming <= 64
        # re-rank cosine equals the exact scan's 6dp cosine for the pair
        assert r.cosine == exact[(r.query_id, r.neighbor_id)]
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_hamming_topk_partition_invariant(spark, sf_dir):
    from audience_manager_platform_spark.operators.similarity import (
        hamming_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    a = key(hamming_topk(emb.repartition(1), [0, 1], k=4).collect())
    b = key(hamming_topk(emb.repartition(13), [0, 1], k=4).collect())
    assert a == b and a


def test_matryoshka_recall_monotone_tail(spark, sf_dir):
    """The full-dim prefix must reproduce the exact scan (recall 1.0),
    every recall must be in [0, 1], and hits must be <= total pairs."""
    from audience_manager_platform_spark.operators.similarity import (
        EMBED_DIM,
        matryoshka_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    rows = {r.dim_prefix: r for r in matryoshka_recall(emb, qids, k=5).collect()}
    assert set(rows) == {8, 16, 32, 64}
    for m, r in rows.items():
        assert 0.0 <= r.recall_at_k <= 1.0, m
        assert 0 <= r.hits <= len(qids) * 5
    assert rows[EMBED_DIM].recall_at_k == 1.0


def test_ivf_ingest_stream_matches_batch_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """The settled inverted-lists log must equal the one-shot batch
    assignment exactly, and re-processing the same files with a FRESH
    checkpoint (worst-case replay) must not change the log."""
    import glob
    import shutil
    from functools import partial

    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators.similarity import (
        _assign_inline,
        _vec_double,
        kmeans_fit_model,
    )
    from audience_manager_platform_spark.streaming.jobs import (
        fold_stream,
        ivf_ingest_fold,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = kmeans_fit_model(emb, iters=1)
    land = tmp_path / "land"
    land.mkdir()
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"chunk{i}"))
        src = glob.glob(str(tmp_path / f"chunk{i}" / "*.parquet"))[0]
        shutil.copy(src, land / f"{i:02d}.parquet")

    def run(ckpt):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )
        fold_stream(
            stream,
            partial(ivf_ingest_fold, model=model),
            str(tmp_path / "lists"),
            str(tmp_path / ckpt),
            append=True,
        )

    run("ckpt1")
    log = {
        (r.vec_id, r.cent_id, r.csim)
        for r in spark.read.parquet(str(tmp_path / "lists")).collect()
    }
    batch = {
        (r.vec_id, r.cent_id, r.csim)
        for r in _assign_inline(
            emb.select("vec_id", _vec_double().alias("v")), model
        )
        .select("vec_id", "cent_id", "csim")
        .collect()
    }
    assert log == batch and log
    run("ckpt2")  # full replay: fresh checkpoint re-reads every file
    log2_rows = spark.read.parquet(str(tmp_path / "lists")).collect()
    assert len(log2_rows) == len(log)
    assert {(r.vec_id, r.cent_id, r.csim) for r in log2_rows} == log


def test_chunk_maxsim_recall_bounds(spark, sf_dir):
    """Gated recall is in [0, 1] per query, and with n_probes == n_cells
    (no gating) it must be exactly 1.0 everywhere."""
    from pyspark.sql import functions as F  # noqa: F401

    from audience_manager_platform_spark.operators.hybrid import (
        MAXSIM_CELLS,
        chunk_cell_index,
        chunk_maxsim_ivf_topk,
        chunk_maxsim_recall_eval,
        chunk_maxsim_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    qids = [0, 100, 200]
    idx = chunk_cell_index(docs)
    rows = chunk_maxsim_recall_eval(docs, qids, k=3, index=idx).collect()
    assert {r.query_id for r in rows} <= set(qids)
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
    # probing every cell removes the gate entirely -> exact results
    full = chunk_maxsim_ivf_topk(
        docs, qids, k=3, n_probes=MAXSIM_CELLS, index=idx
    )
    exact = chunk_maxsim_topk(docs, qids, k=3)
    key = lambda rs: sorted(  # noqa: E731
        (r.query_id, r.rank, r.doc_id, r.maxsim) for r in rs
    )
    assert key(full.collect()) == key(exact.collect())


# ---------------------------------------------------------------- wave 24
def _mk_events(spark, rows):
    """rows: (event_id, ts_str, user_id, event_type, value, props)"""
    return spark.createDataFrame(
        [
            (i, ts, u, et, v, p)
            for i, (ts, u, et, v, p) in enumerate(rows)
        ],
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id",
        "CAST(ts_s AS TIMESTAMP) AS ts",
        "user_id",
        "event_type",
        "value",
        "props",
    )


def test_ewma_anomaly_flags_planted_spike_and_dip(spark):
    from audience_manager_platform_spark.operators.timeseries import (
        ewma_anomaly,
    )

    rows = []
    # stable 100.00/day for 5 days, then a 10x spike, then a collapse
    for d in range(1, 6):
        rows.append((f"2024-01-0{d} 10:00:00", 1, "buy", 100.0, None))
    rows.append(("2024-01-06 10:00:00", 1, "buy", 1000.0, None))
    rows.append(("2024-01-07 10:00:00", 1, "buy", 1.0, None))
    out = {
        r.day: r for r in ewma_anomaly(_mk_events(spark, rows)).collect()
    }
    assert out["2024-01-01"].verdict == "warmup"
    assert out["2024-01-01"].ewma_cents_e6 is None
    for d in range(2, 6):
        assert out[f"2024-01-0{d}"].verdict == "ok"
    assert out["2024-01-06"].verdict == "spike"
    # baseline before the spike is exactly 100.00 -> 1e8 micro-cents
    assert out["2024-01-06"].ewma_cents_e6 == 10_000 * 10**6
    assert out["2024-01-07"].verdict == "dip"


def test_partition_completeness_flags_missing_and_low_days(spark):
    from audience_manager_platform_spark.operators.validation import (
        partition_completeness,
    )

    rows = []
    # 10 rows/day for days 1..8; day 9 absent; day 10 has 1 row (low)
    for d in list(range(1, 9)) + [10]:
        n = 10 if d != 10 else 1
        for i in range(n):
            rows.append((f"2024-01-{d:02d} 0{i % 10}:00:00", 1, "e", 1.0, None))
    out = {
        r.day: r
        for r in partition_completeness(_mk_events(spark, rows)).collect()
    }
    assert len(out) == 10  # dense grid: the absent day still has a row
    for d in range(1, 8):
        assert out[f"2024-01-{d:02d}"].verdict == "warmup"
    assert out["2024-01-08"].verdict == "ok"
    assert out["2024-01-08"].trail_med7 == 10
    assert out["2024-01-09"].verdict == "missing"
    assert out["2024-01-09"].n_rows == 0
    assert out["2024-01-10"].verdict == "low"


def test_compaction_plan_packs_small_and_keeps_large(spark):
    from audience_manager_platform_spark.operators.maintenance import (
        compaction_plan,
    )

    rows = []
    # one huge (type, day) partition >= target, and 6 small ones
    big_props = "x" * 500
    for i in range(30):
        rows.append(("2024-01-01 10:00:00", 1, "big", 1.0, big_props))
    for d in range(2, 8):
        rows.append((f"2024-01-0{d} 10:00:00", 1, "small", 1.0, "y" * 10))
    out = compaction_plan(
        _mk_events(spark, rows), target_bytes=10_000
    ).collect()
    by_bin = {r.bin_id: r for r in out}
    # the big partition (30 * (500 + 3 + 64) = 17010 bytes) is kept as-is
    assert by_bin[-1].n_files == 1
    assert by_bin[-1].tot_bytes == 30 * (500 + 3 + 64)
    # all six small partitions (79 bytes each) pack into bin 0
    assert by_bin[0].n_files == 6
    assert by_bin[0].tot_bytes == 6 * (10 + 5 + 64)
    assert by_bin[0].fill_ppm == by_bin[0].tot_bytes * 1_000_000 // 10_000
    assert set(by_bin) == {-1, 0}
    # conservation: every file lands somewhere
    assert sum(r.n_files for r in out) == 7


def test_url_canonical_dedup_collapses_planted_variants(spark, sf_dir):
    from audience_manager_platform_spark.operators.dedup import (
        url_canonical_dedup,
    )
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = url_canonical_dedup(docs).collect()
    canon = {r.canonical_url: r for r in out}
    for url, r in canon.items():
        # canonical invariants hold for every group key
        assert url == url.lower()
        assert "utm_" not in url
        assert "#" not in url
        assert "www." not in url
        assert not url.endswith("/") or "?" in url
        assert not url.endswith("?") and not url.endswith("&")
        # keeper is the smallest doc in its group (min aggregation)
        assert r.keeper_doc >= 0
    # variants actually collapse: strictly fewer groups than docs,
    # and at least one group merges >= 2 distinct raw spellings
    n_docs = docs.count()
    assert len(out) < n_docs
    assert any(r.n_raw_variants >= 2 for r in out)
    # conservation: group sizes sum to the doc count
    assert sum(r.n_urls for r in out) == n_docs


def test_phash_neardup_registry_entry_finds_planted_twins(spark, sf_dir):
    """The rows-only registry entry must keep the planted-twin recall
    contract: every (d-1, d) twin pair survives banding + the hamming
    cut except the measured tail (hamming > 6 after perturbation)."""
    from audience_manager_platform_spark.registry.textops import D_PHASH

    pairs = {(r.doc_a, r.doc_b) for r in D_PHASH(spark, sf_dir).collect()}
    planted = {(d - 1, d) for d in range(10, 500, 10)}
    found = planted & pairs
    # >= 90% planted-twin recall at the conventional <= 6 cutoff
    assert len(found) >= int(0.9 * len(planted))


def test_weak_label_votes_hand_computed(spark):
    """4 hand-built docs: every LF's coverage/accuracy and the majority
    ensemble grade are computed by hand.

    doc0 en  'the cat sat of and'   -> the=1, hits(the,of,and)=3 ->1, art(a/and/of)>=2 ->1, maj=1
    doc1 en  'cat sat mat'          -> the=0, hits=0 ->0, art=0 -> abstain, maj=0
    doc2 de  'der hund a'           -> the=0, hits('a')=1 -> abstain, art=1 -> abstain, maj=0
    doc3 de  'the a of und'         -> the=1, hits=3 ->1, art>=2 ->1, maj=1 (a fooled trio)
    """
    from audience_manager_platform_spark.operators.text import (
        weak_label_votes,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat sat of and", "en"),
            (1, "cat sat mat", "en"),
            (2, "der hund a", "de"),
            (3, "the a of und", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.labeler: r for r in weak_label_votes(docs).collect()}
    assert set(out) == {"lf_the", "lf_hits", "lf_articles", "majority"}
    # lf_the votes on all 4; correct on doc0 (1=1), doc1 (0? voted 0, gold 1 -> wrong),
    # doc2 (0=0 correct), doc3 (1 vs 0 wrong) => 2/4
    assert out["lf_the"].n_votes == 4
    assert out["lf_the"].coverage_e6 == 1_000_000
    assert out["lf_the"].accuracy_e6 == 500_000
    # lf_hits votes on doc0 (1 ok), doc1 (0 wrong), doc3 (1 wrong) => 1/3
    assert out["lf_hits"].n_votes == 3
    assert out["lf_hits"].coverage_e6 == 750_000
    assert out["lf_hits"].accuracy_e6 == 333_333
    # lf_articles votes on doc0 (1 ok) and doc3 (1 wrong) => 1/2
    assert out["lf_articles"].n_votes == 2
    assert out["lf_articles"].accuracy_e6 == 500_000
    # majority: doc0 ->1 ok; doc1 votes {0,0} ->0 wrong; doc2 {0} ->0 ok;
    # doc3 {1,1,1} ->1 wrong => 2/4
    assert out["majority"].n_votes == 4
    assert out["majority"].accuracy_e6 == 500_000


def test_phash_kernel_environment_pin(spark, sf_dir):
    """Environment-drift canary for the one rows-only registry entry:
    the pHash DCT rides numpy/BLAS float behavior (matmul summation
    order is vendor-specific), so the exact 64-bit fingerprints of the
    first 64 fixture BMPs are pinned. If this fails after a
    numpy/BLAS/arrow change, the DCT bit pattern moved — re-pin AND
    expect the rows-only count of multimodal_phash_neardup to shift
    (same lesson as the r4-r5 ADC round() divergence: catch library
    drift in a named canary, not in a red driver row)."""
    import hashlib

    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators.multimodal import (
        phash64,
        synthesize_textured_bmp,
    )
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    rows = sorted(
        (r.doc_id, r.phash)
        for r in phash64(synthesize_textured_bmp(docs)).collect()
    )
    assert len(rows) == 64
    assert rows[0] == (0, 2008424753268054785)
    sha = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert sha == (
        "8ba96e9e7d4ab95af3522d757065a65c238e5593428ba2240730b1a2ca40af60"
    )


def test_pit_feature_leakage_hand_computed(spark):
    """user 1: day-1 spend 100.00; day-2 purchase at noon followed by a
    15:00 spend of 200.00. The PIT feature for that purchase is day-1's
    total (servable at day-2 midnight); the naive same-day join reads
    day-2's own total — which includes the 15:00 event that happens
    AFTER the label — so the label counts as leaky. user 2 purchases on
    their first day: no PIT feature exists, naive invents one -> leaky."""
    from audience_manager_platform_spark.operators.relational import (
        pit_feature_leakage,
    )

    rows = [
        (0, "2024-01-01 10:00:00", 1, "view", 100.0, None),
        (1, "2024-01-02 12:00:00", 1, "purchase", 50.0, None),
        (2, "2024-01-02 15:00:00", 1, "view", 200.0, None),
        (3, "2024-01-03 09:00:00", 2, "purchase", 10.0, None),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    )
    out = {r.label_day: r for r in pit_feature_leakage(events).collect()}
    assert set(out) == {"2024-01-02", "2024-01-03"}
    d2 = out["2024-01-02"]
    assert (d2.n_labels, d2.n_with_pit, d2.n_naive_leaky) == (1, 1, 1)
    assert d2.pit_cents_sum == 10_000  # day-1's 100.00, NOT day-2's 250.00
    d3 = out["2024-01-03"]
    assert (d3.n_labels, d3.n_with_pit, d3.n_naive_leaky) == (1, 0, 1)
    assert d3.pit_cents_sum == 0


def test_langid_calibration_hand_computed(spark):
    """3 docs in one bin, exact integer arithmetic end-to-end:
    'the of and' (en) -> h=3, p_e6 = 3e6 div 6 = 500000 (bin 2)
    'the a x'    (en) -> h=2, p_e6 = 2e6 div 5 = 400000 (bin 2)
    'the und x'  (de) -> h=1, p_e6 = 1e6 div 4 = 250000 (bin 1)
    bin 2: n=2, mean_pred = (500000+400000) div 2 = 450000,
           obs = 2*1e6 div 2 = 1000000, gap = 550000.
    bin 1: n=1, mean_pred = 250000, obs = 0, gap = 250000."""
    from audience_manager_platform_spark.operators.text import (
        langid_calibration,
    )

    docs = spark.createDataFrame(
        [
            (0, "the of and", "en"),
            (1, "the a x", "en"),
            (2, "the und x", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.bin_id: r for r in langid_calibration(docs).collect()}
    assert set(out) == {1, 2}
    assert (out[2].n_docs, out[2].mean_pred_e6) == (2, 450_000)
    assert (out[2].obs_en_e6, out[2].gap_e6) == (1_000_000, 550_000)
    assert (out[1].n_docs, out[1].mean_pred_e6) == (1, 250_000)
    assert (out[1].obs_en_e6, out[1].gap_e6) == (0, 250_000)
