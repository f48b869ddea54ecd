"""SCD2 / CDC / stratified-sampling / curation-ledger semantics on
planted fixtures (the oracle gate pins the fixture-scale behavior; these
pin edge semantics: run collapsing, tie-breaks, rate bounds)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from audience_manager_platform_spark.operators import corpus as C
from audience_manager_platform_spark.operators import merge as MG


@pytest.fixture(scope="module")
def changes(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: A, A (collapses), B, A  -> 3 intervals
        (1, 1, t0, "A", 10.0),
        (2, 1, t0 + dt.timedelta(minutes=1), "A", 11.0),
        (3, 1, t0 + dt.timedelta(minutes=2), "B", 12.0),
        (4, 1, t0 + dt.timedelta(minutes=3), "A", 13.0),
        # user 2: single event -> one open interval
        (5, 2, t0, "C", 20.0),
        # user 3: simultaneous ts, event_id breaks the tie
        (6, 3, t0, "X", 30.0),
        (7, 3, t0, "Y", 31.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )


def test_scd2_collapses_runs_and_orders_ties(changes):
    hist = MG.scd2_history(changes).collect()
    u1 = sorted([r for r in hist if r.user_id == 1], key=lambda r: r.valid_from)
    assert [r.state for r in u1] == ["A", "B", "A"]
    # intervals chain: valid_to of each run == valid_from of the next
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to is None and u1[2].is_current
    u2 = [r for r in hist if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current
    # simultaneous events: event_id breaks the tie, so X (id 6) closes
    # when Y (id 7) opens, and Y is the current state
    u3 = {r.state: r for r in hist if r.user_id == 3}
    assert set(u3) == {"X", "Y"}
    assert u3["X"].valid_to == u3["Y"].valid_from and not u3["X"].is_current
    assert u3["Y"].is_current


def test_cdc_latest_wins_with_tiebreak(changes):
    latest = {r.user_id: r for r in MG.cdc_latest_state(changes).collect()}
    assert latest[1].last_state == "A" and latest[1].last_event_id == 4
    assert latest[2].last_state == "C"
    # same ts: higher event_id wins
    assert latest[3].last_state == "Y" and latest[3].last_event_id == 7


def test_stratified_sample_rates_and_determinism(changes):
    big_rows = [(i, i % 7, "keep" if i % 2 == 0 else "drop") for i in range(2000)]
    df = changes.sparkSession.createDataFrame(
        big_rows, "event_id long, user_id long, event_type string"
    )
    frac = {"keep": 0.3}
    s1 = C.stratified_sample(df, "event_type", frac, "event_id")
    got = s1.collect()
    # strata without a fraction are dropped entirely
    assert all(r.event_type == "keep" for r in got)
    # rate lands near 30% of the 1000 keep rows (hash is uniform-ish)
    assert 230 <= len(got) <= 370
    # exact determinism across invocations
    assert sorted(r.event_id for r in got) == sorted(
        r.event_id for r in C.stratified_sample(df, "event_type", frac, "event_id").collect()
    )
    # sampling decision is per-row: a subset input yields a subset sample
    sub = C.stratified_sample(
        df.filter(F.col("event_id") < 1000), "event_type", frac, "event_id"
    ).collect()
    assert {r.event_id for r in sub} == {r.event_id for r in got if r.event_id < 1000}


def test_curation_ledger_verdict_composition(spark):
    docs = spark.createDataFrame(
        [
            (0, "the is and of to quick brown fox jumps over lazy dog again today " * 5),
            (1, "the is and of to quick brown fox jumps over lazy dog again today " * 5),
            (2, "zz qq xx"),  # fails quality (no stopwords, too short)
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    led = {r.doc_id: r for r in C.curation_ledger(docs, bench).collect()}
    assert len(led) == 3
    # doc 1 duplicates doc 0 and both share benchmark grams
    assert led[1].is_duplicate and not led[0].is_duplicate
    assert led[0].contaminated and led[1].contaminated
    assert not led[2].keep_quality
    # nothing survives: 0 contaminated, 1 dup+contaminated, 2 low quality
    assert not any(led[i].selected for i in led)
    assert all(led[i].split in ("train", "val", "test") for i in led)


def test_heavy_hitters_exact_under_any_partitioning(spark):
    from audience_manager_platform_spark.operators.skew import heavy_hitters

    # 3 heavy values on a long tail; k=10 -> threshold n/10
    rows = (
        [("hot-a",)] * 300 + [("hot-b",)] * 200 + [("warm",)] * 90
        + [(f"cold-{i}",) for i in range(410)]
    )
    df = spark.createDataFrame(rows, "v string")
    n = len(rows)
    expected = {("hot-a", 300), ("hot-b", 200)}  # warm: 90 < n/10 = 100
    for parts in (1, 7):
        got = {
            (r.v, r.freq)
            for r in heavy_hitters(df.repartition(parts), "v", k=10).collect()
        }
        assert got == expected, parts


def test_scd2_cdc_consistency_on_random_history(spark):
    """Model check: on a randomized (seeded) changelog, the SCD2 open
    interval per user must agree with the CDC latest-wins state, and the
    closed intervals must tile the user's history without gaps or
    overlaps."""
    import random

    rng = random.Random(42)
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for uid in range(30):
        for _ in range(rng.randint(1, 12)):
            eid += 1
            rows.append(
                (
                    eid,
                    uid,
                    t0 + dt.timedelta(minutes=rng.randint(0, 500)),
                    rng.choice("ABC"),
                    float(rng.randint(1, 100)),
                )
            )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    hist = MG.scd2_history(df).collect()
    latest = {r.user_id: r.last_state for r in MG.cdc_latest_state(df).collect()}
    by_user: dict = {}
    for r in hist:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(latest)
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        open_ivs = [r for r in ivs if r.valid_to is None]
        assert len(open_ivs) == 1 and open_ivs[0] is ivs[-1]
        assert ivs[-1].state == latest[uid]  # open interval == CDC state
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from  # tiling: no gap, no overlap
            assert a.state != b.state  # runs are maximal


def test_scd2_incremental_merge_equals_batch(spark):
    """Folding the changelog in two micro-batches through the change-point
    log must reproduce the one-shot SCD2 exactly (same intervals, same
    open states), including runs that span the batch boundary."""
    import random

    rng = random.Random(7)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for eid in range(300):
        rows.append(
            (
                eid,
                eid % 20,
                t0 + dt.timedelta(minutes=eid),
                rng.choice("AB"),  # few states -> many boundary-spanning runs
                1.0,
            )
        )
    schema = "event_id long, user_id long, ts timestamp, event_type string, value double"
    full = spark.createDataFrame(rows, schema)
    cut = t0 + dt.timedelta(minutes=150)
    b1 = full.filter(F.col("ts") < cut)
    b2 = full.filter(F.col("ts") >= cut)

    log1 = MG.scd2_merge_batch(None, b1)
    log = log1.unionByName(MG.scd2_merge_batch(log1, b2))
    got = {
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in MG.scd2_intervals_view(log).collect()
    }
    want = {
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in MG.scd2_history(full).collect()
    }
    assert got == want


def test_scd2_maintenance_stream_end_to_end(spark, sf_dir, tmp_path):
    from audience_manager_platform_spark.sources import load_table
    from audience_manager_platform_spark.streaming.jobs import (
        fold_stream,
        stream_events,
    )

    events = stream_events(spark, sf_dir)
    hist_dir = str(tmp_path / "scd2_log")
    fold_stream(
        events, MG.scd2_merge_batch, hist_dir, str(tmp_path / "ckpt"), append=True
    )
    got = {
        (r.user_id, r.state, r.valid_from, r.valid_to)
        for r in MG.scd2_intervals_view(spark.read.parquet(hist_dir)).collect()
    }
    want = {
        (r.user_id, r.state, r.valid_from, r.valid_to)
        for r in MG.scd2_history(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_new_operators_on_empty_input(spark):
    """Empty-relation behavior: every warehouse/curation operator must
    return an empty, correctly-typed frame (S8's contract extended to the
    extension surface) rather than raising."""
    from audience_manager_platform_spark.operators.skew import heavy_hitters
    from audience_manager_platform_spark.operators import similarity as S

    empty_ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    assert MG.scd2_history(empty_ev).count() == 0
    assert MG.cdc_latest_state(empty_ev).count() == 0
    assert heavy_hitters(empty_ev, "user_id", k=5).count() == 0
    assert (
        C.stratified_sample(empty_ev, "event_type", {"x": 0.5}, "event_id").count()
        == 0
    )
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    led = C.curation_ledger(empty_docs, empty_docs)
    assert led.count() == 0
    assert set(led.columns) == {
        "doc_id", "keep_quality", "is_duplicate", "contaminated",
        "n_tokens", "split", "selected",
    }
    # k-means on fewer vectors than centroids: every vector is its own seed
    tiny = spark.createDataFrame(
        [(i, [float(i + 1)] * 64) for i in range(3)],  # no zero vectors
        "vec_id long, embedding array<float>",
    )
    out = S.kmeans_clusters(tiny, k=8, iters=1).collect()
    assert sum(r.size for r in out) == 3


def test_corpus_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    from audience_manager_platform_spark.operators.dedup import exact_dedup
    from audience_manager_platform_spark.sources import load_table
    from audience_manager_platform_spark.streaming.jobs import (
        corpus_dedup_fold,
        fold_stream,
        stream_docs,
    )

    # cross-batch: batch 2 re-sends batch-1 content under new ids -> all dropped
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(10, "Alpha  BETA gamma!"), (11, "zeta eta")], "doc_id long, text string"
    )
    log1 = corpus_dedup_fold(None, b1)
    log2 = corpus_dedup_fold(log1, b2)
    assert {r.doc_id for r in log1.collect()} == {1, 2}
    assert {r.doc_id for r in log2.collect()} == {11}  # 10 dups 1 after normalize

    # end-to-end stream over the fixture == batch exact_dedup canonicals
    log_dir = str(tmp_path / "fp_log")
    fold_stream(
        stream_docs(spark, sf_dir),
        corpus_dedup_fold,
        log_dir,
        str(tmp_path / "ckpt2"),
        append=True,
    )
    got = {(r.fingerprint, r.doc_id) for r in spark.read.parquet(log_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.fingerprint, r.canonical_id)
        for r in exact_dedup(docs).select("fingerprint", "canonical_id").distinct().collect()
    }
    assert got == want


def test_scd2_merge_batch_replay_is_idempotent(spark):
    """A crash between the log append and the checkpoint commit replays
    the batch (foreachBatch is at-least-once); re-folding an
    already-committed batch must contribute ZERO new change points, for
    multi-run batches too — the case the boundary check alone misses."""
    rows = [
        (0, 1, dt.datetime(2024, 3, 1, 10, 0), "A", 1.0),
        (1, 1, dt.datetime(2024, 3, 1, 11, 0), "B", 1.0),  # 2nd run
        (2, 1, dt.datetime(2024, 3, 1, 12, 0), "A", 1.0),  # 3rd run
        (3, 2, dt.datetime(2024, 3, 1, 10, 30), "C", 1.0),
    ]
    schema = "event_id long, user_id long, ts timestamp, event_type string, value double"
    batch = spark.createDataFrame(rows, schema)
    log = MG.scd2_merge_batch(None, batch)
    assert log.count() == 4  # 3 runs for user 1 + 1 for user 2
    replayed = MG.scd2_merge_batch(log, batch)
    assert replayed.count() == 0
    # and a genuinely new change still lands after the replay
    nxt = spark.createDataFrame(
        [(4, 1, dt.datetime(2024, 3, 1, 13, 0), "B", 1.0)], schema
    )
    assert MG.scd2_merge_batch(log, nxt).count() == 1


def test_scd2_merge_batch_replay_after_suppressed_start(spark):
    """The nasty replay case: a batch whose initial start CONTINUES the
    stored state (so it is suppressed) and then changes state. After the
    first fold the stored latest has advanced to the batch's final
    state; a replay must still suppress the batch-initial start — the
    boundary check has to compare against the latest point BEFORE the
    batch, not the overall latest."""
    schema = "event_id long, user_id long, ts timestamp, event_type string, value double"
    b0 = spark.createDataFrame(
        [(0, 1, dt.datetime(2024, 3, 1, 9, 0), "A", 1.0)], schema
    )
    log = MG.scd2_merge_batch(None, b0)  # stored: (A @ 9:00)
    batch = spark.createDataFrame(
        [
            (1, 1, dt.datetime(2024, 3, 1, 10, 0), "A", 1.0),  # continues A
            (2, 1, dt.datetime(2024, 3, 1, 11, 0), "B", 1.0),  # new run
        ],
        schema,
    )
    delta = MG.scd2_merge_batch(log, batch)
    got = [(r.state, r.valid_from) for r in delta.collect()]
    assert got == [("B", dt.datetime(2024, 3, 1, 11, 0))]  # A@10:00 suppressed
    log2 = log.unionByName(delta)
    # crash-replay of the same batch: zero new points, A@10:00 stays out
    assert MG.scd2_merge_batch(log2, batch).count() == 0


def test_heavy_hitters_ignores_nulls(spark):
    """Null keys must neither crash the Arrow stage (NaN dict keys) nor
    silently skew the threshold: hitters are exact over NON-NULL rows."""
    from audience_manager_platform_spark.operators.skew import heavy_hitters

    rows = [(None,)] * 50 + [(7,)] * 30 + [(8,)] * 5 + [(9,)] * 5
    df = spark.createDataFrame(rows, "uid long").repartition(4)
    got = {(r.uid, r.freq) for r in heavy_hitters(df, "uid", k=2).collect()}
    # non-null n = 40; only 7 (30 > 40/2) clears the bar; NULL never appears
    assert got == {(7, 30)}


def test_validate_table_verdicts(spark):
    from audience_manager_platform_spark.operators.validation import validate_table

    df = spark.createDataFrame(
        [
            (1, "view", 10.0),
            (2, "click", -5.0),   # range violation
            (2, "weird", 20.0),   # dup id + unacceptable type
            (None, "view", 30.0),  # null id (also not unique-relevant)
        ],
        "id long, kind string, v double",
    )
    out = {
        (r.constraint_kind, r.col_name): r
        for r in validate_table(
            df,
            [
                ("not_null", "id"),
                ("unique", "id"),
                ("range", "v", 0.0, 25.0),
                ("accepted_values", "kind", ["view", "click"]),
                ("min_rows", 3),
            ],
        ).collect()
    }
    assert out[("not_null", "id")].observed == 1 and not out[("not_null", "id")].passed
    # 4 rows - 2 distinct non-null ids: the dup AND the null row count
    # toward the uniqueness deficit (COUNT DISTINCT skips NULL)
    assert out[("unique", "id")].observed == 2 and not out[("unique", "id")].passed
    assert out[("range", "v")].observed == 2  # -5 and 30
    assert out[("accepted_values", "kind")].observed == 1
    assert out[("min_rows", "*")].observed == 4 and out[("min_rows", "*")].passed


def test_daily_anomalies_flags_planted_spike(spark):
    from audience_manager_platform_spark.operators.analytics import daily_anomalies

    rows = []
    eid = 0
    for day in range(1, 15):
        # mild day-to-day variation (so trailing std > 0), one 10x spike
        total = 100.0 + day if day != 10 else 1000.0
        for _ in range(4):
            eid += 1
            rows.append(
                (eid, 1, dt.datetime(2024, 5, day, 12, 0), "view", total / 4)
            )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    out = {r.day: r for r in daily_anomalies(df, window=7, z_threshold=2.0).collect()}
    assert len(out) == 14
    # first two days: <2 trailing observations -> no zscore, never flagged
    assert out["2024-05-01"].zscore is None and not out["2024-05-01"].is_anomaly
    assert out["2024-05-02"].zscore is None and not out["2024-05-02"].is_anomaly
    # ordinary drifting days stay unflagged; the 10x spike fires
    assert not out["2024-05-09"].is_anomaly
    assert out["2024-05-10"].is_anomaly  # the planted spike


def test_round2_wave3_operators_on_empty_input(spark):
    """Empty-relation contract for the validation / anomaly / mixture /
    binning / shuffle additions."""
    from audience_manager_platform_spark.operators.analytics import daily_anomalies
    from audience_manager_platform_spark.operators.validation import validate_table

    empty_ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    # expectations still emit one verdict row per constraint (counts are
    # 0 over zero rows; min_rows fails honestly)
    v = {
        (r.constraint_kind, r.col_name): r
        for r in validate_table(
            empty_ev, [("not_null", "user_id"), ("min_rows", 1)]
        ).collect()
    }
    assert v[("not_null", "user_id")].passed
    assert not v[("min_rows", "*")].passed and v[("min_rows", "*")].observed == 0
    assert daily_anomalies(empty_ev).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert C.mixture_weights(empty_docs).count() == 0
    qb = C.quality_bins(empty_docs)
    assert qb.count() == 0
    assert [f.name for f in qb.schema.fields] == ["doc_id", "quality_score", "quality_bin"]
    assert C.shuffle_shards(empty_docs).count() == 0
