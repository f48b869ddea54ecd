"""Structured Streaming slice: availableNow-driven runs equal their batch
equivalents; foreachBatch drives the segment-refresh loop."""

import pytest
from pyspark.sql import functions as F

from audience_manager_platform_spark.sources import load_table
from audience_manager_platform_spark.streaming.jobs import (
    run_available_now,
    segment_refresh_stream,
    sessionize,
    stream_events,
    windowed_event_counts,
)


def test_streaming_window_counts_equal_batch(spark, sf_dir):
    events = stream_events(spark, sf_dir)
    result = windowed_event_counts(events, window="1 day", watermark="1 hour")
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in run_available_now(result).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in (
            load_table(spark, sf_dir, "events")
            .groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        ).collect()
    }
    assert streamed == batch


def test_sliding_window(spark, sf_dir):
    events = stream_events(spark, sf_dir)
    result = windowed_event_counts(events, window="2 days", slide="1 day")
    rows = run_available_now(result).collect()
    # sliding: every event lands in 2 windows -> total count doubles
    total = sum(r.n_events for r in rows)
    assert total == load_table(spark, sf_dir, "events").count() * 2


def test_sessionize_gap_semantics(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1.0),
        (1, datetime(2024, 1, 1, 10, 20), 1.0),  # same session (gap 20m)
        (1, datetime(2024, 1, 1, 11, 0), 1.0),  # new session (gap 40m)
        (2, datetime(2024, 1, 1, 10, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sessionize(df, gap="30 minutes").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append((r.session_start, r.n_events))
    assert sorted(per_user[1]) == [
        ("2024-01-01 10:00:00", 2),
        ("2024-01-01 11:00:00", 1),
    ]
    assert per_user[2] == [("2024-01-01 10:00:00", 1)]


class _StubQuery:
    """A streaming query whose ``awaitTermination`` returns ``drained``."""

    def __init__(self, drained):
        self.drained, self.timeout, self.stopped = drained, None, False

    def awaitTermination(self, timeout=None):
        self.timeout = timeout
        return self.drained

    def stop(self):
        self.stopped = True


def test_settle_stops_and_raises_when_backlog_does_not_drain():
    """A query still running at the timeout has written partial state:
    ``_settle`` stops it and raises rather than return as if settled."""
    from audience_manager_platform_spark.streaming import jobs

    q = _StubQuery(drained=False)
    with pytest.raises(TimeoutError):
        jobs._settle(q)
    assert q.stopped and q.timeout == jobs.SETTLE_TIMEOUT_S
    q = _StubQuery(drained=True)
    jobs._settle(q)
    assert q.stopped


def test_read_state_or_none_skips_reading_a_missing_dir(spark, tmp_path, monkeypatch):
    """A state dir that no batch has written yet is None before any read:
    reading a missing path logs a WARN with a Java stack trace first. It
    starts no job to find out. An empty dir is None too, and a written
    one reads back."""
    from audience_manager_platform_spark.streaming import jobs

    sc = spark.sparkContext
    group = "test:read_state_missing"
    sc.setJobGroup(group, None)
    try:
        with monkeypatch.context() as m:
            m.setattr(
                type(spark), "read", property(lambda s: pytest.fail("read a missing dir"))
            )
            assert jobs._read_state_or_none(spark, str(tmp_path / "state")) is None
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    (tmp_path / "empty").mkdir()
    assert jobs._read_state_or_none(spark, str(tmp_path / "empty")) is None
    spark.range(3).write.parquet(str(tmp_path / "written"))
    assert jobs._read_state_or_none(spark, str(tmp_path / "written")).count() == 3


def test_foreach_batch_segment_refresh(spark, sf_dir, tmp_path):
    from audience_manager_platform_spark.catalog import Catalog
    from audience_manager_platform_spark.engine import AudienceEngine
    from audience_manager_platform_spark.sources import (
        unified_transactions_from_events,
    )

    txns = unified_transactions_from_events(load_table(spark, sf_dir, "events"))
    engine = AudienceEngine(spark, Catalog(str(tmp_path / "cat")), lambda: txns)
    rule = engine.create_rule(
        "stream_refresh", [{"field": "transaction_amount", "operator": ">", "value": "120"}]
    )
    events = stream_events(spark, sf_dir)
    segment_refresh_stream(
        events, engine, rule.rule_id, checkpoint_dir=str(tmp_path / "ckpt")
    )
    meta = engine.catalog.get_segment(rule.rule_id)
    assert meta.row_count and meta.row_count > 0
    assert engine.read_segment(rule.rule_id).count() == meta.row_count


def test_watermark_drops_late_events(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): batch 1 advances the
    watermark; a batch-2 event older than the watermark is dropped from
    its (already-finalized) window — the explicit late-data semantics the
    reference's scheduled-batch model never defines."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime
    from pyspark.sql import functions as F

    staging = tmp_path / "landing"
    staging.mkdir()

    def write_file(name, rows):
        table = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
        pq.write_table(table, staging / name)
        # FileStreamSource orders the backlog by modification time; three
        # files written back-to-back can share an mtime millisecond,
        # making per-batch order (and therefore which event is "late")
        # nondeterministic. Stamp strictly increasing mtimes.
        import os as _os

        mtime = 1_700_000_000 + int(name.split(".")[0])
        _os.utime(staging / name, (mtime, mtime))

    d = datetime
    write_file(
        "00.parquet",
        [
            (1, d(2024, 1, 1, 10, 5), 1.0),
            (1, d(2024, 1, 1, 10, 20), 1.0),
            (1, d(2024, 1, 1, 12, 0), 1.0),  # advances watermark to 11:30
        ],
    )
    # watermark propagation lags one batch: the [10:00,11:00) window is
    # finalized/emitted during THIS batch (using batch-0's watermark) ...
    write_file("01.parquet", [(1, d(2024, 1, 1, 12, 10), 1.0)])
    # ... so a later 10:15 arrival is late against a closed window
    write_file(
        "02.parquet",
        [
            (1, d(2024, 1, 1, 10, 15), 1.0),  # LATE: dropped
            (1, d(2024, 1, 1, 12, 40), 1.0),
        ],
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("win.start", "HH:mm").alias("w"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_watermark")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    terminated = q.awaitTermination(300)
    q.stop()
    out = {r.w: r.n for r in spark.table("t_watermark").collect()}
    # the 10:00 window finalized with 2 events; the late 10:15 arrival was
    # dropped, not retro-added
    assert out.get("10:00") == 2, f"windows={out} terminated={terminated}"


def test_dedup_stream_removes_replayed_events(spark, tmp_path):
    """An at-least-once landing dir (the same event_id delivered in two
    files) streams through dedup_stream to exactly-once output; a
    genuinely distinct event with a duplicate-looking payload survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from audience_manager_platform_spark.streaming.jobs import dedup_stream

    staging = tmp_path / "landing"
    staging.mkdir()

    def write_file(name, rows):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
        pq.write_table(table, staging / name)

    d = datetime
    write_file(
        "00.parquet",
        [(1, d(2024, 1, 1, 10, 0), 5.0), (2, d(2024, 1, 1, 10, 1), 6.0)],
    )
    # redelivery of event 1 (same id) + a new event 3 with identical value
    write_file(
        "01.parquet",
        [(1, d(2024, 1, 1, 10, 0), 5.0), (3, d(2024, 1, 1, 10, 2), 5.0)],
    )

    schema = "event_id long, ts timestamp, value double"
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging))
    )
    deduped = dedup_stream(src, keys=("event_id",), watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    got = {
        r["event_id"]: r["value"]
        for r in spark.table("dedup_stream_t").collect()
    }
    assert got == {1: 5.0, 2: 6.0, 3: 5.0}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Two landing dirs (clicks, purchases) joined stream-stream with an
    event-time bound; the availableNow result equals the batch join."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from audience_manager_platform_spark.streaming.jobs import (
        stream_stream_interval_join,
    )

    def write(dirname, name, rows):
        d = tmp_path / dirname
        d.mkdir(exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "user_id": pa.array([r[1] for r in rows], pa.int64()),
                    "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
                }
            ),
            d / name,
        )

    d = datetime
    clicks = [
        (1, 10, d(2024, 1, 1, 10, 0)),
        (2, 10, d(2024, 1, 1, 12, 0)),
        (3, 20, d(2024, 1, 1, 10, 0)),
    ]
    purchases = [
        (101, 10, d(2024, 1, 1, 10, 20)),  # within 30m of click 1
        (102, 10, d(2024, 1, 1, 11, 0)),   # matches nothing (40m after 1)
        (103, 20, d(2024, 1, 1, 10, 29)),  # within 30m of click 3
        (104, 30, d(2024, 1, 1, 10, 0)),   # user with no clicks
    ]
    write("clicks", "00.parquet", clicks)
    write("purchases", "00.parquet", purchases)

    schema = "event_id long, user_id long, ts timestamp"
    lstream = spark.readStream.schema(schema).parquet(str(tmp_path / "clicks"))
    rstream = spark.readStream.schema(schema).parquet(str(tmp_path / "purchases"))
    joined = stream_stream_interval_join(lstream, rstream, max_delay="30 minutes")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_t")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    got = {
        (r.left_id, r.right_id) for r in spark.table("ss_join_t").collect()
    }
    assert got == {(1, 101), (3, 103)}

    # batch equivalence on the same frames
    lb = spark.read.schema(schema).parquet(str(tmp_path / "clicks"))
    rb = spark.read.schema(schema).parquet(str(tmp_path / "purchases"))
    batch = {
        (r.left_id, r.right_id)
        for r in stream_stream_interval_join(lb, rb).collect()
    }
    assert batch == got


def test_hll_rollup_stream_matches_batch_sketches(spark, sf_dir, tmp_path):
    """Streaming per-day HLL maintenance: after folding the event stream
    through foreachBatch micro-batches, per-day (and whole-period)
    estimates from the state table equal the one-shot batch sketches —
    the mergeable-rollup property under incremental maintenance."""
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.sources import load_table
    from audience_manager_platform_spark.streaming.jobs import (
        fold_stream,
        hll_rollup_fold,
        stream_events,
    )

    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "ckpt")
    fold_stream(
        stream_events(spark, sf_dir), hll_rollup_fold, state, ckpt, append=False
    )

    got = (
        spark.read.parquet(state)
        .select("day", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    )
    events = load_table(spark, sf_dir, "events")
    want = {
        r.day: r.est
        for r in events.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert {r.day for r in got} == set(want)
    for r in got:
        assert r.est == want[r.day], (r.day, r.est, want[r.day])
    # period rollup from the STATE table (no raw rescan) equals the
    # direct whole-period sketch
    period = (
        spark.read.parquet(state)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]
        .est
    )
    direct = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).collect()[0].est
    assert period == direct


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(
    spark, tmp_path
):
    """Left-outer stream-stream join: matches emit like the inner join;
    unmatched clicks emit with NULL right columns once the watermark
    passes their join window. Null emission needs a LATER batch to
    advance the watermark (micro-batch semantics), so the fixture lands
    as two files processed one per trigger — the second carries a
    far-future heartbeat that expires every buffered left row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from audience_manager_platform_spark.streaming.jobs import (
        stream_stream_left_outer_join,
    )

    def write(dirname, name, rows):
        d = tmp_path / dirname
        d.mkdir(exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "user_id": pa.array([r[1] for r in rows], pa.int64()),
                    "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
                }
            ),
            d / name,
        )

    d = datetime
    clicks = [
        (1, 10, d(2024, 1, 1, 10, 0)),   # matched by 101
        (2, 10, d(2024, 1, 1, 12, 0)),   # never matched -> null row
        (3, 20, d(2024, 1, 1, 10, 0)),   # matched by 103
    ]
    purchases = [
        (101, 10, d(2024, 1, 1, 10, 20)),
        (103, 20, d(2024, 1, 1, 10, 29)),
    ]
    write("clicks", "00.parquet", clicks)
    write("purchases", "00.parquet", purchases)
    # batch 2: heartbeats far past every click's expiry
    # (ts + max_delay + watermark)
    write("clicks", "01.parquet", [(99, 91, d(2024, 1, 2, 12, 0))])
    write("purchases", "01.parquet", [(199, 92, d(2024, 1, 2, 12, 0))])

    schema = "event_id long, user_id long, ts timestamp"
    lstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "clicks"))
    )
    rstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "purchases"))
    )
    joined = stream_stream_left_outer_join(
        lstream, rstream, max_delay="30 minutes", watermark="10 minutes"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_loj_t")
        .option("checkpointLocation", str(tmp_path / "ckpt_loj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    got = {
        (r.left_id, r.right_id) for r in spark.table("ss_loj_t").collect()
    }
    # click 2 emitted with null right; heartbeat 99 still in state when
    # the run ends (nothing after it advances the watermark), so absent
    assert {(1, 101), (3, 103), (2, None)} <= got
    assert (2, 101) not in got and (2, 103) not in got

    # batch equivalence (no state machinery): same pairs plus the
    # heartbeat's unmatched row, which batch semantics CAN decide
    lb = spark.read.schema(schema).parquet(str(tmp_path / "clicks"))
    rb = spark.read.schema(schema).parquet(str(tmp_path / "purchases"))
    batch = {
        (r.left_id, r.right_id)
        for r in stream_stream_left_outer_join(
            lb, rb, max_delay="30 minutes"
        ).collect()
    }
    assert batch == {(1, 101), (3, 103), (2, None), (99, None)}


def test_lsh_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Replay the documents fixture in 3 chunks through the incremental
    LSH detector: the pairs log must converge to EXACTLY the batch
    MinHash-LSH pair set over the full corpus (each pair surfacing in
    the batch its second member arrived), with no duplicate pair rows."""
    from audience_manager_platform_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from audience_manager_platform_spark.sources import load_table
    from audience_manager_platform_spark.streaming.jobs import (
        lsh_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    # stage the fixture as 3 chunk files for maxFilesPerTrigger=1 replay
    land = tmp_path / "docs_land"
    land.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"chunk{i}"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / f"chunk{i}" / "*.parquet"))[0]
        shutil.copy(src, land / f"{i:02d}.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    lsh_dedup_stream(
        stream,
        str(tmp_path / "sigs"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt_lsh"),
        est_threshold=0.5,
    )

    got_rows = spark.read.parquet(str(tmp_path / "pairs")).collect()
    got = {(r.doc_a, r.doc_b) for r in got_rows}
    assert len(got_rows) == len(got)  # no duplicate pair rows
    want = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, est_threshold=0.5).collect()
    }
    assert got == want and want  # converged to the batch result
    # signature log holds every admitted doc exactly once
    sigs = spark.read.parquet(str(tmp_path / "sigs"))
    n_docs_with_grams = sigs.count()
    assert sigs.select("doc_id").distinct().count() == n_docs_with_grams


def test_quantile_sketch_stream_matches_batch(spark, tmp_path):
    """The streaming-maintained bucket table must equal the one-shot
    batch histogram (combinable aggregate => replay-order-free)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.streaming.jobs import (
        quantile_sketch_stream,
        run_available_now,
    )

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"event_id": i, "user_id": i % 7, "event_type": "view",
         "value": float(i % 250 + 1) / 2, "props": "{}"}
        for i in range(2000)
    ]
    # two files -> two micro-batch candidates
    pd.DataFrame(rows[:1000]).to_parquet(src / "a.parquet")
    pd.DataFrame(rows[1000:]).to_parquet(src / "b.parquet")
    batch = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    settled = {
        (r.blen, r.sub): r.cnt
        for r in run_available_now(quantile_sketch_stream(stream)).collect()
    }
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    expected = {
        (r.blen, r.sub): r.cnt
        for r in (
            batch.select(cents.alias("cents"))
            .filter(F.col("cents") > 0)
            .selectExpr("length(bin(cents)) AS blen", "cents")
            .selectExpr(
                "blen",
                "((cents - shiftleft(CAST(1 AS BIGINT), blen - 1)) * 8)"
                " div shiftleft(CAST(1 AS BIGINT), blen - 1) AS sub",
            )
            .groupBy("blen", "sub")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
    }
    assert settled == expected and sum(settled.values()) == 2000


def test_psi_monitor_stream_matches_batch_audit(spark, sf_dir):
    """The streamed live-side histogram joined against the settled
    baseline must price the SAME PSI rows as the one-shot batch audit
    (combinable counts + shared psi_report arithmetic)."""
    from audience_manager_platform_spark.registry.streaming import (
        _psi_monitor,
    )
    from audience_manager_platform_spark.operators.validation import (
        psi_value_drift,
    )
    from audience_manager_platform_spark.sources import load_table

    streamed = [tuple(r) for r in _psi_monitor(spark, sf_dir).collect()]
    batch = [
        tuple(r)
        for r in psi_value_drift(load_table(spark, sf_dir, "events")).collect()
    ]
    assert streamed == batch and len(streamed) > 0


def test_mix_monitor_stream_matches_batch_audit(spark, sf_dir):
    """The streamed category counts joined against the settled baseline
    must price the SAME chi-square rows as the one-shot batch audit."""
    from audience_manager_platform_spark.registry.streaming import (
        _mix_monitor,
    )
    from audience_manager_platform_spark.operators.validation import (
        mix_drift,
    )
    from audience_manager_platform_spark.sources import load_table

    streamed = [tuple(r) for r in _mix_monitor(spark, sf_dir).collect()]
    batch = [
        tuple(r)
        for r in mix_drift(load_table(spark, sf_dir, "events")).collect()
    ]
    assert streamed == batch and len(streamed) > 0
