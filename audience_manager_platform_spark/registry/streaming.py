"""Streaming query family.

``streaming_window_counts`` genuinely executes a Structured Streaming
query (availableNow trigger + memory sink) and returns the settled result;
its oracle is the equivalent batch tumbling-window SQL — event-time window
semantics are engine-checkable even though the execution is streaming.
``streaming_sessionization`` runs the session_window operator (same plan
shape batch/streaming) with a gaps-and-islands SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions import cents
from ..sources import load_table
from ..streaming.jobs import (
    checksum_fold,
    chunked_replay,
    daily_cents_fold,
    enriched_segment_counts,
    fold_stream,
    late_arrival_audit,
    late_arrival_audit_sql,
    mix_histogram_stream,
    psi_histogram_stream,
    quantile_sketch_stream,
    run_available_now,
    sessionize,
    sprt_counts_fold,
    stream_events,
    userweek_fold,
    windowed_event_counts,
)
from ..operators.skew import quantile_histogram_sql
from ..operators.validation import partition_checksums_sql
from ..operators.analytics import growth_accounting_sql
from ..operators.analytics import sprt_monitor_sql
from ..operators.timeseries import cusum_alarm_sql
from ..operators.validation import mix_drift_sql, psi_value_drift_sql
from ..operators.partitioning import tracked_tempdir
from ..streaming.stateful import running_spend_monitor


def _window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_events(spark, sf_dir)
    result = windowed_event_counts(events, window="1 day", watermark="1 hour")
    return run_available_now(result)


def _static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer")
    return run_available_now(enriched_segment_counts(events, dim))


def _sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return sessionize(events, gap="30 minutes")


def _stateful_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_events(spark, sf_dir).select("user_id", "value")
    monitored = running_spend_monitor(events, threshold=1000.0)
    # update-mode sink appends one row per user per batch; the final state
    # per user is the max-count row (robust to multi-batch splits)
    return (
        run_available_now(monitored, "update")
        .groupBy("user_id")
        .agg(
            F.max("event_count").alias("event_count"),
            F.max("total_value").alias("total_value"),
            F.max("crossed_threshold").alias("crossed_threshold"),
        )
    )


def _trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending report: a REAL streaming run (availableNow) maintains
    the per-window per-type counts; the rank is a batch read over the
    settled sink (rank is not a streaming-updatable operator — the
    serving layer ranks at read time, which is exactly how a trending
    dashboard consumes a streaming rollup). Top-3 types per day with a
    total order (n desc, type asc)."""
    from pyspark.sql import Window

    events = stream_events(spark, sf_dir)
    settled = run_available_now(
        windowed_event_counts(events, window="1 day", watermark="1 hour")
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        settled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n_events")
    )


def _quantile_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL streaming run (availableNow) maintains the mergeable
    quantile-sketch bucket table; the serving read prices p50/p90/p99
    off the settled sink plus the batch exact audit. Oracle = the
    ONE-SHOT batch sketch SQL — the streaming fold equals batch because
    the bucket counts are combinable."""
    from ..operators.skew import quantile_from_histogram

    hist = run_available_now(quantile_sketch_stream(stream_events(spark, sf_dir)))
    batch = load_table(spark, sf_dir, "events")
    audit = (
        batch.filter(F.col("value").isNotNull())
        .select(cents().alias("cents"))
        .filter(F.col("cents") > 0)
    )
    return quantile_from_histogram(hist, audit)


def _split_day(batch: DataFrame) -> str:
    """The drift monitors' fixed baseline cut: the middle day of the
    events' date span. Days up to it form the baseline, later days the
    live side."""
    from datetime import timedelta

    lo, hi = batch.agg(F.min(F.to_date("ts")), F.max(F.to_date("ts"))).collect()[0]
    return str(lo + timedelta(days=(hi - lo).days // 2))


def _psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor: the baseline histogram is a settled
    batch table (days <= the mid-window cut, the monitor's fixed
    configuration); a REAL availableNow run maintains the live-side
    bucket counts; the serving read full-outer joins the two histograms
    and prices PSI through the SHARED ``psi_report`` arithmetic. Oracle
    = the one-shot batch ``psi_value_drift`` SQL — streamed counts equal
    batch counts because the histogram is combinable."""
    from ..operators.validation import psi_buckets, psi_report

    batch = load_table(spark, sf_dir, "events")
    split = _split_day(batch)
    ref = (
        psi_buckets(batch.filter(F.to_date("ts") <= F.lit(split)), "value")
        .groupBy("blen", "sub")
        .agg(F.count("*").alias("old_n"))
    )
    live = run_available_now(psi_histogram_stream(stream_events(spark, sf_dir), split))
    hist = (
        ref.join(live, ["blen", "sub"], "full_outer")
        .select(
            "blen",
            "sub",
            F.coalesce(F.col("old_n"), F.lit(0)).alias("old_n"),
            F.coalesce(F.col("new_n"), F.lit(0)).alias("new_n"),
        )
    )
    return psi_report(hist)


def _mix_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming categorical-mix monitor: baseline category counts are a
    settled batch table; a real availableNow run maintains the live
    side; the serving read prices chi-square through the SHARED
    ``mix_report`` arithmetic. Oracle = the one-shot batch mix_drift
    SQL (combinable counts => stream == batch)."""
    from ..operators.validation import mix_report

    batch = load_table(spark, sf_dir, "events")
    split = _split_day(batch)
    ref = (
        batch.filter(F.to_date("ts") <= F.lit(split))
        .filter(F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("category"))
        .agg(F.count("*").alias("old_n"))
    )
    live = run_available_now(mix_histogram_stream(stream_events(spark, sf_dir), split))
    hist = (
        ref.join(live, ["category"], "full_outer")
        .select(
            "category",
            F.coalesce(F.col("old_n"), F.lit(0)).alias("old_n"),
            F.coalesce(F.col("new_n"), F.lit(0)).alias("new_n"),
        )
    )
    return mix_report(hist)


def _settled_state(stream: DataFrame, fold, work: str) -> DataFrame:
    """Drive ``fold`` over ``stream`` to completion (whole-state
    overwrite) under the scratch dir ``work``; return the settled state."""
    state = os.path.join(work, "state")
    fold_stream(stream, fold, state, os.path.join(work, "ckpt"), append=False)
    return stream.sparkSession.read.parquet(state)


def _checksum_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL 3-chunk replay of the events fixture through the
    foreachBatch checksum fold; the settled state table must equal the
    ONE-SHOT batch checksum table exactly (counts add, checksums xor —
    both monoids), which is also the oracle. This is the ingestion-time
    migration-verify: any replica chunking yields the same table."""
    work = tracked_tempdir("amps_cksum_gate_")
    stream = chunked_replay(load_table(spark, sf_dir, "events"), "event_id", work)
    return _settled_state(stream, checksum_fold, work).orderBy("day")


def _cusum_maintenance(spark, sf_dir):
    """Drive the additive daily-cents fold to completion, then apply
    the sequential CUSUM derivation as the serving read. Oracle = the
    one-shot batch cusum_alarm SQL — hard evidence that additive
    maintenance + read-time recurrence reproduces batch semantics."""
    from ..operators.timeseries import cusum_from_daily

    work = tracked_tempdir("amps_cusum_gate_")
    return cusum_from_daily(
        _settled_state(stream_events(spark, sf_dir), daily_cents_fold, work)
    )


def _sprt_maintenance(spark, sf_dir):
    """Drive the additive per-day (n, k) fold to completion, then apply
    the sequential LLR derivation as the serving read. Oracle = the
    one-shot batch sprt_monitor SQL."""
    from ..operators.analytics import sprt_from_daily

    work = tracked_tempdir("amps_sprt_gate_")
    return sprt_from_daily(
        _settled_state(stream_events(spark, sf_dir), sprt_counts_fold, work)
    )


def _growth_ledger(spark, sf_dir):
    """Drive the idempotent (user, week) set fold to completion, then
    apply the order-dependent growth classification as the serving
    read. Oracle = the one-shot batch growth_accounting SQL."""
    from ..operators.analytics import growth_from_userweeks

    work = tracked_tempdir("amps_growth_gate_")
    return growth_from_userweeks(
        _settled_state(stream_events(spark, sf_dir), userweek_fold, work)
    )


def _late_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_events(spark, sf_dir)
    return run_available_now(late_arrival_audit(events))


QUERIES = {
    "streaming_window_counts": _window_counts,
    "streaming_static_join_counts": _static_join_counts,
    "streaming_sessionization": _sessionization,
    "streaming_stateful_spend": _stateful_spend,
    "streaming_trending_topk": _trending_topk,
    "streaming_quantile_maintenance": _quantile_maintenance,
    "streaming_psi_monitor": _psi_monitor,
    "streaming_mix_monitor": _mix_monitor,
    # r7 wave 27 (r8 queue): ingestion-time replication checksums —
    # the settled fold state equals the one-shot batch table for ANY
    # replay chunking (counts add, checksums xor)
    "streaming_checksum_maintenance": _checksum_maintenance,
    # r7 wave 30 (r8 queue): per-day late-data accounting — additive
    # counts/maxima, settled sink == batch table for any chunking
    "streaming_late_arrival_audit": _late_arrival,
    # r7 wave 37 (r8 queue): additive daily-cents fold + read-time
    # sequential CUSUM (restated days re-enter the recurrence correctly)
    "streaming_cusum_monitor": _cusum_maintenance,
    # r7 wave 39 (r8 queue): idempotent (user, week) set fold +
    # read-time growth classification
    "streaming_growth_ledger": _growth_ledger,
    # r8 wave 45 (r9 queue): additive per-day (n, k) fold + read-time
    # cumulative SPRT LLR (valid-at-every-look early stopping from
    # settled streaming state; restated days re-enter correctly)
    "streaming_sprt_monitor": _sprt_maintenance,
}

ORACLES = {
    "streaming_quantile_maintenance": quantile_histogram_sql(
        "events", "value"
    ),
    "streaming_psi_monitor": psi_value_drift_sql("events"),
    "streaming_mix_monitor": mix_drift_sql("events"),
    "streaming_checksum_maintenance": partition_checksums_sql("events"),
    "streaming_late_arrival_audit": late_arrival_audit_sql("events"),
    "streaming_cusum_monitor": cusum_alarm_sql("events"),
    "streaming_sprt_monitor": sprt_monitor_sql("events"),
    "streaming_growth_ledger": growth_accounting_sql("events"),
    "streaming_window_counts": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "streaming_static_join_counts": """
        SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               c.c_mktsegment AS segment,
               COUNT(*) AS n_events,
               ROUND(SUM(e.value), 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    "streaming_sessionization": """
        WITH ordered AS (
          -- session_window's gap is EXCLUSIVE: an event exactly `gap`
          -- after the previous one opens a NEW session (windows are
          -- [t, t+gap)), so the new-session predicate must be >=, not >.
          SELECT user_id, event_id, ts, value,
                 CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                      >= INTERVAL 30 MINUTE
                      OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
        ),
        islands AS (
          SELECT user_id, ts, value,
                 SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM ordered
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM islands
        GROUP BY user_id, sid
    """,
    "streaming_trending_topk": """
        WITH counts AS (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
                 event_type, COUNT(*) AS n_events
          FROM events GROUP BY 1, 2
        )
        SELECT window_start, rank, event_type, n_events FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY window_start
            ORDER BY n_events DESC, event_type ASC) AS rank
          FROM counts
        ) r WHERE rank <= 3
    """,
    "streaming_stateful_spend": """
        SELECT user_id,
               COUNT(*) AS event_count,
               ROUND(SUM(value), 2) AS total_value,
               SUM(value) > 1000.0 AS crossed_threshold
        FROM events GROUP BY user_id
    """,
}
