"""Structured Streaming slice (SURVEY.md §2.9 / §7.2 step 9).

The reference has no streaming operators — "streaming" there is
APScheduler re-running batch jobs HOURLY/DAILY/WEEKLY
(``backend/app/core/scheduler.py:140-150``). This module maps that
capability seam onto real Structured Streaming:

- scheduled trailing-window refresh (A8)  →  watermarked sliding/tumbling
  window aggregates over the event-time column;
- scheduled segment re-materialization (M4)  →  ``foreachBatch`` writing
  the segment parquet + catalog row per micro-batch;
- late data (reference: silently lands in the next refresh)  →  explicit
  watermark: events later than the watermark are dropped, bounded state.

Local testing uses ``trigger(availableNow=True)`` so a parquet fixture
drives the stream to completion synchronously; in production the same
plans run against a landing directory / Kafka source unchanged. Every
stream is driven by one of two steps here: :func:`run_available_now`
(memory sink, for streaming aggregates) or the foreachBatch starter
behind :func:`fold_stream` (parquet state maintained per micro-batch),
and both wait through one settle step that fails on a stream that did
not drain.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cents


def _event_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Sniff the fixture's parquet footer: TIMESTAMP(NANOS) needs the
    read-as-long workaround (Spark's vectorized reader rejects nanos),
    TIMESTAMP(MICROS) reads natively as TIMESTAMP_NTZ. One driver-side
    footer read; no data scanned."""
    import pyarrow.parquet as pq

    t = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).schema_arrow
    return str(t.field("ts").type) == "timestamp[ns]"


def _staged_fixture_stream(
    spark: SparkSession, sf_dir: str, table: str, schema: T.StructType
) -> DataFrame:
    """The file source needs a *directory* (its production shape: a
    landing dir receiving files), so a single fixture file is exposed
    through a symlinked staging dir — shared by every fixture stream."""
    staging = os.path.join(
        tempfile.gettempdir(), f"amps_stream_{table}_{abs(hash(sf_dir)) % 10**8}"
    )
    os.makedirs(staging, exist_ok=True)
    link = os.path.join(staging, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, f"{table}.parquet"), link)
    return spark.readStream.schema(schema).parquet(staging)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream the events fixture, with ``ts`` matching the batch
    reader's type exactly (same wall-clock values either unit) so
    stream-vs-batch oracles compare clean."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _events_ts_is_nanos(sf_dir):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = _staged_fixture_stream(
            spark, sf_dir, "events", _event_schema(T.LongType())
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    raw = _staged_fixture_stream(
        spark, sf_dir, "events", _event_schema(T.TimestampNTZType())
    )
    # watermarks require TIMESTAMP (LTZ); under the pinned UTC session tz
    # this cast is a pure reinterpret with identical wall-clock values
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame, window: str = "1 day", slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregate per event_type — the
    streaming equivalent of the scheduled trailing-window rollups (A8).
    State is bounded by the watermark; late events beyond it are dropped
    (the reference's batch analogue just caught them next refresh)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# Shuffle partitions for a stateful streaming query: each one opens its
# own state store, so the per-trigger fixed cost follows this count.
STATE_PARTITIONS = 8

# Longest wait for an availableNow query to drain its backlog.
SETTLE_TIMEOUT_S = 400

# Landing files, hence micro-batches, of a chunked replay.
REPLAY_CHUNKS = 3


def _settle(q: "StreamingQuery") -> None:  # noqa: F821
    """Wait for an availableNow query to drain its backlog, then stop it.
    Raises ``TimeoutError`` if the backlog did not drain within
    :data:`SETTLE_TIMEOUT_S`: what the query has written by then is
    partial state, which must never be read as settled."""
    try:
        drained = q.awaitTermination(SETTLE_TIMEOUT_S)
    finally:
        q.stop()
    if not drained:
        raise TimeoutError(
            f"streaming query did not drain its backlog in {SETTLE_TIMEOUT_S} s"
        )


def run_available_now(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming plan over everything currently available and stop
    (micro-batch replay of the backlog); returns the settled in-memory
    table the query wrote in ``output_mode``, under a name of its own.

    State-store sizing: every shuffle partition of a
    stateful streaming query opens its OWN state store — provider init,
    per-trigger commit, snapshot bookkeeping — so the per-trigger fixed
    cost scales with the partition count, not the state size. The gates
    here maintain hundreds-to-thousands of keys, where 32+ stores cost
    several times the actual fold (measured on the windowed-counts gate:
    5.96 s cold / 1.69 s warm at 32 partitions vs 1.26 / 0.93 s at 8 —
    identical 150-row result). The query runs with at most
    :data:`STATE_PARTITIONS` shuffle partitions, and the session value
    is restored afterwards. Per-group values are unchanged: hash
    partitioning keeps each group in one store, and the map-side partial
    aggregation (whose grouping follows the SOURCE partitioning,
    untouched here) is where float sums are formed."""
    spark = result.sparkSession
    name = f"available_now_{uuid.uuid4().hex}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(STATE_PARTITIONS, int(prev)))
    )
    try:
        _settle(
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _drive(stream: DataFrame, handle, checkpoint_dir: str) -> None:
    """Call ``handle(batch)`` on every non-empty micro-batch of ``stream``
    until the backlog is drained; the checkpoint makes each batch's
    effect exactly-once across restarts."""

    def each(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            handle(batch)

    _settle(
        stream.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def fold_stream(
    stream: DataFrame, fold, state_dir: str, checkpoint_dir: str, append: bool
) -> None:
    """Maintain the parquet state table at ``state_dir`` from ``stream``:
    per micro-batch, ``fold(state, batch)`` gets the committed state (None
    before the first write) and returns a DataFrame.

    With ``append`` the result is the delta to append to an append-only
    log; the fold anti-joins against the log, so a replayed batch adds
    nothing. Without it the result is the whole new state, which replaces
    the old: it is written to ``state_dir + "_next"`` first (the new state
    is read from the old one, so the old cannot be overwritten in the
    same job) and copied back, and a replayed epoch re-folds from the
    same committed state."""

    def step(batch: DataFrame) -> None:
        spark = batch.sparkSession
        out = fold(_read_state_or_none(spark, state_dir), batch)
        if append:
            out.write.mode("append").parquet(state_dir)
            return
        out.write.mode("overwrite").parquet(state_dir + "_next")
        spark.read.parquet(state_dir + "_next").write.mode("overwrite").parquet(
            state_dir
        )

    _drive(stream, step, checkpoint_dir)


def chunked_replay(df: DataFrame, id_col: str, work: str) -> DataFrame:
    """``df`` as a stream of :data:`REPLAY_CHUNKS` micro-batches, the
    replay harness of the streaming maintenance gates. ``df`` is written
    in ONE pass as deterministic landing files (``id_col % REPLAY_CHUNKS``)
    under ``work/land``, named ``00.parquet`` .., and read back one file
    per trigger in chunk order. One ``partitionBy`` write over a
    chunk-keyed repartition lands the chunk SETS in a single job. Row
    order within a chunk follows the shuffle and is NOT pinned — every
    consumer fold is a commutative monoid / set-semantics stage, which
    is exactly the property those gates exist to prove."""
    land = os.path.join(work, "land")
    os.makedirs(land, exist_ok=True)
    chunks = os.path.join(work, "chunks")
    (
        df.withColumn("_chunk", F.col(id_col) % REPLAY_CHUNKS)
        .repartition(REPLAY_CHUNKS, "_chunk")
        .write.partitionBy("_chunk")
        .mode("overwrite")
        .parquet(chunks)
    )
    for i in range(REPLAY_CHUNKS):
        part = glob.glob(os.path.join(chunks, f"_chunk={i}", "*.parquet"))
        assert len(part) == 1, part  # one task per chunk value
        shutil.copy(part[0], os.path.join(land, f"{i:02d}.parquet"))
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )


def segment_refresh_stream(
    events: DataFrame, engine, rule_id: int, checkpoint_dir: str
) -> None:
    """M4 as streaming: re-materialize a rule's segment on every
    micro-batch of new events (exactly-once per batch via the
    checkpoint). The batch handler reuses the SAME batch engine — one
    code path for batch and streaming refresh."""
    _drive(events, lambda batch: engine.execute_rule(rule_id), checkpoint_dir)


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Custom stateful-shaped operator: per-user sessions with a max
    event gap. Uses the built-in ``session_window`` (works in batch AND
    streaming mode — no hand-rolled state). Output keys on the session
    start so it joins back to any gaps-and-islands formulation."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame, keys: tuple[str, ...] = ("event_id",), watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact deduplication: turns an at-least-once source (e.g.
    a replaying file/Kafka feed) into exactly-once rows keyed on ``keys``.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    key's event time falls behind the watermark, so state is bounded by
    (keys per watermark span), not by total stream history — the property
    that keeps this runnable forever at 100 TB/day. A duplicate arriving
    later than the watermark is emitted again; that tail risk is the
    documented trade for bounded state (batch `exact_dedup` has no such
    window because it sees all history at once)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound (the
    attribution shape: right-side events within ``max_delay`` after the
    left event, same user).

    Both sides carry watermarks and the join condition bounds r.ts
    relative to l.ts, so Spark can expire buffered state on BOTH sides —
    without the time bound a stream-stream join must hold every row
    forever. State per key is O(events within watermark+delay), the
    property that keeps the join runnable indefinitely."""
    l = left.alias("l").withWatermark("ts", watermark)
    r = right.alias("r").withWatermark("ts", watermark)
    return l.join(
        r,
        F.expr(
            f"l.user_id = r.user_id AND r.ts >= l.ts "
            f"AND r.ts <= l.ts + interval {max_delay}"
        ),
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


def stream_stream_left_outer_join(
    left: DataFrame,
    right: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream join with the same event-time interval
    bound as :func:`stream_stream_interval_join` — the conversion-vs-no-
    conversion shape: every left event is emitted, matched rows as they
    arrive and UNMATCHED rows with null right columns once the watermark
    has passed the join window's end (only then can the engine PROVE no
    match will ever arrive; until that point the row sits in state).

    Same state-expiry contract as the inner variant — watermarks on both
    sides plus the bounded condition keep per-key state finite. The
    null-emission timing caveat is structural, not a bug: unmatched
    results trail the data by up to watermark+max_delay, and a stalled
    source stalls them (the micro-batch engine advances watermarks only
    when batches run). Batch DataFrames take the identical plan minus
    the state machinery, which is what the equivalence test pins."""
    l = left.alias("l").withWatermark("ts", watermark)
    r = right.alias("r").withWatermark("ts", watermark)
    return l.join(
        r,
        F.expr(
            f"l.user_id = r.user_id AND r.ts >= l.ts "
            f"AND r.ts <= l.ts + interval {max_delay}"
        ),
        "leftOuter",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


def _read_state_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a foreachBatch state-log parquet dir, or None if no batch has
    written it yet. Only the genuinely-missing cases (dir absent, or
    present but with no footers to infer from) map to None — any other
    read failure (permissions, corrupt footer) propagates so the
    streaming query fails and retries instead of silently re-admitting
    duplicates into an idempotent fold.

    An absent dir is checked through the Hadoop ``FileSystem`` of the
    path's own scheme before any read: ``spark.read`` of a missing path
    logs a WARN with a full Java stack trace before it fails, once per
    fold's first batch."""
    from pyspark.errors import AnalysisException

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(hpath):
        return None
    try:
        state = spark.read.parquet(path)
        _ = state.schema  # force resolution; raises if dir is empty
        return state
    except AnalysisException as ex:
        cls = ex.getCondition() or ""
        if cls == "UNABLE_TO_INFER_SCHEMA" or (not cls and "UNABLE_TO_INFER" in str(ex)):
            return None
        raise


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream the documents fixture."""
    return _staged_fixture_stream(spark, sf_dir, "documents", DOC_SCHEMA)


def corpus_dedup_fold(seen: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One micro-batch of the ingestion-time exact dedup: normalize-and-
    fingerprint the batch (same tokenization contract as the batch
    ``exact_dedup``), canonicalize within the batch (min doc_id per
    fingerprint), then anti-join fingerprints already committed to the
    log. Returns the NEW (fingerprint, doc_id) rows to append.

    The log stores one compact row per distinct content ever seen — the
    state a 100 TB ingest actually needs (fingerprints, not text), and
    because it is append-only with the dedup decision keyed on content,
    a replayed batch re-derives the same survivors and the anti-join
    drops them: idempotent under at-least-once delivery."""
    from ..operators.text import tokens_col

    fp = batch.select(
        "doc_id", F.md5(F.array_join(tokens_col("text"), " ")).alias("fingerprint")
    )
    canon = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    if seen is None:
        return canon
    return canon.join(seen.select("fingerprint"), "fingerprint", "left_anti")


def lsh_dedup_stream(
    docs: DataFrame,
    sig_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    est_threshold: float = 0.5,
) -> None:
    """Incremental MinHash-LSH near-duplicate detection at ingestion
    time: every micro-batch signatures its NEW documents, joins their
    band keys against the bands of everything admitted so far, and
    appends the newly-detectable near-dup pairs — each pair is found in
    the batch its SECOND member arrives, so the pairs log converges to
    exactly what batch :func:`..operators.dedup.minhash_lsh_pairs`
    computes over the full corpus (pinned by
    ``tests/test_streaming.py::test_lsh_dedup_stream_matches_batch``).

    State = the signature log: NUM_HASHES ints per admitted doc — the
    compact sketch a 100 TB ingest keeps anyway, NOT the text. Per
    batch the band join is keyed (new-side bands x full band table);
    old-old pairs can never form because at least one side must be new.

    Exactly-once: new signatures are anti-joined on doc_id against the
    log (a replayed batch re-derives nothing), and candidate pairs are
    anti-joined against the pairs log before the append, so the fold is
    idempotent regardless of which of the two appends a crash lands
    between."""
    from ..operators.dedup import (
        bands_of,
        minhash_signatures,
        score_candidates,
    )

    def fold(batch_df: DataFrame) -> None:
        spark = batch_df.sparkSession
        state = _read_state_or_none(spark, sig_dir)
        new_sigs = minhash_signatures(batch_df)
        if state is not None:
            new_sigs = new_sigs.join(
                state.select("doc_id"), "doc_id", "left_anti"
            )
        from ..operators.partitioning import materialize

        new_sigs = materialize(new_sigs)
        all_sigs = (
            new_sigs if state is None else state.unionByName(new_sigs)
        )
        cand = (
            bands_of(new_sigs)
            .alias("x")
            .join(bands_of(all_sigs).alias("y"), "band_key")
            .filter(F.col("x.doc_id") != F.col("y.doc_id"))
            .select(
                F.least("x.doc_id", "y.doc_id").alias("doc_a"),
                F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        pairs = score_candidates(cand, all_sigs, est_threshold)
        prior = _read_state_or_none(spark, pairs_dir)
        if prior is not None:
            pairs = pairs.join(
                prior.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
            )
        pairs.write.mode("append").parquet(pairs_dir)
        new_sigs.write.mode("append").parquet(sig_dir)

    _drive(docs, fold, checkpoint_dir)


def enriched_segment_counts(
    events: DataFrame, customer_dim: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-static join + windowed aggregate: the streaming events join
    the STATIC customer dimension (re-read per micro-batch, broadcast by
    the planner — the lookup-enrichment every production stream runs),
    then count per (day, market segment) under the watermark. State is
    bounded by the watermark exactly as in the un-enriched window
    aggregate; the static side adds no state at all."""
    dim = customer_dim.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    win = F.window("ts", "1 day")
    return (
        events.withWatermark("ts", watermark)
        .join(dim, "user_id")
        .groupBy(win.alias("win"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )


# ----------------------------------------------- streaming sketch rollup
def hll_rollup_fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One micro-batch of streaming distinct-user sketch maintenance:
    aggregate the batch into per-day HLL sketches, union them with the
    committed per-day sketches, and return the NEW state — one (day,
    sketch) row per day ever seen.

    This is the streaming form of the mergeable-rollup pattern
    (:func:`~..operators.skew.hll_mergeable_rollup`): state is O(days ×
    sketch_size) regardless of event volume, merging is the sketch
    union (associative + idempotent-under-re-union of the same day's
    OLD sketch, so the fold is deterministic for a given batch split),
    and any period estimate comes from ``hll_union_agg`` over the state
    rows without touching raw events."""
    daily = (
        batch.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    if state is None:
        return daily
    return (
        state.unionByName(daily)
        .groupBy("day")
        .agg(F.hll_union_agg("sk").alias("sk"))
    )


def quantile_sketch_stream(events: DataFrame) -> DataFrame:
    """Streaming maintenance of the mergeable quantile sketch
    (:func:`..operators.skew.quantile_histogram`'s bucket table): the
    log2 x 8 bucket counts are a plain streaming aggregate — combinable,
    hence streaming-updatable — so the sketch stays current per
    micro-batch with O(buckets) state and NO raw-data retention; the
    serving layer prices p50/p90/p99 off the settled table at read time
    (:func:`..operators.skew.quantile_from_histogram`), the same
    rank-at-read split as the trending top-k."""
    base = (
        events.filter(F.col("value").isNotNull())
        .select(cents().alias("cents"))
        .filter(F.col("cents") > 0)
    )
    return (
        base.select(
            "cents", F.length(F.expr("bin(cents)")).alias("blen")
        )
        .select(
            "blen",
            F.expr(
                "((cents - shiftleft(CAST(1 AS BIGINT), blen - 1)) * 8)"
                " div shiftleft(CAST(1 AS BIGINT), blen - 1)"
            ).alias("sub"),
        )
        .groupBy("blen", "sub")
        .agg(F.count("*").alias("cnt"))
    )


def psi_histogram_stream(
    events: DataFrame, split_date: str, value_col: str = "value"
) -> DataFrame:
    """Streaming side of the PSI drift monitor: the live-traffic
    histogram over the shared log2 x 8 bucket grid, restricted to event
    days AFTER the fixed baseline cut. Bucket counts are a plain
    combinable streaming aggregate (the quantile-sketch precedent), so
    the monitor stays current per micro-batch with O(buckets) state and
    no raw retention; the serving read joins the settled counts against
    the baseline histogram and prices the PSI terms through the SAME
    arithmetic as the batch audit (``validation.psi_report``)."""
    from ..operators.validation import psi_buckets

    live = events.filter(F.to_date("ts") > F.lit(split_date))
    return (
        psi_buckets(live, value_col)
        .groupBy("blen", "sub")
        .agg(F.count("*").alias("new_n"))
    )


def mix_histogram_stream(
    events: DataFrame, split_date: str, cat_col: str = "event_type"
) -> DataFrame:
    """Streaming side of the categorical mix-drift monitor: live per-
    category counts after the fixed baseline cut — a plain combinable
    streaming aggregate (state = the category set), the third drift
    audit maintained this way (quantile sketch, PSI histogram, and now
    the chi-square mix)."""
    live = events.filter(
        F.to_date("ts") > F.lit(split_date)
    ).filter(F.col(cat_col).isNotNull())
    return live.groupBy(F.col(cat_col).alias("category")).agg(
        F.count("*").alias("new_n")
    )


def ivf_ingest_fold(
    lists: DataFrame | None,
    batch: DataFrame,
    model: list[tuple[int, list[float]]],
) -> DataFrame:
    """Incremental IVF index maintenance — the freshness half of the ANN
    serving story: vectors arriving on a stream are assigned to the
    FROZEN coarse cells (the broadcast driver-side model; re-training is
    a batch concern, same split FAISS deployments use) and appended to
    the inverted-lists log that the ``ann_ivf*`` serving queries read.
    Folded with :func:`fold_stream` in append mode, ``model`` bound.

    Per micro-batch: one shuffle-free Arrow argmax assignment
    (:func:`~..operators.similarity.assign_cells_arrow`, the batch
    path's production kernel — value-identical to the inline codegen
    form, whose generated method exceeded janino's 64 KB limit inside
    the streaming plan and silently dropped every micro-batch to
    interpreted eval; r10 measured the fallback at ~3x), an anti-join
    on vec_id against the log for exactly-once under replay, one
    append. State = the lists log itself: (vec_id, cent_id, csim) —
    O(corpus) like every index, never re-derived."""
    from ..operators.similarity import _vec_double, assign_cells_arrow

    assigned = assign_cells_arrow(
        batch.select("vec_id", _vec_double().alias("v")), model
    ).select("vec_id", "cent_id", "csim")
    if lists is None:
        return assigned
    return assigned.join(lists.select("vec_id"), "vec_id", "left_anti")


def checksum_fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One micro-batch of streaming integrity-checksum maintenance:
    compute the batch's per-day (n_rows, portable xor checksum) via the
    BATCH operator (:func:`~..operators.validation.partition_checksums`)
    and merge into the committed state — counts add, checksums xor, both
    commutative monoids, so the settled state equals the one-shot batch
    table for ANY chunking of the ingest (the lossless-maintenance
    contract, same family as the LSH and HLL folds).

    Epoch-replay safety comes from the read-fold-overwrite discipline
    (a replayed epoch re-folds from the same committed state — xor is
    NOT idempotent, so the discipline, not the operator, carries
    exactly-once; the :func:`fold_stream` overwrite contract)."""
    from ..operators.validation import partition_checksums

    daily = partition_checksums(batch)
    if state is None:
        return daily
    return (
        state.unionByName(daily)
        .groupBy("day")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.expr("bit_xor(checksum)").alias("checksum"),
        )
    )


# ----------------------------------------------- late-arrival accounting
LATE_DELAY_MOD = 5
LATE_DELAY_STEP_S = 3600
LATE_THRESHOLD_S = 7200


def late_arrival_audit(
    events: DataFrame, threshold_s: int = LATE_THRESHOLD_S,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-event-day late-data accounting — the observability rollup
    that tells you whether your watermark is sized right BEFORE windows
    silently drop rows: how many events arrived more than
    ``threshold_s`` after their event time, and the worst lag seen.

    The fixtures carry no ingestion timestamp, so arrival lag is
    planted deterministically from event_id ((event_id % 5) hours —
    40% of rows exceed the 2 h threshold); with real data the synthetic
    column is replaced by ``arrival_ts - ts`` and everything downstream
    is unchanged. Counts and maxima are additive across micro-batches,
    so the settled availableNow sink equals the one-shot batch table
    for ANY replay chunking (the checksum-maintenance fold contract);
    late_ppm is an exact integer ratio of settled counts.

    Shape at scale: one watermarked day-window aggregate — state is
    |days-in-watermark| rows, map-side combinable, no joins."""
    delayed = events.withColumn(
        "_delay_s",
        (F.col("event_id") % LATE_DELAY_MOD) * LATE_DELAY_STEP_S,
    )
    return (
        delayed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                (F.col("_delay_s") > threshold_s).cast("long")
            ).alias("n_late"),
            F.max("_delay_s").cast("long").alias("max_delay_s"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd").alias("day"),
            "n_events",
            "n_late",
            F.expr("n_late * 1000000 div n_events").alias("late_ppm"),
            "max_delay_s",
        )
    )


def late_arrival_audit_sql(
    src: str = "events", threshold_s: int = LATE_THRESHOLD_S
) -> str:
    late = (
        f"(event_id % {LATE_DELAY_MOD}) * {LATE_DELAY_STEP_S}"
        f" > {int(threshold_s)}"
    )
    return f"""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN {late} THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_late,
               CAST(SUM(CASE WHEN {late} THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS late_ppm,
               CAST(MAX((event_id % {LATE_DELAY_MOD})
                        * {LATE_DELAY_STEP_S}) AS BIGINT) AS max_delay_s
        FROM {src}
        GROUP BY 1
    """


# ----------------------------------------------- streaming CUSUM monitor
def daily_cents_fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One micro-batch of per-(type, day) cents maintenance: exact
    bigint cent sums are a commutative monoid, so the settled state
    equals the one-shot daily table for ANY ingest chunking (the
    checksum-fold contract). This is the ADDITIVE half of the streaming
    CUSUM monitor; the sequential half lives in the serving read."""
    daily = (
        batch.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(cents()).alias("cents"))
    )
    if state is None:
        return daily
    return (
        state.unionByName(daily)
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("cents"))
    )


# ----------------------------------------------- streaming growth ledger
def userweek_fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One micro-batch of (user, week) activity-set maintenance: the
    state is a DISTINCT set, and set-union is IDEMPOTENT — so unlike
    the xor/sum folds this one is replay-safe even without the
    read-fold-overwrite discipline carrying exactly-once (a replayed
    epoch unions the same pairs in). Weeks are the arithmetic
    days-since-Monday buckets (snapshot-retention contract)."""
    wk = F.expr(
        "datediff(to_date(ts), DATE '1970-01-05') div 7"
    ).cast("long")
    pairs = (
        batch.filter(F.col("user_id").isNotNull())
        .select("user_id", wk.alias("week"))
        .distinct()
    )
    if state is None:
        return pairs
    return state.unionByName(pairs).distinct()


# ------------------------------------------------- streaming SPRT monitor
def sprt_counts_fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One micro-batch of per-day (trials, successes) maintenance for
    the SPRT monitor: counts are a commutative monoid, so the settled
    state equals the one-shot daily table for ANY ingest chunking.
    Additive half only — the cumulative LLR is a sequential recurrence
    and derives at read time (the cusum-monitor architecture)."""
    daily = batch.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("k"),
    )
    if state is None:
        return daily
    return (
        state.unionByName(daily)
        .groupBy("day")
        .agg(F.sum("n").alias("n"), F.sum("k").alias("k"))
    )

