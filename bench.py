#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) in one warm
SparkSession and prints ONE JSON line.

Usage: python bench.py                     # HEADLINE, 3 runs (2 for HEAVY)
       python bench.py [--repeat N] NAME...  # the named registry queries
       python bench.py --all [--repeat N]    # every registry query

Each sample runs under its own job group; stderr gets its rows, seconds,
plan-construction seconds and per-job lines. Outside perfbench/, the
session start, the hash-force and the shutdown below are the only copies;
other tools import them.

Baseline context (BASELINE.md): the reference runs each rule as a cold
spark-submit subprocess at ~10-12 s per rule over 5k rows. This engine
amortizes one session across all queries; the bar is beating that latency
class at 100x the data.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module scope: pandas_udf hints resolve by name

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative slice of SURVEY.md §2: rule engine + set algebra +
# analytics + joins/windows + dedup/similarity + streaming, plus (r2)
# the heaviest wave-3 joins, gaps-and-islands, TF-IDF and the real
# multimodal decode so regressions in those paths surface per-round.
# Supersets the r1 list — BENCH_rN stays comparable round over round.
HEADLINE = [
    "rule_mixed",
    "segment_intersection",
    "analytics_trailing_rollups",
    "analytics_daily_totals",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "window_topn_per_group",
    "dedup_minhash_lsh_pairs",
    "ann_lsh_near_pairs",
    "streaming_window_counts",
    # r2 additions
    "tpch_q9_profit_by_nation_year",
    "tpch_q21_waiting_suppliers",
    "window_gaps_islands_sessions",
    "text_tfidf_top_terms",
    "multimodal_wav_decode",
    # r2 wave 2: learned-quantizer ANN, warehouse maintenance, curation
    "kmeans_embedding_clusters",
    "scd2_user_state_history",
    "heavy_hitters_value_bands",
    "corpus_curation_ledger",
    # r2 wave 3: SemDeDup semantic dedup over the planted-twin corpus
    "dedup_semantic",
    # r3: PQ/ADC ann, PageRank, time-series resample, incremental rollup
    "ann_pq_adc_topk",
    "pagerank_customer_supplier",
    "ts_resample_locf",
    "rollup_incremental_refresh",
    # r4: the rest of the PQ family — the two most expensive registry
    # queries were invisible to round-over-round bench diffs
    "ann_ivfpq_adc_topk",
    "pq_code_histogram",
    # r4 additions: residual IVF-PQ (FAISS-exact layout), scalar
    # quantization, bloom decontamination, inverted index
    "ann_ivfpq_residual_topk",
    "ann_sq_adc_topk",
    "corpus_bloom_decontaminate",
    "text_inverted_postings",
    # r5 additions: audience analytics trio + line dedup + BM25 +
    # k-anonymity governance audit
    "analytics_rfm_segments",
    "analytics_top_session_paths",
    "analytics_linear_attribution",
    "dedup_line_stats",
    "text_bm25_topk",
    "privacy_k_anonymity_customer",
    # r5 wave 2: hybrid retrieval, diversity core-set, CMS sketch,
    # spatial rollup, audience overlap
    "hybrid_search_rrf",
    "sample_kcenter_diverse",
    "sketch_cms_user_counts",
    "geo_cell_rollup",
    "segment_overlap_matrix",
    # r5 wave 3: exact-substring span dedup, BPE training, DP release
    "dedup_duplicate_spans",
    "text_bpe_train",
    "privacy_dp_event_counts",
    # r5 wave 4: DSIR data selection, late-interaction retrieval,
    # MinHash estimator audit, IVF tuning sweep
    "corpus_dsir_weights",
    "ann_chunk_maxsim_topk",
    "dedup_minhash_accuracy",
    "ann_ivf_probe_sweep",
    # r5 wave 5: shuffle-key skew diagnostics, corpus novelty curve,
    # mean-shift changepoint scan
    "skew_key_profile",
    "corpus_ngram_novelty",
    "ts_changepoint_mean_shift",
    # r5 waves 6-8: RAKE keyphrases, cross-corpus contamination, LPA
    # communities, per-source JSD
    "text_rake_keywords",
    "dedup_cross_corpus",
    "graph_trade_communities",
    "corpus_source_jsd",
    # r5 tail: real BMP resize, soft-dedup weights, DB cluster quality,
    # hard-negative mining, PMI collocations
    "multimodal_bmp_resize",
    "dedup_soft_weights",
    "kmeans_cluster_quality",
    "ann_hard_negatives",
    "text_bigram_pmi",
    # r5 waves 9-10: ER match+cluster, margin bitext mining, incremental
    # LSH probe, two-stage ADC re-rank, triangles, leakage-safe splits,
    # HLL overlap algebra, seasonal-naive backtest
    "er_fuzzy_part_pairs",
    "emb_margin_mutual_knn",
    "dedup_incremental_probe",
    "ann_adc_rerank_topk",
    "graph_triangle_parts",
    "corpus_cluster_safe_split",
    "hll_retention_overlap",
    "ts_seasonal_naive_backtest",
    # r5 waves 17-18: drift audits, ranking-quality evals, layout
    # pruning dry-run, MMR diversification
    "validate_psi_drift",
    "validate_ks_drift",
    "layout_pruning_audit",
    "ann_mmr_rerank_topk",
    "text_langid_en_auc",
    # r6: IVF-gated late-interaction serving path (the exact
    # ann_chunk_maxsim_topk above stays as its recall baseline)
    "ann_chunk_maxsim_ivf_topk",
    # r6 wave 23: binary 1-bit codes, Hamming shortlist + exact re-rank
    "ann_hamming_topk",
    # r7 wave 26: MERGE dry-run audit, algebraic rollup maintenance,
    # winsorized robust stats, pHash near-dup (now oracle-paired)
    "cdc_merge_upsert_actions",
    "rollup_algebraic_merge",
    "feature_winsorize_events",
    "multimodal_phash_neardup",
]

# Repeats per query: medians make the bench regression-proof (r3 saw a
# 3.5x single-shot swing on untouched code). Default 3 runs; the
# heaviest families are trimmed to 2 to bound total wall-clock.
REPEATS_DEFAULT = 3
REPEATS_HEAVY = 2
HEAVY = {
    "dedup_duplicate_spans",
    "text_bpe_train",
    "dedup_semantic",
    "kmeans_embedding_clusters",
    "ann_pq_adc_topk",
    "ann_ivfpq_adc_topk",
    "pq_code_histogram",
    "pagerank_customer_supplier",
    "ann_ivfpq_residual_topk",
    "dedup_minhash_accuracy",
    "ann_ivf_probe_sweep",
    "emb_margin_mutual_knn",
    "ann_adc_rerank_topk",
    # NOT ann_chunk_maxsim_ivf_topk: its first sample carries the
    # one-time per-corpus index build (~20-25s at sf0.1, idle-confirmed
    # r9) — at 2 repeats the median averaged build+serve (13.9s local
    # r8); at 3 the median is the warm serving cost (~3-4s), and the
    # build stays visible in the recorded runs[] samples.
}


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def start_session(app_name: str = "bench"):
    """The measuring session: the engine's ``get_spark`` plus a warm-up,
    so no timed work pays for JVM start-up or the Python workers.

    Streaming state-store maintenance is pointless for a process that
    exits right after: a 1-hour interval guarantees the maintenance
    thread never wakes up mid-shutdown and dumps a WARN stack trace into
    the captured output (the r7/r8 bench artifacts were corrupted by
    exactly that trace landing after the JSON line)."""
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.session import get_spark

    spark = get_spark(
        app_name,
        extra_conf={
            "spark.sql.streaming.stateStore.maintenanceInterval": "3600s",
        },
    )
    # warm the JVM/codegen paths once with a trivial job ...
    spark.range(1000).count()
    # ... and the Arrow/pandas Python workers (one per core; each imports
    # numpy+pandas on first use — session warm-up, not query cost)

    @F.pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    cpus = _cpus()
    spark.range(100 * cpus, numPartitions=cpus).select(
        _warm(F.col("id").cast("double"))
    ).count()
    return spark


def force(df) -> int:
    """Materialize EVERY output column of ``df``; return its row count.
    A bare ``count()`` lets Catalyst prune unused projections (whole
    window operators, even left joins against distinct-keyed sides),
    timing a hollowed-out plan for projection-shaped queries. Hashing the
    complete row struct into the aggregate makes every column
    load-bearing."""
    from pyspark.sql import functions as F

    return (
        df.select(F.xxhash64(F.struct(*df.columns)).alias("_h"))
        .agg(F.count("*").alias("n"), F.expr("bit_xor(_h)"))
        .collect()[0]["n"]
    )


def probe_seconds(spark) -> float:
    """Fixed-work calibration, timed once after warm-up and outside every
    query: a pure-Python loop plus one small Spark job. It tells machine
    drift apart from code changes across runs."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    spark.range(0, 4_000_000, numPartitions=_cpus()).selectExpr(
        "sum(hash(id)) AS h"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def driver_jvm_flags(spark) -> list[str]:
    """The driver JVM's ``-XX:`` and ``-Xmx`` launch flags, so an artifact
    shows which heap and JIT compile budget its timings ran under."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [
        a for a in mx.getRuntimeMXBean().getInputArguments() if a.startswith(("-XX:", "-Xmx"))
    ]


def shutdown(spark, line: str | None = None) -> None:
    """Quiet, ordered exit: stop any streaming queries, drop the log level
    so stop() itself can't emit WARNs, stop the session, sweep the
    ``materialize()`` scratch dirs (amp-mat-*: shared ANN index tables,
    q15 rollup; ``os._exit`` skips the atexit hook that would), and give
    lingering JVM threads a moment — so ``line``, when given, is the LAST
    thing on the output. ``os._exit`` skips the py4j/gateway teardown
    noise."""
    from audience_manager_platform_spark.operators import partitioning

    for q in spark.streams.active:
        q.stop()
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    partitioning._sweep_materialized()
    sys.stderr.flush()
    time.sleep(2)
    if line is not None:
        print(line)
    sys.stdout.flush()
    os._exit(0)


def time_sample(spark, fn, group: str) -> tuple[int, float, float]:
    """One sample of a registry query: (rows, seconds, plan-construction
    seconds). The timed region is plan construction plus the forced
    collect; every job it runs carries the job group ``group``, which is
    set before the region and cleared after it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, None)
    t0 = time.perf_counter()
    df = fn(spark, SF_DIR)
    t_plan = time.perf_counter()
    n = force(df)
    t1 = time.perf_counter()
    sc._jsc.clearJobGroup()
    return n, round(t1 - t0, 3), round(t_plan - t0, 3)


def job_lines(spark, group: str) -> list[str]:
    """One line per job of ``group``: id, seconds, task count and
    description (the call site when no description was set), read from
    the driver's status store, which needs neither the UI nor HTTP."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        secs = (
            (end.get().getTime() - start.get().getTime()) / 1000
            if start.isDefined() and end.isDefined()
            else float("nan")
        )
        desc = job.description().get() if job.description().isDefined() else job.name()
        out.append(f"job {jid}: {secs:.3f}s, {job.numTasks()} tasks, {desc}")
    return out


def main() -> None:
    import argparse
    import statistics

    from audience_manager_platform_spark import registry

    ap = argparse.ArgumentParser(
        description="Time registry queries (default: HEADLINE) in one warm "
        "session and print ONE JSON line; per-sample job breakdowns go to "
        "stderr and the full result to bench_full.json."
    )
    ap.add_argument(
        "--all", action="store_true", help="every registry query, single-shot"
    )
    ap.add_argument(
        "--repeat",
        type=int,
        help=f"samples per query (default {REPEATS_DEFAULT}, "
        f"{REPEATS_HEAVY} for HEAVY, 1 with --all)",
    )
    ap.add_argument("names", nargs="*", help="registry queries to time instead")
    args = ap.parse_args()
    queries = registry.queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown or (args.all and args.names):
        ap.error(f"unknown queries {unknown}" if unknown else "--all takes no names")
    names = sorted(queries) if args.all else (args.names or HEADLINE)

    spark = start_session()
    probe_sec = probe_seconds(spark)
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    # with 4+ samples of named queries, also report the steady state: the
    # median of samples 3..N, once the first two have paid for the JIT and
    # any one-time asset builds
    steady = bool(args.names) and (args.repeat or 0) >= 4
    warm: dict[str, float] = {}
    for name in names:
        # --all (the full sweep) stays single-shot for runtime; otherwise
        # each query reports the MEDIAN of repeated runs
        n_rep = args.repeat or (
            1 if args.all else (REPEATS_HEAVY if name in HEAVY else REPEATS_DEFAULT)
        )
        samples = []
        for i in range(n_rep):
            group = f"bench:{name}:{i + 1}"
            n, secs, plan_secs = time_sample(spark, queries[name], group)
            samples.append(secs)
            jobs = job_lines(spark, group)
            print(
                f"# {name} sample {i + 1}: {n} rows in {secs}s, plan "
                f"construction {plan_secs}s, {len(jobs)} jobs",
                *(f"#   {j}" for j in jobs),
                sep="\n",
                file=sys.stderr,
            )
        runs[name] = samples
        timings[name] = round(statistics.median(samples), 3)
        print(
            f"# {name}: {n} rows; median {timings[name]}s of {samples}",
            file=sys.stderr,
        )
        if steady:
            warm[name] = round(statistics.median(samples[2:]), 3)
            print(
                f"# {name}: warm median (samples 3..{n_rep}) {warm[name]}s",
                file=sys.stderr,
            )
    if steady:
        print(
            f"# warm median (samples 3..{args.repeat}) summed over "
            f"{len(warm)} queries: {round(sum(warm.values()), 3)}s",
            file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    # r4+: timings force FULL column materialization (hash-forced) — a
    # bare count() let Catalyst prune unused projections, so earlier
    # rounds' numbers for projection-shaped queries were optimistic;
    # the label records the protocol so cross-round diffs read right
    if args.all and not args.repeat:
        label = (
            f"total wall-clock of all {len(names)} registered queries, one "
            f"warm session, full-materialization timing"
        )
    else:
        which = "registered" if args.all else "named" if args.names else "headline"
        reps = (
            f"{args.repeat} runs"
            if args.repeat
            else f"{REPEATS_DEFAULT} runs, heavy families {REPEATS_HEAVY}"
        )
        label = (
            f"sum over {len(names)} {which} queries of the per-query median "
            f"({reps}), one warm session, full-materialization timing"
        )
    # Full artifact (all timings + raw runs) goes to a side file; stdout
    # gets ONE compact JSON line sized to survive a 2000-char
    # output-tail capture (BENCH_r07/r08 both recorded parsed:null because
    # the full per-query dict overflowed that tail).
    full = {
        "metric": label,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "families": _families(timings),
        "sf": float(sf),
        "probe_sec": probe_sec,
        "driver_jvm": driver_jvm_flags(spark),
        "runs": runs,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(full, fh, indent=1)

    shutdown(spark, _compact_line(label, total, timings, float(sf), names, probe_sec))


# The driver tail-captures EXACTLY 2000 chars of output (measured: the
# "tail" field of BENCH_r09/r10.json is 2000 chars long, line + trailing
# newline included); the final JSON line plus its newline must sit whole
# inside that window or the front of the line is cut off and nothing
# parses. Entries are added in priority order (bench list order, so
# round-over-round membership is stable) until the budget is reached; the
# full dict always lands in bench_full.json.
_TAIL_BUDGET = 1950  # 2000 - newline - margin for a stray '\r'

# r10 verdict item 2: the families dict added in r10 (439 chars) pushed
# 16 of 80 per-query entries out of the driver tail — per-query entries
# are the primary round-over-round diff signal, so guarantee at least
# the r9-parity floor of them FIRST, then add families only if budget
# remains, then keep filling with more per-query entries.
_QUERY_FLOOR = 56


def _families(timings: dict[str, float]) -> dict[str, float]:
    """Per-family wall-clock sums (family = name prefix up to the first
    underscore). ~25 families always fit the tail budget where 372
    per-query entries cannot, so round-over-round DRIVER artifacts can
    be diffed per family without the local bench_full.json (r9 verdict
    #7 — the regression-guard granularity the driver tail lost when the
    registry outgrew the line)."""
    fams: dict[str, float] = {}
    for name, t in timings.items():
        fam = name.split("_", 1)[0]
        fams[fam] = fams.get(fam, 0.0) + t
    return {k: round(v, 2) for k, v in sorted(fams.items())}


def _compact_line(
    label: str,
    total: float,
    timings: dict[str, float],
    sf: float,
    priority: list[str],
    probe_sec: float,
) -> str:
    # probe with the WORST-CASE detail suffix so upgrading it at the end
    # can never push an accepted line over the budget
    probe = {
        "metric": label,
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": sf,
        "probe_sec": probe_sec,
        "detail": f"bench_full.json ({len(timings)} more queries)",
    }

    def _fits(queries: dict) -> bool:
        cand = {**probe, "queries": queries}
        return len(json.dumps(cand, separators=(",", ":"))) <= _TAIL_BUDGET

    avail = [n for n in priority if n in timings]
    q: dict[str, float] = {}
    # 1) per-query entries up to the floor (primary diff signal)
    for name in avail[:_QUERY_FLOOR]:
        cand = {**q, name: round(timings[name], 2)}
        if not _fits(cand):
            break
        q = cand
    # 2) per-family sums, only if the budget still has room (r9 verdict
    #    #7 wanted them; r10 verdict #2 ranks per-query entries above them)
    fams = _families(timings)
    if len(q) >= min(_QUERY_FLOOR, len(avail)) and len(
        json.dumps({**probe, "queries": q, "families": fams}, separators=(",", ":"))
    ) <= _TAIL_BUDGET:
        probe["families"] = fams
    # 3) keep filling with more per-query entries while they fit
    for name in avail[len(q):]:
        cand = {**q, name: round(timings[name], 2)}
        if not _fits(cand):
            break
        q = cand
    probe["queries"] = q
    if len(q) < len(timings):
        probe["detail"] = (
            f"bench_full.json ({len(timings) - len(q)} more queries)"
        )
    else:
        probe["detail"] = "bench_full.json"
    return json.dumps(probe, separators=(",", ":"))


if __name__ == "__main__":
    main()
