#!/usr/bin/env python
"""Capture physical plans.

Usage:
  python tools/dump_plans.py [--sf-dir DIR]
      Write PLANS.md: the formatted physical plans of the flagship
      queries with the scale property each one is expected to exhibit —
      the human-readable companion to tests/test_plans.py's machine
      assertions.
  python tools/dump_plans.py --tag T --out DIR [--sf-dir DIR] NAME...
      Write DIR/NAME_T.txt: each named registry query's
      ``.explain("formatted")``, the before/after plan evidence of an
      optimization.
  python tools/dump_plans.py --tag T --out DIR [--sf-dir DIR] --refresh
      Write DIR/refresh_base_T.txt and DIR/refresh_compound_T.txt: what
      one segment refresh runs, for one base rule and one compound
      (dependency-rewritten) rule — the number of Spark jobs and the
      plan of every SQL execution it issued. Each rule is refreshed once
      before the captured run, so the captured run is a warm refresh.
      Plans are the final (adaptive) ones Spark recorded for each
      execution, in ``spark.sql.ui.explainMode`` (formatted by default).
  python tools/dump_plans.py --tag T --out DIR [--sf-dir DIR] --api
      Write DIR/api_ROUTE_T.txt for each REST analytics read in
      ``API_ROUTES``: the number of Spark jobs and the plan of every SQL
      execution one warm request ran, captured as ``--refresh`` captures
      a refresh. The service runs over a catalog with one materialized
      base rule.

``--sf-dir`` defaults to the sf0.01 fixtures. In every file written,
the fixture directory reads ``<sf-dir>``, the session's warehouse
directory ``<warehouse>``, the refresh's temporary catalog directory
``<catalog>``, each ``materialize()`` scratch directory
``<materialized>`` and the shuffle partition count
``<shuffle-partitions>``, and exchange plan ids count from 1 in order of
appearance, so a capture does not depend on the box or the run it came
from.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

AMT = {"field": "transaction_amount", "operator": ">", "value": "120"}
TIER = {"field": "city_tier", "operator": "=", "value": "1"}

SHOWCASE = [
    (
        "rule_mixed",
        "Core segment rule: all predicates pushed to the parquet scan, ONE "
        "user_id shuffle with map-side partial aggregation.",
    ),
    (
        "tpch_q6_forecast_revenue",
        "Pushdown showcase: every filter reaches PushedFilters; scan reads "
        "only the 4 needed columns.",
    ),
    (
        "tpch_q5_local_supplier",
        "6-way join: bounded dims broadcast; fact-to-fact (lineitem-orders) "
        "shuffles on the shared order key.",
    ),
    (
        "tpch_q21_waiting_suppliers",
        "Decorrelated double-EXISTS: per-order aggregate joins back on the "
        "order key (shuffle, NOT broadcast - the aggregate is data-sized at "
        "warehouse scale).",
    ),
    (
        "analytics_trailing_rollups",
        "Single-pass conditional aggregation: one fact shuffle, no "
        "|windows|x row explosion (no Expand/Generate below the aggregate).",
    ),
    (
        "dedup_minhash_lsh_pairs",
        "Band-keyed candidate join (never all-pairs); max_band_size caps "
        "hot-band blowup; signatures computed once.",
    ),
    (
        "ann_lsh_near_pairs",
        "Bucket self-join carries only (vec_id, bucket); exact verification "
        "joins vectors back by id; shuffle_hash on bounded buckets.",
    ),
    (
        "kmeans_embedding_clusters",
        "Assignment is a SHUFFLE-FREE narrow map: the driver-side model is "
        "folded into the projection as literals (greatest() over per-"
        "centroid structs, two-stage so codegen can split the columns); "
        "the only exchange is the mean update, carrying at most K*dim "
        "doubles after partial aggregation.",
    ),
    (
        "heavy_hitters_value_bands",
        "Two-pass exact heavy hitters: O(k)-state Misra-Gries candidates per "
        "partition (ArrowEval, no shuffle), exact recount of the bounded "
        "candidate set.",
    ),
    (
        "corpus_curation_ledger",
        "Stage operators key-joined on doc_id; quality/token/split stages "
        "are pure projections folded into the probe sides.",
    ),
    (
        "dedup_semantic",
        "SemDeDup: pairwise cosine stage is an equi-join keyed on the "
        "k-means cell (cost sum(|cell|^2), never corpus^2); keep rule is "
        "one anti-join-shaped decision, no iterative closure.",
    ),
    (
        "validate_events_expectations",
        "All expectations compile to ONE aggregate scan (map-side "
        "partials); verdict rows come from stack over the 1-row summary "
        "- no second scan, no collect.",
    ),
    (
        "corpus_quality_bins",
        "Decile assignment without a global ntile sort: one exact-"
        "quantile aggregate, thresholds ride a 1-row broadcast, bin is "
        "a per-row expression.",
    ),
    (
        "ts_resample_locf",
        "Dense grid = sequence() exploded against a broadcast 1-row span "
        "(no collect, no second scan); LOCF is one window pass; two data "
        "exchanges end to end (compaction + window), grid join broadcast.",
    ),
    (
        "ann_pq_adc_topk",
        "ADC: per-query LUTs are constant arrays indexed by the code "
        "columns - candidate scoring is a narrow map (4 lookups + 3 adds "
        "per candidate); the only wide op is the final per-query top-k "
        "window.",
    ),
    (
        "pagerank_customer_supplier",
        "One equi-join + one dst-keyed aggregate per iteration (Pregel's "
        "data movement) on encoded bigint node ids; the materialized "
        "invariant (node, deg) state is the update-join carrier, so the "
        "unrolled loop is one LINEAR plan chain over two materialized "
        "leaves (r5: no per-iteration writes); AQE skew-join splits hub "
        "nodes.",
    ),
    (
        "rollup_incremental_refresh",
        "Churn-proportional maintenance: changed-day set broadcast into a "
        "semi-join (recompute) and an anti-join (carry-over); the base "
        "re-scan prunes to changed partitions on a day-partitioned table.",
    ),
    (
        "analytics_rfm_segments",
        "RFM scoring: purchases reduce to one row per user (single "
        "exchange); the anchor day and the 6 quantile thresholds ride "
        "1-row broadcasts; every score is a per-row expression after "
        "that.",
    ),
    (
        "text_bm25_topk",
        "BM25: the posting explode is FILTERED to the query's terms "
        "before aggregation — the (doc, term) shuffle carries matching "
        "postings only; N/avgdl/df are broadcasts; final top-k is "
        "TakeOrderedAndProject.",
    ),
    (
        "dedup_line_stats",
        "Line dedup: keeper election is a map-side-combinable MIN over "
        "bigint-encoded positions (hot boilerplate lines partial-"
        "aggregate before the shuffle); the join back reuses the "
        "line_text hash partitioning.",
    ),
    (
        "analytics_linear_attribution",
        "Multi-touch credit: ONE user-keyed RANGE-frame window over epoch "
        "seconds — no purchases-to-clicks self-join, so power users cost "
        "O(events), not O(purchases x clicks).",
    ),
    (
        "hybrid_search_rrf",
        "RRF fusion: both towers end in bounded top-pool results before "
        "the fusion join, which therefore touches at most 2*pool rows "
        "regardless of corpus size.",
    ),
    (
        "dedup_duplicate_spans",
        "Exact-substring dedup: positional k-gram hashes (gram strings "
        "never shuffle), map-side-combinable occurrence count, LEFT SEMI "
        "restriction with a distinct build side (hot grams cannot "
        "explode), islands merge as doc-partitioned windows.",
    ),
    (
        "skew_key_profile",
        "Shuffle-key skew diagnostics: the events collapse in a map-side-"
        "combinable per-key count FIRST; the single-partition ntile "
        "window (the documented exact-decile cost) runs over the |keys| "
        "table, never the fact rows.",
    ),
    (
        "dedup_cross_corpus",
        "Train x benchmark contamination: the band self-join is "
        "restricted to cross-side pairs, so the candidate exchange "
        "carries eval-side bands (a sliver) against colliding train "
        "bands — never the full band table squared.",
    ),
    (
        "graph_trade_communities",
        "LPA superstep chain: edges and per-level label state are "
        "materialized leaves; each superstep is one equi-join + one "
        "vote aggregate + a per-node top-1 window — the Pregel data "
        "movement with no 2^iters plan replay.",
    ),
    (
        "emb_margin_mutual_knn",
        "Margin-based bitext mining: the scored table is materialized "
        "ONCE and feeds all four downstream passes (two kNN denominators, "
        "two argmaxes) — keyed windows/aggregates over (id, id, cosine) "
        "triples; the exact bigint micro-cosine sums keep the margin "
        "order-free.",
    ),
    (
        "dedup_incremental_probe",
        "Nightly-delta LSH maintenance: delta band keys join the standing "
        "band table + each other; base-vs-base pairs never re-derived — "
        "candidate cost scales with |delta| band rows, not corpus².",
    ),
    (
        "ann_adc_rerank_topk",
        "Two-stage retrieval: the ADC scan shortlists 4k candidates per "
        "query (narrow LUT map), then the exact stage re-reads ONLY "
        "shortlist vectors via a neighbor_id-keyed join — model-scale, "
        "never corpus-scale.",
    ),
    (
        "table_bucketed_join",
        "Bucketed SMB layout: both sides written bucketBy(custkey) once; "
        "the join pairs bucket i with bucket i (zero Exchange below the "
        "join when broadcast is off — pinned in tests/test_plans.py); "
        "the rollup is the only shuffle.",
    ),
    (
        "corpus_cluster_safe_split",
        "Leakage-safe splitting: both split strategies are pure per-row "
        "hash projections (no shuffle); the straddle audit is a "
        "fingerprint-keyed aggregate — the same exchanges exact dedup "
        "already pays.",
    ),
    (
        "ann_chunk_maxsim_ivf_topk",
        "Gated late-interaction SERVING path: probe selection is a "
        "broadcast cross of |queries| x K cells; scoring is one cent_id "
        "equi-join against the prebuilt inverted lists (precomputed "
        "norms, codegen dots) touching ~n_probes/n_cells of the corpus; "
        "max-pool is a combinable struct-max aggregate; only the pooled "
        "table reaches the top-k window.",
    ),
    (
        "ann_hamming_topk",
        "Binary memory tier: the 64-bit sign-code scan does one "
        "xor+popcount per candidate (fused codegen); full vectors are "
        "re-fetched ONLY for the |queries| x shortlist re-rank join.",
    ),
    (
        "layout_compaction_plan",
        "OPTIMIZE costing step: one map-side-combinable (type, day) "
        "footprint aggregate; the bin-packing window runs over the "
        "|partitions|-row FILE-STATS table, never the raw rows — the "
        "plan's only data-sized stage is the scan.",
    ),
    (
        "validate_partition_completeness",
        "Ingest gate: per-day counts reduce map-side, the dense day grid "
        "comes from one broadcast 1-row span, and the trailing-median "
        "window rides the |days|-row table.",
    ),
    (
        "join_pit_features",
        "Feature-store PIT join: the as-of is ONE union-window pass on "
        "user_id (no per-label probe, no range explosion); the naive-join "
        "leakage audit adds exactly one more keyed shuffle.",
    ),
]


def _explain(df, mode: str) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _mask_shuffle_partitions(text: str, n: str) -> str:
    """``text`` with the partition count ``n`` of every hash, range or
    round-robin partitioning replaced by ``<shuffle-partitions>``: the
    count follows the session's ``spark.sql.shuffle.partitions``, which
    follows the box's cores."""
    out, i = [], 0
    lowered = text.lower()
    while (j := lowered.find("partitioning(", i)) != -1:
        start = j + len("partitioning(")
        depth, k = 1, start
        while depth and k < len(text):
            depth += {"(": 1, ")": -1}.get(text[k], 0)
            k += 1
        if depth:
            break
        inner = text[start : k - 1]
        head, sep, last = inner.rpartition(",")
        if last.strip() == n:
            inner = f"{head}, <shuffle-partitions>" if sep else "<shuffle-partitions>"
        out.append(text[i:start] + inner + ")")
        i = k
    return "".join(out) + text[i:]


# A ``partitioning.materialize`` scratch directory: a random name under
# the temp root, new on every run.
_MATERIALIZED_DIR = re.compile(r"[^\s\[\],]*amp-mat-[0-9a-z_]+")
_PLAN_ID = re.compile(r"plan_id=(\d+)")


def _renumber_plan_ids(text: str) -> str:
    """``text`` with every exchange ``plan_id`` renumbered 1, 2, .. in
    order of first appearance. The session counter behind them also
    counts adaptive re-plans, whose number varies from run to run;
    renumbering keeps each id's references to one exchange intact."""
    ids: dict[str, int] = {}
    return _PLAN_ID.sub(
        lambda m: f"plan_id={ids.setdefault(m.group(1), len(ids) + 1)}", text
    )


def _write(path: str, text: str, placeholders: dict[str, str]) -> None:
    """Write ``text`` to ``path`` with every key of ``placeholders`` (a
    machine path) replaced by its value, every ``materialize()`` scratch
    directory by ``<materialized>``, exchange plan ids renumbered
    (:func:`_renumber_plan_ids`) and the shuffle partition count masked
    (:func:`_mask_shuffle_partitions`)."""
    from pyspark.sql import SparkSession

    for real, placeholder in placeholders.items():
        text = text.replace(real, placeholder)
    text = _renumber_plan_ids(_MATERIALIZED_DIR.sub("<materialized>", text))
    n = SparkSession.active().conf.get("spark.sql.shuffle.partitions")
    text = _mask_shuffle_partitions(text, n)
    with open(path, "w") as fh:
        fh.write(text)
    print(f"wrote {path}", file=sys.stderr)


def plans_md(spark, sf_dir: str) -> str:
    from audience_manager_platform_spark import registry

    queries = registry.queries()
    out = [
        "# PLANS — flagship physical plans (sf0.01, static/adaptive pre-run)",
        "",
        "Generated by `python tools/dump_plans.py`. The machine-checked",
        "versions of these properties live in `tests/test_plans.py`.",
        "",
    ]
    for name, note in SHOWCASE:
        plan = _explain(queries[name](spark, sf_dir), "simple").strip()
        out += [f"## {name}", "", note, "", "```", plan, "```", ""]
    return "\n".join(out)


def _captured(spark, group: str, action, head) -> str:
    """Run ``action()`` inside the job group ``group``, and return its
    report: ``head(result, jobs, executions)`` — the number of Spark jobs
    it ran and of SQL executions it issued — then every execution's
    plan."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    seen = {e.executionId() for e in _executions(store)}
    sc.setJobGroup(group, "captured run")
    try:
        result = action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    new = [e for e in _executions(store) if e.executionId() not in seen]
    out = [head(result, jobs, len(new)), ""]
    for e in sorted(new, key=lambda e: e.executionId()):
        out += [
            f"== SQL execution {e.executionId()}: {e.description()} ==",
            e.physicalPlanDescription(),
            "",
        ]
    return "\n".join(out)


def capture_refresh(spark, engine, rule_id: int) -> str:
    return _captured(
        spark,
        f"refresh-{rule_id}",
        lambda: engine.execute_rule(rule_id),
        lambda rows, jobs, n: f"rule {rule_id}: {rows} rows, {jobs} Spark jobs, {n} SQL executions",
    )


def _executions(store) -> list:
    it = store.executionsList().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def dump_refresh(spark, sf_dir: str, out_dir: str, tag: str, placeholders) -> None:
    from audience_manager_platform_spark.catalog import Catalog
    from audience_manager_platform_spark.engine import AudienceEngine
    from audience_manager_platform_spark.sources import (
        load_table,
        unified_transactions_from_events,
    )

    with tempfile.TemporaryDirectory() as work:
        engine = AudienceEngine(
            spark,
            Catalog(work),
            lambda: unified_transactions_from_events(load_table(spark, sf_dir, "events")),
        )
        base = engine.create_rule("amt", [AMT])
        engine.create_rule("tier", [TIER])
        compound = engine.create_rule("amt_and_tier", [AMT, TIER])
        engine.execute_all()
        catalog = {os.path.realpath(work): "<catalog>", work: "<catalog>"}
        for kind, rule in (("base", base), ("compound", compound)):
            _write(
                os.path.join(out_dir, f"refresh_{kind}_{tag}.txt"),
                capture_refresh(spark, engine, rule.rule_id),
                {**catalog, **placeholders},
            )


# (name, url) of each analytics read the REST facade serves, with the
# request parameters of the api_reads benchmark; ``{rule_id}`` is a
# materialized segment.
API_ROUTES = (
    ("category_totals", "/api/v1/analytics/category-totals?start_date=2024-01-03&end_date=2024-01-20"),
    ("daily_totals", "/api/v1/analytics/daily-totals?days=14"),
    ("summary", "/api/v1/analytics/summary"),
    ("users", "/api/v1/analytics/users?page=2&min_amount=50"),
    ("users_days", "/api/v1/analytics/users?page=1&transaction_type=UPI&days=14"),
    ("transactions", "/api/v1/transactions/upi?page=2&per_page=5"),
    ("sample", "/api/v1/segments/{rule_id}/sample_data"),
)


def dump_api(spark, sf_dir: str, out_dir: str, tag: str, placeholders) -> None:
    from audience_manager_platform_spark.api import create_app
    from audience_manager_platform_spark.catalog import Catalog
    from audience_manager_platform_spark.engine import AudienceEngine
    from audience_manager_platform_spark.sources import (
        load_table,
        unified_transactions_from_events,
    )
    from audience_manager_platform_spark.sources.transactions import (
        transactions_with_id,
    )

    with tempfile.TemporaryDirectory() as work:
        events = load_table(spark, sf_dir, "events")
        txns = unified_transactions_from_events(events)
        engine = AudienceEngine(spark, Catalog(work), lambda: txns)
        rule = engine.create_rule("amt", [AMT])
        engine.execute_rule(rule.rule_id)
        client = create_app(
            engine, transactions_detail=lambda: transactions_with_id(events)
        ).test_client()
        catalog = {os.path.realpath(work): "<catalog>", work: "<catalog>"}
        for name, url in API_ROUTES:
            url = url.format(rule_id=rule.rule_id)
            client.get(url)  # warm: the captured request is a warm read
            _write(
                os.path.join(out_dir, f"api_{name}_{tag}.txt"),
                _captured(
                    spark,
                    f"api-{name}",
                    lambda: client.get(url),
                    lambda reply, jobs, n: f"GET {url}: HTTP {reply.status_code}, "
                    f"{jobs} Spark jobs, {n} SQL executions",
                ),
                {**catalog, **placeholders},
            )


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Write PLANS.md, or capture plans with --tag/--out."
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--tag", help="suffix of the captured files' names")
    ap.add_argument("--out", help="directory of the captured files")
    ap.add_argument(
        "--refresh",
        action="store_true",
        help="capture one base and one compound segment refresh",
    )
    ap.add_argument(
        "--api",
        action="store_true",
        help="capture one warm request of each REST analytics read",
    )
    ap.add_argument("names", nargs="*", help="registry queries to capture")
    args = ap.parse_args()
    capturing = bool(args.names or args.refresh or args.api)
    if not capturing == bool(args.tag) == bool(args.out):
        ap.error("--tag and --out go together, with NAME..., --refresh or --api")

    from audience_manager_platform_spark import registry
    from audience_manager_platform_spark.session import get_spark

    spark = get_spark("plans")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    placeholders = {os.path.abspath(args.sf_dir): "<sf-dir>", warehouse: "<warehouse>"}
    if not capturing:
        _write(os.path.join(ROOT, "PLANS.md"), plans_md(spark, args.sf_dir), placeholders)
    else:
        os.makedirs(args.out, exist_ok=True)
        queries = registry.queries()
        for name in args.names:
            _write(
                os.path.join(args.out, f"{name}_{args.tag}.txt"),
                _explain(queries[name](spark, args.sf_dir), "formatted"),
                placeholders,
            )
        if args.refresh:
            dump_refresh(spark, args.sf_dir, args.out, args.tag, placeholders)
        if args.api:
            dump_api(spark, args.sf_dir, args.out, args.tag, placeholders)
    spark.stop()


if __name__ == "__main__":
    main()
