"""Warehouse-maintenance query family: dimension history (SCD2),
changelog compaction (CDC latest-wins), deterministic stratified
sampling, and the end-to-end corpus-curation ledger.

These are the table-maintenance operations the reference performs only
in its crudest form (full DROP + rewrite per segment refresh,
``backend/app/processor/spark_processor.py:177-203``); here each is a
first-class, oracle-checked operator with the incremental shape a
100 TB warehouse needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import corpus as C
from ..operators import merge as MG
from ..operators.er import (
    blocking_quality,
    blocking_quality_sql,
    entity_clusters,
    entity_clusters_sql,
    fellegi_sunter_patterns,
    fellegi_sunter_patterns_sql,
    fuzzy_blocked_pairs,
    fuzzy_blocked_pairs_sql,
    survivorship,
    survivorship_sql,
)
from ..operators.graph import (
    personalized_pagerank_customer_seeds,
    personalized_pagerank_sql,
    bfs_distances,
    bfs_distances_sql,
    kcore_nodes,
    kcore_nodes_sql,
    degree_histogram_customer_supplier,
    degree_histogram_sql,
    neighbor_jaccard,
    neighbor_jaccard_sql,
    pagerank_customer_supplier,
    pagerank_sql,
    trade_communities,
    trade_communities_sql,
    link_prediction_scores,
    link_prediction_scores_sql,
    triangle_participation,
    triangle_participation_sql,
)
from ..operators.maintenance import (
    compaction_plan,
    compaction_plan_sql,
    snapshot_retention_plan,
    snapshot_retention_plan_sql,
    daily_rollup,
    daily_rollup_sql,
    incremental_rollup_refresh,
    pruning_audit,
    pruning_audit_sql,
    zorder_key,
    zorder_key_sql,
)
from ..operators.reconcile import (
    forget_users,
    forget_users_sql,
    table_diff,
    table_diff_sql,
)
from ..operators.skew import (
    heavy_hitters,
    heavy_hitters_sql,
    hll_retention_overlap,
    hll_retention_overlap_sql,
)
from ..operators.geo import (
    geo_cell_rollup,
    geo_cell_rollup_sql,
    geo_neighbor_smoothing,
    geo_neighbor_smoothing_sql,
)
from ..operators.validation import (
    fd_audit,
    fd_audit_sql,
    schema_contract_audit,
    schema_contract_audit_sql,
    subject_access_report,
    subject_access_report_sql,
    winsorize_stats,
    winsorize_stats_sql,
    robust_scale_stats,
    robust_scale_stats_sql,
    partition_checksums,
    partition_checksums_sql,
    kanon_generalization_plan,
    kanon_generalization_plan_sql,
    kanon_utility_sweep,
    kanon_utility_sweep_sql,
    fk_fanout_profile,
    fk_fanout_profile_sql,
    fk_orphan_audit,
    fk_orphan_audit_sql,
    unique_key_audit,
    unique_key_audit_sql,
    k_anonymity_audit,
    k_anonymity_audit_sql,
    pseudonym_bucket_audit,
    pseudonym_bucket_audit_sql,
    target_encode_loo,
    target_encode_loo_sql,
    id_density_audit,
    id_density_audit_sql,
    duplicate_charge_audit,
    duplicate_charge_audit_sql,
    order_balance_audit,
    order_balance_audit_sql,
    l_diversity_audit,
    l_diversity_audit_sql,
    t_closeness_audit,
    t_closeness_audit_sql,
    profile_drift,
    profile_drift_sql,
    psi_value_drift,
    psi_value_drift_sql,
    ks_value_drift,
    ks_value_drift_sql,
    benford_digit_audit,
    benford_digit_audit_sql,
    benford_price_audit,
    benford_price_audit_sql,
    mix_drift,
    mix_drift_sql,
    table_profile,
    table_profile_sql,
    validate_table,
    validate_table_sql,
    dp_noisy_counts,
    randomized_response_estimate,
    randomized_response_estimate_sql,
    dp_noisy_counts_sql,
    partition_completeness,
    partition_completeness_sql,
)

# (name, kind) pairs for the events profile; ts stays out (timestamp
# min/max would need a cross-engine render), props is profiled as a
# raw string
PROFILE_COLS = [
    ("event_id", "num"),
    ("user_id", "num"),
    ("event_type", "str"),
    ("value", "num"),
    ("props", "str"),
]
from ..sources import load_table

# per-stratum sampling rates over the events fixture: downsample the
# high-volume low-signal types, keep every purchase (the classic
# training-data rebalance); 'error' is absent => dropped entirely
SAMPLE_FRACTIONS = {"view": 0.1, "click": 0.25, "signup": 0.5, "purchase": 1.0}


# publish-gate expectations over the events table; the value range is
# deliberately tight (0-400) so one expectation FAILS with a non-zero
# observed count at every fixture SF — the verdict rows carry signal,
# not just a wall of TRUEs
EXPECTATIONS = [
    ("not_null", "user_id"),
    ("not_null", "ts"),
    ("unique", "event_id"),
    ("range", "value", 0.0, 400.0),
    ("accepted_values", "event_type", ["view", "click", "purchase", "signup", "error"]),
    ("min_rows", 100),
]


def _co_edges(s, d):
    """Shared support-cut co-purchase edge table (parts sharing >= 2
    orders) — built once per session for the four co-occurrence-graph
    consumers (triangles / link prediction / BFS / k-core), the standing
    edge table a graph warehouse keeps."""
    from ..operators.graph import cooccurrence_edges
    from ._shared import shared

    return shared(
        s, ("co_edges", d, "l_orderkey", "l_partkey", 2),
        lambda: cooccurrence_edges(
            load_table(s, d, "lineitem"), "l_orderkey", "l_partkey",
            min_cooc=2,
        ),
    )


def _er_part_cc(s, d):
    """Shared ER component table (doc_id=p_partkey, cluster_id) over the
    part match graph — the fuzzy-pair build and the iterative CC loop are
    the dominant cost of BOTH er_entity_clusters and er_survivorship,
    which resolve the identical graph (same block key, same agreement,
    same distance cut). A curation warehouse keeps the resolved-entity
    table as a standing asset; building it once per session is that
    shape (r10 optimization — same discipline as the MinHash signature /
    co-purchase edge sharing from r8)."""
    from ..operators.dedup import connected_components
    from ..operators.er import fuzzy_blocked_pairs
    from ._shared import shared

    def build():
        part = load_table(s, d, "part")
        pairs = fuzzy_blocked_pairs(
            part, "p_partkey", "p_name", agree_col="p_brand", max_distance=3
        ).select(
            F.col("a_key").alias("doc_a"), F.col("b_key").alias("doc_b")
        )
        return connected_components(
            pairs, part.select(F.col("p_partkey").alias("doc_id"))
        )

    return shared(s, ("er_part_cc", d), build)


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _scd2_incremental(spark, sf_dir):
    """Drive the streaming SCD2 maintenance job to completion over the
    events fixture, then return the interval view over the change-point
    log. Checked against the ONE-SHOT SCD2 oracle — the hard evidence
    that the incremental fold reproduces batch semantics exactly."""
    from ..operators.partitioning import tracked_tempdir
    from ..streaming.jobs import fold_stream, stream_events

    work = tracked_tempdir("amps_scd2_gate_")
    fold_stream(
        stream_events(spark, sf_dir),
        MG.scd2_merge_batch,
        f"{work}/log",
        f"{work}/ckpt",
        append=True,
    )
    return MG.scd2_intervals_view(spark.read.parquet(f"{work}/log")).select(
        "user_id", "state", "valid_from", "valid_to", "is_current"
    )


FORGET_IDS = [1, 7, 42]

# subject-access report: same subjects as the erasure pair
SAR_IDS = [1, 7, 42]

# documents data contract: int_noise claimed but absent (=> missing),
# lang claimed the wrong type (=> type_mismatch), n_chars left out of
# the contract (=> unexpected) — all four verdicts exercised
DOC_CONTRACT = [
    ("doc_id", "bigint"),
    ("text", "string"),
    ("lang", "int"),
    ("source", "string"),
    ("int_noise", "bigint"),
]
# the fixture's actual schema, stated independently for the oracle
DOC_ACTUAL = [
    ("doc_id", "bigint"),
    ("text", "string"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "bigint"),
]


def _zorder_keys(spark, sf_dir):
    """Morton keys over (user bucket, day-of-year) per event — the exact
    integer arithmetic both engines replicate; the write-side layout
    (range clustering + within-file sort) is pinned by
    tests/test_maintenance.py::test_zorder_layout_disjoint_ranges."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    prepped = ev.select(
        "event_id",
        (F.col("user_id") % 65536).alias("ub"),
        F.dayofyear("ts").alias("doy"),
    )
    return prepped.select(
        "event_id", "ub", "doy", zorder_key("ub", "doy").alias("zval")
    )

DIFF_KEYS = ["day", "event_type"]
DIFF_COMPARE = ["n_events", "total_value"]


def _table_diff_gate(spark, sf_dir):
    """Diff yesterday's rollup (events up to max_ts - 5 days, a MID-DAY
    cut) against today's full rebuild: the straddled day shows as
    'changed', the newest days as 'added'. The cutoff is one collected
    scalar inlined as a literal (pushdown-friendly); the oracle derives
    the same instant with a scalar subquery."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    cut = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 5 DAYS")).alias("cut")
    ).collect()[0]["cut"]
    old = daily_rollup(ev.filter(F.col("ts") <= F.lit(cut)))
    new = daily_rollup(ev)
    return table_diff(old, new, DIFF_KEYS, DIFF_COMPARE)


def _incremental_rollup_gate(spark, sf_dir):
    """Split the fixture at (max day - 5): 'prev' is the rollup a
    warehouse would already hold, the newest days are the churn. The
    refresh must reproduce the full-recompute rollup exactly.

    The cutoff is one collected scalar (driver-side config, like a
    trained model): inlined as a literal it pushes into the parquet
    scans of both split branches instead of riding three broadcast
    1-row subplans."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    cut = ev.agg(F.date_sub(F.max(F.to_date("ts")), 5).alias("cut")).collect()[0][
        "cut"
    ]
    old = ev.filter(F.to_date("ts") <= F.lit(cut))
    delta = ev.filter(F.to_date("ts") > F.lit(cut))
    return incremental_rollup_refresh(daily_rollup(old), ev, delta)



def _bucketed_join_revenue(s, d):
    """Rebuild (per session; the in-memory catalog does not persist) the
    bucketed twin tables, then join shuffle-free and roll revenue up by
    market segment. The md5 tag keys the layout to the dataset dir so
    two sf dirs never share a table."""
    import hashlib
    import shutil
    from pathlib import Path
    from urllib.parse import urlparse

    from ..operators.partitioning import write_bucketed

    tag = hashlib.md5(d.encode()).hexdigest()[:8]
    to, tc = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    # the in-memory catalog dies with the session but the warehouse dir
    # does not: an orphaned location (no catalog entry) would fail the
    # rebuild with LOCATION_ALREADY_EXISTS — clear it first
    wh = urlparse(s.conf.get("spark.sql.warehouse.dir")).path
    for t in (to, tc):
        loc = Path(wh) / t
        if not s.catalog.tableExists(t) and loc.exists():
            shutil.rmtree(loc, ignore_errors=True)
    if not s.catalog.tableExists(to):
        write_bucketed(
            load_table(s, d, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            ),
            to,
            ["o_custkey"],
            n_buckets=8,
        )
    if not s.catalog.tableExists(tc):
        write_bucketed(
            load_table(s, d, "customer").select("c_custkey", "c_mktsegment"),
            tc,
            ["c_custkey"],
            n_buckets=8,
        )
    from pyspark.sql import functions as FF

    return (
        s.table(to)
        .join(s.table(tc), FF.col("o_custkey") == FF.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            FF.count("*").cast("long").alias("n_orders"),
            FF.round(
                FF.sum(FF.col("o_totalprice").cast("decimal(18,4)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
    )


QUERIES = {
    "scd2_user_state_history": lambda s, d: MG.scd2_history(_events(s, d)),
    # r7 wave 35 (r8 queue): bitemporal restatement audit — belief(T,
    # known now) vs belief(T, known at T) over a planted correction
    # stream; the question mono-temporal SCD2 cannot ask
    "scd2_bitemporal_restatements": lambda s, d: (
        MG.bitemporal_restatements(_events(s, d))
    ),
    "cdc_latest_user_state": lambda s, d: MG.cdc_latest_state(_events(s, d)),
    # r7: MERGE INTO dry-run — the per-key insert/update/nochange audit
    # a transactional MERGE emits, derived over plain parquet
    "cdc_merge_upsert_actions": lambda s, d: MG.merge_upsert_actions(
        _events(s, d)
    ),
    # r7: algebraic incremental rollup (prev ⊕ agg(delta), base never
    # re-read) — oracle is the full recompute (lossless-maintenance)
    "rollup_algebraic_merge": lambda s, d: MG.algebraic_rollup_merge(
        load_table(s, d, "orders")
    ),
    # r7: winsorized robust feature stats on percentile_disc cutoffs
    # (actual data values — no cross-engine interpolation arithmetic)
    "feature_winsorize_events": lambda s, d: winsorize_stats(_events(s, d)),
    # r7 wave 30 (r8 queue): leakage-safe LOO target encoding with an
    # m-weighted global prior (deterministic audit slice)
    "feature_target_encode_loo": lambda s, d: target_encode_loo(
        _events(s, d)
    ),
    # r7 wave 27 (r8 queue): median/MAD robust scaling, portable
    # replication checksums, purged time-series CV folds
    "feature_robust_scale_events": lambda s, d: robust_scale_stats(
        _events(s, d)
    ),
    "validate_partition_checksums": lambda s, d: partition_checksums(
        _events(s, d)
    ),
    "corpus_purged_time_split": lambda s, d: C.purged_time_split(
        _events(s, d)
    ),
    # wave 19: the design step above the fixed-fraction draw — optimal
    # per-stratum sizes from exact integer-cents variances
    "sample_neyman_allocation": lambda s, d: C.neyman_allocation(
        _events(s, d)
    ),
    "sample_stratified_events": lambda s, d: C.stratified_sample(
        _events(s, d), "event_type", SAMPLE_FRACTIONS, "event_id"
    ).select("event_id", "user_id", "event_type", "ts", F.round("value", 2).alias("value")),
    "corpus_curation_ledger": lambda s, d: C.curation_ledger(
        _docs(s, d), _docs(s, d).filter(F.col("doc_id") % 50 == 0)
    ),
    # heavy hitters need a key whose skew survives scale-up: per-user
    # frequency is flat (~67 events/user at EVERY fixture SF, so any fixed
    # n/k threshold empties out as users grow — bench at sf0.1 proved it:
    # 0 rows). Geometric value bands (floor(log2(value))) have
    # scale-stable cardinality AND real skew (top band ~25%, tail <7%),
    # so k=8 (freq > n/8) yields 3-4 exact hitters at every SF.
    "heavy_hitters_value_bands": lambda s, d: heavy_hitters(
        _events(s, d)
        .filter(F.col("value").isNotNull())
        .withColumn(
            "value_band",
            F.floor(F.log2(F.greatest(F.col("value"), F.lit(0.001)))).cast("long"),
        ),
        "value_band",
        k=8,
    ),
    "scd2_incremental_stream": _scd2_incremental,
    "validate_events_expectations": lambda s, d: validate_table(
        _events(s, d), EXPECTATIONS
    ),
    # r4: ANALYZE-style column profile (exact NDV at gate scale; the
    # approx_count_distinct swap is the 100 TB variant, same shape)
    "table_profile_events": lambda s, d: table_profile(
        _events(s, d), PROFILE_COLS
    ),
    # r4 window: k-anonymity release audit — quasi-identifiers are the customer
    # dims plus a BANDED balance (banding is the generalization step; a
    # raw float would make every class size 1)
    # r5 (deferred window): spatial grid rollup on the Morton cell key
    "geo_cell_rollup": lambda s, d: geo_cell_rollup(_events(s, d)),
    # r7 wave 30 (r8 queue): 3x3 Moore-kernel hotspot detection built
    # scatter-side (two explodes, no offset join, no cartesian)
    "geo_neighbor_smoothing": lambda s, d: geo_neighbor_smoothing(
        _events(s, d)
    ),
    # r5 (deferred window): snapshot statistics drift (old = full month,
    # new = the last 20 days cut — planted drift on every column)
    "table_profile_drift": lambda s, d: profile_drift(
        _events(s, d),
        _events(s, d).filter(F.dayofmonth("ts") > 10),
        PROFILE_COLS,
    ),
    # wave 17: PSI on the value distribution (old half vs new half of
    # the window) — catches shape drift profile_drift's null/NDV rows
    # can't see
    "validate_psi_drift": lambda s, d: psi_value_drift(_events(s, d)),
    # wave 17: exact max-ECDF-gap drift (the binning-free rank test
    # beside PSI) and the Benford leading-digit fabrication screen
    "validate_ks_drift": lambda s, d: ks_value_drift(_events(s, d)),
    # r10 wave 49: Benford first-digit screen on the price feed (the
    # cents-based variant; the orders query below keeps the r5 spine)
    "validate_benford_prices": lambda s, d: benford_price_audit(
        load_table(s, d, "lineitem"), "l_extendedprice"
    ),
    # wave 21: the categorical companion (chi-square homogeneity on the
    # event-type mix)
    "validate_mix_drift": lambda s, d: mix_drift(_events(s, d)),
    "validate_benford_orders": lambda s, d: benford_digit_audit(
        load_table(s, d, "orders"), "o_totalprice"
    ),
    # r5: Laplace-mechanism aggregate release next to the k-anonymity
    # row-release gate (seeded noise — see dp_noisy_counts docstring)
    "privacy_dp_event_counts": lambda s, d: dp_noisy_counts(
        _events(s, d), "event_type", epsilon=1.0
    ),
    # r10 wave 53: local-DP randomized response with debiased shares
    "privacy_randomized_response": lambda s, d: randomized_response_estimate(
        _events(s, d)
    ),
    "privacy_k_anonymity_customer": lambda s, d: k_anonymity_audit(
        load_table(s, d, "customer").select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        ),
        ["c_nationkey", "c_mktsegment", "bal_band"],
        k=5,
    ),
    # r7 wave 29 (r8 queue): salted-SHA-256 pseudonymization release
    # gate — collision-free + shard-bucket uniformity in exact ppm
    "privacy_pseudonym_audit": lambda s, d: pseudonym_bucket_audit(
        _events(s, d)
    ),
    # r7 wave 40 (r8 queue): the privacy-utility curve — rows released
    # per candidate k under suppress-below-k (one class aggregate)
    "privacy_kanon_utility_sweep": lambda s, d: kanon_utility_sweep(
        load_table(s, d, "customer").select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias(
                "bal_band"
            ),
        ),
        ["c_nationkey", "c_mktsegment", "bal_band"],
    ),
    # r7 wave 28 (r8 queue): the decision step after the k-anon audit —
    # minimal band generalization per class, else suppress
    "privacy_kanon_generalization_plan": lambda s, d: (
        kanon_generalization_plan(load_table(s, d, "customer"))
    ),
    # r6 queue: l-diversity (homogeneity-attack audit k-anonymity misses)
    "privacy_l_diversity_customer": lambda s, d: l_diversity_audit(
        load_table(s, d, "customer").select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        ),
        ["c_nationkey", "bal_band"],
        sensitive="c_mktsegment",
        k=5,
        ell=2,
    ),
    # r6 queue: bucketed-layout SMB join — both sides written bucketBy
    # the customer key ONCE (the 100 TB layout lever), then joined and
    # rolled up; the zero-Exchange property is plan-pinned in
    # tests/test_plans.py::test_bucketed_join_has_no_exchange
    "table_bucketed_join": lambda s, d: _bucketed_join_revenue(s, d),
    # r6 queue: sketch set-algebra — month-over-month retention where
    # the overlap is HLL inclusion-exclusion (bounded verdict vs exact)
    "hll_retention_overlap": lambda s, d: hll_retention_overlap(
        load_table(s, d, "orders")
    ),
    # r6 queue: t-closeness — skewness-attack audit (k/l pass, t fails
    # when a class's sensitive distribution diverges from the global)
    "privacy_t_closeness_customer": lambda s, d: t_closeness_audit(
        load_table(s, d, "customer").select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
            "c_mktsegment",
        ),
        ["c_nationkey", "bal_band"],
        sensitive="c_mktsegment",
        t=0.35,
        k=5,
    ),
    # r6 queue: blocked edit-distance entity resolution over part names
    # (first-token block + brand agreement + levenshtein 1..3)
    "er_fuzzy_part_pairs": lambda s, d: fuzzy_blocked_pairs(
        load_table(s, d, "part"),
        "p_partkey",
        "p_name",
        agree_col="p_brand",
        max_distance=3,
    ),
    # r6 queue: transitive closure of the ER match graph -> entity table
    # (component table shared with er_survivorship — identical graph)
    "er_entity_clusters": lambda s, d: entity_clusters(
        load_table(s, d, "part"),
        "p_partkey",
        "p_name",
        agree_col="p_brand",
        max_distance=3,
        cc=_er_part_cc(s, d),
    ),
    # r6 queue: per-node triangle participation over the co-purchase
    # graph (parts sharing >= 2 orders; wedge-closure joins)
    "graph_triangle_parts": lambda s, d: triangle_participation(
        load_table(s, d, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_cooc=2,
        edges=_co_edges(s, d),
    ),
    # r7 wave 29 (r8 queue): missing-link candidates over the same
    # co-purchase graph (common-neighbor + quantized RA index)
    "graph_link_prediction": lambda s, d: link_prediction_scores(
        load_table(s, d, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_cooc=2,
        top_n=50,
        edges=_co_edges(s, d),
    ),
    # r6 queue: single-source BFS hop distances over the co-purchase
    # graph (frontier joins + anti-join visited, constant rounds)
    "graph_bfs_distances": lambda s, d: bfs_distances(
        load_table(s, d, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_cooc=2,
        max_depth=3,
        edges=_co_edges(s, d),
    ),
    # r6 queue: k-core peeling over the co-purchase graph (dense
    # substructure extraction; fixed rounds, per-round materialized)
    "graph_kcore_parts": lambda s, d: kcore_nodes(
        load_table(s, d, "lineitem"),
        "l_orderkey",
        "l_partkey",
        core_k=3,
        min_cooc=2,
        edges=_co_edges(s, d),
    ),
    # r6 queue: deterministic LPA communities over the trade graph
    "graph_trade_communities": trade_communities,
    # r3: vertex-centric compute over warehouse-derived edges
    "pagerank_customer_supplier": pagerank_customer_supplier,
    # r8 wave 43 (r9 queue): personalized PageRank from customer seeds —
    # the graph-proximity candidate generator ("related to THESE")
    "graph_personalized_ppr": lambda s, d:
        personalized_pagerank_customer_seeds(s, d, [1, 2, 3], top_k=100),
    # r8 wave 43 (r9 queue): functional-dependency audit — is A really
    # a key for B (fan-out safety before any denormalizing join)
    "validate_functional_dependency": lambda s, d: fd_audit(
        load_table(s, d, "orders"),
        [("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority")],
    ),
    # r8 wave 44 (r9 queue): schema-contract gate (footer-only, no
    # scan) — the contract deliberately omits n_chars (=> unexpected)
    # and claims a wrong type for lang's sibling to exercise verdicts
    "validate_schema_contract": lambda s, d: schema_contract_audit(
        _docs(s, d), DOC_CONTRACT
    ),
    # r8 wave 44 (r9 queue): GDPR subject-access report (read side of
    # the forget_users erasure pair) — rows held per subject per table
    "privacy_subject_access": lambda s, d: subject_access_report(
        [
            ("events", _events(s, d), "user_id"),
            ("orders", load_table(s, d, "orders"), "o_custkey"),
            ("customer", load_table(s, d, "customer"), "c_custkey"),
        ],
        SAR_IDS,
    ),
    # r4: degree distribution — the hub/skew diagnostic on the same graph
    "graph_degree_histogram": degree_histogram_customer_supplier,
    # r5 wave 4: referential-integrity audit across the star schema
    # r6 queue: join-cardinality (fanout) profile per FK relationship
    # r7 wave 31 (r8 queue): CDC-completeness id-density audit with
    # a planted deterministic deletion the audit must localize
    "validate_id_density": lambda s, d: id_density_audit(_events(s, d)),
    # r7 wave 33 (r8 queue): double-submit detector — one (user, cents)
    # window, k-1 rows per burst, never k^2/2
    "validate_duplicate_charges": lambda s, d: duplicate_charge_audit(
        _events(s, d)
    ),
    # r7 wave 36 (r8 queue): books-vs-ledger header/detail reconciliation
    "validate_order_balance": lambda s, d: order_balance_audit(
        load_table(s, d, "orders"), load_table(s, d, "lineitem")
    ),
    "validate_fk_fanout": lambda s, d: fk_fanout_profile([
        ("orders->customer", load_table(s, d, "orders"), "o_custkey",
         load_table(s, d, "customer"), "c_custkey"),
        ("lineitem->orders", load_table(s, d, "lineitem"), "l_orderkey",
         load_table(s, d, "orders"), "o_orderkey"),
        ("lineitem->part", load_table(s, d, "lineitem"), "l_partkey",
         load_table(s, d, "part"), "p_partkey"),
    ]),
    "validate_fk_orphans": lambda s, d: fk_orphan_audit([
        ("lineitem->orders", load_table(s, d, "lineitem"), "l_orderkey",
         load_table(s, d, "orders"), "o_orderkey"),
        ("orders->customer", load_table(s, d, "orders"), "o_custkey",
         load_table(s, d, "customer"), "c_custkey"),
        ("customer->nation", load_table(s, d, "customer"), "c_nationkey",
         load_table(s, d, "nation"), "n_nationkey"),
        ("lineitem->part", load_table(s, d, "lineitem"), "l_partkey",
         load_table(s, d, "part"), "p_partkey"),
        ("lineitem->supplier", load_table(s, d, "lineitem"), "l_suppkey",
         load_table(s, d, "supplier"), "s_suppkey"),
    ]),
    # r5 wave 13: PK uniqueness — the promote/block gate beneath the
    # orphan and fanout audits
    "validate_unique_keys": lambda s, d: unique_key_audit([
        ("customer", load_table(s, d, "customer"), ["c_custkey"]),
        ("documents", load_table(s, d, "documents"), ["doc_id"]),
        ("events", load_table(s, d, "events"), ["event_id"]),
        ("lineitem", load_table(s, d, "lineitem"),
         ["l_orderkey", "l_linenumber"]),
        ("orders", load_table(s, d, "orders"), ["o_orderkey"]),
        ("part", load_table(s, d, "part"), ["p_partkey"]),
    ]),
    # r5 wave 17: blocking-key evaluation — reduction ratio + sampled
    # pair completeness (the "is blocking throwing matches away" gate)
    "er_blocking_quality": lambda s, d: blocking_quality(
        load_table(s, d, "part"),
        "p_partkey",
        "p_name",
        agree_col="p_brand",
        max_distance=3,
    ),
    # r5 wave 13: golden records — deterministic most-frequent-wins
    # attribute election over the resolved ER entities
    "er_survivorship": lambda s, d: survivorship(
        load_table(s, d, "part"),
        "p_partkey",
        "p_name",
        ("p_brand", "p_type", "p_size"),
        agree_col="p_brand",
        max_distance=3,
        cc=_er_part_cc(s, d),
    ),
    # r10 wave 50: Fellegi-Sunter agreement-pattern match weights over
    # brand-blocked part pairs (u from exact squared value frequencies)
    "er_fs_match_weights": lambda s, d: fellegi_sunter_patterns(
        load_table(s, d, "part")
    ),
    # r5 wave 4: link-prediction primitive — suppliers similar by the
    # parts they ship (shared-neighbor equi-join, hub-capped)
    "graph_supplier_similarity": lambda s, d: neighbor_jaccard(
        load_table(s, d, "lineitem").select(
            F.col("l_suppkey").alias("a"), F.col("l_partkey").alias("b")
        ),
        "a",
        "b",
        threshold=0.15,
        max_nbr_df=50,
    ),
    # r4: deterministic weight-biased top-n (quality-weighted corpus
    # sampling made replayable; value+1 keeps weights positive)
    "sample_weighted_events": lambda s, d: C.weighted_priority_sample(
        _events(s, d)
        .filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "event_type", F.round("value", 2).alias("value")),
        F.col("value") + F.lit(1.0),
        "event_id",
        n=500,
    ),
    # r3: reconciliation — snapshot diff (cut mid-day so the straddled
    # day classifies 'changed', the newest days 'added') + purge audit
    "table_diff_rollup_snapshots": lambda s, d: _table_diff_gate(s, d),
    "forget_users_audit": lambda s, d: forget_users(_events(s, d), FORGET_IDS),
    # r3: the clustering key behind OPTIMIZE ZORDER-style layout jobs
    "layout_zorder_keys": lambda s, d: _zorder_keys(s, d),
    # wave 18: the decision audit ABOVE the z-key — does the layout's
    # zone-map min/max actually skip files for band predicates?
    "layout_pruning_audit": lambda s, d: pruning_audit(_events(s, d)),
    # wave 24: the compaction costing step BELOW the pruning audit —
    # bin-pack small (type, day) partitions into target-sized rewrite
    # groups before paying for the OPTIMIZE job
    "layout_compaction_plan": lambda s, d: compaction_plan(_events(s, d)),
    # r7 wave 31 (r8 queue): expire_snapshots planner — trailing-window
    # keep + weekly thinning, week buckets arithmetic (not '%V')
    "layout_snapshot_retention": lambda s, d: snapshot_retention_plan(
        _events(s, d)
    ),
    # wave 24: ingest-completeness gate — dense day grid, zero-filled,
    # each day judged against its trailing-7-day exact median
    "validate_partition_completeness": lambda s, d: partition_completeness(
        _events(s, d)
    ),
    # r3: partition-level incremental view maintenance; the gate drives a
    # last-5-days churn through the refresh path and checks the result
    # equals the from-scratch rollup (the oracle)
    "rollup_incremental_refresh": lambda s, d: _incremental_rollup_gate(s, d),
}

ORACLES = {
    "scd2_user_state_history": MG.scd2_history_sql(),
    "scd2_bitemporal_restatements": MG.bitemporal_restatements_sql(),
    "cdc_latest_user_state": MG.cdc_latest_state_sql(),
    "cdc_merge_upsert_actions": MG.merge_upsert_actions_sql(),
    "rollup_algebraic_merge": MG.algebraic_rollup_merge_sql(),
    "graph_personalized_ppr": personalized_pagerank_sql([1, 2, 3], top_k=100),
    "validate_functional_dependency": fd_audit_sql(
        "orders",
        [("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority")],
    ),
    "validate_schema_contract": schema_contract_audit_sql(
        DOC_CONTRACT, DOC_ACTUAL
    ),
    "privacy_subject_access": subject_access_report_sql(
        [("events", "user_id"), ("orders", "o_custkey"),
         ("customer", "c_custkey")],
        SAR_IDS,
    ),
    "feature_winsorize_events": winsorize_stats_sql(),
    "feature_target_encode_loo": target_encode_loo_sql(),
    "feature_robust_scale_events": robust_scale_stats_sql(),
    "validate_partition_checksums": partition_checksums_sql(),
    "corpus_purged_time_split": C.purged_time_split_sql(),
    "sample_neyman_allocation": C.neyman_allocation_sql("events"),
    "sample_stratified_events": (
        "SELECT event_id, user_id, event_type, ts, ROUND(value, 2) AS value FROM ("
        + C.stratified_sample_sql(
            "events", "event_type", SAMPLE_FRACTIONS, "event_id"
        )
        + ") x"
    ),
    "corpus_curation_ledger": C.curation_ledger_sql(),
    "heavy_hitters_value_bands": heavy_hitters_sql(
        "(SELECT CAST(FLOOR(LOG2(GREATEST(value, 0.001))) AS BIGINT) AS value_band "
        "FROM events WHERE value IS NOT NULL) hh",
        "value_band",
        k=8,
    ),
    "scd2_incremental_stream": MG.scd2_history_sql(),
    "validate_events_expectations": validate_table_sql("events", EXPECTATIONS),
    "table_profile_events": table_profile_sql("events", PROFILE_COLS),
    "geo_cell_rollup": geo_cell_rollup_sql("events"),
    "geo_neighbor_smoothing": geo_neighbor_smoothing_sql("events"),
    "table_profile_drift": profile_drift_sql(
        "events",
        "(SELECT * FROM events WHERE date_part('day', ts) > 10) nv",
        PROFILE_COLS,
    ),
    "validate_psi_drift": psi_value_drift_sql("events"),
    "validate_ks_drift": ks_value_drift_sql("events"),
    "validate_benford_prices": benford_price_audit_sql(
        "lineitem", "l_extendedprice"
    ),
    "layout_pruning_audit": pruning_audit_sql("events"),
    "layout_compaction_plan": compaction_plan_sql("events"),
    "layout_snapshot_retention": snapshot_retention_plan_sql("events"),
    "validate_partition_completeness": partition_completeness_sql("events"),
    "validate_mix_drift": mix_drift_sql("events"),
    "validate_benford_orders": benford_digit_audit_sql(
        "orders", "o_totalprice"
    ),
    "privacy_dp_event_counts": dp_noisy_counts_sql(
        "events", "event_type", epsilon=1.0
    ),
    "privacy_randomized_response": randomized_response_estimate_sql(),
    "privacy_k_anonymity_customer": k_anonymity_audit_sql(
        "(SELECT c_nationkey, c_mktsegment,"
        " CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band"
        " FROM customer) q",
        ["c_nationkey", "c_mktsegment", "bal_band"],
        k=5,
    ),
    "privacy_kanon_generalization_plan": kanon_generalization_plan_sql(),
    "privacy_pseudonym_audit": pseudonym_bucket_audit_sql(),
    "privacy_kanon_utility_sweep": kanon_utility_sweep_sql(
        "(SELECT c_nationkey, c_mktsegment,"
        " CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band"
        " FROM customer)",
        ["c_nationkey", "c_mktsegment", "bal_band"],
    ),
    "privacy_l_diversity_customer": l_diversity_audit_sql(
        "(SELECT c_nationkey, c_mktsegment,"
        " CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band"
        " FROM customer) q",
        ["c_nationkey", "bal_band"],
        sensitive="c_mktsegment",
        k=5,
        ell=2,
    ),
    "table_bucketed_join": """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                          AS DOUBLE), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "hll_retention_overlap": hll_retention_overlap_sql(),
    "privacy_t_closeness_customer": t_closeness_audit_sql(
        "(SELECT c_nationkey,"
        " CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,"
        " c_mktsegment FROM customer) q",
        ["c_nationkey", "bal_band"],
        sensitive="c_mktsegment",
        t=0.35,
        k=5,
    ),
    "er_fuzzy_part_pairs": fuzzy_blocked_pairs_sql(
        "part",
        "p_partkey",
        "p_name",
        agree_col="p_brand",
        max_distance=3,
    ),
    "er_entity_clusters": entity_clusters_sql(
        "part",
        "p_partkey",
        "p_name",
        agree_col="p_brand",
        max_distance=3,
    ),
    "graph_triangle_parts": triangle_participation_sql(
        "SELECT l_orderkey AS _ctx, l_partkey AS _it FROM lineitem",
        min_cooc=2,
    ),
    "graph_link_prediction": link_prediction_scores_sql(
        "SELECT l_orderkey AS _ctx, l_partkey AS _it FROM lineitem",
        min_cooc=2,
        top_n=50,
    ),
    "graph_bfs_distances": bfs_distances_sql(
        "SELECT l_orderkey AS _ctx, l_partkey AS _it FROM lineitem",
        min_cooc=2,
        max_depth=3,
    ),
    "graph_kcore_parts": kcore_nodes_sql(
        "SELECT l_orderkey AS _ctx, l_partkey AS _it FROM lineitem",
        core_k=3,
        min_cooc=2,
    ),
    "graph_trade_communities": trade_communities_sql(),
    "pagerank_customer_supplier": pagerank_sql(),
    "graph_degree_histogram": degree_histogram_sql(),
    "validate_id_density": id_density_audit_sql("events"),
    "validate_duplicate_charges": duplicate_charge_audit_sql("events"),
    "validate_order_balance": order_balance_audit_sql(),
    "validate_fk_fanout": fk_fanout_profile_sql([
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ]),
    "validate_fk_orphans": fk_orphan_audit_sql([
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]),
    "validate_unique_keys": unique_key_audit_sql([
        ("customer", "customer", ["c_custkey"]),
        ("documents", "documents", ["doc_id"]),
        ("events", "events", ["event_id"]),
        ("lineitem", "lineitem", ["l_orderkey", "l_linenumber"]),
        ("orders", "orders", ["o_orderkey"]),
        ("part", "part", ["p_partkey"]),
    ]),
    "er_blocking_quality": blocking_quality_sql(
        "part",
        "p_partkey",
        "p_name",
        agree_col="p_brand",
        max_distance=3,
    ),
    "er_fs_match_weights": fellegi_sunter_patterns_sql("part"),
    "er_survivorship": survivorship_sql(
        "part",
        "p_partkey",
        "p_name",
        ("p_brand", "p_type", "p_size"),
        agree_col="p_brand",
        max_distance=3,
    ),
    "graph_supplier_similarity": neighbor_jaccard_sql(
        "SELECT l_suppkey AS a, l_partkey AS b FROM lineitem",
        threshold=0.15,
        max_nbr_df=50,
    ),
    "sample_weighted_events": C.weighted_priority_sample_sql(
        "(SELECT event_id, user_id, event_type, ROUND(value, 2) AS value "
        "FROM events WHERE value IS NOT NULL) w",
        "value + CAST(1.0 AS DOUBLE)",
        "event_id",
        n=500,
    ),
    "rollup_incremental_refresh": daily_rollup_sql(),
    "table_diff_rollup_snapshots": table_diff_sql(
        daily_rollup_sql(
            "(SELECT * FROM events WHERE ts <= "
            "(SELECT MAX(ts) - INTERVAL 5 DAY FROM events)) eold"
        ),
        daily_rollup_sql("events"),
        DIFF_KEYS,
        DIFF_COMPARE,
    ),
    "forget_users_audit": forget_users_sql(FORGET_IDS),
    "layout_zorder_keys": f"""
        SELECT event_id, ub, doy, {zorder_key_sql("ub", "doy")} AS zval
        FROM (
          SELECT event_id,
                 user_id % 65536 AS ub,
                 CAST(STRFTIME(CAST(ts AS DATE), '%j') AS BIGINT) AS doy
          FROM events WHERE user_id IS NOT NULL
        ) p
    """,
}
