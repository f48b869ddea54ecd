"""Extended relational query family: pivot/unpivot, cube/rollup, as-of
join, range join, regexp + JSON scalar functions, approximate aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents, dot
from ..operators.analytics import windowed_funnel
from ..operators.relational import (
    asof_join,
    interval_overlap_state_promos,
    interval_overlap_state_promos_sql,
    basket_brand_lift,
    basket_brand_lift_sql,
    item_knn_cosine,
    item_knn_cosine_sql,
    item_knn_hitrate_eval,
    item_knn_hitrate_eval_sql,
    nearest_conversion_gap,
    nearest_conversion_gap_sql,
    null_aware_anti_join,
    null_aware_anti_join_sql,
    kendall_tau_brand_ranks,
    kendall_tau_brand_ranks_sql,
    bucketized_range_join,
    bucketized_range_join_sql,
    basket_brand_pairs,
    basket_brand_pairs_sql,
    pit_feature_leakage,
    pit_feature_leakage_sql,
    pivot_counts,
    range_join_bands,
)
from ..operators.skew import (
    cms_estimate,
    cms_estimate_sql,
    cms_heavy_change,
    cms_heavy_change_sql,
    hll_mergeable_rollup,
    hll_mergeable_rollup_sql,
    key_skew_profile,
    salt_plan,
    salt_plan_sql,
    salted_agg_by_plan,
    salted_agg_by_plan_sql,
    key_skew_profile_sql,
    quantile_histogram,
    quantile_histogram_sql,
    quantile_rollup,
    quantile_rollup_sql,
    salted_join,
    salted_sum_count,
)
from ..sources import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


# ------------------------------------------------------------------ pivot
def _pivot_day_by_type(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    return pivot_counts(ev, "day", "event_type", EVENT_TYPES)


def _unpivot_daily(spark, sf_dir):
    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("double").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return daily.unpivot("day", ["n_events", "total_value"], "metric", "metric_value")


# ------------------------------------------------------------ cube/rollup
def _cube_lineitem(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "n",
            "g_flag",
            "g_status",
        )
    )


def _rollup_orders(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.grouping("o_orderpriority").alias("g_prio"))
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
            "g_prio",
        )
    )


def _scd2_temporal_enrich(spark, sf_dir):
    """Fact-to-SCD2 temporal enrichment — THE star-schema warehouse
    pattern: each purchase is stamped with the user's dimension state
    AS OF the purchase instant. Composed from the engine's own pieces:
    the change stream collapses to one row per (user, ts) — max_by
    tiebreak, so the as-of match is unique — and the generic union-
    window :func:`~.operators.relational.asof_join` binds facts to the
    latest preceding change in ONE user-keyed shuffle (no interval
    join, no correlated subquery). Purchases before any change carry
    NULLs (left semantics). DuckDB oracle is its native ASOF LEFT
    JOIN."""
    ev = _events(spark, sf_dir)
    changes = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(F.expr("max_by(event_type, event_id)").alias("state"))
        .select(
            "user_id",
            F.col("ts").alias("change_ts"),
            "state",
            F.col("ts").alias("valid_from"),
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        facts, changes, on="user_id", left_ts="ts",
        right_ts="change_ts", right_vals=["state", "valid_from"],
    ).select("event_id", "user_id", "ts", "asof_state", "asof_valid_from")


def _funnel_stages(spark, sf_dir):
    """Event funnel (view → click → purchase, strictly ordered by first
    occurrence): per-user conditional MINs in one shuffle, stage counts
    from one tiny aggregate — no per-stage self-joins, no sequence UDF."""
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == t, F.col("ts"))).alias(f"t_{t}")
            for t in ("view", "click", "purchase")
        ]
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") > F.col("t_click")
    )
    return first.agg(
        F.sum(s1.cast("long")).alias("n_viewed"),
        F.sum(s2.cast("long")).alias("n_clicked_after_view"),
        F.sum(s3.cast("long")).alias("n_purchased_after_click"),
    )


def _grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (neither cube nor rollup): exactly the
    (status), (priority), and grand-total groupings — exercised through
    the SQL API, the DataFrame API has no grouping-sets builder."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               COUNT(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def _gaps_islands_sessions(spark, sf_dir):
    """Batch sessionization as gaps-and-islands: lag() flags a >30min gap,
    a running sum of flags numbers the islands, one aggregate per session.
    The window-composition twin of the streaming session_window operator
    (same semantics, pure batch plan)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # parquet TIMESTAMP may resolve as TIMESTAMP_NTZ, which Spark 4 won't
    # cast straight to BIGINT — hop through TIMESTAMP first (a pure
    # reinterpret; the lag difference is tz-invariant either way)
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(ts_sec - F.lag(ts_sec).over(w) > 1800, 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# --------------------------------------------------------------- asof join
def _asof_event_daily(spark, sf_dir):
    """Trades-and-quotes shape: each event joined to the most recent
    *prior day's* closing summary for the whole stream."""
    ev = _events(spark, sf_dir).withColumn("stream", F.lit(1))
    daily = (
        ev.groupBy("stream", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("day_value"))
        .select(
            "stream",
            (F.to_timestamp("day") + F.expr("INTERVAL 1 DAY")).alias("day_end"),
            "day_value",
        )
    )
    out = asof_join(
        ev.select("stream", "event_id", "ts", "value"),
        daily.select("stream", "day_end", "day_value"),
        on="stream",
        left_ts="ts",
        right_ts="day_end",
        right_vals=["day_value"],
    )
    return out.select(
        "event_id",
        F.round("value", 2).alias("value"),
        F.coalesce("asof_day_value", F.lit(0.0)).alias("prev_day_value"),
    )


# -------------------------------------------------------------- range join
def _amount_bands(spark, sf_dir):
    return range_join_bands(
        _events(spark, sf_dir),
        "value",
        [
            ("low", 0.0, 50.0),
            ("mid", 50.0, 120.0),
            ("high", 120.0, 250.0),
            ("extreme", 250.0, 1e9),
        ],
    )


# ----------------------------------------------------------- scalar funcs
def _regexp_extract_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "[a-z]*ar[a-z]*", 0).alias("first_ar_word"),
        F.regexp_count("text", F.lit("ta[bg]")).alias("tab_tag_count"),
    )


def _json_props_histogram(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.select((F.get_json_object("props", "$.k").cast("int") % 10).alias("k_mod"))
        .groupBy("k_mod")
        .agg(F.count("*").alias("n"))
    )


def _array_functions(spark, sf_dir):
    """Array-typed column surface (higher-order filter, element access,
    min/max, self-dot via the sequential fold that DuckDB's
    list_dot_product reproduces bit-for-bit)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    ssq = dot(v, v)
    return emb.select(
        "vec_id",
        F.size(v).cast("long").alias("n_dims"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(F.array_max(v), 6).alias("max_val"),
        F.round(F.array_min(v), 6).alias("min_val"),
        F.round(F.element_at(v, 1), 6).alias("first_val"),
        F.round(ssq, 6).alias("sum_sq"),
    )


# ------------------------------------------------- approximate aggregates
APPROX_RSD = 0.02


def _approx_distinct(spark, sf_dir):
    """approx_count_distinct is sketch-based (HLL++) — the raw estimate
    is not reproducible by another engine, but it IS boundable: the query
    emits ``within_bound`` = |estimate - exact| <= 4*rsd*exact, and the
    oracle asserts the exact counts plus ``within_bound = TRUE``. A
    sketch drifting past 4 standard errors fails the hash gate — a real
    value-level check, not rows-only (VERDICT r1 finding 4). The raw
    estimate stays out of the gated output precisely because it is
    engine-specific."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", APPROX_RSD).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 4 * APPROX_RSD * F.col("exact_users")
        ).alias("within_bound"),
    )



def _approx_percentiles(spark, sf_dir):
    """percentile_approx (KLL-style sketch) bounded like the HLL check:
    the sketch's rank-error guarantee (<= 1/accuracy of rank) means the
    approx p-quantile must land between the EXACT (p - eps) and (p + eps)
    quantiles. The query emits the exact quantiles (value-gated) plus a
    ``within_bound`` flag per percentile; the raw sketch output stays out
    of the hash for the same reason the HLL estimate does — it is
    engine-specific, but its error contract is checkable."""
    ev = _events(spark, sf_dir)
    eps = 0.005  # 50x the accuracy=10000 rank-error bound
    aggs = []
    for p_ in (50, 90, 99):
        p = p_ / 100.0
        aggs += [
            F.round(F.expr(f"percentile(value, {p})"), 4).alias(f"p{p_}"),
            F.expr(
                f"percentile_approx(value, {p}, 10000) BETWEEN "
                f"percentile(value, {max(p - eps, 0.0)}) AND "
                f"percentile(value, {min(p + eps, 1.0)})"
            ).alias(f"ok_p{p_}"),
        ]
    return ev.groupBy("event_type").agg(*aggs)




def _null_safe_join(spark, sf_dir):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the anonymous
    bucket (user_id NULL) must JOIN with itself when reconciling two
    per-user aggregates — a plain `=` silently drops it and the two
    rollups stop reconciling (sum of parts != total). The fixture has no
    NULL user_ids, so attribution is masked on 'error' events (the
    lost-session story) before aggregating — the NULL bucket then exists
    on BOTH sides and must pair up. One row per user including the NULL
    user; exact long counts and decimal-rounded values on both sides."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    days = ev.groupBy("user_id").agg(
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_days")
    )
    totals = ev.filter(F.col("value").isNotNull()).groupBy("user_id").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
        ).alias("total_value")
    )
    return days.join(
        totals.withColumnRenamed("user_id", "_uid"),
        days["user_id"].eqNullSafe(F.col("_uid")),
        "left",
    ).select("user_id", "n_days", "total_value")




def _except_all(spark, sf_dir):
    """Multiset EXCEPT ALL (bag semantics — the distinct-based segment
    DIFFERENCE cannot express "remove ONE occurrence per match"): first
    fortnight's (user, type) visits minus the second fortnight's,
    multiplicity-aware. Spark's exceptAll compiles to a count-balance
    generate plan — no distinct, no row explosion beyond the inputs."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.dayofmonth("ts").alias("_d")
    )
    a = ev.filter(F.col("_d") <= 15).select("user_id", "event_type")
    b = ev.filter(F.col("_d") > 15).select("user_id", "event_type")
    return a.exceptAll(b)


def _intersect_all(spark, sf_dir):
    """Multiset INTERSECT ALL: per (user, type), min(count_a, count_b)
    occurrences survive — the bag-overlap the distinct-based
    INTERSECTION collapses."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.dayofmonth("ts").alias("_d")
    )
    a = ev.filter(F.col("_d") <= 15).select("user_id", "event_type")
    b = ev.filter(F.col("_d") > 15).select("user_id", "event_type")
    return a.intersectAll(b)


def _running_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) — not window-able directly in either
    engine; the standard decomposition flags each (user, type)'s FIRST
    occurrence with one row_number window, then running-sums the flag.
    Two windows over the same user-keyed partitioning (one exchange)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts", "event_type")
    wf = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.withColumn(
        "_first", (F.row_number().over(wf) == 1).cast("long")
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("_first").over(wr).cast("long").alias("distinct_types_so_far"),
    )


QUERIES = {
    "pivot_day_by_type": _pivot_day_by_type,
    "join_null_safe": _null_safe_join,
    # r7 wave 38 (r8 queue): NOT IN vs NOT EXISTS with a planted NULL
    # in the probe set — the null-aware anti join trap, both engines
    "join_null_aware_anti": lambda s, d: null_aware_anti_join(
        load_table(s, d, "orders"), load_table(s, d, "customer")
    ),
    "setop_except_all": _except_all,
    "setop_intersect_all": _intersect_all,
    "window_running_distinct": _running_distinct,
    "unpivot_daily_metrics": _unpivot_daily,
    "cube_lineitem_status": _cube_lineitem,
    "rollup_orders_priority": _rollup_orders,
    "asof_join_event_daily": _asof_event_daily,
    # r7 wave 32 (r8 queue): nearest-ASOF both directions — one keyed
    # sort drives the backward AND forward carry
    "join_asof_nearest": lambda s, d: nearest_conversion_gap(
        load_table(s, d, "events")
    ),
    # r7 wave 35 (r8 queue): the bucketize-both-sides range-join scale
    # path (equi-join + residual filter; no broadcast NLJ)
    "join_range_bucketized": lambda s, d: bucketized_range_join(
        load_table(s, d, "events")
    ),
    # wave 25: the feature-store point-in-time join + leakage audit —
    # PIT (servable-at-next-midnight) vs the naive same-day join,
    # counting the labels the naive join would silently poison
    "join_pit_features": lambda s, d: pit_feature_leakage(
        load_table(s, d, "events")
    ),
    "range_join_amount_bands": _amount_bands,
    "regexp_extract_docs": _regexp_extract_docs,
    "json_props_histogram": _json_props_histogram,
    "array_functions_surface": _array_functions,
    "grouping_sets_orders": _grouping_sets,
    "window_gaps_islands_sessions": _gaps_islands_sessions,
    "analytics_funnel_stages": _funnel_stages,
    # r7 wave 34 (r8 queue): deadline-chained strict-sequence funnel
    # (windowFunnel semantics; greedy-earliest stage matches)
    "analytics_windowed_funnel": lambda s, d: windowed_funnel(
        load_table(s, d, "events")
    ),
    # r7 wave 34 (r8 queue): exact Kendall tau between two full brand
    # orderings (revenue vs reach) — integer ppm, no float correlation
    "eval_kendall_tau_brands": lambda s, d: kendall_tau_brand_ranks(
        load_table(s, d, "lineitem"), load_table(s, d, "part")
    ),
    "approx_distinct_users": _approx_distinct,
    "approx_percentiles_value": _approx_percentiles,
    "skew_salted_user_totals": lambda s, d: salted_sum_count(
        _events(s, d), "user_id", "value"
    ),
    # r4: re-aggregatable rollup — period estimate from unioned DAILY
    # sketches (never a raw-data rescan); gate carries exact + verdict
    "hll_mergeable_rollup": lambda s, d: hll_mergeable_rollup(
        load_table(s, d, "events")
    ),
    # r4: basket co-occurrence — order-keyed self-join, cost Σ basket²
    "basket_brand_pairs": lambda s, d: basket_brand_pairs(
        load_table(s, d, "lineitem"), load_table(s, d, "part"), k=25
    ),
    # r5 (deferred window): fact-to-SCD2 as-of enrichment (star schema)
    "scd2_temporal_enrich": _scd2_temporal_enrich,
    # r5 (deferred window): count-min sketch point-frequency estimates,
    # exact truth beside them (third mergeable sketch after HLL and MG)
    "sketch_cms_user_counts": lambda s, d: cms_estimate(
        _events(s, d), "user_id", CMS_QUERY_IDS
    ),
    # r8 wave 42 (r9 queue): heavy-change between period sketches —
    # est deltas from two mergeable CMS tables, truth-certified
    "sketch_cms_heavy_change": lambda s, d: cms_heavy_change(
        _events(s, d), "user_id", "ts", CMS_QUERY_IDS
    ),
    # r5 (deferred window): association lift over order baskets
    "basket_brand_lift": lambda s, d: basket_brand_lift(
        load_table(s, d, "lineitem"), load_table(s, d, "part"), k=25
    ),
    # wave 21: the per-item neighbor list a recommender serves (cosine
    # over the same basket geometry)
    "reco_item_knn": lambda s, d: item_knn_cosine(
        load_table(s, d, "lineitem"), load_table(s, d, "part")
    ),
    # r7 wave 32 (r8 queue): leave-last-out offline eval of that
    # artifact — hit-rate@5 + quantized MRR, train excludes test baskets
    "reco_knn_hitrate_eval": lambda s, d: item_knn_hitrate_eval(
        load_table(s, d, "orders"),
        load_table(s, d, "lineitem"),
        load_table(s, d, "part"),
    ),
    # r5: frequency-decile skew diagnostics for a shuffle key (the
    # salting/AQE-hint decision report)
    "skew_key_profile": lambda s, d: key_skew_profile(
        _events(s, d), "user_id"
    ),
    # r7 wave 37 (r8 queue): the decision table after the skew profile —
    # ceil(freq/budget) salt factors for above-budget keys
    "skew_salt_plan": lambda s, d: salt_plan(
        _events(s, d), "event_type", target_rows=1000
    ),
    # r8 wave 41: the plan WIRED INTO a consumer — hot keys aggregate
    # through salt_factor subkeys in a two-stage algebraic agg; result
    # contract = the plain GROUP BY (the oracle)
    "skew_salted_agg_by_plan": lambda s, d: salted_agg_by_plan(
        _events(s, d), "event_type", "value", "event_id", target_rows=1000
    ),
    # r5 wave 12: salted replicated join — the hot-key/big-dim corner
    # AQE can't split; result contract = the plain inner join
    "join_skew_salted": lambda s, d: salted_join(
        _events(s, d),
        load_table(s, d, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        ),
        "user_id",
    )
    .groupBy("c_mktsegment")
    .agg(
        F.count("*").alias("n_events"),
        (F.sum(cents()) / F.lit(100.0)).alias("total_value"),
    )
    .orderBy("c_mktsegment"),
    # r5 wave 12: mergeable log-bucket quantile sketch (DDSketch-style)
    # with integer-exact bounded-error verdicts beside the exact audit
    "sketch_quantile_bands": lambda s, d: quantile_histogram(
        load_table(s, d, "lineitem"), "l_extendedprice"
    ),
    # r5 wave 14: banded interval-overlap join (SCD2 periods x promo
    # calendar) — month-band equi-join, emit-once allocation rule
    "join_interval_overlap": lambda s, d: interval_overlap_state_promos(
        _events(s, d)
    ),
    # r5 wave 15: re-aggregatable quantile rollup — period percentiles
    # from SUMMED daily bucket tables, never a raw rescan
    "sketch_quantile_rollup": lambda s, d: quantile_rollup(_events(s, d)),
}

# ten fixed probe ids spanning the fixture's user range
CMS_QUERY_IDS = [0, 7, 13, 29, 42, 55, 68, 91, 120, 149]

_PIVOT_CASES = ",\n               ".join(
    f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES
)

ORACLES = {
    "join_pit_features": pit_feature_leakage_sql("events"),
    "setop_except_all": """
        WITH ev AS (
          SELECT user_id, event_type, date_part('day', ts) AS _d FROM events
        )
        SELECT user_id, event_type FROM ev WHERE _d <= 15
        EXCEPT ALL
        SELECT user_id, event_type FROM ev WHERE _d > 15
    """,
    "setop_intersect_all": """
        WITH ev AS (
          SELECT user_id, event_type, date_part('day', ts) AS _d FROM events
        )
        SELECT user_id, event_type FROM ev WHERE _d <= 15
        INTERSECT ALL
        SELECT user_id, event_type FROM ev WHERE _d > 15
    """,
    "window_running_distinct": """
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS _first
          FROM events
        )
        SELECT user_id, event_id,
               CAST(SUM(_first) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS distinct_types_so_far
        FROM flagged
    """,
    "join_null_safe": """
        WITH ev AS (
          SELECT CASE WHEN event_type = 'error' THEN NULL
                      ELSE user_id END AS user_id, ts, value
          FROM events
        ),
        days AS (
          SELECT user_id,
                 CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
          FROM ev GROUP BY user_id
        ),
        totals AS (
          SELECT user_id,
                 ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS total_value
          FROM ev WHERE value IS NOT NULL GROUP BY user_id
        )
        SELECT d.user_id, d.n_days, t.total_value
        FROM days d LEFT JOIN totals t
          ON d.user_id IS NOT DISTINCT FROM t.user_id
    """,
    "basket_brand_pairs": basket_brand_pairs_sql(k=25),
    "basket_brand_lift": basket_brand_lift_sql(k=25),
    "reco_item_knn": item_knn_cosine_sql(),
    "reco_knn_hitrate_eval": item_knn_hitrate_eval_sql(),
    "join_asof_nearest": nearest_conversion_gap_sql(),
    "eval_kendall_tau_brands": kendall_tau_brand_ranks_sql(),
    "join_range_bucketized": bucketized_range_join_sql(),
    "skew_salt_plan": salt_plan_sql("events", "event_type",
                                    target_rows=1000),
    "skew_salted_agg_by_plan": salted_agg_by_plan_sql(
        "events", "event_type", "value", target_rows=1000
    ),
    "join_null_aware_anti": null_aware_anti_join_sql(),
    "pivot_day_by_type": f"""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               {_PIVOT_CASES}
        FROM events GROUP BY 1
    """,
    "unpivot_daily_metrics": """
        WITH daily AS (
          SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 CAST(COUNT(*) AS DOUBLE) AS n_events,
                 ROUND(SUM(value), 2) AS total_value
          FROM events GROUP BY 1
        )
        SELECT day, 'n_events' AS metric, n_events AS metric_value FROM daily
        UNION ALL
        SELECT day, 'total_value' AS metric, total_value AS metric_value FROM daily
    """,
    "cube_lineitem_status": """
        SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
               COALESCE(l_linestatus, '(all)') AS linestatus,
               COUNT(*) AS n,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "rollup_orders_priority": """
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               COUNT(*) AS n,
               GROUPING(o_orderpriority) AS g_prio
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "asof_join_event_daily": """
        WITH daily AS (
          SELECT CAST(ts AS DATE) + 1 AS day_end_d,
                 ROUND(SUM(value), 2) AS day_value
          FROM events GROUP BY 1
        ),
        d2 AS (SELECT CAST(day_end_d AS TIMESTAMP) AS day_end, day_value FROM daily)
        SELECT e.event_id,
               ROUND(e.value, 2) AS value,
               COALESCE(d2.day_value, 0.0) AS prev_day_value
        FROM events e ASOF LEFT JOIN d2 ON e.ts >= d2.day_end
    """,
    "range_join_amount_bands": """
        WITH bands(band, lo, hi) AS (VALUES
          ('low', 0.0, 50.0), ('mid', 50.0, 120.0),
          ('high', 120.0, 250.0), ('extreme', 250.0, 1000000000.0))
        SELECT band, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
        FROM events JOIN bands ON value >= lo AND value < hi
        GROUP BY band
    """,
    "regexp_extract_docs": """
        SELECT doc_id,
               COALESCE(regexp_extract(text, '[a-z]*ar[a-z]*', 0), '') AS first_ar_word,
               len(regexp_extract_all(text, 'ta[bg]')) AS tab_tag_count
        FROM documents
    """,
    "json_props_histogram": """
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
               COUNT(*) AS n
        FROM events GROUP BY 1
    """,
    "analytics_funnel_stages": """
        WITH first AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
          FROM events GROUP BY user_id
        )
        SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_viewed,
               CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
               CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                             AND t_purchase > t_click
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
        FROM first
    """,
    "grouping_sets_orders": """
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "window_gaps_islands_sessions": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN date_diff('second', LAG(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sessions AS (
          SELECT *, CAST(SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_no
          FROM flagged
        )
        SELECT user_id, session_no,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sessions GROUP BY user_id, session_no
    """,
    "array_functions_surface": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT vec_id,
               len(v) AS n_dims,
               len(list_filter(v, x -> x > 0)) AS n_pos,
               ROUND(list_max(v), 6) AS max_val,
               ROUND(list_min(v), 6) AS min_val,
               ROUND(v[1], 6) AS first_val,
               ROUND(list_dot_product(v, v), 6) AS sum_sq
        FROM e
    """,
    "approx_percentiles_value": """
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 4) AS p50, TRUE AS ok_p50,
               ROUND(quantile_cont(value, 0.9), 4) AS p90, TRUE AS ok_p90,
               ROUND(quantile_cont(value, 0.99), 4) AS p99, TRUE AS ok_p99
        FROM events GROUP BY event_type
    """,
    "approx_distinct_users": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM events GROUP BY event_type
    """,
    "skew_salted_user_totals": """
        SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
        FROM events GROUP BY user_id
    """,
    "hll_mergeable_rollup": hll_mergeable_rollup_sql(),
    "scd2_temporal_enrich": """
        WITH changes AS (
          SELECT user_id, ts,
                 arg_max(event_type, event_id) AS state
          FROM events WHERE event_type <> 'purchase'
          GROUP BY user_id, ts
        ),
        facts AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'
        )
        SELECT f.event_id, f.user_id, f.ts,
               c.state AS asof_state, c.ts AS asof_valid_from
        FROM facts f ASOF LEFT JOIN changes c
          ON f.user_id = c.user_id AND f.ts >= c.ts
    """,
    "sketch_cms_user_counts": cms_estimate_sql(
        "events", "user_id", [0, 7, 13, 29, 42, 55, 68, 91, 120, 149]
    ),
    "sketch_cms_heavy_change": cms_heavy_change_sql(
        "events", "user_id", "ts",
        [0, 7, 13, 29, 42, 55, 68, 91, 120, 149],
    ),
    "skew_key_profile": key_skew_profile_sql("events", "user_id"),
    "join_skew_salted": """
        SELECT c_mktsegment,
               COUNT(*) AS n_events,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "sketch_quantile_bands": quantile_histogram_sql(
        "lineitem", "l_extendedprice"
    ),
    "join_interval_overlap": interval_overlap_state_promos_sql(),
    "sketch_quantile_rollup": quantile_rollup_sql(),
}
