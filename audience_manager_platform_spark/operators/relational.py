"""Extended relational surface: pivot/unpivot, cube/rollup, as-of join,
range join (SURVEY.md §7.2 step 7 — "general operator surface beyond the
reference's literal code").

The as-of and range joins are the two shapes Spark lacks natively; both
are implemented as compositions of built-ins with one shuffle (the
union-window trick / broadcast non-equi join), per the preference order in
§7.3 — no Pandas fallback needed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cents


def pivot_counts(
    df: DataFrame, row_key, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """Pivot with an EXPLICIT value list: without it Spark runs an extra
    distinct pass over the data to discover columns — at 100 TB that is a
    full scan before the real one. Missing cells zero-filled."""
    out = df.groupBy(row_key).pivot(pivot_col, list(values)).count()
    return out.select(
        out.columns[0],
        *[F.coalesce(F.col(v), F.lit(0)).alias(v) for v in values],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
) -> DataFrame:
    """As-of join: for every left row, the latest right row with
    ``right_ts <= left_ts`` (per key). Spark has no native ASOF; the
    scalable composition is the union-window trick:

      tag sides → union on (key, ts) → per-key time-ordered window →
      ``last(value, ignorenulls)`` carries the most recent right values
      forward → keep left rows.

    ONE shuffle on the key (vs. a per-row correlated subquery, or
    ``merge_asof`` in per-group Pandas which forces Python). Ties
    (right_ts == left_ts) sort the right row first → inclusive semantics,
    matching DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``."""
    # left_ts already travels as _ts and is renamed back on the way out —
    # keeping it in lcols too would emit a DUPLICATE column of that name
    # (ambiguous for any downstream select of left_ts; latent until a
    # caller actually selected it)
    lcols = [c for c in left.columns if c not in (on, left_ts)]
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_vals],
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in right_vals],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l.unionByName(r).select(
        "_k",
        "_ts",
        "_side",
        *lcols,
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_vals
        ],
    )
    return (
        filled.filter(F.col("_side") == 1)
        .drop("_side")
        .withColumnRenamed("_k", on)
        .withColumnRenamed("_ts", left_ts)
    )


def range_join_bands(
    df: DataFrame, value_col: str, bands: Sequence[tuple[str, float, float]]
) -> DataFrame:
    """Non-equi join of a fact column into literal value bands
    [lo, hi). The band table is tiny → broadcast nested-loop join, which
    is exactly right; for a LARGE range side, bucketize both sides to an
    equi-join key first (documented scale path)."""
    from .partitioning import local_table

    band_df = local_table(
        df.sparkSession,
        [(name, float(lo), float(hi)) for name, lo, hi in bands],
        "band string, lo double, hi double",
    )
    return (
        df.join(
            F.broadcast(band_df),
            (F.col(value_col) >= F.col("lo")) & (F.col(value_col) < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(value_col), 2).alias("total"),
        )
    )


# ------------------------------------------------- basket co-occurrence
def basket_brand_pairs(
    lineitem: DataFrame, part: DataFrame, k: int = 25
) -> DataFrame:
    """Market-basket co-occurrence: per unordered brand pair, in how many
    orders both brands appear — the association signal behind
    bought-together recommenders, on the TPC-H schema.

    Shape: broadcast-join the (small) part dim onto lineitem, reduce to
    DISTINCT (order, brand) so multi-line orders don't overcount, then
    self-join keyed on the ORDER key — the basket — with brand_a <
    brand_b, and aggregate pair counts. The order-keyed self-join is the
    scale path: cost is Σ basket_size², never |lineitem|², and baskets
    are bounded (TPC-H ≤ 7 lines). Top-k carries the usual total order
    (count DESC, pair ASC). The distinct basket table feeds both join
    sides — materialized once (4.0 s → 1.4 s at sf0.1; exchange reuse
    does not cross the aliased branches)."""
    from .partitioning import materialize

    ob = materialize(
        lineitem.select("l_orderkey", "l_partkey")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    pairs = (
        ob.alias("x")
        .join(ob.alias("y"), "l_orderkey")
        .filter(F.col("x.brand") < F.col("y.brand"))
        .select(
            F.col("x.brand").alias("brand_a"), F.col("y.brand").alias("brand_b")
        )
    )
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(k)
    )


def basket_brand_pairs_sql(
    lineitem: str = "lineitem", part: str = "part", k: int = 25
) -> str:
    return f"""
        WITH ob AS (
          SELECT DISTINCT l_orderkey, p_brand AS brand
          FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
        )
        SELECT x.brand AS brand_a, y.brand AS brand_b,
               COUNT(*) AS n_orders
        FROM ob x JOIN ob y
          ON x.l_orderkey = y.l_orderkey AND x.brand < y.brand
        GROUP BY 1, 2
        ORDER BY n_orders DESC, brand_a ASC, brand_b ASC
        LIMIT {k}
    """


def basket_brand_lift(
    lineitem: DataFrame, part: DataFrame, k: int = 25, min_orders: int = 5
) -> DataFrame:
    """Association LIFT per brand pair: ``P(a,b) / (P(a)·P(b))`` over
    order baskets — the normalized form of
    :func:`basket_brand_pairs` that separates genuinely associated
    brands from merely popular ones (raw co-occurrence counts rank
    popular×popular pairs first even when independent).

    Same shuffle geometry as the pair count (one materialized distinct
    basket table, order-keyed self-join bounded by Σ basket²) plus a
    |brands|-row marginal aggregate broadcast back; ``min_orders``
    suppresses the noise floor where tiny supports produce huge
    spurious lifts. 6dp-rounded ratios; top-k totally ordered."""
    from .partitioning import materialize

    ob = materialize(
        lineitem.select("l_orderkey", "l_partkey")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = ob.select("l_orderkey").distinct().count()
    marg = ob.groupBy("brand").agg(F.count("*").alias("n_brand"))
    pairs = (
        ob.alias("x")
        .join(ob.alias("y"), "l_orderkey")
        .filter(F.col("x.brand") < F.col("y.brand"))
        .groupBy(
            F.col("x.brand").alias("brand_a"),
            F.col("y.brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= min_orders)
    )
    ma = marg.select(F.col("brand").alias("brand_a"), F.col("n_brand").alias("na"))
    mb = marg.select(F.col("brand").alias("brand_b"), F.col("n_brand").alias("nb"))
    return (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.round(
                (F.col("n_both") * F.lit(float(n_orders)))
                / (F.col("na") * F.col("nb")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(k)
    )


def basket_brand_lift_sql(
    lineitem: str = "lineitem", part: str = "part",
    k: int = 25, min_orders: int = 5,
) -> str:
    return f"""
        WITH ob AS (
          SELECT DISTINCT l_orderkey, p_brand AS brand
          FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
        ),
        tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
        marg AS (SELECT brand, COUNT(*) AS n_brand FROM ob GROUP BY brand),
        pairs AS (
          SELECT x.brand AS brand_a, y.brand AS brand_b,
                 COUNT(*) AS n_both
          FROM ob x JOIN ob y
            ON x.l_orderkey = y.l_orderkey AND x.brand < y.brand
          GROUP BY 1, 2 HAVING COUNT(*) >= {min_orders}
        )
        SELECT brand_a, brand_b, n_both,
               ROUND((n_both * CAST(tot.n_orders AS DOUBLE))
                     / (ma.n_brand * mb.n_brand), 6) AS lift
        FROM pairs
        JOIN marg ma ON ma.brand = pairs.brand_a
        JOIN marg mb ON mb.brand = pairs.brand_b
        CROSS JOIN tot
        ORDER BY lift DESC, brand_a ASC, brand_b ASC LIMIT {k}
    """


# --------------------------------------------- interval-overlap join
def interval_overlap_state_promos(events: DataFrame) -> DataFrame:
    """Interval-overlap join — the join primitive neither equi- nor
    as-of joins cover: pair rows whose VALIDITY PERIODS intersect and
    measure the intersection. Demonstrated on the warehouse's own
    tables: SCD2 user-state periods (from :func:`..merge.scd2_history`)
    against a monthly promo calendar (first 7 days of each month in the
    data span), reporting per state how many user-periods touched a
    promo window and for how many user-days in total.

    Scale shape — the banded interval join: naively "a.from < b.to AND
    b.from < a.to" is a cross join. Instead both sides band to calendar
    MONTHS (periods explode to the months they touch — bounded by
    period length; promos are monthly by construction), the join runs
    as an EQUI-join on the month key, and each overlapping pair is
    emitted EXACTLY ONCE by the allocation rule ``band ==
    month(overlap_start)`` — no distinct over the pair table. Overlap
    arithmetic is exact integer day counts on half-open ranges
    ``[from_day, to_day)``; open SCD2 tails close at max-day + 1."""
    from .merge import scd2_history

    periods = scd2_history(events)
    bounds = events.agg(
        F.max(F.to_date("ts")).alias("_hi"), F.min(F.to_date("ts")).alias("_lo")
    )
    p = (
        periods.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            "state",
            F.to_date("valid_from").alias("p_from"),
            F.coalesce(
                F.date_add(F.to_date("valid_to"), 1),
                F.date_add(F.col("_hi"), 1),
            ).alias("p_to"),
        )
    )
    promos = (
        bounds.select(
            F.explode(
                F.expr(
                    "sequence(date_trunc('MONTH', _lo),"
                    " date_trunc('MONTH', _hi), interval 1 month)"
                )
            ).alias("m_start")
        )
        .select(
            F.date_format("m_start", "yyyy-MM").alias("promo_id"),
            F.col("m_start").cast("date").alias("b_from"),
            F.date_add(F.col("m_start").cast("date"), 7).alias("b_to"),
        )
    )
    banded = p.select(
        "user_id",
        "state",
        "p_from",
        "p_to",
        F.explode(
            F.expr(
                "sequence(date_trunc('MONTH', p_from),"
                " date_trunc('MONTH', date_sub(p_to, 1)), interval 1 month)"
            )
        ).alias("_band_ts"),
    ).withColumn("band", F.col("_band_ts").cast("date")).drop("_band_ts")
    pairs = (
        banded.join(
            F.broadcast(promos),
            F.col("band") == F.col("b_from"),
        )
        .withColumn(
            "ov_start", F.greatest("p_from", "b_from")
        )
        .withColumn("ov_end", F.least("p_to", "b_to"))
        .filter(F.col("ov_end") > F.col("ov_start"))
        .filter(
            F.expr("date_trunc('MONTH', ov_start)").cast("date")
            == F.col("band")
        )
        .select(
            "state",
            F.datediff("ov_end", "ov_start").alias("overlap_days"),
        )
    )
    return (
        pairs.groupBy("state")
        .agg(
            F.count("*").cast("long").alias("n_overlapping_periods"),
            F.sum("overlap_days").cast("long").alias("total_overlap_days"),
        )
        .orderBy("state")
    )


def interval_overlap_state_promos_sql(src: str = "events") -> str:
    from .merge import scd2_history_sql

    return f"""
        WITH hist AS ({scd2_history_sql(src)}),
        bounds AS (
          SELECT MAX(CAST(ts AS DATE)) AS hi, MIN(CAST(ts AS DATE)) AS lo
          FROM {src}
        ),
        p AS (
          SELECT user_id, state,
                 CAST(valid_from AS DATE) AS p_from,
                 COALESCE(CAST(valid_to AS DATE) + 1, hi + 1) AS p_to
          FROM hist CROSS JOIN bounds
        ),
        promos AS (
          SELECT strftime(m_start, '%Y-%m') AS promo_id,
                 CAST(m_start AS DATE) AS b_from,
                 CAST(m_start AS DATE) + 7 AS b_to
          FROM (
            SELECT UNNEST(generate_series(
                     date_trunc('month', lo),
                     date_trunc('month', hi),
                     INTERVAL 1 MONTH)) AS m_start
            FROM bounds
          )
        ),
        banded AS (
          SELECT user_id, state, p_from, p_to,
                 CAST(UNNEST(generate_series(
                   date_trunc('month', p_from),
                   date_trunc('month', p_to - 1),
                   INTERVAL 1 MONTH)) AS DATE) AS band
          FROM p
        ),
        pairs AS (
          SELECT state,
                 date_diff('day',
                           GREATEST(p_from, b_from),
                           LEAST(p_to, b_to)) AS overlap_days
          FROM banded JOIN promos ON band = b_from
          WHERE LEAST(p_to, b_to) > GREATEST(p_from, b_from)
            AND CAST(date_trunc('month', GREATEST(p_from, b_from)) AS DATE)
                = band
        )
        SELECT state,
               CAST(COUNT(*) AS BIGINT) AS n_overlapping_periods,
               CAST(SUM(overlap_days) AS BIGINT) AS total_overlap_days
        FROM pairs
        GROUP BY state
        ORDER BY state
    """


def item_knn_cosine(
    lineitem: DataFrame,
    part: DataFrame,
    n_neighbors: int = 3,
    min_orders: int = 5,
) -> DataFrame:
    """Item-item collaborative-filtering kNN: per brand, its
    ``n_neighbors`` most-similar brands by basket-cosine
    ``co(a,b) / sqrt(n(a)·n(b))`` — the SERVING artifact a
    bought-together recommender actually ships (the
    :func:`basket_brand_lift` table is the diagnostic; this is the
    per-item neighbor list lookups hit).

    Same scale geometry as the other basket ops: one materialized
    distinct (order, brand) table, an order-keyed self-join bounded by
    Σ basket², a |brands|-row marginal broadcast back. The cosine
    assembles co / sqrt(n_a·n_b) in doubles (the product would overflow
    a long at web-scale supports; doubles are deterministic and the
    oracle does the same), floor-scaled e6 BEFORE the per-brand rank so
    ties break on neighbor name identically in both engines."""
    from .partitioning import materialize

    ob = materialize(
        lineitem.select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    return _item_knn_from_ob(ob, n_neighbors, min_orders)


def _item_knn_from_ob(
    ob: DataFrame, n_neighbors: int, min_orders: int
) -> DataFrame:
    """Core of :func:`item_knn_cosine` over a prebuilt DISTINCT
    (l_orderkey, brand) relation — shared with the hit-rate eval so the
    eval can feed a once-materialized basket table instead of re-joining
    lineitem per consumer."""
    from pyspark.sql import Window

    marg = ob.groupBy("brand").agg(F.count("*").alias("n_brand"))
    co = (
        ob.alias("x")
        .join(ob.alias("y"), "l_orderkey")
        .filter(F.col("x.brand") != F.col("y.brand"))
        .groupBy(
            F.col("x.brand").alias("brand"),
            F.col("y.brand").alias("neighbor"),
        )
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= min_orders)
    )
    scored = (
        co.join(F.broadcast(marg), "brand")
        .join(
            F.broadcast(
                marg.select(
                    F.col("brand").alias("neighbor"),
                    F.col("n_brand").alias("n_neighbor"),
                )
            ),
            "neighbor",
        )
        .select(
            "brand",
            "neighbor",
            F.col("co").cast("long").alias("co"),
            F.expr(
                "CAST(floor(co / sqrt(CAST(n_brand AS DOUBLE)"
                " * CAST(n_neighbor AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
            ).alias("cosine_e6"),
        )
    )
    w = Window.partitionBy("brand").orderBy(
        F.desc("cosine_e6"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_neighbors)
        .select("brand", "rank", "neighbor", "co", "cosine_e6")
        .orderBy("brand", "rank")
    )


def item_knn_cosine_sql(
    lineitem: str = "lineitem",
    part: str = "part",
    n_neighbors: int = 3,
    min_orders: int = 5,
) -> str:
    return f"""
        WITH ob AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, p_brand AS brand
          FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
        ),
        marg AS (SELECT brand, COUNT(*) AS n_brand FROM ob GROUP BY 1),
        co AS (
          SELECT x.brand AS brand, y.brand AS neighbor, COUNT(*) AS co
          FROM ob x JOIN ob y
            ON x.l_orderkey = y.l_orderkey AND x.brand != y.brand
          GROUP BY 1, 2
          HAVING COUNT(*) >= {int(min_orders)}
        ),
        scored AS (
          SELECT c.brand, c.neighbor, CAST(c.co AS BIGINT) AS co,
                 CAST(floor(c.co / sqrt(CAST(a.n_brand AS DOUBLE)
                                        * CAST(b.n_brand AS DOUBLE))
                            * 1e6 + 0.5) AS BIGINT) AS cosine_e6
          FROM co c
          JOIN marg a ON a.brand = c.brand
          JOIN marg b ON b.brand = c.neighbor
        )
        SELECT brand, CAST(rank AS INTEGER) AS rank, neighbor, co,
               cosine_e6
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY brand
                    ORDER BY cosine_e6 DESC, neighbor ASC) AS rank
          FROM scored
        ) r WHERE rank <= {int(n_neighbors)}
        ORDER BY brand, rank
    """


# ------------------------------------------ point-in-time feature audit
def pit_feature_leakage(events: DataFrame) -> DataFrame:
    """Feature-store correctness primitive: the POINT-IN-TIME join and
    its leakage audit. Labels are purchase events; the feature is each
    user's trailing daily spend total, which becomes SERVABLE at the
    next midnight (the nightly batch contract: a day's aggregate cannot
    be read during the day it summarizes). For every label the PIT join
    picks the latest feature with ``available_ts <= label_ts`` (the
    existing as-of composition: one union-window pass, one user_id
    shuffle); the NAIVE join — what leaky training pipelines do — reads
    the label's OWN calendar day's total, summing events that happen
    after the label itself.

    Output per label day: label count, PIT-matched count, how many
    labels the naive join would have silently poisoned (naive feature
    differs from the PIT feature), and the exact PIT feature sum in
    cents — all bigint, no float anywhere.

    Why it matters at 100 TB: train/serve skew from time-travel joins
    is invisible in aggregate metrics; this audit prices it per
    partition before a model trains on it."""
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    feats = (
        base.groupBy(
            "user_id", F.to_date("ts").alias("feature_day")
        )
        .agg(
            F.sum(cents()).alias("day_cents")
        )
        .select(
            "user_id",
            "feature_day",
            "day_cents",
            # servable at the NEXT midnight
            F.expr(
                "CAST(feature_day AS TIMESTAMP) + INTERVAL 1 DAY"
            ).alias("available_ts"),
        )
    )
    labels = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("label_ts"),
        F.col("event_id").alias("label_id"),
        F.to_date("ts").alias("label_day"),
    )
    pit = asof_join(
        labels,
        feats.select("user_id", "available_ts", "day_cents"),
        on="user_id",
        left_ts="label_ts",
        right_ts="available_ts",
        right_vals=["day_cents"],
    ).select(
        "user_id",
        "label_id",
        "label_day",
        F.col("asof_day_cents").alias("pit_cents"),
    )
    naive = labels.join(
        feats.select(
            "user_id",
            F.col("feature_day").alias("label_day"),
            F.col("day_cents").alias("naive_cents"),
        ),
        ["user_id", "label_day"],
        "left",
    ).select("label_id", "naive_cents")
    return (
        pit.join(naive, "label_id")
        .groupBy("label_day")
        .agg(
            F.count("*").cast("long").alias("n_labels"),
            F.sum(
                F.expr("CASE WHEN pit_cents IS NOT NULL THEN 1 ELSE 0 END")
            ).cast("long").alias("n_with_pit"),
            F.sum(
                F.expr(
                    "CASE WHEN naive_cents IS DISTINCT FROM pit_cents"
                    " THEN 1 ELSE 0 END"
                )
            ).cast("long").alias("n_naive_leaky"),
            F.sum(F.coalesce("pit_cents", F.lit(0)))
            .cast("long")
            .alias("pit_cents_sum"),
        )
        .select(
            F.date_format("label_day", "yyyy-MM-dd").alias("label_day"),
            "n_labels",
            "n_with_pit",
            "n_naive_leaky",
            "pit_cents_sum",
        )
        .orderBy("label_day")
    )


def pit_feature_leakage_sql(src: str = "events") -> str:
    return f"""
        WITH base AS (
          SELECT * FROM {src}
          WHERE user_id IS NOT NULL AND value IS NOT NULL
        ),
        feats AS (
          SELECT user_id, CAST(ts AS DATE) AS feature_day,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS day_cents,
                 CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY
                   AS available_ts
          FROM base GROUP BY user_id, CAST(ts AS DATE)
        ),
        labels AS (
          SELECT user_id, ts AS label_ts, event_id AS label_id,
                 CAST(ts AS DATE) AS label_day
          FROM base WHERE event_type = 'purchase'
        ),
        pit AS (
          SELECT l.label_id, l.label_day, l.user_id, f.day_cents AS pit_cents
          FROM labels l ASOF LEFT JOIN feats f
            ON l.user_id = f.user_id AND l.label_ts >= f.available_ts
        ),
        naive AS (
          SELECT l.label_id, f.day_cents AS naive_cents
          FROM labels l LEFT JOIN feats f
            ON l.user_id = f.user_id AND l.label_day = f.feature_day
        )
        SELECT STRFTIME(p.label_day, '%Y-%m-%d') AS label_day,
               CAST(COUNT(*) AS BIGINT) AS n_labels,
               CAST(SUM(CASE WHEN p.pit_cents IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_pit,
               CAST(SUM(CASE WHEN n.naive_cents IS DISTINCT FROM p.pit_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_naive_leaky,
               CAST(SUM(COALESCE(p.pit_cents, 0)) AS BIGINT) AS pit_cents_sum
        FROM pit p JOIN naive n ON n.label_id = p.label_id
        GROUP BY p.label_day
        ORDER BY label_day
    """


# --------------------------------------- recommender offline evaluation
def item_knn_hitrate_eval(
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    n_neighbors: int = 3,
    min_orders: int = 5,
    top_k: int = 5,
) -> DataFrame:
    """Leave-last-out offline evaluation of the basket-cosine
    recommender — the number that decides whether the kNN artifact
    ships: hold out each customer's LAST order (latest o_orderdate,
    orderkey tiebreak), train the item-item table on everything else,
    recommend ``top_k`` unseen brands per customer by summed neighbor
    cosine, and report hit-rate@k plus a quantized MRR.

    The protocol is the standard one (train excludes every test
    basket, so no test co-occurrence leaks into the model). Candidate
    scores sum e6-quantized cosines in bigint (exact, ties broken on
    brand name); MRR is quantized as 1e6 div first_hit_rank — an
    integer by definition, summed exactly.

    Scale shape: ONE materialized distinct (order, customer, is_test,
    brand) basket table — lineitem is joined and scanned exactly once;
    the model build (basket² self-join), history, and holdout all
    derive from it. The eval adds one history x kNN equi-join on brand
    (|history| x n_neighbors fan-out), one per-customer top-k window,
    and one |customers|-row rollup. Everything is keyed — nothing
    pairwise in the eval path."""
    from pyspark.sql import Window

    from .partitioning import materialize

    ranked = orders.select(
        "o_orderkey",
        "o_custkey",
        (
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("o_orderdate"), F.desc("o_orderkey")
                )
            )
            == 1
        ).alias("is_test"),
    )
    cob = materialize(
        lineitem.select("l_orderkey", "l_partkey")
        .join(ranked, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "l_orderkey",
            "o_custkey",
            "is_test",
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    # (l_orderkey, brand) is already unique within cob (the order key
    # determines custkey and is_test), so no second distinct needed
    knn = _item_knn_from_ob(
        cob.filter(~F.col("is_test")).select("l_orderkey", "brand"),
        n_neighbors,
        min_orders,
    )
    history = (
        cob.filter(~F.col("is_test"))
        .select("o_custkey", "brand")
        .distinct()
    )
    holdout = (
        cob.filter(F.col("is_test"))
        .select("o_custkey", "brand")
        .distinct()
    )
    cand = (
        history.join(F.broadcast(knn), "brand")
        .groupBy("o_custkey", "neighbor")
        .agg(F.sum("cosine_e6").alias("score_e6"))
        .join(
            history.select(
                "o_custkey", F.col("brand").alias("neighbor")
            ),
            ["o_custkey", "neighbor"],
            "left_anti",
        )
    )
    topk = (
        cand.withColumn(
            "rec_rank",
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("score_e6"), F.asc("neighbor")
                )
            ),
        )
        .filter(F.col("rec_rank") <= top_k)
    )
    first_hit = (
        topk.join(
            holdout.select(
                "o_custkey", F.col("brand").alias("neighbor")
            ),
            ["o_custkey", "neighbor"],
        )
        .groupBy("o_custkey")
        .agg(F.min("rec_rank").alias("first_hit_rank"))
    )
    eligible = history.select("o_custkey").distinct().join(
        holdout.select("o_custkey").distinct(), "o_custkey", "left_semi"
    )
    return (
        eligible.join(F.broadcast(first_hit), "o_custkey", "left")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(
                F.col("first_hit_rank").isNotNull().cast("long")
            ).alias("n_hits"),
            F.sum(
                F.when(
                    F.col("first_hit_rank").isNotNull(),
                    F.expr("1000000 div first_hit_rank"),
                ).otherwise(F.lit(0))
            ).cast("long").alias("_rr_sum_e6"),
        )
        .select(
            "n_users",
            "n_hits",
            F.expr("n_hits * 1000000 div n_users").alias("hitrate_ppm"),
            F.expr("_rr_sum_e6 div n_users").alias("mrr_e6"),
        )
    )


def item_knn_hitrate_eval_sql(
    orders: str = "orders",
    lineitem: str = "lineitem",
    part: str = "part",
    n_neighbors: int = 3,
    min_orders: int = 5,
    top_k: int = 5,
) -> str:
    return f"""
        WITH ranked AS (
          SELECT o_orderkey, o_custkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS _rk
          FROM {orders}
        ),
        test_orders AS (
          SELECT o_orderkey, o_custkey FROM ranked WHERE _rk = 1
        ),
        train_orders AS (
          SELECT o_orderkey, o_custkey FROM ranked WHERE _rk > 1
        ),
        ob AS MATERIALIZED (
          SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
          FROM {lineitem} l
          JOIN {part} p ON l.l_partkey = p.p_partkey
          WHERE l.l_orderkey IN (SELECT o_orderkey FROM train_orders)
        ),
        marg AS (SELECT brand, COUNT(*) AS n_brand FROM ob GROUP BY 1),
        co AS (
          SELECT x.brand AS brand, y.brand AS neighbor, COUNT(*) AS co
          FROM ob x JOIN ob y
            ON x.l_orderkey = y.l_orderkey AND x.brand != y.brand
          GROUP BY 1, 2
          HAVING COUNT(*) >= {int(min_orders)}
        ),
        knn AS (
          SELECT brand, neighbor, cosine_e6 FROM (
            SELECT c.brand, c.neighbor,
                   CAST(floor(c.co / sqrt(CAST(a.n_brand AS DOUBLE)
                                          * CAST(b.n_brand AS DOUBLE))
                              * 1e6 + 0.5) AS BIGINT) AS cosine_e6,
                   ROW_NUMBER() OVER (PARTITION BY c.brand
                     ORDER BY floor(c.co / sqrt(CAST(a.n_brand AS DOUBLE)
                                    * CAST(b.n_brand AS DOUBLE))
                                    * 1e6 + 0.5) DESC,
                              c.neighbor ASC) AS _nrk
            FROM co c
            JOIN marg a ON a.brand = c.brand
            JOIN marg b ON b.brand = c.neighbor
          ) WHERE _nrk <= {int(n_neighbors)}
        ),
        history AS (
          SELECT DISTINCT t.o_custkey, p.p_brand AS brand
          FROM {lineitem} l
          JOIN train_orders t ON l.l_orderkey = t.o_orderkey
          JOIN {part} p ON l.l_partkey = p.p_partkey
        ),
        holdout AS (
          SELECT DISTINCT t.o_custkey, p.p_brand AS brand
          FROM {lineitem} l
          JOIN test_orders t ON l.l_orderkey = t.o_orderkey
          JOIN {part} p ON l.l_partkey = p.p_partkey
        ),
        cand AS (
          SELECT h.o_custkey, k.neighbor,
                 SUM(k.cosine_e6) AS score_e6
          FROM history h JOIN knn k ON h.brand = k.brand
          WHERE NOT EXISTS (
            SELECT 1 FROM history h2
            WHERE h2.o_custkey = h.o_custkey AND h2.brand = k.neighbor
          )
          GROUP BY 1, 2
        ),
        topk AS (
          SELECT * FROM (
            SELECT o_custkey, neighbor, score_e6,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY score_e6 DESC, neighbor ASC) AS rec_rank
            FROM cand
          ) WHERE rec_rank <= {int(top_k)}
        ),
        first_hit AS (
          SELECT t.o_custkey, MIN(t.rec_rank) AS first_hit_rank
          FROM topk t
          JOIN holdout o
            ON t.o_custkey = o.o_custkey AND t.neighbor = o.brand
          GROUP BY 1
        ),
        eligible AS (
          SELECT DISTINCT h.o_custkey FROM history h
          WHERE EXISTS (SELECT 1 FROM holdout o
                        WHERE o.o_custkey = h.o_custkey)
        ),
        rolled AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(CASE WHEN f.first_hit_rank IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
                 CAST(SUM(CASE WHEN f.first_hit_rank IS NOT NULL
                               THEN 1000000 // f.first_hit_rank
                               ELSE 0 END) AS BIGINT) AS _rr_sum_e6
          FROM eligible e
          LEFT JOIN first_hit f ON e.o_custkey = f.o_custkey
        )
        SELECT n_users, n_hits,
               CAST(n_hits * 1000000 // n_users AS BIGINT) AS hitrate_ppm,
               CAST(_rr_sum_e6 // n_users AS BIGINT) AS mrr_e6
        FROM rolled
    """


# --------------------------------------- nearest-asof conversion proximity
def nearest_conversion_gap(
    events: DataFrame, target_type: str = "purchase"
) -> DataFrame:
    """Nearest-ASOF join, both directions: for every non-target event,
    the time gap to the SAME user's nearest ``target_type`` event —
    backward or forward, whichever is closer (ties go backward) — the
    attribution-window diagnostic ("how far from a conversion do
    clicks actually sit?") and the general nearest-neighbor-in-time
    alignment primitive Spark lacks natively.

    Both directions ride ONE user-keyed sort: the backward pass is
    last(target ts, ignorenulls) over (-inf, current], the forward pass
    first(...) over [current, +inf) — same partitioning, same order,
    one shuffle total. Target rows sort BEFORE coincident non-target
    rows, so an exact-tie conversion counts backward with gap 0.
    Gaps are exact MICROSECOND bigints (timezone-offset-free because
    only differences are taken); the rollup reports per (event_type,
    direction) count, exact integer mean, and percentile_disc p50."""
    m = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    tagged = events.select(
        "user_id",
        "event_type",
        m.alias("_m"),
        F.when(F.col("event_type") == target_type, m).alias("_tm"),
        # targets first among coincident timestamps
        F.when(F.col("event_type") == target_type, 0)
        .otherwise(1)
        .alias("_side"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("_m", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("_m", "_side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    gapped = (
        tagged.select(
            "user_id",
            "event_type",
            "_m",
            (F.col("_m") - F.last("_tm", ignorenulls=True).over(wb))
            .alias("gap_back_us"),
            (F.first("_tm", ignorenulls=True).over(wf) - F.col("_m"))
            .alias("gap_fwd_us"),
        )
        .filter(F.col("event_type") != target_type)
    )
    scored = gapped.select(
        "event_type",
        F.expr(
            "CASE WHEN gap_back_us IS NULL AND gap_fwd_us IS NULL"
            " THEN 'none'"
            " WHEN gap_fwd_us IS NULL OR (gap_back_us IS NOT NULL"
            "      AND gap_back_us <= gap_fwd_us) THEN 'back'"
            " ELSE 'fwd' END"
        ).alias("direction"),
        F.expr(
            "CASE WHEN gap_back_us IS NULL AND gap_fwd_us IS NULL"
            " THEN NULL"
            " WHEN gap_fwd_us IS NULL OR (gap_back_us IS NOT NULL"
            "      AND gap_back_us <= gap_fwd_us) THEN gap_back_us"
            " ELSE gap_fwd_us END"
        ).alias("gap_us"),
    )
    return (
        scored.groupBy("event_type", "direction")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr("sum(gap_us) div count(gap_us)").alias("mean_gap_us"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)"
            ).cast("long").alias("p50_gap_us"),
        )
        .orderBy("event_type", "direction")
    )


def nearest_conversion_gap_sql(
    src: str = "events", target_type: str = "purchase"
) -> str:
    return f"""
        WITH tagged AS (
          SELECT user_id, event_type, epoch_us(ts) AS _m,
                 CASE WHEN event_type = '{target_type}'
                      THEN epoch_us(ts) END AS _tm,
                 CASE WHEN event_type = '{target_type}' THEN 0 ELSE 1 END
                   AS _side
          FROM {src}
        ),
        gapped AS (
          SELECT user_id, event_type, _m,
                 _m - LAST_VALUE(_tm IGNORE NULLS) OVER wb AS gap_back_us,
                 FIRST_VALUE(_tm IGNORE NULLS) OVER wf - _m AS gap_fwd_us
          FROM tagged
          WINDOW
            wb AS (PARTITION BY user_id ORDER BY _m, _side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wf AS (PARTITION BY user_id ORDER BY _m, _side
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ),
        scored AS (
          SELECT event_type,
                 CASE WHEN gap_back_us IS NULL AND gap_fwd_us IS NULL
                      THEN 'none'
                      WHEN gap_fwd_us IS NULL OR (gap_back_us IS NOT NULL
                           AND gap_back_us <= gap_fwd_us) THEN 'back'
                      ELSE 'fwd' END AS direction,
                 CASE WHEN gap_back_us IS NULL AND gap_fwd_us IS NULL
                      THEN NULL
                      WHEN gap_fwd_us IS NULL OR (gap_back_us IS NOT NULL
                           AND gap_back_us <= gap_fwd_us)
                      THEN gap_back_us
                      ELSE gap_fwd_us END AS gap_us
          FROM gapped WHERE event_type != '{target_type}'
        )
        SELECT event_type, direction,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(gap_us) // COUNT(gap_us) AS BIGINT) AS mean_gap_us,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
                    AS BIGINT) AS p50_gap_us
        FROM scored
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


# --------------------------------------- Kendall rank correlation
def kendall_tau_brand_ranks(
    lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """Exact Kendall tau between two brand rankings — revenue vs order
    reach — the "do my two KPIs even agree" diagnostic behind every
    leaderboard migration, and the rank-correlation primitive the eval
    family lacked (AUC/nDCG/calibration exist; THIS is for comparing
    two FULL orderings).

    Both rankings are made total with a lexicographic brand tiebreak
    (deterministic in both engines, documented as part of the spec),
    so C + D = n(n-1)/2 exactly and tau = (C - D) / (n(n-1)/2) is an
    exact integer ppm (truncating division, identical cross-engine —
    no float correlation anywhere).

    Shape at scale: two tiny windows over the |brands| aggregate and
    one |brands|²/2 pair join — brands is a bounded dimension; for an
    unbounded item space, sample or band the items first (documented
    swap, same as the ER blockers)."""
    from pyspark.sql import Window

    per_brand = (
        lineitem.select("l_partkey", "l_extendedprice", "l_orderkey")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(cents("l_extendedprice")).alias("rev_cents"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )
    ranked = per_brand.select(
        "brand",
        F.row_number()
        .over(Window.orderBy(F.desc("rev_cents"), F.asc("brand")))
        .alias("r_rev"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_orders"), F.asc("brand")))
        .alias("r_cnt"),
    )
    pairs = (
        ranked.alias("a")
        .join(ranked.alias("b"), F.col("a.brand") < F.col("b.brand"))
        .select(
            (
                (F.col("a.r_rev") - F.col("b.r_rev"))
                * (F.col("a.r_cnt") - F.col("b.r_cnt"))
                > 0
            ).cast("long").alias("conc")
        )
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("conc").alias("n_concordant"),
    ).select(
        "n_pairs",
        "n_concordant",
        (F.col("n_pairs") - F.col("n_concordant")).alias("n_discordant"),
        F.expr(
            "(n_concordant * 2 - n_pairs) * 1000000 div n_pairs"
        ).alias("tau_ppm"),
    )


def kendall_tau_brand_ranks_sql(
    lineitem: str = "lineitem", part: str = "part"
) -> str:
    return f"""
        WITH per_brand AS (
          SELECT p.p_brand AS brand,
                 SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents,
                 COUNT(DISTINCT l.l_orderkey) AS n_orders
          FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
          GROUP BY 1
        ),
        ranked AS (
          SELECT brand,
                 ROW_NUMBER() OVER (ORDER BY rev_cents DESC, brand ASC)
                   AS r_rev,
                 ROW_NUMBER() OVER (ORDER BY n_orders DESC, brand ASC)
                   AS r_cnt
          FROM per_brand
        ),
        pairs AS (
          SELECT CASE WHEN (a.r_rev - b.r_rev) * (a.r_cnt - b.r_cnt) > 0
                      THEN 1 ELSE 0 END AS conc
          FROM ranked a JOIN ranked b ON a.brand < b.brand
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(conc) AS BIGINT) AS n_concordant,
               CAST(COUNT(*) - SUM(conc) AS BIGINT) AS n_discordant,
               CAST((SUM(conc) * 2 - COUNT(*)) * 1000000 // COUNT(*)
                    AS BIGINT) AS tau_ppm
        FROM pairs
    """


# --------------------------------------- bucketized range join (scale path)
RB_N_BANDS = 10_000
RB_BAND_CENTS = 7
RB_GRID_CENTS = 5
RB_REPORT_MOD = 97


def bucketized_range_join(
    events: DataFrame,
    n_bands: int = RB_N_BANDS,
    band_cents: int = RB_BAND_CENTS,
    grid_cents: int = RB_GRID_CENTS,
    report_mod: int = RB_REPORT_MOD,
) -> DataFrame:
    """Range join against a LARGE band table — the scale path
    :func:`range_join_bands` documents but (being broadcast-NLJ) cannot
    take: bucketize BOTH sides to a common integer grid, equi-join on
    the bucket key, and re-check the exact range as a residual filter.
    Each band spans ceil(band/grid)+1 <= 3 grid buckets, so the fan-out
    is a bounded constant and the join is an ordinary shuffle hash join
    — no nested loop, no broadcast of a 10k-row range side, works when
    the band table is 10k or 10B rows.

    Deliberately misaligned widths (7-cent bands on a 5-cent grid)
    so the residual filter is load-bearing; all arithmetic is exact
    integer cents. Report: per band_id % ``report_mod`` rollup (counts,
    distinct bands hit, exact cents)."""
    spark = events.sparkSession
    bands = spark.range(int(n_bands)).select(
        F.col("id").alias("band_id"),
        (F.col("id") * band_cents).alias("lo"),
        (F.col("id") * band_cents + band_cents).alias("hi"),
    )
    cover = bands.select(
        "band_id",
        "lo",
        "hi",
        F.explode(
            F.expr(f"sequence(lo div {grid_cents}, (hi - 1) div {grid_cents})")
        ).alias("bucket"),
    )
    facts = events.filter(F.col("value").isNotNull()).select(
        cents().alias("cents")
    ).withColumn("bucket", F.expr(f"cents div {grid_cents}"))
    joined = facts.join(cover, "bucket").filter(
        (F.col("cents") >= F.col("lo")) & (F.col("cents") < F.col("hi"))
    )
    return (
        joined.groupBy(
            F.expr(f"band_id % {int(report_mod)}").alias("band_mod")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("band_id").cast("long").alias("n_bands"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("band_mod")
    )


def bucketized_range_join_sql(
    src: str = "events",
    n_bands: int = RB_N_BANDS,
    band_cents: int = RB_BAND_CENTS,
    grid_cents: int = RB_GRID_CENTS,
    report_mod: int = RB_REPORT_MOD,
) -> str:
    return f"""
        WITH bands AS (
          SELECT i AS band_id, i * {band_cents} AS lo,
                 i * {band_cents} + {band_cents} AS hi
          FROM (SELECT unnest(generate_series(0, {int(n_bands) - 1})) AS i)
        ),
        cover AS (
          SELECT band_id, lo, hi,
                 unnest(generate_series(lo // {grid_cents},
                                        (hi - 1) // {grid_cents})) AS bucket
          FROM bands
        ),
        facts AS (
          SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) // {grid_cents}
                   AS bucket
          FROM {src} WHERE value IS NOT NULL
        )
        SELECT CAST(band_id % {int(report_mod)} AS BIGINT) AS band_mod,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT band_id) AS BIGINT) AS n_bands,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM facts f JOIN cover c ON f.bucket = c.bucket
        WHERE f.cents >= c.lo AND f.cents < c.hi
        GROUP BY 1 ORDER BY 1
    """


# --------------------------------------- null-aware anti join semantics
def null_aware_anti_join(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """NOT IN vs NOT EXISTS with NULLs in the subquery — SQL's most
    notorious semantic trap, pinned as an operator: NOT IN against a
    set containing NULL matches NOTHING (three-valued logic), while
    NOT EXISTS does the join the author almost always meant. Spark
    plans the former as a null-aware anti join (BroadcastNestedLoop
    for correctness); the oracle proves both engines agree on BOTH
    semantics.

    The probe set: customers' nation keys with nation 0 rewritten to
    NULL (planted, deterministic). Output: one row per semantics with
    the surviving order count and total cents — 'not_in' collapsing to
    zero rows-matched IS the correct answer, and the ~100x count gap
    against 'not_exists' is the trap's size."""
    probe = customer.select(
        F.expr(
            "CASE WHEN c_nationkey = 0 THEN NULL ELSE c_nationkey END"
        ).alias("k")
    )
    tagged = orders.select(
        (F.col("o_custkey") % 25).alias("probe_key"),
        cents("o_totalprice").alias("cents"),
    )
    # Both semantics expressed via SQL on temp views — the honest way
    # to get a genuine null-aware anti join plan out of Catalyst (the
    # DataFrame API has no NOT IN (subquery) form)
    # Fixed view names: Python's hash() is PYTHONHASHSEED-randomized per
    # process, so a hashed suffix gives neither stability nor uniqueness —
    # createOrReplaceTempView semantics are what actually keep this safe
    # for a single session (r7 advice)
    spark = orders.sparkSession
    pv = "amps_probe_null_aware"
    tv = "amps_tagged_null_aware"
    probe.createOrReplaceTempView(pv)
    tagged.createOrReplaceTempView(tv)
    return spark.sql(f"""
        SELECT 'not_in' AS semantics,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents
        FROM {tv}
        WHERE probe_key NOT IN (SELECT k FROM {pv})
        UNION ALL
        SELECT 'not_exists' AS semantics,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents
        FROM {tv} t
        WHERE NOT EXISTS (SELECT 1 FROM {pv} p WHERE p.k = t.probe_key)
        ORDER BY semantics
    """)


def null_aware_anti_join_sql(
    orders: str = "orders", customer: str = "customer"
) -> str:
    return f"""
        WITH probe AS (
          SELECT CASE WHEN c_nationkey = 0 THEN NULL
                      ELSE c_nationkey END AS k
          FROM {customer}
        ),
        tagged AS (
          SELECT o_custkey % 25 AS probe_key,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM {orders}
        )
        SELECT 'not_in' AS semantics,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents
        FROM tagged
        WHERE probe_key NOT IN (SELECT k FROM probe)
        UNION ALL
        SELECT 'not_exists' AS semantics,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents
        FROM tagged t
        WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = t.probe_key)
        ORDER BY semantics
    """
