"""Time-series resampling over the events stream (SURVEY.md §2 extension;
the reference's closest shape is the zero-filled daily totals, A4 —
``backend/app/api/analytics.py:33-60`` — which fills GAPS with a constant.
These operators fill gaps with *carried* or *interpolated* state, the
hypertable-rollup shape a metrics pipeline needs).

Scale posture shared by all three:

- the observation compaction (one row per user-day) is a single
  map-side-combined aggregate keyed (user_id, day);
- the dense grid is ``sequence(min_day, max_day)`` exploded against the
  distinct-user relation — the global date span rides a broadcast 1-row
  aggregate, so the grid is built without collecting anything and without
  a second scan;
- gap filling is one window pass per user ordered by day (LOCF = running
  ``last(ignorenulls)``; interpolation = LOCF forward + its mirror
  backward, then one arithmetic projection). Two data exchanges end to
  end — the (user, day) compaction and the per-user window (the grid
  join is broadcast) — no self-joins, no per-gap loops.

Determinism contract for the DuckDB twins: the per-day representative
value is picked by (ts, event_id) row order — total, unique — and every
emitted double is rounded (2dp carried values, 4dp interpolated) so both
engines hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cents


def _daily_obs(events: DataFrame) -> DataFrame:
    """One observation per (user_id, day): the value of the LAST event
    that day ((ts, event_id)-max — unique because event_id is), rounded
    to 2dp. One aggregate, one shuffle."""
    return (
        events.filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.round(
                F.expr("max_by(value, struct(ts, event_id))"), 2
            ).alias("obs")
        )
    )


def _user_day_grid(obs: DataFrame) -> DataFrame:
    """Dense (user_id, day) grid spanning the GLOBAL [min day, max day].
    The 2-column span aggregate is one row — broadcast-joined (cross) onto
    the distinct users, then exploded. No driver collect, no re-scan of
    the raw events for the span (it reuses the compacted obs)."""
    span = obs.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    users = obs.select("user_id").distinct()
    return users.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )


def resample_locf(events: DataFrame) -> DataFrame:
    """Daily resample with last-observation-carried-forward: every user
    gets every day in the global span; days before a user's first
    observation stay NULL. ``is_observed`` distinguishes carried rows."""
    obs = _daily_obs(events)
    grid = _user_day_grid(obs)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.last("obs", ignorenulls=True).over(w).alias("value_filled"),
            F.col("obs").isNotNull().alias("is_observed"),
        )
    )


def interpolate_linear(events: DataFrame) -> DataFrame:
    """Daily resample with linear interpolation: a gap day's value is the
    linear blend of the user's surrounding observations; days outside the
    user's observed range are NULL (no extrapolation). The blend fraction
    is an exact integer-ratio double (datediff / datediff), identical in
    both engines; the result is rounded to 4dp."""
    obs = _daily_obs(events)
    grid = _user_day_grid(obs)
    joined = grid.join(obs, ["user_id", "day"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_day = F.last(
        F.when(F.col("obs").isNotNull(), F.col("day")), ignorenulls=True
    ).over(back)
    next_day = F.first(
        F.when(F.col("obs").isNotNull(), F.col("day")), ignorenulls=True
    ).over(fwd)
    prev_val = F.last("obs", ignorenulls=True).over(back)
    next_val = F.first("obs", ignorenulls=True).over(fwd)
    frac = F.datediff(F.col("day"), F.col("_pd")).cast("double") / F.datediff(
        F.col("_nd"), F.col("_pd")
    ).cast("double")
    return (
        joined.select(
            "user_id",
            "day",
            F.col("obs"),
            prev_day.alias("_pd"),
            next_day.alias("_nd"),
            prev_val.alias("_pv"),
            next_val.alias("_nv"),
        )
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(
                F.when(F.col("obs").isNotNull(), F.col("obs")).otherwise(
                    F.when(
                        F.col("_pd").isNotNull() & F.col("_nd").isNotNull(),
                        F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac,
                    )
                ),
                4,
            ).alias("value_interp"),
            F.col("obs").isNotNull().alias("is_observed"),
        )
    )


def ohlc_daily(events: DataFrame) -> DataFrame:
    """Per-day OHLC candle over the whole event stream: open/close picked
    by (ts, event_id) row order, high/low as plain min/max — the classic
    bar compaction, one aggregate, one shuffle keyed on day."""
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.round(F.expr("min_by(value, struct(ts, event_id))"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.expr("max_by(value, struct(ts, event_id))"), 2).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


# ------------------------------------------------------------- SQL twins
# the obs CTE alone (EWMA composes it without the grid); _OBS_CTE adds
# the dense grid + left join for the resample twins
_OBS_ONLY = """
        obs AS (
          SELECT user_id, day, ROUND(obs, 2) AS obs FROM (
            SELECT user_id, CAST(ts AS DATE) AS day, value AS obs,
                   ROW_NUMBER() OVER (
                     PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM {src}
            WHERE user_id IS NOT NULL AND value IS NOT NULL
          ) x WHERE rn = 1
        )"""

_OBS_CTE = _OBS_ONLY + """,
        grid AS (
          SELECT u.user_id, g.day
          FROM (SELECT DISTINCT user_id FROM obs) u
          CROSS JOIN (
            SELECT CAST(UNNEST(generate_series(
                     (SELECT MIN(day) FROM obs),
                     (SELECT MAX(day) FROM obs),
                     INTERVAL 1 DAY)) AS DATE) AS day
          ) g
        ),
        joined AS (
          SELECT grid.user_id, grid.day, obs.obs
          FROM grid LEFT JOIN obs
            ON grid.user_id = obs.user_id AND grid.day = obs.day
        )"""


def resample_locf_sql(src: str = "events") -> str:
    return f"""
        WITH {_OBS_CTE.format(src=src)}
        SELECT user_id, STRFTIME(day, '%Y-%m-%d') AS day,
               LAST_VALUE(obs IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_filled,
               obs IS NOT NULL AS is_observed
        FROM joined
    """


def interpolate_linear_sql(src: str = "events") -> str:
    return f"""
        WITH {_OBS_CTE.format(src=src)},
        bounded AS (
          SELECT user_id, day, obs,
                 LAST_VALUE(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
                 FIRST_VALUE(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
                 LAST_VALUE(obs IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                 FIRST_VALUE(obs IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
          FROM joined
        )
        SELECT user_id, STRFTIME(day, '%Y-%m-%d') AS day,
               ROUND(CASE WHEN obs IS NOT NULL THEN obs
                          WHEN pd IS NOT NULL AND nd IS NOT NULL THEN
                            pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
                                              / CAST(nd - pd AS DOUBLE))
                     END, 4) AS value_interp,
               obs IS NOT NULL AS is_observed
        FROM bounded
    """


def ohlc_daily_sql(src: str = "events") -> str:
    return f"""
        WITH ranked AS (
          SELECT CAST(ts AS DATE) AS day, value,
                 ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
                                    ORDER BY ts ASC, event_id ASC) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM {src} WHERE value IS NOT NULL
        )
        SELECT STRFTIME(day, '%Y-%m-%d') AS day,
               ROUND(MIN(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
               ROUND(MAX(value), 2) AS high,
               ROUND(MIN(value), 2) AS low,
               ROUND(MIN(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
               COUNT(*) AS n_events
        FROM ranked
        GROUP BY day
    """


# ------------------------------------------------------- EWMA smoothing
EWMA_TAPS = 10  # truncation depth: weight 0.5^9 ~ 0.002 beyond the window


def ewma_smooth(events: DataFrame) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.5) over each
    user's observed daily series, TRUNCATED to the last EWMA_TAPS
    observations — the bounded-state form a streaming/100 TB pipeline
    actually runs (state = K lags, not the unbounded recursion), with
    truncation error <= 2^-(EWMA_TAPS-1) of the weight mass.

    Exactness: alpha = 0.5 makes every weight 0.5^i an exact IEEE
    double, and the weighted sum is written as the SAME left-associative
    lag composition in both engines — so unlike the rounded-aggregate
    oracles this one is bit-identical, no summation-order caveat. One
    window pass (user_id shuffle), EWMA_TAPS lag reads per row."""
    obs = _daily_obs(events)
    w = Window.partitionBy("user_id").orderBy("day")
    lags = [F.lag("obs", i).over(w) for i in range(EWMA_TAPS)]
    num = None
    den = None
    for i, lg in enumerate(lags):
        weight = 0.5**i
        term = F.when(lg.isNotNull(), lg * F.lit(weight)).otherwise(F.lit(0.0))
        mass = F.when(lg.isNotNull(), F.lit(weight)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = mass if den is None else den + mass
    return obs.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("obs").alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


def ewma_smooth_sql(src: str = "events") -> str:
    terms, masses = [], []
    for i in range(EWMA_TAPS):
        lg = f"LAG(obs, {i}) OVER (PARTITION BY user_id ORDER BY day)"
        w = repr(0.5**i)
        terms.append(
            f"CASE WHEN {lg} IS NOT NULL THEN {lg} * {w} ELSE 0.0 END"
        )
        masses.append(f"CASE WHEN {lg} IS NOT NULL THEN {w} ELSE 0.0 END")
    num = " + ".join(terms)
    den = " + ".join(masses)
    return f"""
        WITH {_OBS_ONLY.format(src=src)}
        SELECT user_id, STRFTIME(day, '%Y-%m-%d') AS day, obs AS value,
               ROUND(({num}) / ({den}), 6) AS ewma
        FROM obs
    """


# ---------------------------------------------- daily percentile bands
def daily_percentiles(events: DataFrame) -> DataFrame:
    """Per-day P50/P95/P99 value bands — the latency/spend distribution
    series every operational dashboard tracks (mean-based series hide
    tail regressions; the P95/P99 lines are where incidents surface).

    ONE day-keyed aggregate; ``percentile`` computes all three cut
    points in a single pass over each group (exact interpolated
    percentiles, the oracle-checkable choice — ``approx_percentile``
    with the same call shape is the 100 TB swap, same plan). 6dp
    rounding keeps interpolation arithmetic hash-stable cross-engine."""
    from pyspark.sql import functions as F

    return (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr(
                "transform(percentile(value, array(0.5D, 0.95D, 0.99D)),"
                " t -> round(t, 6))"
            ).alias("_p"),
        )
        .select(
            "day",
            "n",
            F.col("_p")[0].alias("p50"),
            F.col("_p")[1].alias("p95"),
            F.col("_p")[2].alias("p99"),
        )
    )


def daily_percentiles_sql(src: str = "events") -> str:
    return f"""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(QUANTILE_CONT(value, 0.5), 6) AS p50,
               ROUND(QUANTILE_CONT(value, 0.95), 6) AS p95,
               ROUND(QUANTILE_CONT(value, 0.99), 6) AS p99
        FROM {src} WHERE value IS NOT NULL
        GROUP BY 1
    """


def seasonality_profile(events: DataFrame) -> DataFrame:
    """Day-of-week seasonal profile: per ISO weekday (1=Mon..7=Sun),
    event volume, mean value, and the SEASONAL INDEX — that weekday's
    per-event mean over the all-days per-event mean (the multiplicative
    factor a forecast or anomaly baseline deseasonalizes with; index 1.0
    = no weekly effect). Weekday extraction is pinned to ISO numbering
    on both engines (Spark ``weekday()+1`` ⇄ DuckDB ``isodow()``) —
    the engines' bare ``dayofweek`` disagree on Sunday's number.

    One 7-group map-side-combinable aggregate + a 1-row grand total
    broadcast back; nothing after the first reduce is data-sized."""
    from pyspark.sql import functions as F

    per_dow = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.expr("weekday(ts) + 1").cast("int").alias("iso_dow"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("_total"),
        )
    )
    tot = per_dow.agg(
        F.sum("n_events").alias("_N"), F.sum("_total").alias("_T")
    )
    return per_dow.join(F.broadcast(tot)).select(
        "iso_dow",
        "n_events",
        F.round(F.col("_total") / F.col("n_events"), 2).alias("avg_value"),
        F.round(
            (F.col("_total") / F.col("n_events"))
            / (F.col("_T") / F.col("_N")),
            6,
        ).alias("seasonal_idx"),
    )


def seasonality_profile_sql(src: str = "events") -> str:
    return f"""
        WITH per_dow AS (
          SELECT CAST(isodow(ts) AS INTEGER) AS iso_dow,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 SUM(value) AS _total
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1
        ),
        tot AS (SELECT SUM(n_events) AS _N, SUM(_total) AS _T FROM per_dow)
        SELECT iso_dow, n_events,
               ROUND(_total / n_events, 2) AS avg_value,
               ROUND((_total / n_events) / (_T / _N), 6) AS seasonal_idx
        FROM per_dow, tot
    """


# --------------------------------------------- mean-shift changepoints
CP_WINDOW = 7
CP_TOPK = 5


def changepoint_mean_shift(
    events: DataFrame, w: int = CP_WINDOW, k: int = CP_TOPK
) -> DataFrame:
    """Rolling mean-shift changepoint report: for each event_type's daily
    total series, score every day by |mean of the next ``w`` days − mean
    of the previous ``w`` days| (the two-sample sliding-window scan that
    CUSUM/PELT-style detectors threshold) and report the top ``k``
    candidate shift days per series. Level shifts — a pricing change, a
    tracking bug, a new traffic source — surface as the days where the
    leading and trailing regimes disagree most.

    Edge discipline: only days with FULL w-day frames on both sides are
    scored (a truncated frame would bias the mean toward whatever edge
    noise survives). Determinism: ranks order by the 4dp-rounded score
    with day as tiebreaker, so the top-k set is stable cross-engine.

    Shape at scale: one day-keyed combinable aggregate collapses the
    events to |series|x|days| rows; every window after that runs inside
    an event_type partition of at most |days| rows — the wide input
    never reaches a window operator."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )
    ws = Window.partitionBy("event_type").orderBy("day")
    trail = ws.rowsBetween(-w, -1)
    lead = ws.rowsBetween(0, w - 1)
    scored = daily.select(
        "event_type",
        "day",
        F.count("total").over(trail).alias("_nt"),
        F.count("total").over(lead).alias("_nl"),
        F.avg("total").over(trail).alias("_mt"),
        F.avg("total").over(lead).alias("_ml"),
    ).filter((F.col("_nt") == w) & (F.col("_nl") == w))
    shifted = scored.select(
        "event_type",
        "day",
        F.round("_mt", 4).alias("trail_mean"),
        F.round("_ml", 4).alias("lead_mean"),
        F.round(F.abs(F.col("_ml") - F.col("_mt")), 4).alias("shift_score"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("shift_score"), F.asc("day")
    )
    return shifted.select(
        "*", F.row_number().over(wr).alias("rk")
    ).filter(F.col("rk") <= k)


def changepoint_mean_shift_sql(
    src: str = "events", w: int = CP_WINDOW, k: int = CP_TOPK
) -> str:
    return f"""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 ROUND(SUM(value), 2) AS total
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT event_type, day,
                 COUNT(total) OVER wt AS _nt,
                 COUNT(total) OVER wl AS _nl,
                 AVG(total) OVER wt AS _mt,
                 AVG(total) OVER wl AS _ml
          FROM daily
          WINDOW wt AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN {w} PRECEDING AND 1 PRECEDING),
                 wl AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
        ),
        shifted AS (
          SELECT event_type, day,
                 ROUND(_mt, 4) AS trail_mean,
                 ROUND(_ml, 4) AS lead_mean,
                 ROUND(ABS(_ml - _mt), 4) AS shift_score
          FROM scored WHERE _nt = {w} AND _nl = {w}
        )
        SELECT * FROM (
          SELECT event_type, day, trail_mean, lead_mean, shift_score,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY shift_score DESC, day ASC)
                   AS rk
          FROM shifted
        ) WHERE rk <= {k}
    """


# ------------------------------------------- rolling regression trend
REG_WINDOW = 14
REG_ANCHOR = "2024-01-01"  # x = datediff(day, anchor): small, well-conditioned


def rolling_regression(
    events: DataFrame, w: int = REG_WINDOW, anchor: str = REG_ANCHOR
) -> DataFrame:
    """Rolling OLS trend per event_type series: over each trailing
    ``w``-day window of daily totals, the closed-form least-squares
    slope (units/day) and its r² — the trend extraction every capacity
    forecast and "is this KPI actually moving" dashboard runs, and the
    smooth counterpart of :func:`changepoint_mean_shift`'s step detector
    (a changepoint spikes the shift score; a drift shows up as a
    sustained non-zero slope with high r²).

    x is datediff from a FIXED anchor date, so the regressor is a small
    exact integer (epoch-day x values ~19700 would eat double precision
    in nΣx² − (Σx)²); only full windows emit (a truncated frame biases
    the slope), and zero-variance windows emit NULL r² rather than an
    engine-specific divide-by-zero. One combinable daily reduce, then
    all five running sums ride ONE window frame inside |days|-row
    series partitions."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.to_date("ts").alias("d"),
        )
        .agg(F.round(F.sum("value"), 2).alias("y"))
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.datediff("d", F.to_date(F.lit(anchor))).alias("x"),
            "y",
        )
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(w - 1), 0)
    )
    sums = daily.select(
        "event_type",
        "day",
        F.count("y").over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
    ).filter(F.col("n") == w)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        "event_type",
        "day",
        F.round(num / denx, 4).alias("slope"),
        F.when(
            F.round(deny, 6) > 0,
            F.round(num * num / (denx * deny), 4),
        ).alias("r2"),
    )


def rolling_regression_sql(
    src: str = "events", w: int = REG_WINDOW, anchor: str = REG_ANCHOR
) -> str:
    return f"""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 datediff('day', DATE '{anchor}', CAST(ts AS DATE)) AS x,
                 ROUND(SUM(value), 2) AS y
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2, 3
        ),
        sums AS (
          SELECT event_type, day,
                 COUNT(y) OVER win AS n,
                 SUM(x) OVER win AS sx,
                 SUM(x * x) OVER win AS sxx,
                 SUM(y) OVER win AS sy,
                 SUM(y * y) OVER win AS syy,
                 SUM(x * y) OVER win AS sxy
          FROM daily
          WINDOW win AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               ROUND((n * sxy - sx * sy)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS slope,
               CASE WHEN ROUND(n * syy - sy * sy, 6) > 0 THEN
                 ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / (CAST(n * sxx - sx * sx AS DOUBLE)
                          * (n * syy - sy * sy)), 4)
               END AS r2
        FROM sums WHERE n = {w}
    """


# --------------------------------------- seasonal-naive forecast backtest
def seasonal_naive_backtest(events: DataFrame, lag_days: int = 7) -> DataFrame:
    """Forecast backtest for the week-seasonal baseline: predict each
    (event_type, day) total as the total ``lag_days`` earlier, then
    score per event type with MAPE (mean |actual−forecast|/actual) and
    signed bias — the sanity floor every real forecasting model must
    beat before it earns a pipeline slot, and the drift alarm when a
    previously-calibrated series stops being week-stationary.

    Determinism: daily totals are exact decimal sums rounded 2dp; each
    per-day error ratio is quantized to the 1e-6 integer grid
    (``floor(r*1e6 + 0.5)`` of identical doubles) and summed in bigint
    — the per-type mean is one exact integer division, so no
    engine/partitioning can flip the rounding (the [[cross-engine-
    determinism]] integer-sum shape).

    Shape at scale: one map-side-combinable (type, day) aggregate, a
    lag window inside each (tiny) type partition of the |types|×|days|
    daily table, and a |types|-row rollup."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
            ).alias("actual")
        )
    )
    w = W.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn(
        "forecast", F.lag("actual", lag_days).over(w)
    ).filter(F.col("forecast").isNotNull() & (F.col("actual") != 0))
    ape = F.abs(F.col("actual") - F.col("forecast")) / F.col("actual")
    pe = (F.col("actual") - F.col("forecast")) / F.col("actual")
    q = lambda c: F.expr(  # noqa: E731 — 1e-6-grid quantizer
        f"cast(floor(({c}) * 1e6 + 0.5d) as bigint)"
    )
    return (
        scored.select(
            "event_type",
            q("abs(actual - forecast) / actual").alias("_ape"),
            q("(actual - forecast) / actual").alias("_pe"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(
                F.sum("_ape").cast("double")
                / (F.count("*") * F.lit(1000000.0)),
                6,
            ).alias("mape"),
            F.round(
                F.sum("_pe").cast("double")
                / (F.count("*") * F.lit(1000000.0)),
                6,
            ).alias("bias"),
        )
    )


def seasonal_naive_backtest_sql(
    src: str = "events", lag_days: int = 7
) -> str:
    return f"""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS actual
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT event_type, actual,
                 LAG(actual, {int(lag_days)}) OVER (
                   PARTITION BY event_type ORDER BY day) AS forecast
          FROM daily
        ),
        graded AS (
          SELECT event_type,
                 CAST(FLOOR(ABS(actual - forecast) / actual * 1e6 + 0.5)
                   AS BIGINT) AS _ape,
                 CAST(FLOOR((actual - forecast) / actual * 1e6 + 0.5)
                   AS BIGINT) AS _pe
          FROM scored WHERE forecast IS NOT NULL AND actual != 0
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(SUM(_ape) / (COUNT(*) * 1000000.0), 6) AS mape,
               ROUND(SUM(_pe) / (COUNT(*) * 1000000.0), 6) AS bias
        FROM graded GROUP BY event_type
    """


# ------------------------------------------------------ autocorrelation
def autocorrelation(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """ACF per series: Pearson correlation between the daily-total
    series and its lag-L shift, L = 1..max_lag — the periodicity
    detector that picks the seasonal-naive lag (a weekly cycle shows as
    an ACF spike at 7) and the independence check behind forecast
    residual audits.

    Determinism: daily totals are 2dp decimal-rounded then scaled to
    EXACT integer cents (``floor(v*100 + 0.5)``); all five correlation
    sums (Σx Σy Σxy Σx² Σy²) accumulate in bigint — exact and
    commutative — and the final r is assembled from identical integer
    inputs with identical double ops on both engines, rounded 6dp.

    Shape at scale: one combinable (type, day) reduce, a |lags|
    broadcast explode, one (type, day-L) equi-join INSIDE the tiny
    daily table, and a |types|x|lags| rollup."""
    from pyspark.sql import functions as F

    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(
            F.expr(
                "cast(floor(cast(round(sum(cast(value as decimal(18,4))), 2)"
                " as double) * 100 + 0.5d) as bigint)"
            ).alias("v100")
        )
    )
    lags = F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag")
    a = daily.select("event_type", "day", F.col("v100").alias("x"), lags)
    b = daily.select(
        "event_type",
        F.col("day").alias("_bday"),
        F.col("v100").alias("y"),
    )
    # decimal(38,0): exact like bigint but 128-bit-safe — at production
    # daily volumes sum(x*x) overflows a long (DuckDB's SUM(BIGINT) is
    # already HUGEINT; this matches it), found by tools/scale_smoke.py
    pairs = a.join(
        b,
        (a["event_type"] == b["event_type"])
        & (F.expr("date_sub(day, lag)") == F.col("_bday")),
    ).select(
        a["event_type"],
        "lag",
        F.col("x").cast("decimal(38,0)").alias("x"),
        F.col("y").cast("decimal(38,0)").alias("y"),
    )
    g = pairs.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return g.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(
            num.cast("double")
            / F.sqrt(varx.cast("double") * vary.cast("double")),
            6,
        ).alias("acf"),
    )


def autocorrelation_sql(src: str = "events", max_lag: int = 7) -> str:
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(FLOOR(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)
                      AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v100
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.event_type, l.lag, a.v100 AS x, b.v100 AS y
          FROM daily a
          CROSS JOIN (SELECT UNNEST(generate_series(1, {int(max_lag)}))
                        AS lag) l
          JOIN daily b ON b.event_type = a.event_type
                      AND b.day = a.day - TO_DAYS(CAST(l.lag AS INTEGER))
        ),
        g AS (
          -- HUGEINT products: 128-bit-safe at production daily volumes,
          -- mirroring the Spark side's decimal(38,0) sums
          SELECT event_type, lag,
                 COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(y AS HUGEINT) * y) AS syy
          FROM pairs GROUP BY 1, 2
        )
        SELECT event_type, CAST(lag AS INTEGER) AS lag,
               CAST(n AS BIGINT) AS n_pairs,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
        FROM g
    """


# ------------------------------------------- Holt linear-trend backtest
def holt_linear_backtest(events: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing (level + trend), backtested as
    one-step-ahead forecasts over each event type's daily-total series —
    the trend-aware rung above :func:`seasonal_naive_backtest` on the
    classical forecasting ladder. Per series: observation count, scored
    forecasts, MAPE, and the final level/trend state a nightly job would
    checkpoint and roll forward.

    Determinism contract: alpha = beta = 0.5, so every recurrence step is
    a halving of sums — exact IEEE ops replayed in the SAME
    parenthesization by the DuckDB recursive-CTE twin (the sequential
    recurrence both engines must walk in day order):

        f_t = l + b
        l'  = (y_t + (l + b)) * 0.5
        b'  = ((l' - l) + b) * 0.5

    Per-day absolute-percentage errors quantize to an exact 1e-6 integer
    grid and sum in bigint (the DSIR lesson: never round a float sum —
    sum integers, divide once).

    Scale shape: the corpus collapses to |series| x |days| daily totals
    in one combinable aggregate; the recurrence is inherently sequential
    per series, so it runs as Arrow-batched ``applyInPandas`` with one
    task per series and O(1) state — the sanctioned custom-stateful
    shape (series count bounds parallelism, days bound the loop)."""
    import math

    import pandas as pd

    daily = (
        events.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(
            F.sum(cents()).alias("cents")
        )
        .select("event_type", "day", F.col("cents").cast("double").alias("y"))
    )

    out_schema = (
        "event_type string, n_days bigint, n_scored bigint, "
        "mape double, final_level double, final_trend double"
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        y = pdf["y"].to_numpy()
        level = float(y[0])
        trend = 0.0
        ape_sum = 0
        n_scored = 0
        for t in range(1, len(y)):
            forecast = level + trend
            new_level = (y[t] + (level + trend)) * 0.5
            trend = ((new_level - level) + trend) * 0.5
            level = new_level
            if y[t] > 0:
                ape = abs(forecast - y[t]) / y[t]
                ape_sum += int(math.floor(ape * 1000000.0 + 0.5))
                n_scored += 1
        return pd.DataFrame(
            [
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "n_days": len(y),
                    "n_scored": n_scored,
                    "mape": (
                        ape_sum / (1000000.0 * n_scored) if n_scored else None
                    ),
                    "final_level": level / 100.0,
                    "final_trend": trend / 100.0,
                }
            ]
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(_holt, schema=out_schema)
        .orderBy("event_type")
    )


def holt_linear_backtest_sql(src: str = "events") -> str:
    # the recursive twin walks the identical recurrence; every float op
    # keeps the Python parenthesization so the halving chain is
    # bit-identical
    l_expr = "(b2.y + (r.l + r.b)) * 0.5"
    return f"""
        WITH RECURSIVE
        daily AS MATERIALIZED (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
          FROM {src} GROUP BY 1, 2
        ),
        base AS MATERIALIZED (
          SELECT event_type, CAST(cents AS DOUBLE) AS y,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                   AS t,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM daily
        ),
        rec AS (
          SELECT event_type, t, n, y,
                 y AS l, CAST(0.0 AS DOUBLE) AS b,
                 CAST(0 AS BIGINT) AS ape_sum, CAST(0 AS BIGINT) AS n_scored
          FROM base WHERE t = 1
          UNION ALL
          SELECT b2.event_type, b2.t, b2.n, b2.y,
                 {l_expr} AS l,
                 ((({l_expr}) - r.l) + r.b) * 0.5 AS b,
                 r.ape_sum + CASE WHEN b2.y > 0
                   THEN CAST(floor((abs((r.l + r.b) - b2.y) / b2.y)
                                   * 1000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END,
                 r.n_scored + CASE WHEN b2.y > 0 THEN 1 ELSE 0 END
          FROM rec r
          JOIN base b2
            ON b2.event_type = r.event_type AND b2.t = r.t + 1
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_days,
               n_scored,
               CASE WHEN n_scored > 0
                    THEN ape_sum / (1000000.0 * n_scored) END AS mape,
               l / 100.0 AS final_level,
               b / 100.0 AS final_trend
        FROM rec WHERE t = n
        ORDER BY event_type
    """


def crosscorr_lead_lag(
    events: DataFrame,
    x_type: str = "view",
    y_type: str = "purchase",
    max_lag: int = 7,
) -> DataFrame:
    """Cross-correlation function between two event types' daily-total
    series at lags -max_lag..max_lag — the lead/lag detector behind
    "do views drive purchases, and with how many days' delay?"
    (a CCF peak at positive lag L means x leads y by L days; the lag-0
    column is plain same-day correlation). Completes the forecasting
    ladder next to :func:`autocorrelation`, which is the x == y special
    case.

    Determinism: the exact contract of :func:`autocorrelation` — daily
    totals quantize to integer cents, all five correlation sums
    accumulate in bigint, and the final r assembles identical integer
    inputs with identical IEEE ops, rounded 6dp.

    Shape at scale: one combinable (type, day) reduce over the fact
    scan, then every join/window lives INSIDE the tiny daily table
    (|days| rows per series, |lags| fan-out)."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .filter(F.col("event_type").isin([x_type, y_type]))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.expr(
                "cast(floor(cast(round(sum(cast(value as decimal(18,4))), 2)"
                " as double) * 100 + 0.5d) as bigint)"
            ).alias("v100")
        )
    )
    lags = F.explode(
        F.sequence(F.lit(-max_lag), F.lit(max_lag))
    ).alias("lag")
    a = (
        daily.filter(F.col("event_type") == x_type)
        .select("day", F.col("v100").alias("x"), lags)
    )
    b = daily.filter(F.col("event_type") == y_type).select(
        F.col("day").alias("_bday"), F.col("v100").alias("y")
    )
    # decimal(38,0) sums: 128-bit-safe at production daily volumes (the
    # autocorrelation overflow contract — see note there)
    pairs = a.join(
        b, F.expr("date_add(day, CAST(lag AS INT))") == F.col("_bday")
    ).select(
        "lag",
        F.col("x").cast("decimal(38,0)").alias("x"),
        F.col("y").cast("decimal(38,0)").alias("y"),
    )
    g = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return g.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(
            num.cast("double")
            / F.sqrt(varx.cast("double") * vary.cast("double")),
            6,
        ).alias("ccf"),
    )


def crosscorr_lead_lag_sql(
    src: str = "events",
    x_type: str = "view",
    y_type: str = "purchase",
    max_lag: int = 7,
) -> str:
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(FLOOR(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)
                      AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v100
          FROM {src}
          WHERE value IS NOT NULL AND event_type IN ('{x_type}', '{y_type}')
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT l.lag, a.v100 AS x, b.v100 AS y
          FROM daily a
          CROSS JOIN (SELECT UNNEST(generate_series(-{int(max_lag)},
                                                    {int(max_lag)})) AS lag) l
          JOIN daily b ON b.event_type = '{y_type}'
                      AND b.day = a.day + TO_DAYS(CAST(l.lag AS INTEGER))
          WHERE a.event_type = '{x_type}'
        ),
        g AS (
          -- HUGEINT products: 128-bit-safe, mirrors the Spark decimals
          SELECT lag,
                 COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(y AS HUGEINT) * y) AS syy
          FROM pairs GROUP BY 1
        )
        SELECT CAST(lag AS INTEGER) AS lag,
               CAST(n AS BIGINT) AS n_pairs,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS ccf
        FROM g
    """


# ------------------------------------------- EWMA point-anomaly monitor
# Completes the monitoring ladder beside the mean-shift changepoint scan
# (level changes) and the burst detector: POINT anomalies against a
# one-step-ahead EWMA baseline, the alert rule ops dashboards actually
# run (yesterday's smoothed level, not today's, so a spike can't mask
# itself by inflating its own baseline).
EWMA_ANOM_TAPS = 10  # same truncation depth as ewma_smooth


def ewma_anomaly(events: DataFrame) -> DataFrame:
    """Per-event-type daily spend anomalies vs the trailing EWMA
    (alpha = 0.5, truncated to EWMA_ANOM_TAPS PRIOR days): verdict
    ``spike`` when the day's total exceeds 1.5x the baseline, ``dip``
    below 0.5x, ``warmup`` for the first day of a series, else ``ok``.

    Determinism: daily totals are exact bigint cents; every EWMA weight
    0.5^i is an exact IEEE double and the numerator is the same
    left-associative lag composition as :func:`ewma_smooth`, so
    ``num``/``den`` are bit-identical on both engines. Verdicts compare
    ``2*x*den`` and ``3*num`` / ``num`` — products of exact doubles well
    inside 53 bits — so no rounding boundary exists anywhere in the
    decision; the displayed baseline alone is floor-scaled to the 1e-6
    grid AFTER the one shared division.

    Shape at scale: one map-side-combinable (type, day) aggregate, then
    lag windows inside |types| partitions of the |types| x |days| daily
    table — no global window, nothing driver-side."""
    from pyspark.sql import Window as W

    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.sum(cents()).alias("cents")
        )
    )
    w = W.partitionBy("event_type").orderBy("day")
    num = None
    den = None
    for i in range(1, EWMA_ANOM_TAPS + 1):
        lg = F.lag("cents", i).over(w)
        weight = 0.5 ** (i - 1)
        term = F.when(lg.isNotNull(), lg.cast("double") * F.lit(weight))
        num = F.coalesce(term, F.lit(0.0)) if num is None else num + F.coalesce(term, F.lit(0.0))
        mass = F.when(lg.isNotNull(), F.lit(weight)).otherwise(F.lit(0.0))
        den = mass if den is None else den + mass
    return (
        daily.select(
            "event_type",
            "day",
            "cents",
            num.alias("_num"),
            den.alias("_den"),
        )
        .select(
            "event_type",
            "day",
            F.col("cents").alias("total_cents"),
            F.expr(
                "CASE WHEN _den = 0.0 THEN NULL ELSE"
                " CAST(floor(_num / _den * 1e6 + 0.5) AS BIGINT) END"
            ).alias("ewma_cents_e6"),
            F.expr(
                "CASE WHEN _den = 0.0 THEN 'warmup'"
                " WHEN 2.0 * cents * _den > 3.0 * _num THEN 'spike'"
                " WHEN 2.0 * cents * _den < _num THEN 'dip'"
                " ELSE 'ok' END"
            ).alias("verdict"),
        )
        .orderBy("event_type", "day")
    )


def ewma_anomaly_sql(src: str = "events") -> str:
    terms, masses = [], []
    for i in range(1, EWMA_ANOM_TAPS + 1):
        lg = f"LAG(cents, {i}) OVER (PARTITION BY event_type ORDER BY day)"
        w = repr(0.5 ** (i - 1))
        terms.append(
            f"CASE WHEN {lg} IS NOT NULL"
            f" THEN CAST({lg} AS DOUBLE) * {w} ELSE 0.0 END"
        )
        masses.append(f"CASE WHEN {lg} IS NOT NULL THEN {w} ELSE 0.0 END")
    num = " + ".join(terms)
    den = " + ".join(masses)
    return f"""
        WITH daily AS (
          SELECT event_type, STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 -- DuckDB SUM(BIGINT) is HUGEINT: cast back so the
                 -- artifact dtype matches Spark's bigint
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM {src}
          WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        sm AS (
          SELECT event_type, day, cents,
                 ({num}) AS num, ({den}) AS den
          FROM daily
        )
        SELECT event_type, day, cents AS total_cents,
               CASE WHEN den = 0.0 THEN NULL ELSE
                 CAST(FLOOR(num / den * 1e6 + 0.5) AS BIGINT) END
                 AS ewma_cents_e6,
               CASE WHEN den = 0.0 THEN 'warmup'
                    WHEN 2.0 * cents * den > 3.0 * num THEN 'spike'
                    WHEN 2.0 * cents * den < num THEN 'dip'
                    ELSE 'ok' END AS verdict
        FROM sm
        ORDER BY event_type, day
    """


# --------------------------------------- classical seasonal decomposition
def seasonal_decompose(events: DataFrame) -> DataFrame:
    """Classical additive decomposition of the daily revenue series:
    trend = centered 7-day moving average, seasonal = per-ISO-weekday
    mean of the detrended series, residual = the rest — the STL-lite
    a monitoring stack runs before alerting on "unusual" days (a Sunday
    dip is seasonality, not an incident).

    EXACT integer arithmetic end to end: daily totals in bigint cents,
    the 7-day mean and weekday means on the 1e-6 grid via integer
    division. The weekday mean uses an explicit FLOOR division
    (``(s - ((s%c)+c)%c) div c``) because detrended values go negative
    and the contract wants floor semantics there; Spark ``div`` and
    DuckDB ``//`` both truncate toward zero (-7//2 = -3), so the pymod
    form is applied identically on both engines. Trend/residual are
    NULL on the 3 edge days each side (no centered window exists).

    Everything after the first aggregate rides the |days|-row table
    (the single-partition window is the documented monitor pattern).
    Micro-grid ceiling: cents/day must stay under ~9.2e12 (92 G$/day)
    for the 1e6 scale — far past any real tenant; pre-scale if not."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(cents()).alias("cents"))
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "cents",
        F.expr("weekday(d) + 1").cast("int").alias("iso_dow"),
        F.sum("cents").over(w7).alias("_sum7"),
        F.count("*").over(w7).alias("_n7"),
    ).select(
        "d",
        "cents",
        "iso_dow",
        F.when(
            F.col("_n7") == 7, F.expr("_sum7 * 1000000 div 7")
        ).alias("trend_micro"),
    )
    detr = trended.withColumn(
        "detr_micro", F.col("cents") * 1_000_000 - F.col("trend_micro")
    )
    seasonal = (
        detr.filter(F.col("detr_micro").isNotNull())
        .groupBy("iso_dow")
        .agg(
            F.sum("detr_micro").alias("_s"),
            F.count("*").alias("_c"),
        )
        .select(
            "iso_dow",
            F.expr(
                "(_s - ((_s % _c) + _c) % _c) div _c"
            ).alias("seasonal_micro"),
        )
    )
    return (
        detr.join(F.broadcast(seasonal), "iso_dow", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "iso_dow",
            "cents",
            "trend_micro",
            "seasonal_micro",
            (F.col("detr_micro") - F.col("seasonal_micro"))
            .alias("resid_micro"),
        )
        .orderBy("day")
    )


def seasonal_decompose_sql(src: str = "events") -> str:
    """DuckDB twin of :func:`seasonal_decompose` (same floor-division
    form; isodow == Spark's weekday()+1)."""
    return f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
          FROM {src} WHERE value IS NOT NULL GROUP BY 1
        ),
        trended AS (
          SELECT d, cents, CAST(isodow(d) AS INTEGER) AS iso_dow,
                 CASE WHEN COUNT(*) OVER w = 7
                      THEN SUM(cents) OVER w * 1000000 // 7
                 END AS trend_micro
          FROM daily
          WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        detr AS (
          SELECT *, cents * 1000000 - trend_micro AS detr_micro
          FROM trended
        ),
        seasonal AS (
          SELECT iso_dow,
                 (s - ((s % c) + c) % c) // c AS seasonal_micro
          FROM (
            SELECT iso_dow, SUM(detr_micro) AS s, COUNT(*) AS c
            FROM detr WHERE detr_micro IS NOT NULL GROUP BY 1
          )
        )
        SELECT strftime(t.d, '%Y-%m-%d') AS day,
               t.iso_dow,
               CAST(t.cents AS BIGINT) AS cents,
               CAST(t.trend_micro AS BIGINT) AS trend_micro,
               CAST(s.seasonal_micro AS BIGINT) AS seasonal_micro,
               CAST(t.detr_micro - s.seasonal_micro AS BIGINT)
                 AS resid_micro
        FROM detr t LEFT JOIN seasonal s ON t.iso_dow = s.iso_dow
        ORDER BY day
    """


# ------------------------------------------- split-conformal intervals
def conformal_interval_backtest(
    events: DataFrame, lag_days: int = 7, alpha_pct: int = 90
) -> DataFrame:
    """Split-conformal prediction intervals around the seasonal-naive
    forecaster, per event_type: the calibration half of the scored
    series yields qhat = the ``alpha_pct`` percentile of absolute
    residuals, and the held-out test half reports how often the
    interval forecast ± qhat actually covered the truth — the
    distribution-free uncertainty wrapper (Vovk; Angelopoulos &
    Bates 2023) every production forecast alert needs before paging
    on "outside the expected band".

    Determinism: daily totals are EXACT bigint cents, residuals are
    bigint differences, qhat is ``percentile_disc`` (an actual data
    value — bit-identical across engines, the [[cross-engine-
    determinism]] contract), the calibration/test split is the closed
    form n_cal = (n*3) div 5 over the day-ordered row_number, and
    coverage is an exact integer ppm ratio.

    Shape at scale: one map-side-combinable (type, day) aggregate;
    everything after rides the |types| x |days| daily table (lag +
    row_number inside tiny type partitions, |types|-row percentile and
    rollup). The raw stream is touched exactly once."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(cents()).alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = (
        daily.withColumn("forecast", F.lag("cents", lag_days).over(w))
        .filter(F.col("forecast").isNotNull())
        .withColumn("abs_resid", F.abs(F.col("cents") - F.col("forecast")))
        .withColumn("idx", F.row_number().over(w))
        .withColumn(
            "n_scored",
            F.count("*").over(
                Window.partitionBy("event_type").orderBy("day").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn("n_cal", F.expr("n_scored * 3 div 5"))
    )
    qhat = (
        scored.filter(F.col("idx") <= F.col("n_cal"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_cal"),
            F.expr(
                f"percentile_disc({alpha_pct / 100.0!r})"
                " WITHIN GROUP (ORDER BY abs_resid)"
            ).cast("long").alias("qhat_cents"),
        )
    )
    return (
        scored.filter(F.col("idx") > F.col("n_cal"))
        .drop("n_cal")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n_cal").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            F.min("qhat_cents").alias("qhat_cents"),
            F.sum(
                (F.col("abs_resid") <= F.col("qhat_cents")).cast("long")
            ).alias("n_covered"),
        )
        .select(
            "event_type",
            "n_cal",
            "n_test",
            "qhat_cents",
            "n_covered",
            F.expr("n_covered * 1000000 div n_test").alias("coverage_ppm"),
        )
        .orderBy("event_type")
    )


def conformal_interval_backtest_sql(
    src: str = "events", lag_days: int = 7, alpha_pct: int = 90
) -> str:
    return f"""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT event_type, day, cents,
                 LAG(cents, {int(lag_days)}) OVER w AS forecast
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        idxed AS (
          SELECT event_type,
                 ABS(cents - forecast) AS abs_resid,
                 ROW_NUMBER() OVER w AS idx,
                 COUNT(*) OVER (PARTITION BY event_type) AS n_scored
          FROM scored WHERE forecast IS NOT NULL
          WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        split AS (
          SELECT *, n_scored * 3 // 5 AS n_cal FROM idxed
        ),
        qhat AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_cal,
                 CAST(percentile_disc({alpha_pct / 100.0!r})
                      WITHIN GROUP (ORDER BY abs_resid) AS BIGINT)
                   AS qhat_cents
          FROM split WHERE idx <= n_cal
          GROUP BY 1
        )
        SELECT t.event_type,
               MIN(q.n_cal) AS n_cal,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(MIN(q.qhat_cents) AS BIGINT) AS qhat_cents,
               CAST(SUM(CASE WHEN t.abs_resid <= q.qhat_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
               CAST(SUM(CASE WHEN t.abs_resid <= q.qhat_cents
                             THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS coverage_ppm
        FROM split t JOIN qhat q ON t.event_type = q.event_type
        WHERE t.idx > t.n_cal
        GROUP BY 1
        ORDER BY 1
    """


# ------------------------------------------------------- CUSUM alarms
CUSUM_K_PPM = 50_000   # slack: 5% of the baseline mean per day
CUSUM_H_PPM = 400_000  # alarm at 40% of baseline accumulated drift


def cusum_alarm(
    events: DataFrame,
    k_ppm: int = CUSUM_K_PPM,
    h_ppm: int = CUSUM_H_PPM,
    baseline_days: int = 7,
) -> DataFrame:
    """Tabular CUSUM drift detector per event_type series — the
    sequential cousin of the two-window mean-shift scan: accumulate
    max(0, prev + (x - mu - k)) upward and its mirror downward against
    the FIRST ``baseline_days`` days' mean, alarm when either side
    crosses h. CUSUM catches slow drifts the per-point EWMA/z alarms
    miss (each day individually in-band, the sum damning).

    All exact integers: daily bigint cents, baseline mean on the 1e-6
    grid (integer division of the first-k-days sum), slack/threshold
    as ppm of the baseline, and the one-sided sums folded by an exact
    integer recurrence. The recurrence is inherently sequential, so
    it rides a per-type ordered window over the |days| daily table
    via SUM + running MIN of prefix sums (the max(0, ...) reset has
    the closed form S_i - min(S_0..S_i) — associative-scan friendly,
    NOT a per-row loop). One raw-stream aggregate, day-table windows.
    """
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(cents()).alias("cents"))
    )
    return cusum_from_daily(daily, k_ppm, h_ppm, baseline_days)


def cusum_from_daily(
    daily: DataFrame,
    k_ppm: int = CUSUM_K_PPM,
    h_ppm: int = CUSUM_H_PPM,
    baseline_days: int = 7,
) -> DataFrame:
    """CUSUM statistics over a prebuilt (event_type, day, cents) daily
    table — shared by the batch operator and the streaming monitor's
    serving read (the stream maintains the ADDITIVE daily state; this
    sequential derivation always runs at read time)."""
    w = Window.partitionBy("event_type").orderBy("day")
    idxed = daily.withColumn("idx", F.row_number().over(w))
    base = (
        idxed.filter(F.col("idx") <= baseline_days)
        .groupBy("event_type")
        .agg(
            F.expr(
                f"sum(cents) * 1000000 div {int(baseline_days)}"
            ).alias("mu_micro")
        )
    )
    # deviations on the micro grid; slack k and threshold h scale mu
    dev = (
        idxed.join(F.broadcast(base), "event_type")
        .withColumn(
            "_up_inc",
            F.expr(
                f"cents * 1000000 - mu_micro - mu_micro div 1000000"
                f" * {int(k_ppm)}"
            ),
        )
        .withColumn(
            "_dn_inc",
            F.expr(
                f"mu_micro - cents * 1000000 - mu_micro div 1000000"
                f" * {int(k_ppm)}"
            ),
        )
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = dev.select(
        "event_type",
        "day",
        "cents",
        "mu_micro",
        # C_i = S_i - min(0, min_{j<=i} S_j): the prefix-sum closed form
        # of max(0, C_{i-1} + inc) WITH the implicit S_0 = 0 floor
        (
            F.sum("_up_inc").over(wcum)
            - F.least(
                F.min(F.sum("_up_inc").over(wcum)).over(wcum), F.lit(0)
            )
        ).alias("_up_raw"),
        (
            F.sum("_dn_inc").over(wcum)
            - F.least(
                F.min(F.sum("_dn_inc").over(wcum)).over(wcum), F.lit(0)
            )
        ).alias("_dn_raw"),
    )
    h = f"mu_micro div 1000000 * {int(h_ppm)}"
    return scanned.select(
        "event_type",
        "day",
        "cents",
        F.expr("greatest(_up_raw, 0)").alias("cusum_up_micro"),
        F.expr("greatest(_dn_raw, 0)").alias("cusum_dn_micro"),
        F.expr(
            f"CASE WHEN greatest(_up_raw, 0) > {h} THEN 'alarm_up'"
            f" WHEN greatest(_dn_raw, 0) > {h} THEN 'alarm_down'"
            f" ELSE 'ok' END"
        ).alias("verdict"),
    ).orderBy("event_type", "day")


def cusum_alarm_sql(
    src: str = "events",
    k_ppm: int = CUSUM_K_PPM,
    h_ppm: int = CUSUM_H_PPM,
    baseline_days: int = 7,
) -> str:
    return f"""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        idxed AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                      ORDER BY day) AS idx
          FROM daily
        ),
        base AS (
          SELECT event_type,
                 SUM(cents) * 1000000 // {int(baseline_days)} AS mu_micro
          FROM idxed WHERE idx <= {int(baseline_days)}
          GROUP BY 1
        ),
        dev AS (
          SELECT i.event_type, i.day, i.cents, b.mu_micro,
                 i.cents * 1000000 - b.mu_micro
                   - b.mu_micro // 1000000 * {int(k_ppm)} AS _up_inc,
                 b.mu_micro - i.cents * 1000000
                   - b.mu_micro // 1000000 * {int(k_ppm)} AS _dn_inc
          FROM idxed i JOIN base b ON i.event_type = b.event_type
        ),
        pfx AS (
          SELECT event_type, day, cents, mu_micro,
                 SUM(_up_inc) OVER w AS _up_s,
                 SUM(_dn_inc) OVER w AS _dn_s
          FROM dev
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        scanned AS (
          SELECT event_type, day, cents, mu_micro,
                 _up_s - LEAST(MIN(_up_s) OVER w, 0) AS _up_raw,
                 _dn_s - LEAST(MIN(_dn_s) OVER w, 0) AS _dn_raw
          FROM pfx
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day, CAST(cents AS BIGINT) AS cents,
               CAST(GREATEST(_up_raw, 0) AS BIGINT) AS cusum_up_micro,
               CAST(GREATEST(_dn_raw, 0) AS BIGINT) AS cusum_dn_micro,
               CASE WHEN GREATEST(_up_raw, 0)
                         > mu_micro // 1000000 * {int(h_ppm)}
                    THEN 'alarm_up'
                    WHEN GREATEST(_dn_raw, 0)
                         > mu_micro // 1000000 * {int(h_ppm)}
                    THEN 'alarm_down'
                    ELSE 'ok' END AS verdict
        FROM scanned
        ORDER BY event_type, day
    """


# ------------------------------------------------------ max drawdown
def max_drawdown(events: DataFrame) -> DataFrame:
    """Maximum drawdown of each type's cumulative daily revenue — the
    peak-to-trough risk metric (finance's worst-case-entry number,
    equally useful for "how far below its best day-sum has this
    revenue stream fallen"): per event_type, max over days of
    (running peak - running cumulative), in exact cents, with the day
    the maximum drawdown bottoms out.

    Pure prefix arithmetic: cumsum and running max over the |days|
    day table (one window pass), argmax by (drawdown desc, day asc)
    for a deterministic trough day. The raw stream contributes ONE
    aggregate."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(cents()).alias("cents"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "event_type",
        "day",
        (
            F.max(F.sum("cents").over(wcum)).over(wcum)
            - F.sum("cents").over(wcum)
        ).alias("drawdown_cents"),
    )
    wpick = Window.partitionBy("event_type").orderBy(
        F.desc("drawdown_cents"), F.asc("day")
    )
    return (
        dd.withColumn("_rk", F.row_number().over(wpick))
        .filter(F.col("_rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("trough_day"),
            F.col("drawdown_cents").alias("max_drawdown_cents"),
        )
        .orderBy("event_type")
    )


def max_drawdown_sql(src: str = "events") -> str:
    return f"""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, day, SUM(cents) OVER w AS csum
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        dd AS (
          SELECT event_type, day,
                 MAX(csum) OVER w - csum AS drawdown_cents
          FROM cum
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day AS trough_day,
               CAST(drawdown_cents AS BIGINT) AS max_drawdown_cents
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY drawdown_cents DESC, day ASC) AS _rk
          FROM dd
        ) WHERE _rk = 1
        ORDER BY event_type
    """


# ------------------------------------------------------ Theil-Sen trend
def theilsen_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend per series: the MEDIAN of all pairwise
    day-to-day slopes of the daily cents series — tolerates 29%
    outlier days where OLS breaks on one bad deploy spike (the robust
    sibling of ts_rolling_regression).

    Slopes are exact integers on the 1e-6 grid (cents diff x 1e6 div
    day diff — truncating division, identical cross-engine) and the
    median is percentile_disc (an actual slope value). The pairwise
    stage is |days|²/2 per series — bounded because it runs on the
    AGGREGATED day table (30 days -> 435 pairs), never the raw stream;
    the raw stream contributes ONE aggregate. For multi-year series,
    window the pairs (classic Theil-Sen windowing) — documented swap."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.to_date("ts").alias("d"),
        )
        .agg(F.sum(cents()).alias("cents"))
        .withColumn(
            "dn", F.expr("datediff(d, DATE '1970-01-01')").cast("long")
        )
    )
    pairs = (
        daily.alias("a")
        .join(
            daily.alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.dn") < F.col("b.dn")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.expr(
                "(b.cents - a.cents) * 1000000 div (b.dn - a.dn)"
            ).alias("slope_micro"),
        )
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_micro)"
            ).cast("long").alias("slope_micro_p50"),
        )
        .orderBy("event_type")
    )


def theilsen_trend_sql(src: str = "events") -> str:
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents,
                 CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS dn
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.event_type,
                 (b.cents - a.cents) * 1000000 // (b.dn - a.dn)
                   AS slope_micro
          FROM daily a
          JOIN daily b
            ON a.event_type = b.event_type AND a.dn < b.dn
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(percentile_disc(0.5) WITHIN GROUP
                    (ORDER BY slope_micro) AS BIGINT) AS slope_micro_p50
        FROM pairs GROUP BY 1 ORDER BY 1
    """


# ----------------------------------------------- seasonal strength
def seasonal_strength(events: DataFrame) -> DataFrame:
    """Seasonality / trend strength (Hyndman's FPP measures) computed
    from the classical decomposition: F_seasonal = 1 - Var(resid) /
    Var(seasonal + resid) and F_trend = 1 - Var(resid) /
    Var(trend + resid) — the single-number answers to "is this series
    worth a seasonal model" that gate forecaster selection.

    Variances are population variances over EXACT integer CENT-scaled
    components (the decomposition's micro values divided back to cents
    — quantization is part of the spec) via the n*Σx² - (Σx)² bigint
    form; strengths are exact ppm, floored at 0. Everything rides the
    |days| decomposition table."""
    raw = seasonal_decompose(events).filter(
        F.col("resid_micro").isNotNull()
    ).select(
        F.expr("resid_micro div 1000000").alias("r"),
        F.expr("(seasonal_micro + resid_micro) div 1000000").alias("sr"),
        F.expr("(trend_micro + resid_micro) div 1000000").alias("tr"),
    )
    # center each component on its integer mean BEFORE squaring:
    # n*sum(dev^2) - (sum dev)^2 == n*sum(x^2) - (sum x)^2 EXACTLY for
    # any integer shift (variance shift-invariance holds in integer
    # arithmetic), and centering keeps the squares at daily-fluctuation
    # scale — the uncentered form overflows BIGINT near 10M rows/day
    # totals (found by the 10M scale smoke, fixed without changing a
    # single output value)
    anchors = raw.agg(
        F.count("*").alias("_n"),
        *[F.sum(c).alias(f"_a_{c}") for c in ("r", "sr", "tr")],
    )
    comp = raw.crossJoin(F.broadcast(anchors)).select(
        *[
            F.expr(f"{c} - (_a_{c} div _n)").alias(c)
            for c in ("r", "sr", "tr")
        ]
    )

    def var_terms(c: str) -> list:
        return [
            F.sum(F.col(c) * F.col(c)).alias(f"_s2_{c}"),
            F.sum(c).alias(f"_s_{c}"),
        ]

    agg = comp.agg(
        F.count("*").alias("n"),
        *var_terms("r"),
        *var_terms("sr"),
        *var_terms("tr"),
    )
    # n-scaled sum of squared deviations: S2 - S^2 div n (exact bigint
    # minus a quantized correction — S is tiny after centering). The
    # final ratio divides two exact bigints in DOUBLE and floor-scales:
    # identical IEEE op in both engines, and no n*S2 or num*1e6 integer
    # product to overflow (the 10M smoke caught both forms). Ceiling:
    # sum(dev_cents^2) must fit bigint — dev_rms*sqrt(days) < 3e9 cents.
    v = lambda c: f"(_s2_{c} - _s_{c} * _s_{c} div n)"  # noqa: E731
    strength = lambda d: (  # noqa: E731
        f"CASE WHEN {v(d)} = 0 THEN 0 ELSE greatest(CAST(floor("
        f"(1.0 - CAST({v('r')} AS DOUBLE) / CAST({v(d)} AS DOUBLE))"
        f" * 1e6 + 0.5) AS BIGINT), 0) END"
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(strength("sr")).alias("seasonal_strength_ppm"),
        F.expr(strength("tr")).alias("trend_strength_ppm"),
    )


def seasonal_strength_sql(src: str = "events") -> str:
    inner = seasonal_decompose_sql(src)
    v = lambda c: f"(_s2_{c} - _s_{c} * _s_{c} // n)"  # noqa: E731
    return f"""
        WITH raw AS (
          SELECT resid_micro // 1000000 AS r,
                 (seasonal_micro + resid_micro) // 1000000 AS sr,
                 (trend_micro + resid_micro) // 1000000 AS tr
          FROM ({inner}) d
          WHERE resid_micro IS NOT NULL
        ),
        anchors AS (
          SELECT COUNT(*) AS _n, SUM(r) AS _a_r, SUM(sr) AS _a_sr,
                 SUM(tr) AS _a_tr
          FROM raw
        ),
        comp AS (
          -- same integer-mean centering as the Spark side (exact
          -- shift-invariance; prevents BIGINT overflow at scale)
          SELECT r - (_a_r // _n) AS r,
                 sr - (_a_sr // _n) AS sr,
                 tr - (_a_tr // _n) AS tr
          FROM raw, anchors
        ),
        agg AS (
          SELECT COUNT(*) AS n,
                 SUM(r * r) AS _s2_r, SUM(r) AS _s_r,
                 SUM(sr * sr) AS _s2_sr, SUM(sr) AS _s_sr,
                 SUM(tr * tr) AS _s2_tr, SUM(tr) AS _s_tr
          FROM comp
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(CASE WHEN {v('sr')} = 0 THEN 0 ELSE GREATEST(
                 CAST(floor((1.0 - CAST({v('r')} AS DOUBLE)
                             / CAST({v('sr')} AS DOUBLE)) * 1e6 + 0.5)
                      AS BIGINT), 0) END AS BIGINT)
                 AS seasonal_strength_ppm,
               CAST(CASE WHEN {v('tr')} = 0 THEN 0 ELSE GREATEST(
                 CAST(floor((1.0 - CAST({v('r')} AS DOUBLE)
                             / CAST({v('tr')} AS DOUBLE)) * 1e6 + 0.5)
                      AS BIGINT), 0) END AS BIGINT)
                 AS trend_strength_ppm
        FROM agg
    """


def mann_kendall_trend(events: DataFrame) -> DataFrame:
    """Mann–Kendall trend test per event-type daily series (Mann 1945,
    Kendall 1975; the nonparametric companion of :func:`theilsen_trend`
    — Theil–Sen estimates the slope, MK tests whether a monotone trend
    exists at all): S = Σ sign(y_j − y_i) over day pairs i<j,
    tie-corrected Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
    continuity-corrected z (S∓1)/√Var.

    Exactness: S and both variance terms are exact integers (the
    tie-corrected sum runs over the per-value day counts); the single
    division and sqrt happen once at the end, 6dp on both engines. The
    pairwise stage is |days|²/2 per series on the AGGREGATED day table
    (the theilsen bound — never the raw stream); classification uses
    the two-sided 5% z literal."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(cents()).alias("cents"))
        .withColumn(
            "dn", F.expr("datediff(d, DATE '1970-01-01')").cast("long")
        )
    )
    s_tab = (
        daily.alias("a")
        .join(
            daily.alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.dn") < F.col("b.dn")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN b.cents > a.cents THEN 1 "
                    "WHEN b.cents < a.cents THEN -1 ELSE 0 END"
                )
            ).alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum("t").alias("n_days"),
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).alias("tie_term"),
        )
    )
    var_expr = (
        "(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term) / 18.0"
    )
    z_expr = (
        f"CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt({var_expr}) "
        f"WHEN s_stat < 0 THEN (s_stat + 1) / sqrt({var_expr}) "
        "ELSE 0.0 END"
    )
    return (
        s_tab.join(ties, "event_type")
        .filter(F.col("n_days") > 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("s_stat").cast("long").alias("s_stat"),
            F.round(F.expr(var_expr), 6).alias("var_s"),
            F.round(F.expr(z_expr), 6).alias("z"),
            F.expr(
                f"CASE WHEN ({z_expr}) > 1.959964 THEN 'increasing' "
                f"WHEN ({z_expr}) < -1.959964 THEN 'decreasing' "
                "ELSE 'no_trend' END"
            ).alias("trend"),
        )
        .orderBy("event_type")
    )


def mann_kendall_trend_sql(src: str = "events") -> str:
    var_expr = (
        "(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term) / 18.0"
    )
    z_expr = (
        f"CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt({var_expr}) "
        f"WHEN s_stat < 0 THEN (s_stat + 1) / sqrt({var_expr}) "
        "ELSE 0.0 END"
    )
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents,
                 CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        s_tab AS (
          SELECT a.event_type,
                 SUM(CASE WHEN b.cents > a.cents THEN 1
                          WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                   AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.dn < b.dn
          GROUP BY a.event_type
        ),
        ties AS (
          SELECT event_type, SUM(t) AS n_days,
                 SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
          FROM (
            SELECT event_type, cents, COUNT(*) AS t
            FROM daily GROUP BY event_type, cents
          ) g GROUP BY event_type
        )
        SELECT s_tab.event_type,
               CAST(n_days AS BIGINT) AS n_days,
               CAST(s_stat AS BIGINT) AS s_stat,
               ROUND({var_expr}, 6) AS var_s,
               ROUND({z_expr}, 6) AS z,
               CASE WHEN ({z_expr}) > 1.959964 THEN 'increasing'
                    WHEN ({z_expr}) < -1.959964 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM s_tab JOIN ties ON s_tab.event_type = ties.event_type
        WHERE n_days > 1
        ORDER BY s_tab.event_type
    """
