"""Skew-safe aggregation (SURVEY.md §7 / scale posture: "skewed keys →
salting or AQE skew-join").

AQE handles skewed *joins* automatically; a skewed *aggregation* key (one
user with 100M events) still funnels a whole key into one reduce task.
Two-phase salted aggregation bounds per-task load for algebraic
aggregates: partial-aggregate on (key, salt), then final-aggregate on key.
Results are exactly equal to the direct groupBy — only the shuffle
topology changes — so the same SQL oracle applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cents, with_midpoint
from .partitioning import local_table


def salted_sum_count(
    df: DataFrame, key: str, value_col: str, salt_buckets: int = 16
) -> DataFrame:
    """count + sum per key, salted. Algebraic aggregates only (sum/count/
    min/max compose across partials; avg = sum/count at the end)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key, "_salt").agg(
        F.count("*").alias("_cnt"), F.sum(value_col).alias("_sum")
    )
    return partial.groupBy(key).agg(
        F.sum("_cnt").alias("n"),
        F.round(F.sum("_sum"), 2).alias("total"),
    )


# ------------------------------------------------- exact heavy hitters
def heavy_hitters(
    df: DataFrame, col: str, k: int = 20, counters: int | None = None
) -> DataFrame:
    """EXACT frequent-items above the n/k threshold, found with the
    two-pass candidate/verify pattern that scales to arbitrary data:

    1. **Candidate generation** — per-partition Misra-Gries summaries
       (``counters`` slots, default ``k``) via ``mapInPandas``: each
       partition emits at most ``counters`` candidate values, O(1) memory
       per task, no shuffle. By the pigeonhole guarantee, any value with
       GLOBAL frequency > n/k has local frequency > n_p/k in at least one
       partition, so every true heavy hitter survives into the candidate
       set (false positives are fine — they are filtered exactly).
    2. **Exact verification** — one aggregate of the (bounded,
       ≤ partitions x counters) candidate set joined back against the
       data, plus a broadcast 1-row total count; keep values whose exact
       count clears n/k.

    The output is therefore EXACT and independent of partitioning — the
    oracle is plain ``GROUP BY ... HAVING count > n/k`` — while the
    distributed work stays bounded: no full groupBy over the (possibly
    enormous) value domain ever happens; only candidates are counted.

    The Arrow stage tails each partition with O(counters) state — the
    sanctioned mapInPandas use (sketch state Spark SQL cannot express).

    NULLs are excluded up front: the question is "which VALUES are
    frequent", and null keys would otherwise corrupt both passes (a
    nullable numeric column arrives in pandas as float64 whose NaNs are
    pairwise-unequal dict keys, and the recount equi-join drops null
    keys while a GROUP BY oracle would emit them). The threshold's
    ``n`` counts non-null rows, matching :func:`heavy_hitters_sql`.
    """
    import pandas as pd

    if counters is not None and counters < k:
        # the pigeonhole argument needs >= k Misra-Gries slots per
        # partition; fewer would silently drop a true heavy hitter
        raise ValueError(f"counters ({counters}) must be >= k ({k})")
    slots = counters or k
    df = df.filter(F.col(col).isNotNull())

    def mg_partition(batches):
        counts: dict = {}
        for pdf in batches:
            for v in pdf[col]:
                if v in counts:
                    counts[v] += 1
                elif len(counts) < slots:
                    counts[v] = 1
                else:
                    # decrement-all step; drop zeroed slots
                    dead = []
                    for key in counts:
                        counts[key] -= 1
                        if counts[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counts[key]
        yield pd.DataFrame({col: list(counts.keys())})

    schema_field = df.select(col).schema[0]
    candidates = (
        df.select(col)
        .mapInPandas(mg_partition, schema=f"{col} {schema_field.dataType.simpleString()}")
        .distinct()
    )
    total = df.agg(F.count("*").alias("_n"))
    return (
        df.join(F.broadcast(candidates), col)
        .groupBy(col)
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * k > F.col("_n"))
        .select(col, "freq")
    )


def heavy_hitters_sql(src: str, col: str, k: int = 20) -> str:
    """Exact oracle — valid because phase 1 provably never drops a true
    heavy hitter and phase 2 recounts exactly."""
    return f"""
        SELECT {col}, COUNT(*) AS freq
        FROM {src}
        WHERE {col} IS NOT NULL
        GROUP BY {col}
        HAVING COUNT(*) * {k} >
               (SELECT COUNT(*) FROM {src} WHERE {col} IS NOT NULL)
    """


# ------------------------------------------------- key-skew diagnostics
def key_skew_profile(df: DataFrame, key: str, bands: int = 10) -> DataFrame:
    """Frequency-decile profile of an aggregation/join key — the report
    you run BEFORE deciding whether a 100 TB shuffle needs salting or an
    AQE skew hint. Keys are ranked by frequency and cut into ``bands``
    ntile bands (band 1 = hottest keys); each band reports how many keys
    it holds, how many rows they carry, the row share, and the single
    hottest key's row count. A healthy key shows band 1 carrying ~1/bands
    of the rows; a salting candidate shows band 1 carrying most of them.

    Scale shape: one map-side-combinable count per key; the exact band
    cut reproduces ANSI ntile from the SHARDED distributed rank
    (``global_row_positions`` + ``exact_ntile_expr``) so even a
    billion-key profile never sorts |keys| rows on one task; the final
    aggregate collapses to ``bands`` rows and the share divides by a
    window total over those ``bands`` rows only.

    NULL keys are profiled as their own row-carrying group? No — they are
    excluded: a NULL join key never co-locates anyway, so it is noise in
    a skew report (and NULL ordering differs across engines)."""
    from .partitioning import exact_ntile_expr, global_row_positions

    per_key = (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count("*").alias("cnt"))
    )
    n1 = per_key.agg(F.count("*").alias("_n"))
    banded = (
        global_row_positions(per_key, "cnt", [key], descending=True)
        .crossJoin(F.broadcast(n1))
        .select("cnt", exact_ntile_expr("_gpos", "_n", bands).alias("band"))
    )
    out = banded.groupBy("band").agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("rows"),
        F.max("cnt").alias("max_key_rows"),
    )
    total = Window.partitionBy()
    return out.select(
        "band",
        "n_keys",
        "rows",
        "max_key_rows",
        F.round(F.col("rows") / F.sum("rows").over(total), 6).alias(
            "rows_share"
        ),
    )


def key_skew_profile_sql(src: str, key: str, bands: int = 10) -> str:
    return f"""
        WITH per_key AS (
          SELECT {key}, COUNT(*) AS cnt
          FROM {src} WHERE {key} IS NOT NULL GROUP BY {key}
        ),
        banded AS (
          SELECT cnt, NTILE({bands}) OVER (ORDER BY cnt DESC, {key} ASC)
                   AS band
          FROM per_key
        ),
        agg AS (
          SELECT band, CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(cnt) AS BIGINT) AS rows,
                 MAX(cnt) AS max_key_rows
          FROM banded GROUP BY band
        )
        SELECT band, n_keys, rows, max_key_rows,
               ROUND(rows / SUM(rows) OVER (), 6) AS rows_share
        FROM agg
    """


# -------------------------------------------------- mergeable sketches
def hll_mergeable_rollup(events: DataFrame, rel_tol: float = 0.05) -> DataFrame:
    """Mergeable-sketch rollup: one Datasketches HLL sketch per day, then
    the period-level distinct-user estimate from ``hll_union_agg`` over
    the DAILY SKETCHES — never re-reading the raw data. This is the
    pattern that makes 100 TB rollups re-aggregatable: store sketch
    columns in the daily rollup table and any ad-hoc period (week,
    month, campaign) unions in O(days) sketch merges instead of an
    O(period-rows) rescan.

    Gate shape (the ``approx_distinct_users`` convention): the sketch
    estimate itself is engine-specific, so the output carries the EXACT
    count plus a ``within_bound`` verdict that the estimate lands within
    ``rel_tol`` of it — deterministic, and the oracle's exact+TRUE rows
    hash-match iff both the exact counts and every verdict agree. The
    'ALL' row is the mergeability proof: its estimate comes from the
    unioned daily sketches, its exact count from the raw data."""
    ev = events.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_day = daily.select(
        "day",
        "exact_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(rel_tol)
        ).alias("within_bound"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    overall_exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    all_row = overall_exact.crossJoin(F.broadcast(merged)).select(
        F.lit("ALL").alias("day"),
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(rel_tol)
        ).alias("within_bound"),
    )
    return per_day.unionByName(all_row)


def hll_mergeable_rollup_sql(src: str = "events") -> str:
    return f"""
        SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM {src} GROUP BY 1
        UNION ALL
        SELECT 'ALL' AS day,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM {src}
    """


# ----------------------------------------------------- count-min sketch
# Third mergeable sketch beside HLL (distincts) and Misra-Gries (heavy
# hitters): CMS answers point frequency queries from O(d*w) counters.
CMS_D = 4       # hash rows
CMS_W = 256     # buckets per row
CMS_P = 2_147_483_647  # 2^31 - 1, the MinHash family's Mersenne prime


def _cms_params() -> list[tuple[int, int]]:
    def lcg(seed: int) -> int:
        return (seed * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (
            2**63
        )

    return [
        ((lcg(r * 2 + 101) % (CMS_P - 1)) + 1, lcg(r * 2 + 102) % CMS_P)
        for r in range(CMS_D)
    ]


CMS_AB = _cms_params()


def _cms_bucket_py(key: int, r: int) -> int:
    a, b = CMS_AB[r]
    return ((a * (key % CMS_P) + b) % CMS_P) % CMS_W


def _cms_bucket_sql(col: str, r: int) -> str:
    # pure 64-bit-safe arithmetic: (key % P) < 2^31 and a < 2^31, so the
    # product stays under 2^62 on both engines (DuckDB would ERROR on a
    # BIGINT overflow; Spark would wrap — neither happens)
    a, b = CMS_AB[r]
    return f"(({a} * ({col} % {CMS_P}) + {b}) % {CMS_P}) % {CMS_W}"


def cms_estimate(
    df: DataFrame, key: str, query_keys: list[int]
) -> DataFrame:
    """Count-min sketch point-frequency estimates with the exact truth
    beside them: build the d×w counter table over ``key``, answer each
    ``query_keys`` id with ``min`` over its d counters, and join the
    true count so the output certifies the CMS guarantee
    (``cms_est >= true_count``, overcount bounded by collisions).

    Scale shape: the counter build is ONE map-side-combinable aggregate
    over (row, bucket) — at most d·w = {d}×{w} groups survive the
    shuffle regardless of input size, which is the point of the sketch:
    the counter table is a broadcastable summary that merges across
    partitions/days by addition (same rollup pattern as the HLL sketch
    column). Query buckets are computed driver-side from the shared
    constants (pure integer arithmetic — both engines and Python agree
    exactly) and enter the plan as a literal row set; the probe is a
    broadcast join against the tiny counter table.
    """.format(d=CMS_D, w=CMS_W)
    spark = df.sparkSession
    counters = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            F.expr(_cms_bucket_sql(key, r)).alias("bucket"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("rb")
        )
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    probes = local_table(
        spark,
        [
            (int(k), r, _cms_bucket_py(int(k), r))
            for k in query_keys
            for r in range(CMS_D)
        ],
        f"{key} long, r int, bucket long",
    )
    ests = (
        probes
        .join(F.broadcast(counters), ["r", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("cms_est"))
    )
    truth = (
        df.filter(F.col(key).isin([int(k) for k in query_keys]))
        .groupBy(key)
        .agg(F.count("*").cast("long").alias("true_count"))
    )
    return (
        ests.join(truth, key, "left")
        .select(
            key,
            F.coalesce("true_count", F.lit(0)).cast("long").alias("true_count"),
            "cms_est",
            (F.col("cms_est") - F.coalesce("true_count", F.lit(0)))
            .cast("long")
            .alias("overcount"),
        )
    )


def cms_estimate_sql(src: str, key: str, query_keys: list[int]) -> str:
    rows = ",\n                 ".join(
        f"({int(k)}, {r}, {_cms_bucket_py(int(k), r)})"
        for k in query_keys
        for r in range(CMS_D)
    )
    union_rows = "\n          UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_bucket_sql(key, r)} AS bucket FROM {src}"
        for r in range(CMS_D)
    )
    keys_in = ", ".join(str(int(k)) for k in query_keys)
    return f"""
        WITH exploded AS (
          {union_rows}
        ),
        counters AS (
          SELECT r, bucket, COUNT(*) AS cnt FROM exploded GROUP BY r, bucket
        ),
        probes({key}, r, bucket) AS (VALUES {rows}),
        ests AS (
          SELECT p.{key},
                 CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
          FROM probes p LEFT JOIN counters c USING (r, bucket)
          GROUP BY p.{key}
        ),
        truth AS (
          SELECT {key}, CAST(COUNT(*) AS BIGINT) AS true_count
          FROM {src} WHERE {key} IN ({keys_in}) GROUP BY {key}
        )
        SELECT e.{key},
               COALESCE(t.true_count, 0) AS true_count,
               e.cms_est,
               CAST(e.cms_est - COALESCE(t.true_count, 0) AS BIGINT)
                 AS overcount
        FROM ests e LEFT JOIN truth t USING ({key})
    """


# ---------------------------------------- HLL inclusion-exclusion overlap
def hll_retention_overlap(
    orders: DataFrame, rel_tol: float = 0.05, abs_slack: int = 3
) -> DataFrame:
    """Month-over-month customer retention where the overlap is
    estimated by HLL INCLUSION-EXCLUSION (|A∩B| ≈ est(A) + est(B) −
    est(A∪B)) — the sketch algebra that answers audience-overlap
    questions at 100 TB from stored per-slice sketches alone, with zero
    raw-data rescan: month sketches persist in the rollup table, any
    pair/period overlap is O(1) sketch merges. (Same storage pattern as
    :func:`hll_mergeable_rollup`; this adds the set-algebra layer.)

    Gate shape (the bounded-verdict convention): the estimate is
    engine-specific, so the output carries EXACT overlap counts and a
    ``within_bound`` verdict that the I-E estimate lands within
    ``rel_tol``·|A∪B| + ``abs_slack`` of exact — I-E error scales with
    the UNION cardinality, not the intersection, hence the union-based
    bound. Retention rate itself is an exact small-integer ratio.
    """
    m = orders.select(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("mo"),
        "o_custkey",
    ).distinct()
    per = m.groupBy("mo").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("ex"),
    )
    nxt = F.date_format(
        F.add_months(F.to_date(F.concat(F.col("mo"), F.lit("-01"))), 1),
        "yyyy-MM",
    )
    a = per.select(
        F.col("mo").alias("month_a"),
        nxt.alias("_next"),
        F.col("sk").alias("ska"),
        F.col("ex").alias("cust_a"),
    )
    b = per.select(
        F.col("mo").alias("month_b"),
        F.col("sk").alias("skb"),
        F.col("ex").alias("cust_b"),
    )
    pairs = a.join(b, a["_next"] == b["month_b"])
    est_inter = (
        F.hll_sketch_estimate("ska")
        + F.hll_sketch_estimate("skb")
        - F.hll_sketch_estimate(F.hll_union("ska", "skb"))
    )
    x = m.select(F.col("mo").alias("month_a"), "o_custkey")
    y = m.select(F.col("mo").alias("_mb"), "o_custkey")
    exact = (
        x.join(y, "o_custkey")
        .filter(
            F.date_format(
                F.add_months(
                    F.to_date(F.concat(F.col("month_a"), F.lit("-01"))), 1
                ),
                "yyyy-MM",
            )
            == F.col("_mb")
        )
        .groupBy("month_a")
        .agg(F.countDistinct("o_custkey").alias("retained"))
    )
    return (
        pairs.join(exact, "month_a")
        .select(
            "month_a",
            "month_b",
            F.col("cust_a").cast("long").alias("cust_a"),
            F.col("cust_b").cast("long").alias("cust_b"),
            F.col("retained").cast("long").alias("retained"),
            F.round(
                F.col("retained") / F.col("cust_a").cast("double"), 6
            ).alias("retention_rate"),
            (
                F.abs(est_inter - F.col("retained"))
                <= (F.col("cust_a") + F.col("cust_b") - F.col("retained"))
                * F.lit(rel_tol)
                + F.lit(float(abs_slack))
            ).alias("within_bound"),
        )
    )


def hll_retention_overlap_sql(src: str = "orders") -> str:
    return f"""
        WITH m AS (
          SELECT DISTINCT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS mo,
                 o_custkey
          FROM {src}
        ),
        per AS (
          SELECT mo, CAST(COUNT(*) AS BIGINT) AS ex FROM m GROUP BY mo
        ),
        pairs AS (
          SELECT x.mo AS month_a,
                 strftime(CAST(x.mo || '-01' AS DATE) + INTERVAL 1 MONTH,
                          '%Y-%m') AS month_b,
                 CAST(COUNT(*) AS BIGINT) AS retained
          FROM m x JOIN m y ON x.o_custkey = y.o_custkey
           AND y.mo = strftime(CAST(x.mo || '-01' AS DATE) + INTERVAL 1 MONTH,
                               '%Y-%m')
          GROUP BY 1, 2
        )
        SELECT p.month_a, p.month_b,
               pa.ex AS cust_a, pb.ex AS cust_b,
               p.retained,
               ROUND(p.retained / CAST(pa.ex AS DOUBLE), 6)
                 AS retention_rate,
               TRUE AS within_bound
        FROM pairs p
        JOIN per pa ON pa.mo = p.month_a
        JOIN per pb ON pb.mo = p.month_b
    """


# -------------------------------------------------- salted skew join
def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, salt_buckets: int = 8
) -> DataFrame:
    """Skew-safe equi-join by salting: the manual counterpart of the AQE
    skew-join for the cases AQE cannot rescue — a single join key so hot
    its rows exceed one task's memory, on a dim side too large to
    broadcast. Fact rows get a deterministic salt in ``[0, salt_buckets)``
    (hash of the whole row — WHICH bucket a row lands in is irrelevant,
    only that the hot key's rows spread across all of them); the dim side
    is replicated once per bucket; the join runs on ``(key, salt)`` so the
    hot key's probe work fans out over ``salt_buckets`` tasks instead of
    funneling into one.

    The result is EXACTLY the plain inner join — every fact row still
    meets every matching dim row exactly once (its one salted copy) — so
    the plain-join SQL oracle applies unchanged. Cost: the dim side is
    shuffled ``salt_buckets``x; worth it only when the skew is real
    (:func:`key_skew_profile` is the decision input). Prefer
    ``broadcast(dim)`` whenever dim fits — salting is for the big-dim,
    hot-key corner.
    """
    salted_fact = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets)),
    )
    dim_rep = dim.withColumn(
        "_salt",
        F.explode(F.expr(f"sequence(CAST(0 AS BIGINT), {salt_buckets - 1})")),
    )
    return salted_fact.join(dim_rep, [key, "_salt"], "inner").drop("_salt")


# ------------------------------------- mergeable quantile histogram
def quantile_histogram(
    df: DataFrame,
    value_col: str,
    quantile_pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Mergeable quantile sketch with a provable relative-error bound —
    the DDSketch idea (Masson et al., VLDB 2019) made cross-engine
    deterministic: positive values quantize to exact integer cents, land
    in log2 buckets (bucket = bit-length of cents) each split into 8
    linear sub-buckets, and the quantile estimate is the midpoint of the
    sub-bucket where the cumulative count crosses ceil(q*n). Every step
    is integer arithmetic — bit-length via ``length(bin(x))``, sub-bucket
    via integer division — so the sketch is bit-identical on any engine
    and any partitioning, and the histogram is a plain combinable
    ``GROUP BY``: per-partition partials merge by addition, the mergeable
    contract HLL/CMS follow.

    Error contract: the true value lies inside the picked sub-bucket,
    whose half-width is base/16 <= value/16, so the midpoint estimate is
    within 1/16 (6.25%) relative error. Each output row carries the
    EXACT quantile beside the estimate and a ``within_bound`` verdict
    checked in integers (|est*16 - exact*16| <= base) — the
    ``approx_distinct_users`` convention: the sketch answer is gated, not
    trusted. The exact column is the audit harness (a global
    rank-selection); at 100 TB you ship the estimate and drop the audit,
    or run it on a sample.

    Scale shape: one combinable aggregate into a few-hundred-row
    histogram; the cumulative window and quantile probes run over that
    model-sized table. NULL and non-positive values are excluded (a log
    sketch is defined on positives).
    """
    base_rel = (
        df.filter(F.col(value_col).isNotNull())
        .select(cents(value_col).alias("cents"))
        .filter(F.col("cents") > 0)
    )
    bucketed = base_rel.select(
        "cents",
        F.length(F.expr("bin(cents)")).alias("blen"),
    ).select(
        "cents",
        "blen",
        F.expr("shiftleft(CAST(1 AS BIGINT), blen - 1)").alias("base"),
    )
    hist = bucketed.groupBy(
        "blen", F.expr("((cents - base) * 8) div base").alias("sub")
    ).agg(F.count("*").alias("cnt"))
    return quantile_from_histogram(hist, base_rel, quantile_pcts)


def quantile_from_histogram(
    hist: DataFrame,
    audit_base: DataFrame,
    quantile_pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Serving-side quantile pricing over a (blen, sub, cnt) bucket
    table — shared by the batch sketch, the mergeable rollup and the
    STREAMING maintenance path (whose settled sink table is exactly this
    histogram). ``audit_base`` supplies the exact-rank audit column
    (a cents relation; at 100 TB the audit is dropped or sampled)."""
    hist = hist.withColumn(
        "base", F.expr("shiftleft(CAST(1 AS BIGINT), blen - 1)")
    )
    order = Window.orderBy("blen", "sub")
    cum = hist.select(
        "blen",
        "sub",
        "base",
        F.sum("cnt").over(order).alias("cum"),
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    spark = hist.sparkSession
    probes = local_table(
        spark,
        [(f"p{p}", p) for p in quantile_pcts],
        "q_label string, q_pct int",
    )
    ranks = probes.crossJoin(F.broadcast(total)).select(
        "q_label",
        F.expr("(q_pct * n + 99) div 100").alias("rank"),
    )
    pick_w = Window.partitionBy("q_label").orderBy("blen", "sub")
    picked = (
        F.broadcast(ranks)
        .crossJoin(cum)
        .filter(F.col("cum") >= F.col("rank"))
        .withColumn("rn", F.row_number().over(pick_w))
        .filter(F.col("rn") == 1)
        .select(
            "q_label",
            "rank",
            "base",
            (F.lit(16) * F.col("base") + (F.lit(2) * F.col("sub") + 1) * F.col("base")).alias(
                "est16"
            ),
        )
    )
    # audit side: exact rank selection via the SHARDED global rank (the
    # former unpartitioned Window.orderBy pulled the whole cents relation
    # through one task — the one data-sized global window the r10 bound
    # sweep caught riding the allowlist). Ties on cents are harmless:
    # only the cents value at the rank is consumed, and every tie order
    # yields the same value.
    from .partitioning import global_row_positions

    exact = (
        global_row_positions(audit_base, "cents", [], out_col="rn")
        .join(F.broadcast(ranks.select(F.col("rank").alias("rn"), "q_label")), "rn")
        .select("q_label", F.col("cents").alias("exact_cents"))
    )
    return (
        picked.join(exact, "q_label")
        .select(
            "q_label",
            (F.col("est16") / F.lit(1600.0)).alias("est_value"),
            (F.col("exact_cents") / F.lit(100.0)).alias("exact_value"),
            (
                F.abs(F.col("est16") - F.col("exact_cents") * 16) <= F.col("base")
            ).alias("within_bound"),
        )
        .orderBy("q_label")
    )


def quantile_histogram_sql(
    src: str, value_col: str, quantile_pcts: tuple[int, ...] = (50, 90, 99)
) -> str:
    probe_rows = " UNION ALL ".join(
        f"SELECT 'p{p}' AS q_label, {p} AS q_pct" for p in quantile_pcts
    )
    return f"""
        WITH base_rel AS (
          SELECT CAST(floor({value_col} * 100 + 0.5) AS BIGINT) AS cents
          FROM {src}
          WHERE {value_col} IS NOT NULL
            AND CAST(floor({value_col} * 100 + 0.5) AS BIGINT) > 0
        ),
        bucketed AS (
          SELECT cents, length(bin(cents)) AS blen,
                 (CAST(1 AS BIGINT) << (length(bin(cents)) - 1)) AS base
          FROM base_rel
        ),
        hist AS (
          SELECT blen, ((cents - base) * 8) // base AS sub,
                 COUNT(*) AS cnt,
                 (CAST(1 AS BIGINT) << (blen - 1)) AS base
          FROM bucketed GROUP BY blen, ((cents - base) * 8) // base
        ),
        cum AS (
          SELECT blen, sub, base,
                 SUM(cnt) OVER (ORDER BY blen, sub) AS cum
          FROM hist
        ),
        total AS (SELECT COUNT(*) AS n FROM base_rel),
        probes AS ({probe_rows}),
        ranks AS (
          SELECT q_label, (q_pct * n + 99) // 100 AS rank
          FROM probes CROSS JOIN total
        ),
        picked AS (
          SELECT q_label, rank, base,
                 16 * base + (2 * sub + 1) * base AS est16
          FROM (
            SELECT r.q_label, r.rank, c.base, c.sub,
                   ROW_NUMBER() OVER (PARTITION BY r.q_label
                                      ORDER BY c.blen, c.sub) AS rn
            FROM ranks r CROSS JOIN cum c
            WHERE c.cum >= r.rank
          ) WHERE rn = 1
        ),
        exact AS (
          SELECT r.q_label, b.cents AS exact_cents
          FROM (
            SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn
            FROM base_rel
          ) b JOIN ranks r ON b.rn = r.rank
        )
        SELECT p.q_label,
               est16 / 1600.0 AS est_value,
               exact_cents / 100.0 AS exact_value,
               abs(est16 - exact_cents * 16) <= base AS within_bound
        FROM picked p JOIN exact e ON p.q_label = e.q_label
        ORDER BY p.q_label
    """


def quantile_rollup(
    events: DataFrame,
    quantile_pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Re-aggregatable quantile rollup — :func:`quantile_histogram`'s
    bucket table IS the stored sketch, and this operator proves it: one
    histogram per day, and the period ('ALL') percentiles computed by
    SUMMING the daily bucket counts — never re-reading raw data. The
    quantile twin of :func:`hll_mergeable_rollup`: store (day, bucket,
    cnt) in the daily rollup table and any ad-hoc period merges in
    O(days x buckets) additions instead of an O(period-rows) rescan.

    Every row (each day and the merged ALL) carries the estimate, the
    EXACT quantile (audit side, from raw — dropped at 100 TB), and the
    integer-exact ``within_bound`` verdict (|est16 − exact·16| <= base,
    the <= 1/16 relative-error contract)."""
    base_day = (
        events.filter(F.col("value").isNotNull())
        .select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            cents().alias("cents"),
        )
        .filter(F.col("cents") > 0)
    )
    hist_daily = (
        base_day.select(
            "day", "cents", F.length(F.expr("bin(cents)")).alias("blen")
        )
        .select(
            "day",
            "blen",
            F.expr(
                "((cents - shiftleft(CAST(1 AS BIGINT), blen - 1)) * 8)"
                " div shiftleft(CAST(1 AS BIGINT), blen - 1)"
            ).alias("sub"),
        )
        .groupBy("day", "blen", "sub")
        .agg(F.count("*").alias("cnt"))
    )
    # the mergeability proof: ALL = sum of the stored daily buckets
    hist_all = (
        hist_daily.groupBy("blen", "sub")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("day"), "blen", "sub", "cnt")
    )
    hist = hist_daily.unionByName(hist_all).withColumn(
        "base", F.expr("shiftleft(CAST(1 AS BIGINT), blen - 1)")
    )
    order = Window.partitionBy("day").orderBy("blen", "sub")
    cum = hist.select(
        "day", "blen", "sub", "base", "cnt",
        F.sum("cnt").over(order).alias("cum"),
    )
    totals = hist.groupBy("day").agg(F.sum("cnt").alias("n"))
    spark = events.sparkSession
    probes = local_table(
        spark,
        [(f"p{p}", p) for p in quantile_pcts],
        "q_label string, q_pct int",
    )
    ranks = totals.crossJoin(F.broadcast(probes)).select(
        "day", "q_label", F.expr("(q_pct * n + 99) div 100").alias("rank")
    )
    pick_w = Window.partitionBy("day", "q_label").orderBy("blen", "sub")
    picked = (
        ranks.join(cum, "day")
        .filter(F.col("cum") >= F.col("rank"))
        .withColumn("rn", F.row_number().over(pick_w))
        .filter(F.col("rn") == 1)
        .select(
            "day",
            "q_label",
            "rank",
            "base",
            (
                F.lit(16) * F.col("base")
                + (F.lit(2) * F.col("sub") + 1) * F.col("base")
            ).alias("est16"),
        )
    )
    # audit side: exact per-day (and ALL) rank selection from raw
    audit_base = base_day.unionByName(
        base_day.select(F.lit("ALL").alias("day"), "cents")
    )
    exact_w = Window.partitionBy("day").orderBy("cents")
    exact = (
        audit_base.withColumn("rn", F.row_number().over(exact_w))
        .join(
            ranks.select("day", F.col("rank").alias("rn"), "q_label"),
            ["day", "rn"],
        )
        .select("day", "q_label", F.col("cents").alias("exact_cents"))
    )
    return (
        picked.join(exact, ["day", "q_label"])
        .select(
            "day",
            "q_label",
            (F.col("est16") / F.lit(1600.0)).alias("est_value"),
            (F.col("exact_cents") / F.lit(100.0)).alias("exact_value"),
            (
                F.abs(F.col("est16") - F.col("exact_cents") * 16)
                <= F.col("base")
            ).alias("within_bound"),
        )
        .orderBy("day", "q_label")
    )


def quantile_rollup_sql(
    src: str = "events", quantile_pcts: tuple[int, ...] = (50, 90, 99)
) -> str:
    probe_rows = " UNION ALL ".join(
        f"SELECT 'p{p}' AS q_label, {p} AS q_pct" for p in quantile_pcts
    )
    return f"""
        WITH base_day AS (
          SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM {src}
          WHERE value IS NOT NULL
            AND CAST(floor(value * 100 + 0.5) AS BIGINT) > 0
        ),
        hist_daily AS (
          SELECT day, blen,
                 ((cents - (CAST(1 AS BIGINT) << (blen - 1))) * 8)
                   // (CAST(1 AS BIGINT) << (blen - 1)) AS sub,
                 COUNT(*) AS cnt
          FROM (SELECT day, cents, length(bin(cents)) AS blen FROM base_day)
          GROUP BY 1, 2, 3
        ),
        hist AS (
          SELECT day, blen, sub, cnt,
                 (CAST(1 AS BIGINT) << (blen - 1)) AS base
          FROM (
            SELECT day, blen, sub, cnt FROM hist_daily
            UNION ALL
            SELECT 'ALL', blen, sub, SUM(cnt)
            FROM hist_daily GROUP BY 2, 3
          )
        ),
        cum AS (
          SELECT day, blen, sub, base,
                 SUM(cnt) OVER (PARTITION BY day ORDER BY blen, sub) AS cum
          FROM hist
        ),
        totals AS (SELECT day, SUM(cnt) AS n FROM hist GROUP BY day),
        probes AS ({probe_rows}),
        ranks AS (
          SELECT day, q_label, (q_pct * n + 99) // 100 AS rank
          FROM totals CROSS JOIN probes
        ),
        picked AS (
          SELECT day, q_label, rank, base,
                 16 * base + (2 * sub + 1) * base AS est16
          FROM (
            SELECT r.day, r.q_label, r.rank, c.base, c.sub,
                   ROW_NUMBER() OVER (PARTITION BY r.day, r.q_label
                                      ORDER BY c.blen, c.sub) AS rn
            FROM ranks r JOIN cum c ON r.day = c.day
            WHERE c.cum >= r.rank
          ) WHERE rn = 1
        ),
        audit_base AS (
          SELECT day, cents FROM base_day
          UNION ALL
          SELECT 'ALL', cents FROM base_day
        ),
        exact AS (
          SELECT r.day, r.q_label, b.cents AS exact_cents
          FROM (
            SELECT day, cents,
                   ROW_NUMBER() OVER (PARTITION BY day ORDER BY cents) AS rn
            FROM audit_base
          ) b JOIN ranks r ON b.day = r.day AND b.rn = r.rank
        )
        SELECT p.day, p.q_label,
               est16 / 1600.0 AS est_value,
               exact_cents / 100.0 AS exact_value,
               abs(est16 - exact_cents * 16) <= base AS within_bound
        FROM picked p
        JOIN exact e ON p.day = e.day AND p.q_label = e.q_label
        ORDER BY p.day, p.q_label
    """


# ------------------------------------------------------- salt planning
SALT_TARGET_ROWS = 1_000


def salt_plan(
    df: DataFrame, key: str, target_rows: int = SALT_TARGET_ROWS
) -> DataFrame:
    """Skew-mitigation PLAN — the decision step after
    :func:`key_skew_profile`'s diagnosis: for every key whose frequency
    exceeds ``target_rows`` (the per-task row budget), the salt factor
    ``ceil(freq / target)`` that splits it into at-budget subkeys, plus
    what share of the table each hot key drags. Feeding this table into
    :func:`salted_join` (or AQE skew hints) is how a 100 TB shuffle
    avoids the one-straggler-task plateau.

    ceil is the exact integer form ``(freq + target - 1) div target``;
    share is exact ppm of a 1-row total broadcast. One combinable
    key-count aggregate; only above-budget keys survive to the output
    (bounded by |hot keys|, not |keys|)."""
    freqs = df.groupBy(F.col(key).alias("key")).agg(
        F.count("*").alias("freq")
    )
    total = freqs.agg(F.sum("freq").alias("_tot"))
    return (
        freqs.filter(F.col("freq") > target_rows)
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "freq",
            F.expr(
                f"(freq + {int(target_rows)} - 1) div {int(target_rows)}"
            ).alias("salt_factor"),
            F.expr("freq * 1000000 div _tot").alias("share_ppm"),
        )
        .orderBy(F.desc("freq"), F.asc("key"))
    )


def salted_agg_by_plan(
    df: DataFrame,
    key: str,
    value_col: str,
    row_key: str,
    target_rows: int = SALT_TARGET_ROWS,
) -> DataFrame:
    """:func:`salt_plan` wired into a real consumer (r7 verdict item 8):
    a per-key count/sum aggregate whose HOT keys (the plan's output) are
    split into ``salt_factor`` subkeys for the first shuffle, then
    merged — so no reduce task ever receives more than ~``target_rows``
    rows for one key, the straggler-task plateau a plain ``GROUP BY``
    hits when one key owns half the table. Cold keys keep salt 0 and pay
    nothing extra.

    The salt is ``xxhash64(row_key) mod salt_factor`` — deterministic
    per row, so retries/replays land in the same subkey. Both stages are
    algebraic (count/sum compose across partials), so the merged result
    is EXACTLY the plain aggregate — the DuckDB oracle is the unsalted
    ``GROUP BY``. ``salt_factor`` is carried into the output so the
    consumer can see which keys the plan split.

    MEASURED caveat (100M-row smoke, 50%-hot key): for BUILT-IN
    algebraic aggregates Spark's map-side partial aggregation already
    collapses each partition to <= |keys| rows before the shuffle, so
    the plain plan has no straggler and beats this one (1.0 s vs
    20.3 s — the salt pays two extra scans plus a join). This operator
    is the plan-wiring demonstration; the salt discipline's genuine
    scale consumers are the shapes WITHOUT map-side combine: skewed
    joins (:func:`salted_join`) and sort/buffer-based per-key state."""
    plan = salt_plan(df, key, target_rows).select(
        F.col("key").alias("_k"), "salt_factor"
    )
    staged = (
        df.select(
            F.col(key).alias("_k"),
            cents(value_col).alias("_cents"),
            F.col(row_key).alias("_rk"),
        )
        .join(F.broadcast(plan), "_k", "left")
        .select(
            "_k",
            "_cents",
            F.coalesce("salt_factor", F.lit(1)).cast("long").alias("sf"),
            F.pmod(
                F.xxhash64("_rk"), F.coalesce("salt_factor", F.lit(1))
            ).alias("_salt"),
        )
    )
    partial = staged.groupBy("_k", "_salt").agg(
        F.count("*").alias("_n"),
        F.sum("_cents").alias("_c"),
        F.max("sf").alias("_sf"),  # constant within the key
    )
    return (
        partial.groupBy("_k")
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.sum("_c").cast("long").alias("total_cents"),
            F.max("_sf").cast("long").alias("salt_factor"),
        )
        .select(F.col("_k").alias(key), "n_rows", "total_cents", "salt_factor")
        .orderBy(key)
    )


def salted_agg_by_plan_sql(
    src: str,
    key: str,
    value_col: str,
    target_rows: int = SALT_TARGET_ROWS,
) -> str:
    """Oracle twin of :func:`salted_agg_by_plan` — the PLAIN aggregate
    (salting must not change the answer), plus the plan's salt_factor
    derived from each key's frequency."""
    return f"""
        SELECT {key},
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(CASE WHEN COUNT(*) > {int(target_rows)}
                    THEN (COUNT(*) + {int(target_rows)} - 1)
                         // {int(target_rows)}
                    ELSE 1 END AS BIGINT) AS salt_factor
        FROM {src}
        GROUP BY {key}
        ORDER BY {key}
    """


def salt_plan_sql(
    src: str, key: str, target_rows: int = SALT_TARGET_ROWS
) -> str:
    return f"""
        WITH freqs AS (
          SELECT {key} AS key, CAST(COUNT(*) AS BIGINT) AS freq
          FROM {src} GROUP BY 1
        ),
        total AS (SELECT SUM(freq) AS _tot FROM freqs)
        SELECT key, freq,
               CAST((freq + {int(target_rows)} - 1) // {int(target_rows)}
                    AS BIGINT) AS salt_factor,
               CAST(freq * 1000000 // _tot AS BIGINT) AS share_ppm
        FROM freqs, total
        WHERE freq > {int(target_rows)}
        ORDER BY freq DESC, key ASC
    """


# ------------------------------------------------ CMS heavy-change probe
def cms_heavy_change(
    df: DataFrame,
    key: str,
    date_col: str,
    query_keys: list[int],
) -> DataFrame:
    """Heavy-CHANGE detection between two period sketches — the
    snapshot-diff question ("which keys' traffic moved most since last
    period?") answered from MERGEABLE state: one d x w count-min
    counter table per midpoint-split period (built in ONE combinable
    aggregate each — at most 2·d·w groups survive the shuffle at any
    input size), probe keys answered by min-over-rows per period, and
    the estimated delta certified against the exact per-period truth.

    At 100 TB the two counter tables are the ONLY state the diff needs
    (a few KB each, stored per day and merged by addition into
    arbitrary windows); the exact-truth join here is the fixture-scale
    certification, not the production path. Probe buckets are computed
    driver-side from the shared universal-hash constants and enter as
    literal rows (the :func:`cms_estimate` discipline)."""
    spark = df.sparkSession
    base = df.select(
        F.col(key).alias("_k"), F.to_date(date_col).alias("d")
    )
    tagged = with_midpoint(base).select(
        "_k", F.expr("CASE WHEN d <= mid THEN 1 ELSE 2 END").alias("period")
    )
    counters = (
        tagged.select(
            "period",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            F.expr(_cms_bucket_sql("_k", r)).alias("bucket"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("rb"),
        )
        .select("period", "rb.r", "rb.bucket")
        .groupBy("period", "r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    probes = local_table(
        spark,
        [
            (int(k), r, _cms_bucket_py(int(k), r))
            for k in query_keys
            for r in range(CMS_D)
        ],
        f"{key} long, r int, bucket long",
    )
    # probe x {1,2}: generate BOTH periods per probe row before the
    # counter join, so a bucket with zero count in one period still
    # contributes COALESCE(cnt,0)=0 to that period's MIN — matching
    # cms_estimate's zero-bucket semantics. Grouping by the counter-side
    # period instead (r8 advice) silently dropped those zeros and could
    # report a large est for a key inactive in a period.
    periods = local_table(spark, [(1,), (2,)], "period int")
    ests = (
        probes.crossJoin(F.broadcast(periods))
        .join(F.broadcast(counters), ["r", "bucket", "period"], "left")
        .groupBy(key, "period")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
        .groupBy(key)
        .agg(
            F.max(F.expr("CASE WHEN period = 1 THEN est END")).alias("_e1"),
            F.max(F.expr("CASE WHEN period = 2 THEN est END")).alias("_e2"),
        )
    )
    truth = (
        tagged.filter(F.col("_k").isin([int(k) for k in query_keys]))
        .groupBy(F.col("_k").alias(key))
        .agg(
            F.sum((F.col("period") == 1).cast("long")).alias("_t1"),
            F.sum((F.col("period") == 2).cast("long")).alias("_t2"),
        )
    )
    return (
        ests.join(truth, key, "left")
        .select(
            key,
            F.coalesce("_e1", F.lit(0)).cast("long").alias("est_pre"),
            F.coalesce("_e2", F.lit(0)).cast("long").alias("est_post"),
            (F.coalesce("_e2", F.lit(0)) - F.coalesce("_e1", F.lit(0)))
            .cast("long")
            .alias("est_delta"),
            (F.coalesce("_t2", F.lit(0)) - F.coalesce("_t1", F.lit(0)))
            .cast("long")
            .alias("true_delta"),
        )
        .orderBy(key)
    )


def cms_heavy_change_sql(
    src: str, key: str, date_col: str, query_keys: list[int]
) -> str:
    rows = ",\n                 ".join(
        f"({int(k)}, {r}, {_cms_bucket_py(int(k), r)})"
        for k in query_keys
        for r in range(CMS_D)
    )
    union_rows = "\n          UNION ALL ".join(
        f"SELECT period, {r} AS r, {_cms_bucket_sql('_k', r)} AS bucket"
        " FROM tagged"
        for r in range(CMS_D)
    )
    keys_in = ", ".join(str(int(k)) for k in query_keys)
    return f"""
        WITH base AS (
          SELECT {key} AS _k, CAST({date_col} AS DATE) AS d FROM {src}
        ),
        bounds AS (
          SELECT MIN(d) + CAST((MAX(d) - MIN(d)) // 2 AS INTEGER) AS mid
          FROM base
        ),
        tagged AS (
          SELECT _k,
                 CASE WHEN d <= (SELECT mid FROM bounds) THEN 1 ELSE 2 END
                   AS period
          FROM base
        ),
        exploded AS (
          {union_rows}
        ),
        counters AS (
          SELECT period, r, bucket, COUNT(*) AS cnt
          FROM exploded GROUP BY 1, 2, 3
        ),
        probes({key}, r, bucket) AS (VALUES {rows}),
        per_period AS (
          -- group by the GENERATED pp.period (not the nullable
          -- counter-side c2.period): an unmatched probe bucket must
          -- contribute COALESCE(cnt,0)=0 to its period's MIN, exactly
          -- like cms_estimate's zero-bucket semantics (r8 advice)
          SELECT p.{key}, pp.period,
                 MIN(COALESCE(c2.cnt, 0)) AS est
          FROM probes p
          JOIN (SELECT 1 AS period UNION ALL SELECT 2) pp ON TRUE
          LEFT JOIN counters c2
            ON c2.r = p.r AND c2.bucket = p.bucket AND c2.period = pp.period
          GROUP BY p.{key}, pp.period
        ),
        ests AS (
          SELECT {key},
                 MAX(CASE WHEN period = 1 THEN est END) AS _e1,
                 MAX(CASE WHEN period = 2 THEN est END) AS _e2
          FROM per_period GROUP BY {key}
        ),
        truth AS (
          SELECT _k AS {key},
                 SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS _t1,
                 SUM(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS _t2
          FROM tagged WHERE _k IN ({keys_in}) GROUP BY 1
        )
        SELECT e.{key},
               CAST(COALESCE(e._e1, 0) AS BIGINT) AS est_pre,
               CAST(COALESCE(e._e2, 0) AS BIGINT) AS est_post,
               CAST(COALESCE(e._e2, 0) - COALESCE(e._e1, 0) AS BIGINT)
                 AS est_delta,
               CAST(COALESCE(t._t2, 0) - COALESCE(t._t1, 0) AS BIGINT)
                 AS true_delta
        FROM ests e LEFT JOIN truth t USING ({key})
        ORDER BY {key}
    """
