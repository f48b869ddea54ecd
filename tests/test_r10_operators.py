"""Round-10 hardening: the hot-shard escalation inside the sharded
global-rank helper, its NULL-value contract, and the clustered-bucket
recursion in exact percentiles. Reference semantics stay plain ANSI
ROW_NUMBER / cumulative SUM / PERCENTILE_CONT (cited at reference
backend/app/core/aggregates.py for the rank-consuming ops); these tests
pin that every escalation level is BIT-IDENTICAL to the unpartitioned
window it replaces while provably splitting the work."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from audience_manager_platform_spark.operators.partitioning import (
    global_row_positions,
)


def _sym_diff_empty(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_hot_shard_escalation_constant_value_splits_and_is_exact(spark):
    # THE pathological case from the r9 verdict: everyone spends the same
    # amount, so every row lands in one width-bucket shard. The second
    # level must re-shard by the tiebreak surrogate — common-prefix
    # string ids, the worst case for a fixed-prefix surrogate.
    df = spark.range(256).select(
        F.lit(9.99).alias("v"),
        F.format_string("user_%06d", F.col("id")).alias("k"),
    )
    got = global_row_positions(
        df, "v", ["k"], hot_shard_rows=16, n_sub=8, keep_cells=True
    )
    cells = got.groupBy("_shard", "_sub").count().collect()
    assert max(r["count"] for r in cells) < 256, "no split happened"
    assert len(cells) >= 4
    w = Window.orderBy(F.asc("v"), F.asc("k"))
    exp = df.select(
        "v", "k", F.row_number().over(w).cast("long").alias("_gpos")
    )
    assert _sym_diff_empty(got.select("v", "k", "_gpos"), exp)


def test_hot_shard_escalation_numeric_tiebreak_and_running_sum(spark):
    # constant value + NUMERIC tiebreak + descending + running sum: the
    # surrogate takes the cast-double path and _gsum must still be the
    # exact inclusive running sum in the global order
    df = spark.range(200).select(
        F.lit(5.0).alias("v"),
        F.col("id").alias("k"),
        (F.col("id") % 9 + 1).alias("x"),
    )
    got = global_row_positions(
        df,
        "v",
        ["k"],
        descending=True,
        running_sum_col="x",
        hot_shard_rows=20,
        n_sub=8,
        keep_cells=True,
    )
    cells = got.groupBy("_shard", "_sub").count().collect()
    assert max(r["count"] for r in cells) < 200
    w = Window.orderBy(F.desc("v"), F.asc("k"))
    exp = df.select(
        "v",
        "k",
        F.row_number().over(w).cast("long").alias("_gpos"),
        F.sum("x")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_gsum"),
    )
    assert _sym_diff_empty(got.select("v", "k", "_gpos", "_gsum"), exp)


def test_hot_shard_escalation_value_spread_rebuckets_on_value(spark):
    # a hot shard whose values DO spread re-buckets on the value itself
    # (shard-local bounds), not the tiebreak
    df = spark.range(300).select(
        (F.col("id") % 50).cast("double").alias("v"),
        F.col("id").alias("k"),
    )
    got = global_row_positions(
        df, "v", ["k"], n_parts=1, hot_shard_rows=30, n_sub=8, keep_cells=True
    )
    cells = got.groupBy("_shard", "_sub").count().collect()
    assert max(r["count"] for r in cells) < 300
    w = Window.orderBy(F.asc("v"), F.asc("k"))
    exp = df.select(
        "v", "k", F.row_number().over(w).cast("long").alias("_gpos")
    )
    assert _sym_diff_empty(got.select("v", "k", "_gpos"), exp)


def test_null_values_keep_spark_null_order_and_are_never_dropped(spark):
    # r9 ADVICE (medium): NULL value rows used to fall out of the shard
    # join, shifting every other position. They must survive and take
    # Spark's null placement: FIRST under ASC, LAST under DESC.
    df = spark.range(40).select(
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
        F.col("id").alias("k"),
    )
    for desc in (False, True):
        got = global_row_positions(df, "v", ["k"], descending=desc)
        assert got.count() == 40, "rows were dropped"
        order = F.desc("v") if desc else F.asc("v")
        w = Window.orderBy(order, F.asc("k"))
        exp = df.select(
            "v", "k", F.row_number().over(w).cast("long").alias("_gpos")
        )
        assert _sym_diff_empty(got.select("v", "k", "_gpos"), exp)


def test_null_values_inside_hot_shard(spark):
    # nulls mixed into a hot constant-value shard: pinned to the boundary
    # sub-shard, positions still exact under Spark's null placement
    df = spark.range(120).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.lit(7.5)).alias("v"),
        F.col("id").alias("k"),
    )
    got = global_row_positions(
        df, "v", ["k"], hot_shard_rows=10, n_sub=4, keep_cells=True
    )
    assert got.count() == 120
    w = Window.orderBy(F.asc("v"), F.asc("k"))
    exp = df.select(
        "v", "k", F.row_number().over(w).cast("long").alias("_gpos")
    )
    assert _sym_diff_empty(got.select("v", "k", "_gpos"), exp)


def test_all_null_value_hot_shard_splits_by_tiebreak(spark):
    # every value NULL: the whole table is one null-shard; the tiebreak
    # surrogate must still split it
    df = spark.range(100).select(
        F.lit(None).cast("double").alias("v"),
        F.format_string("id_%04d", F.col("id")).alias("k"),
    )
    got = global_row_positions(
        df, "v", ["k"], hot_shard_rows=10, n_sub=8, keep_cells=True
    )
    cells = got.groupBy("_shard", "_sub").count().collect()
    assert max(r["count"] for r in cells) < 100
    ks = [r["k"] for r in got.orderBy("_gpos").select("k").collect()]
    assert ks == sorted(ks)


def test_non_numeric_shuffle_partitions_conf_falls_back():
    # r9 ADVICE (low): some managed platforms set
    # spark.sql.shuffle.partitions to "auto" (vanilla Spark rejects the
    # set, so the stub emulates the platform conf getter); the helper
    # must fall back instead of crashing on int()
    from audience_manager_platform_spark.operators.partitioning import (
        _default_n_parts,
    )

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key, default=None):
            return self._v

    class _S:
        def __init__(self, v):
            self.conf = _Conf(v)

    assert _default_n_parts(_S("auto")) == 32
    assert _default_n_parts(_S("64")) == 64


# ------------------- exact percentiles: clustered-bucket recursion --------


def _pct_ref(vals, grp_col):
    return vals.groupBy(grp_col).agg(
        F.round(F.expr("percentile(v, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(v, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(v, 0.75)"), 4).alias("p75"),
    )


def test_exact_percentiles_99pct_one_value_resolves_without_sorting(spark):
    from audience_manager_platform_spark.registry.tpch_extra import (
        exact_group_percentiles,
    )

    # 99% of group A at exactly 42.0, 1% spread: the clustered bucket must
    # recurse, the constant sub-run must resolve DRIVER-SIDE, and pass B
    # must never sort the clustered mass
    n = 3000
    df = spark.range(n).select(
        F.lit("A").alias("g"),
        F.when(F.col("id") % 100 == 0, F.col("id").cast("double"))
        .otherwise(F.lit(42.0))
        .alias("v"),
    )
    debug = {}
    got = exact_group_percentiles(
        spark, df, "g", oversize_min_rows=0, debug=debug
    )
    assert debug["oversized"], "clustered bucket was not escalated"
    assert debug["resolved_driver_side"] >= 1
    assert debug["pass_b_rows_bound"] < n * 0.5, (
        "pass B would still sort the clustered mass"
    )
    assert _sym_diff_empty(got, _pct_ref(df, "g"))


def test_exact_percentiles_all_constant_group(spark):
    from audience_manager_platform_spark.registry.tpch_extra import (
        exact_group_percentiles,
    )

    df = spark.range(500).select(
        F.lit("C").alias("g"), F.lit(7.25).alias("v")
    )
    debug = {}
    got = exact_group_percentiles(
        spark, df, "g", oversize_min_rows=0, debug=debug
    )
    # every endpoint (lo and hi per pct when the rank is fractional) is
    # driver-known
    assert debug["resolved_driver_side"] in (3, 6)
    assert debug["pass_b_rows_bound"] == 0
    rows = got.collect()
    assert rows[0]["p25"] == rows[0]["p50"] == rows[0]["p75"] == 7.25


def test_exact_percentiles_unchanged_on_spread_data(spark):
    from audience_manager_platform_spark.registry.tpch_extra import (
        exact_group_percentiles,
    )

    # well-spread data must take the ORIGINAL (non-recursive) path and
    # match ANSI percentile exactly, group by group
    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 37 % 997).cast("double").alias("v"),
    )
    debug = {}
    got = exact_group_percentiles(spark, df, "g", debug=debug)
    assert debug["oversized"] == []
    assert _sym_diff_empty(got, _pct_ref(df, "g"))


# ----------------------- graph-ANN: auto-sized build + param contract -----


def test_graph_auto_n_clusters_formula():
    from audience_manager_platform_spark.operators.similarity import (
        KMEANS_K,
        graph_auto_n_clusters,
    )

    # fixture-sized corpora keep the historical K (and hashes)
    assert graph_auto_n_clusters(2_000) == KMEANS_K
    assert graph_auto_n_clusters(0) == KMEANS_K
    # at scale the cell count grows linearly: cell size stays ~200
    assert graph_auto_n_clusters(100_000) == 500
    assert graph_auto_n_clusters(10_000_000) == 50_000


def test_graph_beam_topk_validates_steps_and_k(spark):
    import pytest

    from audience_manager_platform_spark.operators import similarity as S
    from audience_manager_platform_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="steps"):
        S.graph_beam_topk(emb, [0], steps=0)
    with pytest.raises(ValueError, match="beam"):
        S.graph_beam_topk(emb, [0], k=20, beam=8)


def test_graph_beam_topk_zero_norm_query_without_ansi(spark, sf_dir):
    # a zero-norm query scores NULL against every centroid when ANSI is
    # off; the driver-side probe cut must order those NULLs like Spark
    # (last), not fail on them
    from audience_manager_platform_spark.operators import similarity as S
    from audience_manager_platform_spark.sources import load_table

    zero = S.KMEANS_K + 4
    emb = load_table(spark, sf_dir, "embeddings")
    emb = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == zero,
            F.array_repeat(F.lit(0.0).cast("float"), S.EMBED_DIM),
        ).otherwise(F.col("embedding")),
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        out = S.graph_beam_topk(emb, [zero], k=3).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [r.rank for r in out] == [1, 2, 3]
    assert all(r.query_id == zero and r.csim is None for r in out)


def test_desc_key_orders_like_spark_desc():
    from audience_manager_platform_spark.operators import similarity as S

    vals = [0.5, None, float("nan"), -1.0, 2.0]
    got = sorted(vals, key=S._desc_key)
    assert repr(got) == repr([float("nan"), 2.0, 0.5, -1.0, None])


def test_graph_beam_superstep_rows_stay_bounded(spark):
    from audience_manager_platform_spark.operators import similarity as S
    from audience_manager_platform_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    model = S.kmeans_fit_model(emb, S.KMEANS_K, 1)
    rows: list[int] = []
    qids = [0, 1, 2]
    out = S.graph_beam_topk(
        emb, qids, k=5, model=model, superstep_rows=rows
    ).collect()
    assert len(rows) == S.GRAPH_STEPS
    assert out  # search still returns results with instrumentation on
    # sound per-step bound uses the measured max symmetrized degree
    edges = S.graph_knn_edges(emb, model=model)
    max_deg = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    bound = len(qids) * S.GRAPH_BEAM * (max_deg + 1)
    assert all(r <= bound for r in rows), (rows, bound)


# --------------------------------- wave 49: new operators ----------------
from datetime import datetime

_EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def test_edit_distance_pairs_finds_planted_twins_only(spark):
    from audience_manager_platform_spark.operators.dedup import (
        edit_distance_pairs,
        plant_text_twins,
    )

    base = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (50, "pack my box with five dozen liquor jugs"),
            (7, "a completely unrelated document about spark plans"),
            (8, "the quick brown fox jumps over the lazy cat"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in edit_distance_pairs(plant_text_twins(base)).collect()
    }
    # both planted twins land at exactly dist 2 (" x" appended)
    assert pairs[(0, 1_000_000)] == 2
    assert pairs[(50, 1_000_050)] == 2
    # the natural near-pair shares the 16-char prefix and dist 3
    assert pairs[(0, 8)] == 3
    assert len(pairs) == 3  # nothing else sneaks in


def test_edit_distance_hot_block_is_capped(spark):
    from audience_manager_platform_spark.operators.dedup import (
        edit_distance_pairs,
    )
    from pyspark.sql import functions as F2

    # 200 docs sharing one boilerplate prefix: the block cap must
    # exclude the degenerate block instead of running 200^2 comparisons
    df = spark.range(200).select(
        F2.col("id").alias("doc_id"),
        F2.concat(
            F2.lit("shared boilerplate prefix "),
            F2.col("id").cast("string"),
        ).alias("text"),
    )
    assert edit_distance_pairs(df, max_block=50).count() == 0


def test_benford_on_exact_benford_sample(spark):
    from audience_manager_platform_spark.operators.validation import (
        benford_price_audit,
    )

    # counts proportional to log10(1+1/d) out of 1000: chi2 ~ 0
    import math

    rows = []
    i = 0
    for d in range(1, 10):
        n_d = round(1000 * math.log10(1 + 1 / d))
        for _ in range(n_d):
            rows.append((i, float(f"{d}00.00")))
            i += 1
    df = spark.createDataFrame(rows, "id long, amount double")
    got = benford_price_audit(df, "amount").collect()
    assert [r["digit"] for r in got] == list(range(1, 10))
    assert sum(r["n_d"] for r in got) == len(rows)
    assert all(r["chi2_contrib"] < 0.01 for r in got)
    assert abs(sum(r["expected_share"] for r in got) - 1.0) < 1e-4


def test_benford_flags_uniform_digits(spark):
    from audience_manager_platform_spark.operators.validation import (
        benford_price_audit,
    )

    # uniform first digits are maximally non-Benford: chi2 total is
    # large and digit 1 (expected 30.1%, observed 11.1%) dominates
    df = spark.range(900).select(
        "id", ((F.col("id") % 9 + 1) * 100.0).alias("amount")
    )
    got = {r["digit"]: r for r in benford_price_audit(df, "amount").collect()}
    assert all(got[d]["n_d"] == 100 for d in range(1, 10))
    total_chi2 = sum(r["chi2_contrib"] for r in got.values())
    assert total_chi2 > 100  # wildly non-Benford
    assert got[1]["chi2_contrib"] == max(
        r["chi2_contrib"] for r in got.values()
    )


def _arm_events_w(spark, n_users=60):
    rows = []
    for u in range(1, n_users + 1):
        rows += [(datetime(2024, 1, 2), u, "view", 0.0)]
        rows += [(datetime(2024, 1, 15), u, "purchase", float(u % 7) * 3.0)]
    return (
        spark.createDataFrame(
            [
                (i, ts, uid, et, val, "{}")
                for i, (ts, uid, et, val) in enumerate(rows)
            ],
            _EVENTS_SCHEMA,
        ),
        {u: int(round(float(u % 7) * 3.0 * 100)) for u in range(1, n_users + 1)},
    )


def test_welch_pairwise_matches_pure_python_reference(spark):
    import hashlib
    import math

    from audience_manager_platform_spark.operators.analytics import (
        welch_pairwise_arms,
    )

    ev, y_of = _arm_events_w(spark)
    arms = {}
    for u, y in y_of.items():
        a = int(hashlib.md5(f"ab-v1{u}".encode()).hexdigest()[:15], 16) % 4
        arms.setdefault(a, []).append(y)

    def stats(v):
        n = len(v)
        m = sum(v) / n
        var = sum((x - m) ** 2 for x in v) / (n - 1)
        return n, m, var

    got = welch_pairwise_arms(ev).collect()
    assert len(got) == 6  # C(4,2) pairs
    for r in got:
        n1, m1, v1 = stats(arms[r["arm_a"]])
        n2, m2, v2 = stats(arms[r["arm_b"]])
        se2 = v1 / n1 + v2 / n2
        want_t = round((m1 - m2) / math.sqrt(se2), 6)
        want_dof = round(
            se2 * se2
            / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)),
            6,
        )
        assert r["n_a"] == n1 and r["n_b"] == n2
        assert abs(r["t_stat"] - want_t) < 1e-6, (r, want_t)
        assert abs(r["welch_dof"] - want_dof) < 1e-6


# ------------------------- hierarchical (two-level) coarse quantizer
# r10: the r9 "sampled/hierarchical coarse quantizer — documented, not
# implemented" residual. The fit is driver state over a bounded sample;
# the assign is the production Arrow kernel. Quality is gated against
# the flat assign, structure against the id contract.

def _load_emb(spark, sf_dir):
    from audience_manager_platform_spark.sources import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_hier_fit_model_structure_and_determinism(spark, sf_dir):
    from audience_manager_platform_spark.operators import similarity as S

    emb = _load_emb(spark, sf_dir)
    m1a, m2a = S.hier_fit_model(emb, n_clusters=32, iters=1)
    m1b, m2b = S.hier_fit_model(emb, n_clusters=32, iters=1)
    assert m1a == m1b and m2a == m2b, "fit must be deterministic"
    assert set(m2a) == {sid for sid, _ in m1a}
    flat = S.hier_flat_model(m2a)
    ids = [cid for cid, _ in flat]
    assert len(ids) == len(set(ids)), "global cent_ids must be unique"
    # id contract: cent_id encodes its super
    for sid, subs in m2a.items():
        for cid, _ in subs:
            assert cid // S.HIER_ID_STRIDE == sid
    # sub-cell budget lands near K (proportional rounding, >= 1 per super)
    assert len(m1a) <= 32
    assert 32 * 0.5 <= len(flat) <= 32 * 1.5 + len(m1a)


def test_two_level_assign_total_and_consistent(spark, sf_dir):
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators import similarity as S

    emb = _load_emb(spark, sf_dir)
    base = emb.select("vec_id", S._vec_double().alias("v"))
    m1, m2 = S.hier_fit_model(emb, n_clusters=25, iters=1)
    got = S.assign_cells_two_level(base, m1, m2)
    n = base.count()
    assert got.count() == n, "every vector must be assigned"
    # cent_id always belongs to the chosen super's sub-list
    bad = got.filter(
        (F.col("cent_id") / S.HIER_ID_STRIDE).cast("long")
        != F.col("super_id")
    ).count()
    assert bad == 0
    # deterministic across runs
    again = S.assign_cells_two_level(base, m1, m2)
    assert got.exceptAll(again).count() == 0
    assert again.exceptAll(got).count() == 0


def test_two_level_assign_quality_close_to_flat(spark, sf_dir):
    """The hierarchy trades boundary-exactness for n·2√K cost; on the
    fixture the mean level-2 cosine must stay within 5% of the flat
    argmax over the SAME flattened centroids (it equals flat wherever
    the level-1 winner owns the true best sub-cell)."""
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators import similarity as S

    emb = _load_emb(spark, sf_dir)
    base = emb.select("vec_id", S._vec_double().alias("v"))
    m1, m2 = S.hier_fit_model(emb, n_clusters=25, iters=1)
    flat_model = S.hier_flat_model(m2)
    two = S.assign_cells_two_level(base, m1, m2)
    flat = S.assign_cells_arrow(base, flat_model)
    mean_two = two.agg(F.avg("csim")).collect()[0][0]
    mean_flat = flat.agg(F.avg("csim")).collect()[0][0]
    assert mean_flat >= mean_two - 1e-12, "flat argmax is the upper bound"
    assert mean_two >= 0.95 * mean_flat, (mean_two, mean_flat)


def test_two_level_seed_assign_partitions_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators import similarity as S

    emb = _load_emb(spark, sf_dir)
    out = S.two_level_seed_assign(emb, k1=4, k2=4).collect()
    assert sum(r["size"] for r in out) == emb.count()
    assert len({r["cent_id"] for r in out}) == len(out)
    # seed sub-centroids are real vectors: each super has <= k2 of them
    per_super = {}
    for r in out:
        per_super.setdefault(r["super_id"], 0)
        per_super[r["super_id"]] += 1
    assert all(v <= 4 for v in per_super.values())
    assert set(per_super) <= {0, 1, 2, 3}


def test_graph_knn_edges_hier_auto_path(spark, sf_dir, monkeypatch):
    """Force the auto path over the hierarchy threshold: edges must come
    back symmetric and nonempty, proving the two-level assigned table
    feeds the same downstream build."""
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators import similarity as S

    emb = _load_emb(spark, sf_dir).limit(300)
    monkeypatch.setattr(S, "HIER_K_THRESHOLD", 4)
    edges = S.graph_knn_edges(emb, m=3, n_clusters=9)
    rows = edges.count()
    assert rows > 0
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    assert edges.exceptAll(rev).count() == 0, "graph must be symmetric"


# ----------------------- wave 50: experiment-ops completion arc
def test_stratified_ate_zero_effect_when_outcomes_identical(spark):
    """Constant per-user outcome: every band's treated and control means
    are identical, so ate_micro must be exactly 0 in every band, while
    e_hat still tracks the band-confounded assignment rates."""
    from audience_manager_platform_spark.operators.analytics import (
        stratified_ate,
    )

    n = 4000
    ev = spark.range(n).selectExpr(
        "id AS event_id",
        "id AS user_id",
        # pre-period event: spend that spreads users across all 4 bands
        "timestamp'2024-01-05 00:00:00' AS ts",
        "CAST(id % 4 AS DOUBLE) * 150.0 AS value",
        "'purchase' AS event_type",
    ).unionByName(
        spark.range(n).selectExpr(
            "id + 1000000 AS event_id",
            "id AS user_id",
            # post-period: IDENTICAL outcome for every user
            "timestamp'2024-01-25 00:00:00' AS ts",
            "CAST(1.0 AS DOUBLE) AS value",
            "'purchase' AS event_type",
        )
    )
    out = stratified_ate(ev).collect()
    assert len(out) >= 2
    assert sum(r["n"] for r in out) == n
    for r in out:
        assert r["mean_t_micro"] == r["mean_c_micro"] == 100 * 1_000_000
        assert r["ate_micro"] == 0
        assert abs(r["e_hat"] - (0.30 + 0.10 * r["band"])) < 0.08


def test_mde_power_arms_shape_and_formula(spark, sf_dir):
    from audience_manager_platform_spark.operators.analytics import (
        MDE_Z_ALPHA,
        MDE_Z_POWER,
        mde_power_arms,
    )
    from audience_manager_platform_spark.sources import load_table

    out = mde_power_arms(load_table(spark, sf_dir, "events")).collect()
    assert len(out) == 6  # 4 choose 2
    for r in out:
        assert r["arm_a"] < r["arm_b"]
        assert r["se_cents"] is not None and r["se_cents"] > 0
        z = MDE_Z_ALPHA + MDE_Z_POWER
        assert abs(r["mde_cents"] - z * r["se_cents"]) < 1e-4 * z
        if r["mde_rel_pct"] is not None:
            assert r["mde_rel_pct"] > 0


def test_welch_bh_fdr_stepup_properties(spark, sf_dir):
    from audience_manager_platform_spark.operators.analytics import (
        welch_bh_fdr,
    )
    from audience_manager_platform_spark.sources import load_table

    out = welch_bh_fdr(load_table(spark, sf_dir, "events")).collect()
    assert len(out) == 6
    ranks = [r["p_rank"] for r in out]
    assert ranks == sorted(ranks) == list(range(1, 7))
    ps = [r["p_value"] for r in out]
    assert ps == sorted(ps)
    assert all(0 <= p <= 1 for p in ps)
    thr = [r["bh_threshold"] for r in out]
    assert thr == sorted(thr)
    # step-up: the rejected set is downward-closed in rank
    rejected = [r["rejected"] for r in out]
    seen_keep = False
    for flag in rejected:
        if not flag:
            seen_keep = True
        assert not (seen_keep and flag)


def test_norm_p_expr_matches_erfc(spark):
    """The shared A&S 26.2.17 expression must agree with the exact
    normal two-sided p (math.erfc) to its documented 7.5e-8 bound."""
    import math

    from audience_manager_platform_spark.operators.analytics import (
        _NORM_P_EXPR,
    )
    from pyspark.sql import functions as F

    zs = [0.0, 0.5, 1.0, 1.644854, 1.959964, 2.575829, 3.5, 5.0]
    df = spark.createDataFrame([(z,) for z in zs], "z double").withColumn(
        "tt", F.expr("1 / (1 + 0.2316419 * z)")
    )
    got = {
        r["z"]: r["p"]
        for r in df.withColumn("p", F.expr(_NORM_P_EXPR)).collect()
    }
    for z in zs:
        exact = math.erfc(z / math.sqrt(2.0))
        assert abs(got[z] - exact) < 2e-7, (z, got[z], exact)


def test_fellegi_sunter_pattern_weights_monotone(spark, sf_dir):
    """Flipping any field from disagree to agree must RAISE the match
    weight (m/u > 1 > (1-m)/(1-u) whenever u < m), the all-agree
    pattern carries the maximum, and pair counts account for every
    brand-blocked pair."""
    from audience_manager_platform_spark.operators.er import (
        fellegi_sunter_patterns,
    )
    from audience_manager_platform_spark.sources import load_table

    parts = load_table(spark, sf_dir, "part")
    out = fellegi_sunter_patterns(parts).collect()
    w = {
        (r["agree_type"], r["agree_size"], r["agree_tok"], r["agree_band"]):
        r["match_weight"]
        for r in out
    }
    for patt, wt in w.items():
        for i in range(4):
            if patt[i] == 0:
                up = tuple(1 if j == i else patt[j] for j in range(4))
                if up in w:
                    assert w[up] > wt, (patt, up)
    if (1, 1, 1, 1) in w:
        assert w[(1, 1, 1, 1)] == max(w.values())
    # every blocked pair is in exactly one pattern row
    from pyspark.sql import functions as F

    blocks = (
        parts.groupBy("p_brand").count()
        .agg(F.sum(F.expr("count * (count - 1) div 2")))
        .collect()[0][0]
    )
    assert sum(r["n_pairs"] for r in out) == blocks


def test_poisson_bootstrap_ci_brackets_the_mean(spark, sf_dir):
    from audience_manager_platform_spark.operators.analytics import (
        poisson_bootstrap_ci,
    )
    from audience_manager_platform_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = poisson_bootstrap_ci(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_users"] > 0
    assert 60 <= r["replicates"] <= 64  # sw=0 replicates are vanishing
    assert r["ci_lo_micro"] <= r["ci_hi_micro"]
    assert r["ci_lo_micro"] <= r["mean_micro"] <= r["ci_hi_micro"]
    # deterministic: the hash-derived weights make the CI reproducible
    again = poisson_bootstrap_ci(ev).collect()[0]
    assert again == r


def test_winsorized_mean_exactness_and_robustness(spark):
    """Synthetic with one monster whale: the winsorized mean must equal
    the hand-computed clamp, sit far below the raw mean, and the trimmed
    mean must equal the interior average exactly."""
    import math

    from audience_manager_platform_spark.operators.analytics import (
        winsorized_mean,
    )

    n = 100
    rows = [(i, i, "2024-01-10 00:00:00", 10.0) for i in range(n - 1)]
    rows.append((n - 1, n - 1, "2024-01-10 00:00:00", 1_000_000.0))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).selectExpr(
        "event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value",
        "'purchase' AS event_type"
    )
    r = winsorized_mean(ev).collect()[0]
    assert r["n_users"] == n
    lo_rank, hi_rank = max(1, math.ceil(0.05 * n)), math.ceil(0.95 * n)
    ys = sorted([1000] * (n - 1) + [100_000_000])
    assert r["y_lo"] == ys[lo_rank - 1] and r["y_hi"] == ys[hi_rank - 1]
    wins = sum(min(max(y, r["y_lo"]), r["y_hi"]) for y in ys)
    assert r["wins_mean_micro"] == wins * 1_000_000 // n
    trim = sum(ys[lo_rank:hi_rank])
    assert r["trim_mean_micro"] == trim * 1_000_000 // (hi_rank - lo_rank)
    # robustness: the whale drags the raw mean ~1000x above the robust pair
    assert r["raw_mean_micro"] > 100 * r["wins_mean_micro"]


def test_mann_kendall_planted_trends(spark):
    from audience_manager_platform_spark.operators.timeseries import (
        mann_kendall_trend,
    )

    n = 25
    rows = []
    for i in range(n):
        # 'up': strictly rising daily revenue; 'flat': constant (all tied)
        rows.append((i, i, f"2024-01-{i+1:02d} 12:00:00", 10.0 + i, "up"))
        rows.append((1000 + i, i, f"2024-01-{i+1:02d} 12:00:00", 5.0, "flat"))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double,"
        " event_type string"
    ).selectExpr(
        "event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value",
        "event_type"
    )
    got = {r["event_type"]: r for r in mann_kendall_trend(ev).collect()}
    up, flat = got["up"], got["flat"]
    assert up["s_stat"] == n * (n - 1) // 2  # every pair rises
    assert up["trend"] == "increasing" and up["z"] > 4
    assert flat["s_stat"] == 0 and flat["z"] == 0.0
    assert flat["trend"] == "no_trend" and flat["var_s"] == 0.0


def test_audio_fingerprint_twins_share_envelope(spark, sf_dir):
    """Every planted loudness twin must land in its base doc's cluster
    (same silence envelope despite half amplitude and different rate),
    and no cluster may consist of twins alone."""
    from audience_manager_platform_spark.operators import multimodal as M
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = M.audio_fingerprint_clusters(
        M.synthesize_wav_twinned(docs)
    ).collect()
    n_docs_total = docs.count()
    assert sum(r["n_docs"] for r in out) == n_docs_total + M.AUDIO_TWIN_N
    assert sum(r["n_twins"] for r in out) == M.AUDIO_TWIN_N
    for r in out:
        # a twin can never be alone: its base shares the fingerprint
        assert r["n_twins"] < r["n_docs"]
        assert r["keeper_doc_id"] < M.AUDIO_TWIN_OFFSET
        assert set(r["fingerprint"]) <= {"0", "1"}
        assert r["fingerprint"].startswith("11")


def test_msprt_always_valid_shape(spark, sf_dir):
    from audience_manager_platform_spark.operators.analytics import (
        msprt_always_valid,
    )
    from audience_manager_platform_spark.sources import load_table

    out = msprt_always_valid(load_table(spark, sf_dir, "events")).collect()
    assert len(out) == 6
    for r in out:
        assert 0 <= r["p_always_valid"] <= 1
        assert r["significant"] == (r["p_always_valid"] <= 0.05)
        # mixture LR identity: p = min(1, exp(-log_lambda)) at 6dp slack
        import math

        assert abs(
            r["p_always_valid"] - min(1.0, math.exp(-r["log_lambda"]))
        ) < 1e-5


def test_randomized_response_debias_converges(spark):
    """Synthetic 3-category corpus with known shares: the debiased
    estimates must land within the binomial noise band while the RAW
    reported shares are measurably biased toward uniform."""
    from pyspark.sql import functions as F

    from audience_manager_platform_spark.operators.validation import (
        randomized_response_estimate,
    )

    n = 30_000
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.expr(
            "CASE WHEN id % 10 < 7 THEN 'a' WHEN id % 10 < 9 THEN 'b' "
            "ELSE 'c' END"
        ).alias("event_type"),
    )
    got = {r["event_type"]: r for r in
           randomized_response_estimate(ev).collect()}
    for v, true_share in (("a", 0.7), ("b", 0.2), ("c", 0.1)):
        r = got[v]
        assert abs(r["true_share"] - true_share) < 0.01
        assert abs(r["est_share"] - r["true_share"]) < 0.02, (v, r)
        # the raw report IS biased toward uniform (1/3) — debias matters
        raw = r["n_reported"] / n
        assert abs(raw - true_share) > abs(r["est_share"] - true_share)
