"""Product-quantization semantics: codebook shape/density, encode
determinism, ADC vs exact ranking sanity. Oracle-level equivalence is
covered by the driver gate (pq_code_histogram / ann_pq_adc_topk)."""

from audience_manager_platform_spark.operators import pq as PQ
from audience_manager_platform_spark.operators import similarity as S
from audience_manager_platform_spark.sources import load_table


def test_codebooks_dense_and_sized(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    model = PQ.pq_fit_model(emb)
    assert len(model) == PQ.PQ_M
    for cb in model:
        assert [c for c, _ in cb] == list(range(PQ.PQ_K))
        assert all(len(cw) == PQ.SUB_DIM for _, cw in cb)


def test_encode_covers_corpus_once(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    model = PQ.pq_fit_model(emb)
    codes = PQ.pq_encode(emb, model)
    n = emb.count()
    assert codes.count() == n
    rows = codes.collect()
    assert len({r.vec_id for r in rows}) == n
    for j in range(PQ.PQ_M):
        assert all(0 <= r[f"c{j}"] < PQ.PQ_K for r in rows)
        assert all(r[f"d{j}"] >= 0 for r in rows)


def test_adc_selects_better_than_random(spark, sf_dir):
    """PQ's contract on weak-structure (near-uniform synthetic) data is
    not exact-top-k recall — with 4x16 codebooks the quantization error
    is comparable to the inter-point spread — but ADC must still
    CORRELATE with the exact metric: the true squared-L2 of the ADC
    top-5 must beat the corpus mean by a clear margin, for every query
    (a broken LUT, code join, or distance sign would erase this)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    adc = PQ.pq_adc_topk(emb, qids, k=5)
    vecs = {
        r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()
    }
    picked = {}
    for r in adc.collect():
        picked.setdefault(r.query_id, []).append(r.neighbor_id)
    for q in qids:
        qv = vecs[q]
        d2 = {
            i: sum((a - b) ** 2 for a, b in zip(qv, v))
            for i, v in vecs.items()
            if i != q
        }
        corpus_mean = sum(d2.values()) / len(d2)
        picked_mean = sum(d2[n] for n in picked[q]) / len(picked[q])
        assert picked_mean < 0.9 * corpus_mean, (
            f"query {q}: ADC top-5 exact-L2 mean {picked_mean:.3f} "
            f"not better than corpus mean {corpus_mean:.3f}"
        )


def test_adc_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = [(r.query_id, r.rank, r.neighbor_id) for r in PQ.pq_adc_topk(emb, [0, 1]).collect()]
    b = [(r.query_id, r.rank, r.neighbor_id) for r in PQ.pq_adc_topk(emb, [0, 1]).collect()]
    assert sorted(a) == sorted(b)


def test_ivfpq_subset_of_flat_adc_candidates(spark, sf_dir):
    """IVF-PQ scores the same ADC metric as the flat scan but only
    inside probed cells: every (query, neighbor) it returns must carry
    the SAME approx_d2 the flat ADC assigns, and its top-k can only
    contain candidates the flat ranking also scored (cell gating loses
    neighbors, never invents or re-scores them)."""
    from audience_manager_platform_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    flat = {
        (r.query_id, r.neighbor_id): r.approx_d2_micro
        for r in PQ.pq_adc_topk(emb, [0, 1, 2], k=1000000).collect()
    }
    ivf = PQ.ivfpq_topk(emb, [0, 1, 2], k=5).collect()
    assert ivf, "ivfpq returned nothing"
    for r in ivf:
        assert flat[(r.query_id, r.neighbor_id)] == r.approx_d2_micro


def test_arrow_encode_matches_inline(spark, sf_dir):
    """The Arrow encode kernel is the production path; its contract is
    EXACT equality with the literal-fold reference encode (same codes,
    same rounded distances) — the dim-sequential numpy accumulation
    reproduces the left-assoc IEEE sums bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = PQ.pq_fit_model(emb)
    a = {
        r.vec_id: (r.c0, r.c1, r.c2, r.c3, r.d0, r.d1, r.d2, r.d3)
        for r in PQ.pq_encode(emb, model).collect()
    }
    b = {
        r.vec_id: (r.c0, r.c1, r.c2, r.c3, r.d0, r.d1, r.d2, r.d3)
        for r in PQ.pq_encode_arrow(emb, model).collect()
    }
    assert a == b


def test_arrow_cell_assignment_matches_inline(spark, sf_dir):
    from audience_manager_platform_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", S._vec_double().alias("v"))
    model = S.kmeans_fit_model(emb, 16, 1)
    a = {
        r.vec_id: (r.cent_id, r.csim)
        for r in S._assign_inline(base, model).collect()
    }
    b = {
        r.vec_id: (r.cent_id, r.csim)
        for r in S.assign_cells_arrow(base, model).collect()
    }
    assert a == b


def test_mean6_tri_engine_agreement(spark):
    """The order-free quantized-mean contract (similarity.py, block above
    KMEANS_K) must produce bit-identical values from (a) the driver-side
    Python formula over Spark's exact decimal sums, (b) the Spark-SQL-side
    expression, and (c) the DuckDB twin — on adversarial values including
    negatives and near-boundary magnitudes, independent of partitioning."""
    import random

    import duckdb

    random.seed(11)
    vals = [random.uniform(-3, 3) for _ in range(2000)]
    vals += [0.0000005, -0.0000005, 1.0000005, 7.5e-7, -1.9999995,
             -1.8221821023874998]  # r4 repro: DuckDB round(double) broke here
    n = len(vals)

    s_int = sum(__import__("math").floor(x * 1e12 + 0.5) for x in vals)
    py = S._mean6(s_int, n)

    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(7)
    sql_side = df.selectExpr(
        "array(" + S._mean6_spark_items("array(x)", 1) + ") as m",
        "array(" + ", ".join(
            "sum(cast(floor(array(x)[{0}] * 1e12 + 0.5d) as decimal(38,0)))".format(0)
            for _ in range(1)
        ) + ") as sv",
        "count(*) as n",
    ).collect()[0]
    driver_side = S._mean6(int(sql_side["sv"][0]), int(sql_side["n"]))

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"([{v!r}]::DOUBLE[])" for v in vals)
        + ") v(x)"
    )
    duck = con.sql(
        "SELECT " + S._mean6_sql_items("x", 1) + " FROM t"
    ).fetchone()[0]

    assert py == sql_side["m"][0] == driver_side == duck
    assert int(sql_side["sv"][0]) == s_int


def test_micro_quantize_tri_engine_agreement(spark):
    """The PQ-path quantizer ``floor(x * 1e6 + 0.5) -> bigint`` must be
    bit-identical across driver-side Python, Spark SQL, DuckDB, and the
    numpy Arrow kernel — including on representable .5 boundaries and
    the r4 value class where engine ``round()`` implementations were
    measured to disagree. This is the contract that replaced every
    ``round(double, 6)`` in a PQ rank/display path after two rounds of
    local-green/driver-red ADC hashes."""
    import math

    import duckdb
    import numpy as np

    vals = [
        0.0,
        1.5e-6, 2.5e-6, 0.0000005, 0.0000015,  # exact .5 boundaries
        0.1234565, 0.9999995, 1.0000005,
        1.8221821023874998, 182.21821023874998,  # r4 round() repro class
        7.5e-7, 3.0517578125e-5,  # dyadic: x*1e6 lands exactly on .5
        123.456789, 0.3333333333333333, 2.0 / 3.0,
    ]
    py = [math.floor(x * 1e6 + 0.5) for x in vals]

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    sp = [
        r["m"]
        for r in df.selectExpr("x", "floor(x * 1e6 + 0.5d) as m")
            .orderBy("x").collect()
    ]

    con = duckdb.connect()
    duck = [
        r[0]
        for r in con.sql(
            "SELECT CAST(floor(x * 1e6 + 0.5) AS BIGINT) FROM (VALUES "
            + ",".join(f"({v!r}::DOUBLE)" for v in sorted(vals))
            + ") t(x) ORDER BY x"
        ).fetchall()
    ]

    np_side = np.floor(np.array(sorted(vals)) * 1e6 + 0.5).astype(np.int64)

    ordered = [math.floor(x * 1e6 + 0.5) for x in sorted(vals)]
    assert ordered == sp == duck == list(np_side)
    assert sorted(py) == sorted(ordered)


def test_kmeans_model_partition_invariant(spark, sf_dir):
    """The fitted model must be IDENTICAL whatever the input
    partitioning — the property whose absence produced the r4 driver-red
    PQ rows."""
    from audience_manager_platform_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = S.kmeans_fit_model(emb.repartition(1), 16, 1)
    b = S.kmeans_fit_model(emb.repartition(13), 16, 1)
    assert a == b
    pa = PQ.pq_fit_model(emb.repartition(1))
    pb = PQ.pq_fit_model(emb.repartition(13))
    assert pa == pb


def test_residuals_arrow_exact_subtraction(spark):
    import numpy as np

    from audience_manager_platform_spark.operators.pq import residuals_arrow
    from audience_manager_platform_spark.operators.similarity import EMBED_DIM

    v0 = [float(i) / 7 for i in range(EMBED_DIM)]
    v1 = [1.0 - float(i) / 9 for i in range(EMBED_DIM)]
    c0 = [0.125] * EMBED_DIM
    c1 = [-0.5] * EMBED_DIM
    assigned = spark.createDataFrame(
        [(0, v0, 0), (1, v1, 1)], "vec_id long, v array<double>, cent_id long"
    )
    got = {
        r.vec_id: list(r.embedding)
        for r in residuals_arrow(assigned, [(0, c0), (1, c1)]).collect()
    }
    assert got[0] == [a - b for a, b in zip(v0, c0)]  # exact doubles
    assert got[1] == [a - b for a, b in zip(v1, c1)]


def test_ivfpq_residual_topk_shape_and_no_self(spark, sf_dir):
    from audience_manager_platform_spark.operators.pq import ivfpq_residual_topk
    from audience_manager_platform_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = ivfpq_residual_topk(emb, [0, 1], k=3).collect()
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {0, 1}
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3]


_IVFPQ_DTYPES = [
    ("query_id", "bigint"),
    ("neighbor_id", "bigint"),
    ("approx_d2_micro", "bigint"),
    ("rank", "int"),
]


def test_ivfpq_topk_without_a_known_query_is_typed_empty(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    for adc_topk in (PQ.ivfpq_topk, PQ.pq_adc_topk):
        out = adc_topk(emb, [10**9], k=3)
        assert out.dtypes == _IVFPQ_DTYPES
        assert out.collect() == []
    # the flat ADC shortlist's consumers go through the same empty frame
    assert PQ.adc_rerank_topk(emb, [10**9], k=3).collect() == []
    assert PQ.pq_recall_eval(emb, [10**9], k=3).collect() == []


def test_ivfpq_residual_topk_without_a_known_query_is_typed_empty(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = PQ.ivfpq_residual_topk(emb, [10**9], k=3)
    assert out.dtypes == _IVFPQ_DTYPES
    assert out.collect() == []

