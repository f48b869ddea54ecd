"""Scalar quantization (SQ8) for embedding columns.

The third quantizer family next to IVF (operators/similarity.py) and PQ
(operators/pq.py): each of the EMBED_DIM dimensions gets an affine int8
code ``code = clamp(floor((x - min_d) / scale_d + 0.5), 0, 255)`` with
``scale_d = (max_d - min_d) / 255`` fitted from one pass over the table.
This is FAISS's ``ScalarQuantizer(QT_8bit)`` layout re-expressed as Spark
aggregates + codegen projections; the reference platform has no vector
surface at all, so the family is part of the LLM-pipeline extension the
engine adds on top (SURVEY.md §2 extension table).

Scale posture (100 TB):
- the fit is ONE aggregate job producing EMBED_DIM (min, max) pairs —
  bounded driver model state (128 doubles), same contract as the k-means
  centroids and PQ codebooks;
- encode and ADC scoring are single codegen'd projections over the scan
  (no shuffle, no Python); the int8 codes are 8x smaller than float64 at
  rest, which is the point of SQ at this scale;
- top-k uses the same scan + shared top-k step as every other ANN entry.

Determinism contract with the DuckDB oracle: min/max are exact, the
scale division and half-up floor encode are identical double ops on both
engines, and scores are rounded to 6dp before ranking with a vec_id
tiebreaker — the same convention the cosine/PQ families use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import EMBED_DIM, _vec_double, query_frame, topk

SQ_LEVELS = 255  # int8 code range 0..255


class SqModel:
    """Per-dimension affine quantizer: mins[d] + code * scales[d]."""

    def __init__(self, mins: list[float], scales: list[float]):
        assert len(mins) == EMBED_DIM and len(scales) == EMBED_DIM
        self.mins = mins
        self.scales = scales


def sq_fit_model(emb: DataFrame) -> SqModel:
    """One aggregate pass -> EMBED_DIM (min, max) pairs on the driver.

    ``scale = greatest((max-min)/255, 1e-12)`` — the epsilon guards a
    constant dimension (scale 0 would make decode NaN-free but encode
    divide-by-zero)."""
    base = emb.select(_vec_double().alias("v"))
    aggs = []
    for d in range(EMBED_DIM):
        aggs.append(F.min(F.col("v")[d]).alias(f"mn{d}"))
        aggs.append(F.max(F.col("v")[d]).alias(f"mx{d}"))
    row = base.agg(*aggs).collect()[0]
    mins, scales = [], []
    for d in range(EMBED_DIM):
        mn, mx = row[f"mn{d}"], row[f"mx{d}"]
        mins.append(mn)
        scales.append(max((mx - mn) / SQ_LEVELS, 1e-12))
    return SqModel(mins, scales)


def _code_expr(d: int, model: SqModel, v: str = "v") -> str:
    """Half-up floor encode, clamped to 0..255 (same floor(x+0.5) trick
    as the PQ Arrow kernel — engine-independent, unlike HALF_EVEN)."""
    mn, sc = repr(model.mins[d]), repr(model.scales[d])
    return (
        f"least(greatest(cast(floor(({v}[{d}] - {mn}) / {sc} + 0.5d) as int),"
        f" 0), {SQ_LEVELS})"
    )


def sq_encode(emb: DataFrame, model: SqModel) -> DataFrame:
    """(vec_id, codes array<int>) — one codegen projection, no shuffle.

    The nondeterministic ``_mid`` column keeps CollapseProject from
    inlining the 64-element encode array into a downstream consumer that
    indexes ``codes`` 64 times (the ADC dot product) — the merged
    projection re-expands every element 64x, blows janino's 64 KB
    method limit, and drops the stage to interpreted eval (the same
    barrier ``pq._with_best`` uses; observed live in the scale smoke's
    SQ ADC stack trace before this)."""
    codes = F.expr(
        "array(" + ", ".join(_code_expr(d, model) for d in range(EMBED_DIM)) + ")"
    )
    return (
        emb.select("vec_id", _vec_double().alias("v"))
        .select(
            "vec_id",
            F.monotonically_increasing_id().alias("_mid"),
            codes.alias("codes"),
        )
        .select("vec_id", "codes")
    )


def sq_code_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension quantizer profile: scale, mean absolute
    reconstruction error, and the number of distinct codes in use.
    This is the QA table an embedding pipeline checks before committing
    to an 8x-compressed index (outlier dims show up as fat scales and
    sparse code occupancy)."""
    model = sq_fit_model(emb)
    # ONE narrow pass: codes computed next to v (no self-join back to the
    # scan — the previous emb ⋈ enc recomputed the embedding read on both
    # branches), then a stacked (dim, x, code) explode feeding a dim-keyed
    # aggregate: 64 per-dim countDistincts as one grouped single-distinct
    # aggregate instead of 64 distinct aggregates in one row (which
    # Expand-multiplied every row 64x). 8.0 s -> ~2 s at sf0.1.
    base = sq_encode_with_vec(emb, model)
    # cast: bare numeric literals in SQL strings parse as DECIMAL; the
    # double cast round-trips the repr'd floats exactly
    mins_arr = ("cast(array(" + ", ".join(repr(m) for m in model.mins)
                + ") as array<double>)")
    scales_arr = ("cast(array(" + ", ".join(repr(s) for s in model.scales)
                  + ") as array<double>)")
    pairs = base.select(
        F.posexplode(F.arrays_zip("v", "codes")).alias("dim", "z")
    ).select("dim", F.col("z.v").alias("x"), F.col("z.codes").alias("code"))
    rec = (
        f"element_at({mins_arr}, dim + 1)"
        f" + cast(code as double) * element_at({scales_arr}, dim + 1)"
    )
    return (
        pairs.groupBy("dim")
        .agg(
            F.round(F.avg(F.expr(f"abs(x - ({rec}))")), 9).alias("avg_abs_err"),
            F.countDistinct("code").alias("codes_used"),
        )
        .select(
            "dim",
            F.round(F.expr(f"element_at({scales_arr}, dim + 1)"), 9).alias(
                "scale"
            ),
            "avg_abs_err",
            "codes_used",
        )
    )


def sq_encode_with_vec(emb: DataFrame, model: SqModel) -> DataFrame:
    """(vec_id, v, codes) in one narrow projection — for consumers that
    need the original vector next to its codes without a join back to
    the scan (same CollapseProject barrier as :func:`sq_encode`)."""
    codes = F.expr(
        "array(" + ", ".join(_code_expr(d, model) for d in range(EMBED_DIM)) + ")"
    )
    return (
        emb.select("vec_id", _vec_double().alias("v"))
        .select(
            "vec_id",
            "v",
            F.monotonically_increasing_id().alias("_mid"),
            codes.alias("codes"),
        )
        .select("vec_id", "v", "codes")
    )


def sq_adc_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Asymmetric top-k: full-precision queries against decoded int8
    codes. score = sum_d q[d] * (min_d + code_d * scale_d), rounded 6dp,
    ranked (score desc, vec_id asc). The decode folds into the dot
    product as one codegen expression — the scan reads only the codes
    column at deployment (codes are what a 100 TB index stores)."""
    model = sq_fit_model(emb)
    enc = sq_encode(emb, model)
    queries = query_frame(
        emb.select("vec_id", _vec_double().alias("v")), query_ids
    )
    # decode + dot as HOF loops (transform/zip_with/aggregate — the
    # cosine_similarity pattern): an unrolled 64-term "+"-chain is ONE
    # expression tree codegen cannot split, which blew janino's 64 KB
    # method limit and dropped the scoring stage to interpreted eval
    # (measured 5.3 s vs 1.9 s at 200k vectors). The fold's sequential
    # summation sits inside the same 6dp-rounding tolerance the DuckDB
    # twin's order-free SUM already relies on.
    mins_arr = ("cast(array(" + ", ".join(repr(m) for m in model.mins)
                + ") as array<double>)")
    scales_arr = ("cast(array(" + ", ".join(repr(s) for s in model.scales)
                  + ") as array<double>)")
    dot = F.expr(
        f"aggregate(sequence(0, {EMBED_DIM - 1}), cast(0.0 as double),"
        f" (acc, i) -> acc + element_at(q, i + 1)"
        f" * (element_at({mins_arr}, i + 1)"
        f" + cast(element_at(codes, i + 1) as double)"
        f" * element_at({scales_arr}, i + 1)))"
    )
    scored = enc.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot, 6).alias("adc_score"),
    )
    return topk(scored, k, "adc_score")


# ------------------------------------------------------------ SQL twins
def _sq_ctes(src: str = "embeddings") -> str:
    """Shared CTE prefix: fit per-dim (min, scale) then encode. DuckDB
    lists are 1-indexed; ``dim`` is normalized to 0-based to match the
    Spark array indexing in the output."""
    return f"""
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src}),
        dims AS (
          SELECT dim - 1 AS dim, MIN(x) AS mn,
                 GREATEST((MAX(x) - MIN(x)) / {SQ_LEVELS}, 1e-12) AS scale
          FROM (
            SELECT UNNEST(v) AS x, generate_subscripts(v, 1) AS dim FROM e
          ) ux GROUP BY 1
        ),
        enc AS (
          SELECT e.vec_id, d.dim, d.mn, d.scale,
                 LEAST(GREATEST(CAST(FLOOR((e.v[d.dim + 1] - d.mn) / d.scale
                       + 0.5) AS INT), 0), {SQ_LEVELS}) AS code
          FROM e CROSS JOIN dims d
        )"""


def sq_code_stats_sql(src: str = "embeddings") -> str:
    return f"""
        WITH {_sq_ctes(src)}
        SELECT en.dim,
               ROUND(MAX(en.scale), 9) AS scale,
               ROUND(AVG(ABS(e.v[en.dim + 1]
                     - (en.mn + CAST(en.code AS DOUBLE) * en.scale))), 9)
                 AS avg_abs_err,
               COUNT(DISTINCT en.code) AS codes_used
        FROM enc en JOIN e ON e.vec_id = en.vec_id
        GROUP BY en.dim
    """


def sq_adc_topk_sql(
    query_ids: list[int], k: int = 5, src: str = "embeddings"
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        WITH {_sq_ctes(src)},
        q AS (SELECT vec_id AS query_id, v AS qv FROM e
              WHERE vec_id IN ({ids})),
        scored AS (
          SELECT q.query_id, en.vec_id AS neighbor_id,
                 ROUND(SUM(q.qv[en.dim + 1]
                       * (en.mn + CAST(en.code AS DOUBLE) * en.scale)), 6)
                   AS adc_score
          FROM enc en CROSS JOIN q
          WHERE en.vec_id != q.query_id
          GROUP BY q.query_id, en.vec_id
        )
        SELECT query_id, neighbor_id, adc_score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY adc_score DESC, neighbor_id ASC) AS rank
          FROM scored
        ) r WHERE rank <= {k}
    """
