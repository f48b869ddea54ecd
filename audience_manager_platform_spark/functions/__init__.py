"""Shared column-expression helpers (SURVEY.md §2.8).

Everything here is built from ``pyspark.sql.functions`` — JVM-side,
codegen'd, no Python in the row path. Helpers exist to pin down semantics
the reference leaves unspecified (SURVEY.md §4.3 quirks) in one place.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_concat_distinct(col: str | Column, sep: str = ",") -> Column:
    """Deterministic replacement for SQLite ``GROUP_CONCAT(DISTINCT x)``
    (reference ``backend/app/utils/rule_parser.py:120``; quirk Q4).

    SQLite's concat order is unspecified; we sort, so output is stable
    across partitionings and retries — a must once the aggregation runs
    distributed.
    """
    return F.concat_ws(sep, F.sort_array(F.collect_set(col)))


def stable_long_hash(col: Column, salt: str = "") -> Column:
    """Portable 60-bit hash of a string column: first 15 hex digits of
    md5, parsed base-16.

    Used by MinHash/fingerprint operators instead of ``xxhash64`` so an
    external SQL oracle (DuckDB: ``CAST(('0x' || substr(md5(x),1,15)) AS
    BIGINT)``) can reproduce values bit-for-bit. Stays in codegen
    (md5/substring/conv are JVM built-ins).
    """
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


# The canonical SQL twins of :func:`stable_long_hash` — ONE definition
# for every operator family's oracle, so a change to the hash (width,
# salt handling) cannot silently split the Spark and DuckDB sides.
# ``{x}`` is the already-salted string expression.
HASH60_SPARK_SQL = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"
HASH60_DUCK_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


# The experiment policy: every A/B, uplift and drift readout rounds
# money to integer cents, splits the data at its midpoint day and
# assigns users to arms by hash, and does each in exactly one place.
def cents(col: str = "value") -> Column:
    """``col`` rounded half-up to integer cents, as BIGINT (NULL stays
    NULL). The DuckDB twins spell the same expression inline."""
    return F.expr(f"CAST(floor({col} * 100 + 0.5) AS BIGINT)")


def with_midpoint(frame: DataFrame) -> DataFrame:
    """``frame`` plus a ``mid`` column: the day halfway between the
    frame's first and last day ``d`` (integer days, rounded down). The
    first period is ``d <= mid``, the second ``d > mid``. One 1-row
    aggregate, broadcast to every row; ``mid`` is NULL on an empty
    frame."""
    bounds = frame.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.expr("date_add(lo, CAST(datediff(hi, lo) div 2 AS INT))").alias(
            "mid"
        )
    )
    return frame.crossJoin(F.broadcast(bounds))


def user_arm(salt: str, k: int = 2) -> Column:
    """A user's experiment arm: the salted :func:`stable_long_hash` of
    ``user_id`` modulo ``k``, replayable from the salt alone."""
    return stable_long_hash(F.col("user_id").cast("string"), salt=salt) % k


def dot(a: Column, b: Column) -> Column:
    """Dot product of two ``array<double>`` columns: the left-to-right
    fold ``((0.0 + a0*b0) + a1*b1) + ...``, the summation order DuckDB's
    ``list_dot_product`` uses, so doubles match the oracle bit for bit.
    NULL if any element is NULL."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(v: Column) -> Column:
    """L2 norm of an ``array<double>`` column: ``sqrt`` of the same
    left-to-right fold of squares as :func:`dot`. NULL if any element
    is NULL."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def squared_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance of two ``array<double>`` columns: the
    left-to-right fold ``((0.0 + (a0-b0)²) + (a1-b1)²) + ...``. Adding
    0.0 first is exact for the non-negative terms, so the double equals
    the unrolled ``(a0-b0)*(a0-b0) + (a1-b1)*(a1-b1) + ...`` sum bit for
    bit. NULL if any element is NULL."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two ``array<double>`` columns from the
    :func:`dot` and :func:`l2_norm` folds. Callers scoring one vector
    against many precompute its norm and divide ``dot`` themselves."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
