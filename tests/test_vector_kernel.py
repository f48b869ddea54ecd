"""The shared vector kernel in ``functions``: ``dot``, ``l2_norm``,
``squared_l2`` and ``cosine_similarity`` are exact left-to-right folds (the summation order
the DuckDB oracle's ``list_dot_product`` uses), NULL-propagating, and
``cosine_similarity`` is built from the other two."""

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from audience_manager_platform_spark.functions import (
    cosine_similarity,
    dot,
    l2_norm,
    squared_l2,
)


def _py_dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    return s


def _py_norm(v):
    return math.sqrt(_py_dot(v, v))


@pytest.mark.parametrize("dim", [3, 64])
def test_kernels_match_the_python_fold_bit_for_bit(spark, dim):
    rng = random.Random(dim)
    # mixed magnitudes, so a different summation order would change bits
    pairs = [
        (
            [rng.uniform(-1, 1) * 10 ** rng.randint(-6, 6) for _ in range(dim)],
            [rng.uniform(-1, 1) * 10 ** rng.randint(-6, 6) for _ in range(dim)],
        )
        for _ in range(20)
    ]
    df = spark.createDataFrame(pairs, "a array<double>, b array<double>")
    # squared_l2 replaced unrolled "(a[i] - b[i]) * (a[i] - b[i]) + ..."
    # strings; its leading 0.0 + is exact for non-negative terms
    unrolled = " + ".join(
        f"(a[{i}] - b[{i}]) * (a[{i}] - b[{i}])" for i in range(dim)
    )
    got = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_norm(F.col("a")).alias("na"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c"),
        squared_l2(F.col("a"), F.col("b")).alias("s"),
        F.expr(unrolled).alias("s_unrolled"),
    ).collect()
    for (a, b), r in zip(pairs, got):
        assert r.d == _py_dot(a, b)
        assert r.na == _py_norm(a)
        assert r.c == _py_dot(a, b) / (_py_norm(a) * _py_norm(b))
        diff = [x - y for x, y in zip(a, b)]
        assert r.s == r.s_unrolled == _py_dot(diff, diff)


def test_kernels_are_null_when_an_element_is_null(spark):
    df = spark.createDataFrame(
        [([1.0, None, 2.0], [1.0, 1.0, 1.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        dot(F.col("b"), F.col("a")).alias("d_rev"),
        l2_norm(F.col("a")).alias("na"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert (r.d, r.d_rev, r.na, r.c) == (None, None, None, None)


def test_cosine_similarity_keeps_its_column_tree(spark):
    # the literal fold cosine_similarity was before dot/l2_norm existed;
    # ann_hamming_topk's plan must not change
    a, b = F.col("a"), F.col("b")
    literal = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    ) / (
        F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
        * F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    )

    def tree(c):  # lambda variables get fresh numeric suffixes per call
        return re.sub(r"\b([xyz])_\d+\b", r"\1", str(c))

    assert tree(cosine_similarity(a, b)) == tree(literal)

