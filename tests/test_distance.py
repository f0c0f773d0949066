"""Hand-computed metric values from the reference's own tests
(/root/reference/pkg/core/distance/distance_test.go:9-95, FIXTURES.md F3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.functions.distance import METRICS, distance
from toy_vector_db_spark.functions.vector import normalize, vector_lit, zero_vector

CASES = [
    ("euclidean", [1, 2, 3], [4, 5, 6], math.sqrt(27)),
    ("cosine", [1, 0, 0], [0, 1, 0], 1.0),                # orthogonal
    ("cosine", [1, 0, 0], [1, 1, 0], 1 - 1 / math.sqrt(2)),  # 45 degrees
    ("cosine", [0, 0, 0], [1, 2, 3], 1.0),                # zero-vector rule
    ("cosine", [1, 2, 3], [1, 2, 3], 0.0),                # identical (clamp)
    ("dotproduct", [1, 2, 3], [4, 5, 6], -32.0),          # negated
    ("manhattan", [1, 2, 3], [4, 5, 6], 9.0),
]


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


@pytest.mark.parametrize("metric,a,b,expected", CASES)
def test_metric_values(spark, metric, a, b, expected):
    got = _eval(spark, distance(metric, vector_lit(a), vector_lit(b)))
    assert got == pytest.approx(expected, abs=1e-9)


def test_metric_symmetric_except_none(spark):
    for m in ("euclidean", "cosine", "manhattan", "dotproduct"):
        ab = _eval(spark, distance(m, vector_lit([1, 2, 3]), vector_lit([4, 5, 6])))
        ba = _eval(spark, distance(m, vector_lit([4, 5, 6]), vector_lit([1, 2, 3])))
        assert ab == pytest.approx(ba)


def test_unknown_metric_raises():
    with pytest.raises(ValueError, match="unsupported distance metric"):
        distance("chebyshev", F.col("a"), F.col("b"))


def test_registry_complete():
    assert set(METRICS) == {"euclidean", "cosine", "dotproduct", "manhattan"}


def test_dim_mismatch_strict_raises(spark):
    expr = distance("euclidean", vector_lit([1, 2, 3]), vector_lit([4, 5]),
                    strict=True)
    with pytest.raises(Exception, match="dimension mismatch"):
        _eval(spark, expr)


def test_dim_mismatch_default_null(spark):
    got = _eval(spark, distance("euclidean", vector_lit([1, 2, 3]),
                                vector_lit([4, 5])))
    assert got is None


def test_cosine_null_on_mismatch_or_null_vector(spark):
    # greatest() skips nulls: an unguarded clamp scores these 2.0
    assert _eval(spark, distance("cosine", vector_lit([1, 0]),
                                 vector_lit([1, 0, 0]))) is None
    assert _eval(spark, distance("cosine", F.lit(None).cast("array<float>"),
                                 vector_lit([1, 0]))) is None
    assert _eval(spark, distance("cosine", vector_lit([0, 0]),
                                 vector_lit([1, 0]))) == 1.0


def test_normalize(spark):
    # 3-4-5 triangle (reference vector_test.go:122-146)
    got = _eval(spark, normalize(vector_lit([3, 4])))
    assert got == pytest.approx([0.6, 0.8])
    # zero vector untouched
    got = _eval(spark, normalize(vector_lit([0, 0, 0])))
    assert got == [0.0, 0.0, 0.0]


def test_vector_lit_bit_equal_to_lit(spark):
    """``vector_lit`` (one parsed SQL literal) yields the same array<double>
    values, bit for bit, as ``F.lit(list)`` (one py4j call per element):
    signed zero, a subnormal, the double extremes, NaN and the
    infinities; the empty vector keeps its type; a matrix nests."""
    import struct

    vals = [-0.0, 5e-324, 1.7976931348623157e308, -1.7976931348623157e308,
            float("nan"), float("inf"), float("-inf"), 0.1, -1e-5]
    row = spark.range(1).select(
        vector_lit(vals).alias("a"), F.lit(vals).alias("b"),
        vector_lit([]).alias("e"),
        vector_lit([[1.5, -2.0], [0.0, 3.25]]).alias("m")).first()
    assert [struct.pack("<d", x) for x in row["a"]] == \
        [struct.pack("<d", x) for x in row["b"]]
    assert row["e"] == [] and row["m"] == [[1.5, -2.0], [0.0, 3.25]]
    schema = spark.range(1).select(vector_lit([]).alias("e")).schema
    assert schema["e"].dataType.simpleString() == "array<double>"


def test_zero_vector(spark):
    assert _eval(spark, zero_vector(4)) == [0.0] * 4


def test_mean_vectors_exact_and_ragged(spark):
    from toy_vector_db_spark.functions.vector import mean_vectors
    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 6.0]), ("b", [5.0, 5.0])],
        "label string, embedding array<float>")
    got = {r["label"]: (list(r["centroid"]), r["n_vectors"])
           for r in mean_vectors(df, "label").collect()}
    assert got == {"a": ([2.0, 4.0], 2), "b": ([5.0, 5.0], 1)}
