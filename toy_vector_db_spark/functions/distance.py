"""Distance metrics as pure Catalyst Column expressions.

Reference: /root/reference/pkg/core/distance/distance.go
  - Euclidean  :52-71   sqrt(sum((a-b)^2)), float64 accumulate
  - Cosine     :73-107  1 - dot/(|a||b|); zero vector => 1.0; similarity
                        clamped to [-1, 1]
  - DotProduct :109-129 -sum(a*b)  (negated so smaller = closer)
  - Manhattan  :131-150 sum(|a-b|)
  - Registry   :37-50   name -> implementation, unknown name errors

Design: ``zip_with`` + ``aggregate`` (higher-order functions) run JVM-side
inside whole-stage codegen — no Python boundary, no UDF serialization.
The reference accumulates in float64 and returns float32
(distance.go:60-66); we mirror by casting the float arrays to double
before accumulating. Results stay double (callers round/cast at the edge).

Dimension mismatch: the reference errors (distance.go:56-58). Spark's
``zip_with`` pads the shorter array with nulls, which would propagate
null through the sum — callers wanting the strict behavior use
``strict=True`` to raise at runtime instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["euclidean", "cosine", "dotproduct", "manhattan", "distance",
           "METRICS", "dot", "l2_norm"]


def _d(col: Column) -> Column:
    """Cast array<float> -> array<double> (float64 accumulation parity)."""
    return col.cast("array<double>")


def _sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda s, x: s + x)


def dot(a: Column, b: Column) -> Column:
    """Plain (non-negated) dot product Σ aᵢbᵢ."""
    return _sum(F.zip_with(_d(a), _d(b), lambda x, y: x * y))


def l2_norm(a: Column) -> Column:
    """Euclidean norm ‖a‖₂."""
    ad = _d(a)
    return F.sqrt(_sum(F.zip_with(ad, ad, lambda x, y: x * y)))


def euclidean(a: Column, b: Column) -> Column:
    diff_sq = F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(_sum(diff_sq))


def cosine(a: Column, b: Column) -> Column:
    """1 - cosine_similarity, with the reference's edge branches:
    either vector zero-norm => distance 1.0 (distance.go:89-91);
    similarity clamped to [-1, 1] before subtraction (distance.go:97-103).
    A null vector or a dimension mismatch is null, as in the other
    metrics (``greatest`` skips nulls, so the clamp alone would score
    it 2.0)."""
    na, nb, ab = l2_norm(a), l2_norm(b), dot(a, b)
    clamped = F.least(F.greatest(ab / (na * nb), F.lit(-1.0)), F.lit(1.0))
    return (F.when(ab.isNull(), F.lit(None))
            .when((na == 0.0) | (nb == 0.0), F.lit(1.0))
            .otherwise(1.0 - clamped))


def dotproduct(a: Column, b: Column) -> Column:
    """Negated dot product: smaller = closer (distance.go:122-124)."""
    return -dot(a, b)


def manhattan(a: Column, b: Column) -> Column:
    return _sum(F.zip_with(_d(a), _d(b), lambda x, y: F.abs(x - y)))


# Metric registry (reference distance.go:37-50). Keys match the
# reference's USING clause names.
METRICS = {
    "euclidean": euclidean,
    "cosine": cosine,
    "dotproduct": dotproduct,
    "manhattan": manhattan,
}


def distance(metric: str, a: Column, b: Column, strict: bool = False) -> Column:
    """Registry dispatch. Unknown metric raises (distance.go:46-48).

    ``strict=True`` additionally raises at runtime on dimension mismatch,
    matching the reference (distance.go:56-58); default is Spark-natural
    null propagation (cheaper: no extra branch in codegen).
    """
    try:
        fn = METRICS[metric.lower()]
    except KeyError:
        raise ValueError(
            f"unsupported distance metric: {metric!r} "
            f"(supported: {sorted(METRICS)})") from None
    expr = fn(a, b)
    if strict:
        ok = F.assert_true(
            F.size(a) == F.size(b),
            F.concat(F.lit("vector dimension mismatch: "),
                     F.size(a).cast("string"), F.lit(" vs "),
                     F.size(b).cast("string")))
        expr = F.when(ok.isNull(), expr)
    return expr
