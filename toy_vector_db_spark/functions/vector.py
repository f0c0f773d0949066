"""Vector constructors / transforms as Column expressions.

Reference: /root/reference/pkg/core/vector/vector.go
  - Normalize :258-269  in-place scale to unit L2 norm; zero vector untouched
  - Zero      :45-53
  - Random    :56-71    uniform [0,1)
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .distance import l2_norm

__all__ = ["vector_lit", "vector_sql", "normalize", "zero_vector",
           "random_vector", "mean_vectors"]


def vector_sql(values) -> str:
    """Spark-SQL text of an ``array<double>`` literal; a nested sequence
    (a matrix) renders as an array of arrays. Each value is its
    shortest round-trip ``repr`` with a ``D`` suffix, so the parsed
    double is bit-equal to the Python float (-0.0, subnormals and
    +-1.797e308 included); NaN and +-inf, which have no numeric
    literal, render as ``CAST('NaN' AS DOUBLE)`` and friends. The empty
    vector keeps the ``array<double>`` type."""
    a = np.asarray(values, dtype=np.float64)
    if a.ndim > 1:
        return "array(" + ", ".join(vector_sql(r) for r in a) + ")"
    if not a.size:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ", ".join(map(_double_sql, a.tolist())) + ")"


def _double_sql(v: float) -> str:
    if math.isfinite(v):
        return f"{v!r}D"
    return ("CAST('NaN' AS DOUBLE)" if v != v else
            f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)")


def vector_lit(values) -> Column:
    """``array<double>`` literal Column for a query vector (or, nested,
    a matrix) — ``vector_sql`` parsed once. ``F.lit(list)`` builds the
    same CreateArray one py4j call per element, ~100 ms for one 128-dim
    vector; the parser takes ~1 ms."""
    return F.expr(vector_sql(values))


def normalize(a: Column) -> Column:
    """Scale to unit L2 norm; zero vector returned untouched
    (vector.go:262-264 skips norm==0)."""
    n = l2_norm(a)
    return F.when(n == 0.0, a.cast("array<double>")).otherwise(
        F.transform(a.cast("array<double>"), lambda x: x / n))


def zero_vector(dim: int) -> Column:
    return F.array_repeat(F.lit(0.0), dim)


def random_vector(dim: int, seed: int | None = None) -> Column:
    """Uniform [0,1) per component (vector.go:62-69)."""
    if seed is not None:
        return F.transform(F.sequence(F.lit(1), F.lit(dim)),
                           lambda i: F.rand(seed))
    return F.transform(F.sequence(F.lit(1), F.lit(dim)), lambda _: F.rand())


def mean_vectors(df: DataFrame, group_col: str,
                 vec_col: str = "embedding",
                 out_col: str = "centroid") -> DataFrame:
    """Per-group mean embedding — class prototypes / centroid init for
    clustering / per-source embedding drift monitoring (beyond-parity
    training-pipeline op).

    Plan shape: posexplode -> partial-aggregated (group, pos) avg ->
    one hash shuffle of (group, pos, sum, count) — the shuffle carries
    group_cardinality x dim SCALARS, never vectors — then the dim
    values per group reassemble ordered by position. Exact float64
    arithmetic, so a SQL engine reproduces it (full value oracle via
    UNNEST WITH ORDINALITY in the workload).
    """
    pairs = df.select(F.col(group_col),
                      F.posexplode(F.col(vec_col).cast("array<double>"))
                      .alias("__pos", "__x"))
    per_pos = pairs.groupBy(group_col, "__pos").agg(
        F.avg("__x").alias("__avg"), F.count("*").alias("__n"))
    return (per_pos.groupBy(group_col)
            .agg(F.array_sort(F.collect_list(F.struct("__pos", "__avg")))
                 .alias("__s"),
                 # min, not first: deterministic when vectors are ragged
                 # (a short vector contributes to fewer positions)
                 F.min("__n").alias("n_vectors"))
            .select(group_col,
                    F.transform("__s", lambda s: s["__avg"]).alias(out_col),
                    F.col("n_vectors").cast("bigint").alias("n_vectors")))
