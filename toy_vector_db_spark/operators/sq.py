"""Scalar quantization (SQ8): int8-coded vectors for scan shrink.

The simplest faiss-style compression tier (``SQ8``): per-dimension
min/max over the corpus define an affine map onto 0..255; each
component stores as one byte (4x smaller scan than float32, 8x than
float64) and search scores against DEQUANTIZED values — an
approximation whose per-component error is bounded by scale/2.

Everything is deterministic arithmetic (per-dim min/max, round-half-up
on non-negative values), so unlike KMeans codebooks the whole tier is
value-oracle-checkable in SQL (workload ``ann_sq8_topk``).

Scale shape:
- fit = one aggregation: posexplode -> per-(pos) min/max — the shuffle
  carries dim scalars; the collected bounds are dim-sized literals.
- encode = map-only Column expression (codegen), no shuffle.
- search = the same TakeOrderedAndProject top-k as flat knn, but the
  scan reads byte codes; the dequantize-and-score fold uses the
  broadcast-inlined bounds.

PQ beats SQ8 on compression (m bytes vs dim bytes) but needs
codebooks; SQ8 is the no-training tier that still quarters the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import vector_lit
from .knn import DEFAULT_K


class Sq8Codec:
    """Per-dimension affine int8 quantizer: code = round((x-min)/scale),
    scale = (max-min)/255; constant dimensions get scale 0 and code 0."""

    def __init__(self, mins: list[float], scales: list[float]):
        self.mins = [float(x) for x in mins]
        self.scales = [float(x) for x in scales]
        self.dim = len(mins)

    @classmethod
    def fit(cls, df: DataFrame, vec_col: str = "embedding") -> "Sq8Codec":
        rows = (df.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                          .alias("__pos", "__x"))
                .groupBy("__pos")
                .agg(F.min("__x").alias("mn"), F.max("__x").alias("mx"))
                .orderBy("__pos").collect())
        if not rows:
            raise ValueError("cannot fit SQ8 on an empty corpus")
        mins = [r["mn"] for r in rows]
        scales = [(r["mx"] - r["mn"]) / 255.0 for r in rows]
        return cls(mins, scales)

    def encode_expr(self, vec) -> Column:
        """``array<int>`` of 0..255 codes (int for parquet simplicity;
        the byte range is what matters for encoded size). Pure Column
        expression — map-only, codegen."""
        v = (F.col(vec) if isinstance(vec, str) else vec).cast("array<double>")
        mins = vector_lit(self.mins)
        scales = vector_lit(self.scales)

        def code(x: Column, i: Column) -> Column:
            mn = F.element_at(mins, i + 1)
            sc = F.element_at(scales, i + 1)
            raw = F.round((x - mn) / sc).cast("int")
            clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(255))
            return F.when(sc == 0.0, F.lit(0)).otherwise(clamped)

        return F.transform(v, code)

    def encode(self, df: DataFrame, vec_col: str = "embedding",
               code_col: str = "__sq8") -> DataFrame:
        return df.withColumn(code_col, self.encode_expr(vec_col))

    def score_expr(self, qvec: Sequence[float],
                   code_col: str = "__sq8") -> Column:
        """Approximate euclidean distance of the RAW query against the
        dequantized codes: sqrt(sum((q_i - (min_i + c_i*scale_i))^2)).
        q_i - min_i folds driver-side into one literal array, so the
        per-row work is one fused multiply-subtract per component."""
        q = [float(x) for x in qvec]
        if len(q) != self.dim:
            raise ValueError(f"query dim {len(q)} != codec dim {self.dim}")
        qadj = vector_lit([qi - mi for qi, mi in zip(q, self.mins)])
        scales = vector_lit(self.scales)

        def term(c: Column, i: Column) -> Column:
            d = F.element_at(qadj, i + 1) \
                - c.cast("double") * F.element_at(scales, i + 1)
            return d * d

        return F.sqrt(F.aggregate(F.transform(F.col(code_col), term),
                                  F.lit(0.0), lambda s, x: s + x))


# ---------------------------------------------------------------------------
# 1-bit quantization: sign-bit binarization + Hamming search.
# 64x smaller than float64 scores; xor+popcount per word is the
# cheapest possible similarity scan (the classic binary-hash ANN tier).
# Deterministic bit-for-bit, so fully value-oracle-checkable.
# ---------------------------------------------------------------------------

# element i of this literal array is the BIGINT with only bit i set;
# bit 63 is the sign bit in two's complement
_POW2 = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def binarize_expr(vec, dim: int) -> Column:
    """Sign bits (component > 0) packed into ``ceil(dim/64)`` BIGINT
    words, little-endian bit order within each word. Pure Column
    expression (bitwise OR fold — no overflow concerns), map-only."""
    v = (F.col(vec) if isinstance(vec, str) else vec).cast("array<double>")
    pw = F.lit(_POW2)
    words = []
    for w in range((dim + 63) // 64):
        nbits = min(64, dim - 64 * w)

        def make_bit(base: int):
            # PySpark derives the HOF's arity from the callable's
            # signature, so the per-word base must bind via closure,
            # not a default argument
            def bit(acc: Column, i: Column) -> Column:
                set_bit = F.element_at(pw, i + 1)
                on = F.element_at(v, i + F.lit(base + 1)) > 0
                return acc.bitwiseOR(
                    F.when(on, set_bit).otherwise(F.lit(0).cast("bigint")))
            return bit

        words.append(F.aggregate(F.sequence(F.lit(0), F.lit(nbits - 1)),
                                 F.lit(0).cast("bigint"), make_bit(64 * w)))
    return F.array(*words)


def binarize_one(qvec: Sequence[float]) -> list[int]:
    """Driver-side twin of binarize_expr for the query vector."""
    q = [float(x) for x in qvec]
    words = []
    for w in range((len(q) + 63) // 64):
        word = 0
        for i, x in enumerate(q[64 * w:64 * w + 64]):
            if x > 0:
                # _POW2[63] is negative, so OR-ing it yields the
                # signed-64 value Spark's BIGINT carries directly
                word |= _POW2[i]
        words.append(word)
    return words


def hamming_topk(df: DataFrame, qvec: Sequence[float], k: int = DEFAULT_K,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 exclude_id=None, tie_col: str | None = None,
                 dist_col: str = "hamming") -> DataFrame:
    """Top-k by Hamming distance between sign-bit codes: per row,
    ``sum_w bit_count(code_w XOR qword_w)`` — a handful of ALU ops
    against a 64x-compressed scan, the same TakeOrderedAndProject
    shape as flat knn."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dim = len(list(qvec))
    qwords = binarize_one(qvec)
    code = binarize_expr(vec_col, dim)
    total = F.lit(0).cast("bigint")
    for w, qw in enumerate(qwords):
        total = total + F.bit_count(
            F.element_at(code, w + 1).bitwiseXOR(F.lit(qw)))
    out = df.withColumn(dist_col, total.cast("bigint"))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    order = [F.col(dist_col).asc_nulls_last()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    return out.orderBy(*order).limit(k)


def sq8_topk(df: DataFrame, qvec: Sequence[float], k: int = DEFAULT_K,
             codec: Sq8Codec | None = None, id_col: str = "vec_id",
             vec_col: str = "embedding", tie_col: str | None = None,
             dist_col: str = "distance") -> DataFrame:
    """Fit (if needed) + encode + approximate top-k in one pass. On a
    deployed layout the encoded table is written once (codes only) and
    this reduces to scan + score + TakeOrderedAndProject."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    codec = codec or Sq8Codec.fit(df, vec_col)
    scored = codec.encode(df, vec_col).withColumn(
        dist_col, codec.score_expr(qvec))
    order = [F.col(dist_col).asc_nulls_last()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    return scored.orderBy(*order).limit(k).drop("__sq8")
