"""Product quantization (PQ): compressed-domain ANN scoring.

Beyond-parity scale tier. The reference's indexes (flat
/root/reference/pkg/index/flat/flat.go, HNSW hnsw.go) score raw
float32 vectors; at 100 TB a 384-dim float corpus is ~1.5 KB/row and
even a pruned IVF probe drags full vectors through the scan. PQ
(Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) splits each vector into ``m`` subvectors,
quantizes each against a ``ks``-entry codebook, and stores only the
``m`` code bytes — ~100x smaller scan footprint — while asymmetric
distance computation (ADC) approximates the true distance from a
per-query lookup table without touching any raw vector.

Spark mapping:
- **Fit**: codebooks are chosen deterministically — the ``ks`` corpus
  vectors with the smallest ``md5(id)``, sliced into subvectors (the
  same engine-portable trick as ``IvfIndex.build_deterministic``), so
  any SQL engine reproduces codebooks, codes, and ADC scores —
  the whole pipeline is value-oracle-checkable, which a KMeans
  codebook can never be.
- **Encode**: pure Column expression (argmin over per-subspace
  distances) — one map-only pass, whole-stage codegen, no shuffle.
- **ADC search**: the query's lookup table (m x ks floats) is built
  driver-side in NumPy and inlined as literals; the scan computes
  ``sqrt(sum_j lut[j][code_j])`` via ``element_at`` — a few array
  lookups per row instead of a 384-dim fold — then
  TakeOrderedAndProject merges per-partition top-k. Optional exact
  re-rank re-scores only the ADC short-list with true distances.

At cluster scale the encoded table is written WITHOUT the raw vector
column (codes + ids only); re-rank then joins the short-list back to
the base table — a k-row broadcast join, not a scan.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ann import IvfIndex, _MaintainableIndex
from .chooser import rows as _rows
from ..functions.vector import vector_lit
from .knn import DEFAULT_K


class PqCodec:
    """Deterministic PQ codebooks: shape (m, ks, dim/m)."""

    def __init__(self, codebooks: np.ndarray):
        self.codebooks = codebooks
        self.m, self.ks, self.dsub = codebooks.shape

    @classmethod
    def fit_deterministic(cls, df: DataFrame, m: int = 4, ks: int = 8,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          sample: np.ndarray | None = None) -> "PqCodec":
        """Codebook entries = subvector slices of the ``ks`` corpus
        vectors with smallest (md5(id), id) — a deterministic
        pseudo-random sample any engine reproduces. Real deployments
        swap in KMeans-per-subspace; the fit API is the same.
        ``sample`` short-circuits the collect when the caller already
        holds the det_sample matrix (first ``ks`` rows are used)."""
        from .ann import det_sample

        if sample is None:
            sample = det_sample(df, ks, id_col, vec_col)
        sample = np.asarray(sample)[:ks]
        if len(sample) < ks:
            raise ValueError(f"need >= {ks} rows to fit {ks} codes")
        dim = sample.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m
        books = np.stack([sample[:, j * dsub:(j + 1) * dsub]
                          for j in range(m)])            # (m, ks, dsub)
        return cls(books)

    @classmethod
    def fit_kmeans(cls, df: DataFrame, m: int = 4, ks: int = 8,
                   vec_col: str = "embedding", seed: int = 42,
                   train_rows: int = 20_000, iters: int = 10,
                   sample: np.ndarray | None = None) -> "PqCodec":
        """Lloyd-trained per-subspace codebooks — the standard PQ fit
        (Jegou et al., TPAMI 2011 train on a sample; faiss does the
        same). Training happens driver-side in NumPy over a bounded
        sample (codebook quality saturates at ~1k points/centroid, so
        the collect is a fixed-size sample, never a data move — the
        same scaling argument as IvfIndex.build). Not value-oracle-
        checkable like fit_deterministic; validated by recall gates.
        ``sample`` short-circuits the scan when the caller already has
        training vectors in hand (e.g. residual training)."""
        if sample is None:
            n = _rows(df)
            sdf = df if n <= train_rows else \
                df.sample(fraction=min(1.0, train_rows / n), seed=seed)
            sample = np.array([list(r[0]) for r in
                               sdf.select(F.col(vec_col)
                                          .cast("array<double>")).collect()])
        dim = sample.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m
        rng = np.random.default_rng(seed)
        books = [_lloyd(sample[:, j * dsub:(j + 1) * dsub], ks, iters, rng)
                 for j in range(m)]
        return cls(np.stack(books))

    def encode_expr(self, vec):
        """``array<int>`` of length m: per-subspace argmin code (ties ->
        lowest code, matching SQL list_position-of-min). Pure Column
        expression. ``vec`` is a column name or any array Column (e.g.
        a residual expression).

        The per-subspace distances fold ONE ``transform`` lambda over
        the codebook as a nested-array literal instead of ``ks``
        copies of the fold expression (r12): the arithmetic per entry
        and the enumeration order are identical (bit-identical codes —
        the shared value oracle proves it), but the expression tree
        shrinks ~ks-fold, which cuts Catalyst analysis + codegen per
        plan (the dominant cost of the per-run PQ builds) and the
        per-row interpreted-HOF walk (measured ~25% on the sf0.1
        encode pass alone)."""
        v = (F.col(vec) if isinstance(vec, str) else vec).cast("array<double>")
        codes = []
        for j in range(self.m):
            sub = F.slice(v, j * self.dsub + 1, self.dsub)
            dists = F.transform(
                vector_lit(self.codebooks[j]), lambda c: F.aggregate(
                    F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda s, x: s + x))
            codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                         .cast("int"))
        return F.array(*codes)

    def encode(self, df: DataFrame, vec_col: str = "embedding",
               code_col: str = "__code") -> DataFrame:
        return df.withColumn(code_col, self.encode_expr(vec_col))

    def lut(self, qvec: Sequence[float],
            metric: str = "euclidean") -> np.ndarray:
        """ADC lookup table, shape (m, ks). ``euclidean``: squared L2
        from each query subvector to each codebook entry.
        ``dotproduct``: the inner-product contribution of each entry
        (faiss METRIC_INNER_PRODUCT; cosine = normalize both sides
        upstream, then dotproduct)."""
        q = np.asarray(list(qvec), dtype=np.float64)
        if q.size != self.m * self.dsub:
            raise ValueError(
                f"query dim {q.size} != codec dim {self.m * self.dsub}")
        qs = q.reshape(self.m, self.dsub)
        if metric == "euclidean":
            return ((self.codebooks - qs[:, None, :]) ** 2).sum(axis=2)
        if metric == "dotproduct":
            return (self.codebooks * qs[:, None, :]).sum(axis=2)
        raise ValueError(f"unsupported ADC metric: {metric!r}")

    def adc_from_lut(self, lut: np.ndarray, code_col: str = "__code",
                     metric: str = "euclidean"):
        """ADC distance from a precomputed (m, ks) lookup table —
        m array lookups per row: ``sqrt(sum)`` for euclidean,
        ``-(sum)`` for dotproduct (distance = negated similarity,
        matching functions/distance.py)."""
        total = F.lit(0.0)
        for j in range(self.m):
            total = total + F.element_at(
                vector_lit(lut[j]),
                F.element_at(F.col(code_col), j + 1) + 1)
        return F.sqrt(total) if metric == "euclidean" else -total

    def adc_expr(self, qvec: Sequence[float], code_col: str = "__code",
                 metric: str = "euclidean"):
        """Approximate distance from the stored codes alone."""
        return self.adc_from_lut(self.lut(qvec, metric), code_col, metric)

    def lut_expr(self, qvec_col):
        """The ADC lookup table as an ``array<array<double>>`` Column
        (shape m x ks) computed from a query-vector COLUMN — the
        distributed analogue of :meth:`lut` for batch joins, where each
        query row (or each (query, probed-cluster) row in residual
        mode) needs its own table. m*ks short folds per row, evaluated
        once per query — queries are the small side by construction."""
        qv = qvec_col.cast("array<double>")
        rows = []
        for j in range(self.m):
            sub = F.slice(qv, j * self.dsub + 1, self.dsub)
            rows.append(F.transform(
                vector_lit(self.codebooks[j]), lambda c: F.aggregate(
                    F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda s, x: s + x)))
        return F.array(*rows)

    def adc_from_lut_col(self, lut_col, code_col: str = "__code"):
        """ADC distance when the lookup table is a COLUMN (batch
        joins): ``sqrt(sum_j lut[j][code_j])`` — m nested array
        lookups per scored pair, never a dim-length fold."""
        total = F.lit(0.0)
        for j in range(self.m):
            total = total + F.element_at(
                F.element_at(lut_col, j + 1),
                F.element_at(F.col(code_col), j + 1) + 1)
        return F.sqrt(total)


class OpqCodec:
    """OPQ: an orthonormal rotation learned in front of PQ (Ge et al.,
    "Optimized Product Quantization", CVPR 2013; faiss ``OPQx_y,PQz``).

    Plain PQ quantizes fixed dim-order subspaces; when variance or
    correlation crosses subspace boundaries, quantization error
    concentrates there. OPQ alternates (a) Lloyd codebook fits on the
    ROTATED training sample with (b) the Procrustes rotation update
    R = U V^T from SVD(X^T X̂), provably non-increasing in
    ||XR − X̂||²_F — the rotation redistributes variance so every
    subspace carries quantizable structure.

    Scale shape: training is driver-side NumPy on the SAME bounded
    sample as ``fit_kmeans`` (quality saturates with sample size, so
    the collect is fixed-size regardless of corpus). ENCODE cannot stay
    a per-subspace Column expression — the rotation mixes all
    dimensions — so it runs as an Arrow-batched map (one BLAS X @ R per
    batch + vectorized argmin per subspace): map-only, no shuffle, and
    the encoded table still stores only m code bytes. Queries rotate
    driver-side (one matvec); ADC/LUT machinery is shared with
    :class:`PqCodec` unchanged. Not value-oracle-checkable (KMeans +
    SVD); gated by the quantization-error and recall tests in
    tests/test_pq.py.
    """

    def __init__(self, rotation: np.ndarray, codec: PqCodec):
        self.rotation = rotation  # (dim, dim), orthonormal
        self.codec = codec
        self.m, self.ks, self.dsub = codec.m, codec.ks, codec.dsub

    @classmethod
    def fit(cls, df: DataFrame, m: int = 4, ks: int = 8,
            vec_col: str = "embedding", seed: int = 42,
            train_rows: int = 20_000, iters: int = 10,
            opq_iters: int = 8,
            sample: np.ndarray | None = None) -> "OpqCodec":
        if sample is None:
            n = _rows(df)
            sdf = df if n <= train_rows else \
                df.sample(fraction=min(1.0, train_rows / n), seed=seed)
            sample = np.array([list(r[0]) for r in
                               sdf.select(F.col(vec_col)
                                          .cast("array<double>")).collect()])
        X = np.asarray(sample, dtype=np.float64)
        dim = X.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m
        R = np.eye(dim)
        rng = np.random.default_rng(seed)
        codec = None
        for _ in range(max(1, opq_iters)):
            Xr = X @ R
            books = np.stack([_lloyd(Xr[:, j * dsub:(j + 1) * dsub],
                                     ks, iters, rng) for j in range(m)])
            codec = PqCodec(books)
            Xhat = _reconstruct(Xr, books)       # decode(encode(Xr))
            # Procrustes: min_R ||X R - Xhat||_F  s.t. R^T R = I
            U, _, Vt = np.linalg.svd(X.T @ Xhat)
            R = U @ Vt
        return cls(R, codec)

    def quantization_error(self, X: np.ndarray) -> float:
        """Mean squared reconstruction error ||xR − decode(encode(xR))||²
        — the quantity OPQ's alternation minimizes; the test gate."""
        Xr = np.asarray(X, dtype=np.float64) @ self.rotation
        return float(((Xr - _reconstruct(Xr, self.codec.codebooks)) ** 2)
                     .sum(axis=1).mean())

    def rotate_query(self, qvec: Sequence[float]) -> np.ndarray:
        return np.asarray(list(qvec), dtype=np.float64) @ self.rotation

    def encode(self, df: DataFrame, vec_col: str = "embedding",
               code_col: str = "__code") -> DataFrame:
        """Arrow-batched rotate+encode: X @ R once per batch (BLAS),
        then per-subspace vectorized argmin. Map-only; appends
        ``code_col ARRAY<INT>`` and keeps every input column."""
        import pandas as pd

        R = self.rotation
        books = self.codec.codebooks
        m, dsub = self.m, self.dsub
        out_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        ) + f", {code_col} array<int>"

        def enc(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Xr = np.stack(pdf[vec_col].map(
                    lambda v: np.asarray(v, dtype=np.float64)).values) @ R
                codes = np.empty((len(pdf), m), dtype=np.int32)
                for j in range(m):
                    S = Xr[:, j * dsub:(j + 1) * dsub]
                    C = books[j]
                    d = ((S ** 2).sum(1)[:, None] + (C ** 2).sum(1)[None]
                         - 2.0 * (S @ C.T))
                    codes[:, j] = d.argmin(1)
                res = pdf.copy()
                res[code_col] = list(codes)
                yield pd.DataFrame(res)

        return df.mapInPandas(enc, out_ddl)

    def adc_expr(self, qvec: Sequence[float], code_col: str = "__code",
                 metric: str = "euclidean"):
        """ADC against the ROTATED query — distances approximate the
        true metric because the rotation is orthonormal (preserves both
        norms and inner products)."""
        return self.codec.adc_from_lut(
            self.codec.lut(self.rotate_query(qvec), metric),
            code_col, metric)


def _reconstruct(Xr: np.ndarray, books: np.ndarray) -> np.ndarray:
    """decode(encode(Xr)) under per-subspace codebooks (m, ks, dsub)."""
    m, _, dsub = books.shape
    out = np.empty_like(Xr)
    for j in range(m):
        S = Xr[:, j * dsub:(j + 1) * dsub]
        C = books[j]
        d = ((S ** 2).sum(1)[:, None] + (C ** 2).sum(1)[None]
             - 2.0 * (S @ C.T))
        out[:, j * dsub:(j + 1) * dsub] = C[d.argmin(1)]
    return out


def _lloyd(S: np.ndarray, ks: int, iters: int, rng) -> np.ndarray:
    """Plain Lloyd iterations, BLAS-shaped (||s||^2 + ||c||^2 - 2 s.c —
    no (n, ks, dsub) intermediate). Empty clusters re-seed to the point
    farthest from its assigned centroid."""
    if len(S) < ks:
        raise ValueError(f"need >= {ks} training rows, got {len(S)}")
    C = S[rng.choice(len(S), size=ks, replace=False)].copy()
    for _ in range(iters):
        d = ((S ** 2).sum(1)[:, None] + (C ** 2).sum(1)[None]
             - 2.0 * (S @ C.T))
        a = d.argmin(1)
        for c in range(ks):
            pts = S[a == c]
            if len(pts):
                C[c] = pts.mean(0)
            else:
                C[c] = S[d.min(1).argmax()]
    return C


class PqIndex(_MaintainableIndex):
    """Encoded-table index with ADC search + optional exact re-rank.
    Maintenance (Add/Delete/Size/GetIDs — reference
    pkg/index/index.go:19-49) via _MaintainableIndex; ``add`` encodes
    only the delta."""

    TABLE_DIR = "codes"
    PARTITION_COL = None

    def __init__(self, codec: PqCodec, table: DataFrame,
                 id_col: str, vec_col: str):
        self.codec = codec
        self.table = table  # base columns + __code
        self.id_col = id_col
        self.vec_col = vec_col
        self._deleted = None

    @classmethod
    def build(cls, df: DataFrame, m: int = 4, ks: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding") -> "PqIndex":
        codec = PqCodec.fit_deterministic(df, m, ks, id_col, vec_col)
        return cls(codec, codec.encode(df, vec_col), id_col, vec_col)

    @classmethod
    def build_opq(cls, df: DataFrame, m: int = 4, ks: int = 8,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  **fit_kw) -> "PqIndex":
        """OPQ-rotated PQ index (faiss ``OPQx,PQy`` analogue): learned
        rotation + Lloyd codebooks, Arrow-batched encode, same ADC
        search/maintenance surface. Recall/error-gated, not
        value-oracled (KMeans+SVD are not SQL-reproducible)."""
        codec = OpqCodec.fit(df, m, ks, vec_col=vec_col, **fit_kw)
        return cls(codec, codec.encode(df, vec_col), id_col, vec_col)

    def _index_rows(self, df: DataFrame) -> DataFrame:
        return self.codec.encode(df, self.vec_col)

    def search(self, qvec: Sequence[float], k: int = DEFAULT_K,
               rerank: int = 0, dist_col: str = "distance",
               metric: str = "euclidean") -> DataFrame:
        """ADC top-k. ``rerank > 0``: take the top ``rerank * k`` ADC
        candidates, re-score them with the TRUE distance (only the
        short-list — k*rerank rows — touches raw vectors), return the
        exact-ranked top-k. The standard PQ accuracy knob.
        ``metric``: euclidean or dotproduct (faiss's two PQ metrics;
        cosine = normalize upstream + dotproduct)."""
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        scored = self._live(self.table).withColumn(
            dist_col, self.codec.adc_expr(qvec, metric=metric))
        if not rerank:
            return (scored.orderBy(F.col(dist_col).asc_nulls_last(),
                                   F.col(self.id_col).asc())
                    .limit(k).drop("__code"))
        from ..functions.distance import distance
        short = (scored.orderBy(F.col(dist_col).asc_nulls_last(),
                                F.col(self.id_col).asc())
                 .limit(rerank * k).drop(dist_col))
        exact = short.withColumn(
            dist_col, distance(metric, F.col(self.vec_col), vector_lit(qvec)))
        return (exact.orderBy(F.col(dist_col).asc_nulls_last(),
                              F.col(self.id_col).asc())
                .limit(k).drop("__code"))

    # -- persistence (S5 analogue) --------------------------------------

    def save(self, path: str, drop_vectors: bool = False) -> None:
        """Persist codes (+ params). ``drop_vectors=True`` writes the
        compressed form only — the 100 TB layout; searches then need
        ``rerank=0`` or an external base table for re-rank."""
        t = self._live(self.table)
        if drop_vectors:
            t = t.drop(self.vec_col)
        t.write.mode("overwrite").parquet(os.path.join(path, "codes"))
        if isinstance(self.codec, OpqCodec):
            meta = {"codebooks": self.codec.codec.codebooks.tolist(),
                    "rotation": self.codec.rotation.tolist()}
        else:
            meta = {"codebooks": self.codec.codebooks.tolist()}
        meta.update(id_col=self.id_col, vec_col=self.vec_col)
        with open(os.path.join(path, "pq_meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PqIndex":
        with open(os.path.join(path, "pq_meta.json")) as f:
            meta = json.load(f)
        table = spark.read.parquet(os.path.join(path, "codes"))
        codec = PqCodec(np.asarray(meta["codebooks"]))
        if "rotation" in meta:
            codec = OpqCodec(np.asarray(meta["rotation"]), codec)
        return cls(codec, table, meta["id_col"], meta["vec_col"])


class IvfPqIndex(_MaintainableIndex):
    """IVF coarse pruning composed with PQ compressed scoring — the
    canonical billion-scale ANN layout (faiss ``IVFx,PQy``): the probe
    prunes to ``nprobe`` clusters (partition pruning when saved
    partitioned by ``__cluster``), then ADC ranks the survivors from
    their code bytes alone. A 100 TB search touches
    ``nprobe/n_centroids`` of the partitions and m bytes per surviving
    row; raw vectors only appear in the optional k-row re-rank.

    Two encodings, same layout and code size:

    - ``build_deterministic`` quantizes the RAW vectors: one codec
      serves all clusters and the DuckDB value oracle
      (workload.ann_ivfpq_topk) stays an exact composition of the IVF
      and PQ oracles.
    - ``build_residual`` quantizes ``v - centroid[cluster]`` (the
      faiss IVF-PQ default, Jegou et al. TPAMI 2011 §IV): residuals
      are smaller than raw vectors, so the same m x ks codebook grid
      spends its resolution on the part that distinguishes neighbors
      within a probed cluster — higher recall at equal bytes. The ADC
      lookup table becomes per-probed-cluster (built from
      ``q - centroid_c``, still driver-side); with nprobe clusters the
      distance expression is an nprobe-way CASE on ``__cluster``.
      KMeans codebooks (fit_kmeans) pair naturally with this mode;
      validated by the recall gate (tests/test_ann_recall.py), not a
      value oracle.
    """

    TABLE_DIR = "clusters"
    PARTITION_COL = "__cluster"

    def __init__(self, centroids: np.ndarray, codec: PqCodec,
                 table: DataFrame, id_col: str, vec_col: str,
                 residual: bool = False):
        self.centroids = centroids
        self.codec = codec
        self.table = table  # base columns + __cluster + __code
        self.id_col = id_col
        self.vec_col = vec_col
        self.residual = residual
        self._deleted = None

    @classmethod
    def build_deterministic(cls, df: DataFrame, n_centroids: int = 8,
                            m: int = 4, ks: int = 8,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> "IvfPqIndex":
        """One map-only pass adds both the cluster id and the code.
        Centroids and codebooks slice the SAME det_sample collect —
        one driver job instead of two identical ones. cap: the
        n_centroids default is the oracle-demo layout; scale callers
        size via chooser.ivf_nlist (the auto join/search tiers do)."""
        from .ann import det_sample

        sample = det_sample(df, max(n_centroids, ks), id_col, vec_col)
        ivf = IvfIndex.build_deterministic(df, n_centroids, id_col,
                                           vec_col, sample=sample)
        codec = PqCodec.fit_deterministic(df, m, ks, id_col, vec_col,
                                          sample=sample)
        return cls(ivf.centroids, codec, codec.encode(ivf.table, vec_col),
                   id_col, vec_col)

    @classmethod
    def build_residual(cls, df: DataFrame, n_centroids: int = 8,
                       m: int = 4, ks: int = 8,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       seed: int = 42, train_rows: int = 20_000,
                       trained_centroids: bool = False) -> "IvfPqIndex":
        """Residual IVF-PQ with Lloyd-trained per-subspace codebooks.
        ``trained_centroids=True`` uses MLlib-KMeans coarse centroids
        (IvfIndex.build); default is the deterministic md5 sample so
        cluster assignment stays engine-reproducible. cap: n_centroids
        default is demo-sized; scale callers route chooser.ivf_nlist."""
        ivf = (IvfIndex.build(df, n_centroids, seed, id_col, vec_col)
               if trained_centroids else
               IvfIndex.build_deterministic(df, n_centroids, id_col, vec_col))
        # train codebooks on RESIDUALS of a bounded sample
        n = _rows(df)
        sdf = ivf.table if n <= train_rows else \
            ivf.table.sample(fraction=min(1.0, train_rows / n), seed=seed)
        rows = sdf.select(F.col(vec_col).cast("array<double>"),
                          "__cluster").collect()
        resid = np.array([np.asarray(list(r[0])) - ivf.centroids[r[1]]
                          for r in rows])
        codec = PqCodec.fit_kmeans(df, m, ks, vec_col, seed, sample=resid)
        out = cls(ivf.centroids, codec, None, id_col, vec_col, residual=True)
        out.table = out._index_rows(df)
        return out

    def _residual_expr(self, vec_col: str):
        """v - centroid[cluster] as a pure Column expression (the
        centroid matrix is broadcast-sized by construction)."""
        cent = F.element_at(vector_lit(self.centroids),
                            F.col("__cluster") + 1)
        return F.zip_with(F.col(vec_col).cast("array<double>"), cent,
                          lambda x, y: x - y)

    def _index_rows(self, df: DataFrame) -> DataFrame:
        assigned = df.withColumn(
            "__cluster", IvfIndex._assign_expr(self.centroids, self.vec_col))
        vec = self._residual_expr(self.vec_col) if self.residual \
            else self.vec_col
        return assigned.withColumn("__code", self.codec.encode_expr(vec))

    def _probe(self, qvec: Sequence[float], nprobe: int,
               metric: str = "euclidean") -> list[int]:
        q = np.asarray(list(qvec), dtype=np.float64)
        if metric != "dotproduct":
            from .knn import _probe_np
            return _probe_np(q[None], self.centroids, nprobe)[0].tolist()
        dists = -(self.centroids @ q)  # best cluster = max IP
        return [int(c) for c in np.argsort(dists, kind="stable")[:nprobe]]

    def candidates(self, qvec: Sequence[float], nprobe: int = 3) -> DataFrame:
        probe = self._probe(qvec, nprobe)
        return self._live(self.table.filter(F.col("__cluster").isin(probe)))

    def _adc(self, qvec: Sequence[float], probe: list[int],
             metric: str = "euclidean"):
        """ADC distance column. Raw mode: one global LUT (euclidean or
        inner-product, faiss's two PQ metrics). Residual mode:
        per-probed-cluster LUTs from q - centroid_c, fused into an
        nprobe-way CASE on __cluster — euclidean-only (the residual
        decomposition ||q-v||^2 = ||(q-c)-(v-c)||^2 has no IP
        analogue over residual codes)."""
        if not self.residual:
            return self.codec.adc_expr(qvec, metric=metric)
        if metric != "euclidean":
            raise ValueError(
                "residual IVF-PQ supports euclidean ADC only; build "
                "with build_deterministic for inner-product search")
        q = np.asarray(list(qvec), dtype=np.float64)
        expr = None
        for c in probe:
            adc_c = self.codec.adc_from_lut(self.codec.lut(q - self.centroids[c]))
            cond = F.col("__cluster") == c
            expr = F.when(cond, adc_c) if expr is None else expr.when(cond, adc_c)
        return expr

    def search(self, qvec: Sequence[float], k: int = DEFAULT_K,
               nprobe: int = 3, rerank: int = 0,
               dist_col: str = "distance",
               metric: str = "euclidean") -> DataFrame:
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        probe = self._probe(qvec, nprobe, metric)
        scored = self._live(
            self.table.filter(F.col("__cluster").isin(probe))
        ).withColumn(dist_col, self._adc(qvec, probe, metric))
        top = (scored.orderBy(F.col(dist_col).asc_nulls_last(),
                              F.col(self.id_col).asc())
               .limit(rerank * k if rerank else k))
        if not rerank:
            return top.drop("__code", "__cluster")
        from ..functions.distance import distance
        exact = top.drop(dist_col).withColumn(
            dist_col, distance(metric, F.col(self.vec_col), vector_lit(qvec)))
        return (exact.orderBy(F.col(dist_col).asc_nulls_last(),
                              F.col(self.id_col).asc())
                .limit(k).drop("__code", "__cluster"))

    def save(self, path: str, drop_vectors: bool = False) -> None:
        t = self._live(self.table)
        if drop_vectors:
            t = t.drop(self.vec_col)
        t.write.mode("overwrite").partitionBy("__cluster") \
            .parquet(os.path.join(path, "clusters"))
        meta = {"centroids": self.centroids.tolist(),
                "codebooks": self.codec.codebooks.tolist(),
                "id_col": self.id_col, "vec_col": self.vec_col,
                "residual": self.residual}
        with open(os.path.join(path, "ivfpq_meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IvfPqIndex":
        with open(os.path.join(path, "ivfpq_meta.json")) as f:
            meta = json.load(f)
        table = spark.read.parquet(os.path.join(path, "clusters"))
        return cls(np.asarray(meta["centroids"]),
                   PqCodec(np.asarray(meta["codebooks"])), table,
                   meta["id_col"], meta["vec_col"],
                   residual=meta.get("residual", False))


def knn_join_ivfpq(queries: DataFrame, index: IvfPqIndex,
                   k: int = DEFAULT_K, nprobe: int = 3, rerank: int = 0,
                   query_id_col: str = "query_id",
                   query_vec_col: str = "query_vec",
                   dist_col: str = "distance") -> DataFrame:
    """Batch similarity join over the compressed index: IVF cluster
    pruning + per-query ADC scoring — the billion-scale batch-search
    layout (faiss IVFx,PQy batch mode) as a DataFrame join.

    Each query row explodes to its ``nprobe`` nearest clusters and
    carries its own ADC lookup table, computed as a Column expression
    (``PqCodec.lut_expr``) — in residual mode from ``q - centroid_c``
    per exploded row, so the cluster equi-join automatically pairs
    every corpus row with the right table. The join side scans only
    the m code bytes per row; scoring is m array lookups per pair
    (``adc_from_lut_col``), never a dim-length fold. Reduction is the
    shared two-phase top-k.

    ``rerank > 0`` re-scores the top ``rerank * k`` ADC candidates per
    query with TRUE euclidean distances — only the short-list (a
    broadcast-sized set) ever touches raw vectors, so the index table
    may be saved with ``drop_vectors=True`` as long as ``index.table``
    retains the vector column locally (re-rank joins back to it).
    """
    from .knn import _per_query_topk, probe_clusters_expr

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    probes = probe_clusters_expr(index.centroids,
                                 F.col(query_vec_col), nprobe)
    q = queries.select(F.col(query_id_col).alias("__qid"),
                       F.col(query_vec_col).alias("__qvec"),
                       F.explode(probes).alias("__cluster"))
    if index.residual:
        qeff = F.zip_with(F.col("__qvec").cast("array<double>"),
                          F.element_at(vector_lit(index.centroids),
                                       F.col("__cluster") + 1),
                          lambda x, y: x - y)
    else:
        qeff = F.col("__qvec")
    q = F.broadcast(q.withColumn("__lut", index.codec.lut_expr(qeff))
                    .drop("__qvec"))
    corpus = index._live(index.table)
    pairs = corpus.select(
        F.col(index.id_col).alias("__cid"), "__cluster", "__code"
    ).join(q, "__cluster").select(
        "__qid", "__cid",
        index.codec.adc_from_lut_col(F.col("__lut")).alias(dist_col)
    ).filter(F.col(dist_col).isNotNull())
    topk = _per_query_topk(pairs, rerank * k if rerank else k, dist_col)
    out = topk.select(F.col("__qid").alias(query_id_col),
                      F.col("__cid").alias(index.id_col), F.col(dist_col))
    if not rerank:
        return out
    from ..functions.distance import distance as dist_fn
    qv = queries.select(query_id_col, query_vec_col)
    # short-list (|queries| x rerank*k rows) + query vectors: broadcast
    # it against the base table — raw vectors never shuffle
    short = out.drop(dist_col).join(F.broadcast(qv), query_id_col)
    base = index._live(index.table).select(index.id_col, index.vec_col)
    exact = base.join(F.broadcast(short), index.id_col).select(
        F.col(query_id_col).alias("__qid"),
        F.col(index.id_col).alias("__cid"),
        dist_fn("euclidean", F.col(index.vec_col),
                F.col(query_vec_col)).alias(dist_col))
    final = _per_query_topk(exact, k, dist_col, two_phase=False)
    return final.select(F.col("__qid").alias(query_id_col),
                        F.col("__cid").alias(index.id_col),
                        F.col(dist_col))
