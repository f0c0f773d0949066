"""Exact k-nearest-neighbor operators.

Reference: flat (brute-force) index Search at
/root/reference/pkg/index/flat/flat.go:100-144 — distance to every
vector, sort all, take k — and the NEAREST TO executor at
/root/reference/pkg/sql/executor/executor.go:251-388 (default LIMIT 10
:306-309, self-match exclusion :363-366). The reference rebuilds its
index from a full scan on every query (:311-339) — a misfeature we do
NOT replicate: here knn is a plain scan+top-k over the base table.

Scale design:
- ``knn`` compiles to TakeOrderedAndProject: per-partition top-k then a
  driver-side merge of k*num_partitions rows — no shuffle of the scan.
  That plan survives 100 TB (each executor returns only k rows).
- ``knn_join`` (many queries at once) broadcasts the query set, computes
  distances partition-locally, then reduces with a two-phase top-k
  (per-partition groupBy -> global groupBy) so the shuffle carries at
  most |queries| x num_partitions x k rows instead of |queries| x N.
  It is the narrow-dim tier and the oracle tier of the exact join.

The Arrow tiers share one NumPy kernel, a local top-k per batch or
group plus one global merge (the REPOSE shape of distributed top-k):

- ``_np_dists`` is the only NumPy definition of the four metrics
  (BLAS-expansion euclidean); ``_diff_dists`` is the direct difference
  form (euclidean without cancellation, and manhattan), chunked to
  ``DIFF_CHUNK_CELLS``; ``_scan_dists`` picks the direct euclidean for
  the scan kernels.
- ``_topk_cut`` is the only per-query (distance, id) cut: tie-safe,
  vectorized, non-finite distances dropped (``_topk_candidates`` then
  ``_first_k``; the broadcast kernel runs the first per block and the
  second once per batch).
- Two batch kernels feed ``_per_query_topk``: ``_broadcast_pairs``
  (queries collected behind one prologue and shipped as a broadcast
  variable; one mapInPandas pass over the corpus) and ``_cogroup_pairs``
  (both sides shuffled once on a group key). ``knn_join_arrow`` is
  ``_broadcast_pairs`` with every corpus row in cluster 0 and every
  query probing it; ``knn_join_ivf_arrow`` runs either kernel over the
  index's clusters; ``negatives`` runs ``_cogroup_pairs`` with a label
  mask.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd  # module-level: pandas_udf resolves string hints here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.distance import METRICS, distance
from ..functions.util import bind_once
from ..functions.vector import vector_lit

DEFAULT_K = 10  # reference executor.go:306-309


def lookup_vector(df: DataFrame, id_col: str, id_value) -> list[float]:
    """Fetch one stored embedding (query-by-id, reference main.go:366-374).

    A single-row point lookup; the filter is pushed down to the Parquet
    scan. Driver-side collect of ONE row is the query parameter, not a
    data move.
    """
    row = df.filter(F.col(id_col) == id_value).select("embedding").first()
    if row is None:
        raise KeyError(f"vector not found: {id_col}={id_value!r}")
    return list(row[0])


def knn(df: DataFrame, query_vec: Sequence[float] | Column, k: int = DEFAULT_K,
        metric: str = "euclidean", vec_col: str = "embedding",
        exclude_id=None, id_col: str | None = None,
        dist_col: str = "distance", tie_col: str | None = None) -> DataFrame:
    """Top-k nearest rows to ``query_vec``. Errors on k < 1 like the
    reference (flat.go:108-110). ``exclude_id`` drops the self-match
    when the query is itself a stored row (executor.go:363-366).
    ``tie_col`` adds a secondary ascending sort so ties at the k
    boundary resolve to a deterministic total order (required when the
    result is compared value-for-value against another engine)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = query_vec if isinstance(query_vec, Column) else vector_lit(query_vec)
    # bind_once: cosine references its first argument ~6x (dot, two
    # norms, zero-check); if vec_col is a DERIVED column (e.g. an
    # unmaterialized embedding_expr projection) Catalyst's projection
    # collapse would re-inline the whole chain at every reference —
    # measured 19x on search-text over a freshly embedded corpus.
    # Binding the vector as a lambda variable evaluates it once per row;
    # for a plain parquet column the wrap is a no-op-cost array of one.
    out = df.withColumn(
        dist_col, bind_once(F.col(vec_col), lambda v: distance(metric, v, q)))
    if exclude_id is not None:
        if id_col is None:
            raise ValueError("exclude_id requires id_col")
        out = out.filter(F.col(id_col) != exclude_id)
    # orderBy + limit => TakeOrderedAndProject (no full sort, no shuffle).
    # NULLS LAST: Spark's asc is nulls-FIRST, which would rank rows with
    # null distance (dimension mismatch, null embedding) above every
    # real match. The reference hard-errors on mismatch
    # (distance.go:56-58); we exclude — documented divergence.
    order = [F.col(dist_col).asc_nulls_last()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    return out.orderBy(*order).limit(k)


def knn_arrow(df: DataFrame, query_vec: Sequence[float], k: int = DEFAULT_K,
              metric: str = "euclidean", vec_col: str = "embedding",
              id_cols: Sequence[str] | None = None,
              exclude_id=None, id_col: str | None = None,
              dist_col: str = "distance",
              tie_col: str | None = None) -> DataFrame:
    """Exact top-k via Arrow-batched NumPy scoring.

    The pure-Column ``knn`` keeps everything in the JVM, but Catalyst
    evaluates higher-order distance folds element-at-a-time. Cosine
    top-10 over 20,000 cached random rows, 4 partitions, collect, best
    of 5, 4-core host, seconds:

      dim         8     16     32     64    128
      column   0.31   0.25   0.31   0.46   0.80
      arrow    0.19   0.17   0.17   0.17   0.20

    so this is the exact single-query tier at every dimension. Plan shape:
    mapInPandas scores a batch (one matrix-vector product) and emits
    only that batch's local top-k, then TakeOrderedAndProject merges —
    the executors return k rows per batch, never the scored corpus.

    Same null/mismatch semantics as ``knn``: rows whose vector length
    differs from the query are excluded. ``tie_col`` (must be in
    ``id_cols``) makes the top-k a deterministic total order — applied
    both inside each batch's local top-k and in the global merge, so a
    tie at the k boundary resolves identically to a tie-broken oracle.
    """
    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if metric not in METRICS:
        raise ValueError(f"unsupported metric: {metric!r}")
    if id_cols is None:
        id_cols = [c for c in df.columns if c != vec_col]
    if tie_col is not None and tie_col not in id_cols:
        raise ValueError(f"tie_col {tie_col!r} must be in id_cols")
    q = np.asarray(list(query_vec), dtype=np.float64)
    src = df.select(*id_cols, vec_col)
    if exclude_id is not None:
        if id_col is None:
            raise ValueError("exclude_id requires id_col")
        # exclusion must precede the per-batch top-k, or a batch whose
        # local top-k contained the excluded row under-contributes
        src = src.filter(F.col(id_col) != exclude_id)
    out_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in src.schema.fields
                        if f.name != vec_col) + f", {dist_col} double"

    def score(batches):
        for pdf in batches:
            vecs = pdf[vec_col]
            ok = vecs.map(lambda v: v is not None and len(v) == q.size)
            pdf = pdf[ok.values]
            if not len(pdf):
                continue
            res = pdf[list(id_cols)].copy()
            res[dist_col] = _scan_dists(q[None, :], _stack_vecs(pdf[vec_col]),
                                        metric)[0]
            sort_cols = [dist_col] + ([tie_col] if tie_col else [])
            top = res.sort_values(sort_cols, kind="stable").head(k)
            yield pd.DataFrame(top)

    scored = src.mapInPandas(score, out_ddl)
    order = [F.col(dist_col).asc_nulls_last()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    return scored.orderBy(*order).limit(k)


def range_search(df: DataFrame, query_vec: Sequence[float] | Column,
                 radius: float, metric: str = "euclidean",
                 vec_col: str = "embedding", dist_col: str = "distance",
                 exclude_id=None, id_col: str | None = None,
                 limit: int | None = None,
                 tie_col: str | None = None) -> DataFrame:
    """Radius query: every row within ``radius`` of the query (faiss
    ``range_search`` shape — the \"all neighbors this close\" dual of
    top-k). The distance predicate is a map-side filter, so the scan
    parallelizes like any filter; unlike top-k there is no shuffle at
    all unless the caller asks for an ordered ``limit`` head (which
    compiles to TakeOrderedAndProject, per-partition heaps). Rows with
    null distance (dim mismatch / null vector) are excluded, matching
    the knn tier's documented divergence from the reference's
    hard-error (distance.go:56-58)."""
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    q = query_vec if isinstance(query_vec, Column) else vector_lit(query_vec)
    out = df.withColumn(
        dist_col, bind_once(F.col(vec_col), lambda v: distance(metric, v, q)))
    if exclude_id is not None:
        if id_col is None:
            raise ValueError("exclude_id requires id_col")
        out = out.filter(F.col(id_col) != exclude_id)
    out = out.filter(F.col(dist_col) <= radius)
    if limit is not None:
        order = [F.col(dist_col).asc_nulls_last()]
        if tie_col is not None:
            order.append(F.col(tie_col).asc())
        out = out.orderBy(*order).limit(limit)
    return out


def knn_per_group(df: DataFrame, query_vec: Sequence[float] | Column,
                  group_col: str, k: int = DEFAULT_K,
                  metric: str = "euclidean", vec_col: str = "embedding",
                  dist_col: str = "distance",
                  tie_col: str | None = None) -> DataFrame:
    """Top-``k`` nearest rows to the query PER GROUP — "the k best
    matches from every source/label/shard" (diversified retrieval; a
    plain top-k would let one dense group crowd out the rest). One
    map-side distance projection + one per-group window rank: the
    shuffle is on the group key only, there is no global sort, and
    each group's rank is a bounded per-partition pass. Rows with null
    distance are excluded (the knn tier's contract)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window
    q = query_vec if isinstance(query_vec, Column) else vector_lit(query_vec)
    scored = df.withColumn(
        dist_col, bind_once(F.col(vec_col), lambda v: distance(metric, v, q))
    ).filter(F.col(dist_col).isNotNull())
    order = [F.col(dist_col).asc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    win = Window.partitionBy(group_col).orderBy(*order)
    return (scored.withColumn("__rk", F.row_number().over(win))
            .filter(F.col("__rk") <= k).drop("__rk"))


def _per_query_topk(pairs: DataFrame, k: int, dist_col: str,
                    two_phase: bool = True) -> DataFrame:
    """Reduce scored (__qid, __cid, dist) pairs to the k best per query.

    Two-phase: per-(query, partition) top-k first — a partition-local
    aggregation, no shuffle — then the global merge shuffles at most
    |queries| x num_partitions x k rows instead of |queries| x N.
    struct(dist, id) sorts lexicographically, so ties at the k boundary
    break on ascending corpus id — a deterministic total order.
    ``two_phase=False`` ranks with one window per query instead: the
    Arrow tiers' pairs are already cut to a local top-k per batch.
    """
    def local_topk(df: DataFrame, keys: list[str]) -> DataFrame:
        agg = df.groupBy(*keys).agg(
            F.slice(F.sort_array(F.collect_list(F.struct(dist_col, "__cid"))),
                    1, k).alias("__top"))
        return agg.select(*[c for c in keys if c == "__qid"],
                          F.explode("__top").alias("__t")).select(
            "__qid", F.col(f"__t.__cid").alias("__cid"),
            F.col(f"__t.{dist_col}").alias(dist_col))

    if two_phase:
        phase1 = local_topk(
            pairs.withColumn("__pid", F.spark_partition_id()),
            ["__qid", "__pid"])
        return local_topk(phase1, ["__qid"])
    from pyspark.sql import Window
    w = Window.partitionBy("__qid").orderBy(F.col(dist_col).asc(),
                                            F.col("__cid").asc())
    return pairs.withColumn("__rn", F.row_number().over(w)) \
        .filter(F.col("__rn") <= k).drop("__rn")


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = DEFAULT_K,
             metric: str = "euclidean",
             query_id_col: str = "query_id", query_vec_col: str = "query_vec",
             corpus_id_col: str = "vec_id", corpus_vec_col: str = "embedding",
             dist_col: str = "distance") -> DataFrame:
    """For every query row, its k nearest corpus rows (exact).

    Output: (query_id, vec_id, distance). The query side is broadcast
    (it is the small side by construction); each corpus partition emits
    only its local top-k per query before the single shuffle. A query
    with a null vector scores null against every row and gets no rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qvec")))
    pairs = corpus.select(
        F.col(corpus_id_col).alias("__cid"), F.col(corpus_vec_col).alias("__cvec")
    ).crossJoin(q).select(
        "__qid", "__cid",
        distance(metric, F.col("__cvec"), F.col("__qvec")).alias(dist_col)
    ).filter(F.col(dist_col).isNotNull())  # drop dim-mismatch scores
    topk = _per_query_topk(pairs, k, dist_col)
    return topk.select(F.col("__qid").alias(query_id_col),
                       F.col("__cid").alias(corpus_id_col),
                       F.col(dist_col))


def knn_join_arrow(queries: DataFrame, corpus: DataFrame,
                   k: int = DEFAULT_K, metric: str = "euclidean",
                   query_id_col: str = "query_id",
                   query_vec_col: str = "query_vec",
                   corpus_id_col: str = "vec_id",
                   corpus_vec_col: str = "embedding",
                   dist_col: str = "distance") -> DataFrame:
    """Exact batch knn join, Arrow/BLAS tier — ``knn_join`` with the
    scoring done as one matrix op per Arrow batch instead of the
    Catalyst per-element distance fold (which is interpreted for
    higher-order functions; at dim 384 the fold made a 20-query exact
    recall gate cost as much as building a 200k-node graph index:
    48.7 s vs 5 s for this tier, same result). Equal top-k to
    ``knn_join`` including boundary ties (parity-tested): the
    per-batch local top-k and the global reduce both order by
    (distance, corpus id).

    An exact broadcast join is an ivf-broadcast join whose one cluster
    holds every corpus row: this is ``knn_join_ivf_arrow``'s broadcast
    kernel with every row in cluster 0 and every query probing it. The
    query side is collected to one matrix — bounded by the same
    contract under which the Column tier broadcasts it (queries are
    the small side). Queries with a null vector get no rows, as in
    ``knn_join``; the others must share one dimension (``ValueError``
    otherwise), and corpus rows of any other length are excluded, the
    per-pair mismatch rule specialized to a uniform query batch.
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if metric not in METRICS:
        raise ValueError(f"unsupported metric: {metric!r}")
    q = queries.select(F.col(query_id_col).alias("__qid"),
                       F.col(query_vec_col).alias("__qvec"))
    rows = corpus.select(F.col(corpus_id_col).alias("__cid"),
                         F.col(corpus_vec_col).alias("__cvec"),
                         F.lit(0).alias("__cluster"))
    pairs = _broadcast_pairs(q, rows, k, metric, "__cluster", dist_col,
                             lambda Q: {0: np.arange(len(Q))})
    topk = _per_query_topk(pairs, k, dist_col, two_phase=False)
    return topk.select(F.col("__qid").alias(query_id_col),
                       F.col("__cid").alias(corpus_id_col),
                       F.col(dist_col))


#: The nearest-centroid rule has two arithmetic forms (``_probe_np``).
#: At or below this many centroids it sums squared differences over
#: the dim axis in order, then takes the sqrt: bit for bit the SQL fold
#: that the deterministic-IVF oracle replays (every oracle index is
#: nlist 8) and that assigned saved indexes of up to 16 centroids, so
#: their later adds and probes agree with the stored clusters. Above
#: it, the BLAS expansion (one matmul per batch). The two can order a
#: float near-tie differently, so the form is pinned by nlist, never by
#: batch shape. Both break ties on the lowest centroid index.
#: ``python tools/tier_probe.py assign <sf0.1 dir> 5`` (2,000 x 64
#: embeddings, NumPy only, best of 5, 4-core host), ms per pass:
#:   nlist             8     16     32     64    128    179    256    565
#:   inorder assign  5.8    9.6   20.3   40.9   88.4  110.5  162.7  600.3
#:   inorder probe   5.4   11.4   25.2   48.0  101.0  121.0  188.4  655.6
#:   blas    assign  0.4    0.4    0.6    1.1    2.2    2.7    3.6   11.8
#:   blas    probe   0.6    1.0    2.1    4.6   12.2   18.8   26.6   79.4
#: The in-order form is linear in nlist and the slower one everywhere;
#: this constant bounds it where bit identity with the fold matters.
#: cap: picks an arithmetic form, not a work bound — past it the BLAS
#: form takes over, so nothing degenerates at scale.
INORDER_MAX_CENTROIDS = 16


def _inorder_dists(X, C):
    """Row-x-centroid euclidean distances, squared differences summed
    over the dim axis in order, then sqrt."""
    import numpy as np
    d = np.zeros((len(X), len(C)))
    for j in range(C.shape[1]):
        t = X[:, j, None] - C[None, :, j]
        d += t * t
    return np.sqrt(d)


def _blas_d2(X, C):
    """Squared row-x-centroid distances, BLAS expansion form
    (||x||^2 + ||c||^2 - 2 x.c). Cancellation can leave tiny negatives,
    harmless to the order consumers."""
    return (X ** 2).sum(1)[:, None] + (C ** 2).sum(1)[None, :] \
        - 2.0 * (X @ C.T)


def _stack_vecs(batch):
    import numpy as np
    return np.stack(batch.map(
        lambda v: np.asarray(v, dtype=np.float64)).values)


def _probe_np(Q, centroids, nprobe: int):
    """The one nearest-centroid rule: each row of ``Q``'s ``nprobe``
    nearest centroid indexes in (distance, centroid index) order — the
    deterministic-IVF oracle's ``ORDER BY d, i``. The form is
    ``_inorder_dists`` up to ``INORDER_MAX_CENTROIDS`` centroids,
    ``_blas_d2`` above. Query rows go in chunks of <=
    ``MATRIX_CHUNK_CELLS`` distance cells."""
    import numpy as np
    C = np.asarray(centroids, dtype=np.float64)
    form = _inorder_dists if len(C) <= INORDER_MAX_CENTROIDS else _blas_d2
    take = min(nprobe, len(C))
    out = np.empty((len(Q), take), dtype=np.int64)
    step = max(1, MATRIX_CHUNK_CELLS // len(C))
    for s in range(0, len(Q), step):
        d = form(Q[s:s + step], C)
        if take == 1 and not np.isnan(d).any():
            # the first minimum is the stable argsort's first entry
            out[s:s + step, 0] = np.argmin(d, axis=1)
        else:
            out[s:s + step] = np.argsort(d, axis=1, kind="stable")[:, :take]
    return out


def probe_clusters_expr(centroids, qvec_col: Column, nprobe: int) -> Column:
    """Each row's ``nprobe`` nearest centroid indexes as an
    ``array<int>`` Column — the distributed analogue of
    ``IvfIndex.probe_clusters``: ``_probe_np`` as a pandas UDF, in the
    same (centroid distance, centroid index) order. A null query
    vector, or one whose length is not the centroids', gets null. The
    centroid matrix is broadcast-sized by construction and ships in
    the closure."""
    import numpy as np
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def probe(batch: pd.Series) -> pd.Series:
        ok = batch.map(lambda v: v is not None
                       and len(v) == C.shape[1]).to_numpy(bool)
        out = [None] * len(batch)
        if ok.any():
            idx = _probe_np(_stack_vecs(batch[ok]), C, nprobe)
            for i, r in zip(np.flatnonzero(ok), idx.astype(np.int32)):
                out[i] = r
        return pd.Series(out, dtype=object)

    return probe(qvec_col.cast("array<double>"))


#: distance cells of one (queries, rows) matrix block in the scoring
#: kernels: chunks stay <= 320 MB of float64.
#: cap: a memory bound, not a tier pick — a skewed or under-partitioned
#: group only adds matmul calls, and every cell is computed whole inside
#: one chunk, so the answers do not depend on it.
MATRIX_CHUNK_CELLS = 40_000_000

#: cells of one (queries, rows, dim) difference tensor in the direct
#: forms (``_diff_dists``), ~8 MB of float64. A 20 x 10,000 x 384
#: euclidean block (NumPy only, 4-core host, best of 5) scores in
#: 188-238 ms at this bound, 310-396 ms at 4e6 cells and 450-500 ms at
#: 4e7: a chunk that stays near the caches wins. Bulk-shaped
#: ivf-broadcast blocks (~14 rows x ~2 queries x dim 128) and one
#: query against a 10,000-row batch of dim <= 100 fit in one chunk.
#: cap: a memory bound, not a tier pick — each (query, row) cell is one
#: last-axis sum computed whole inside one chunk, so results are
#: bit-identical at any bound.
DIFF_CHUNK_CELLS = 1_000_000


def _np_dists(Q, C, metric: str):
    """(q, c) distance matrix, NumPy/BLAS — same metric semantics as
    functions/distance.py (cosine zero-norm => 1.0, clamped sim). The
    only NumPy definition of the four metrics; euclidean is the BLAS
    expansion (``_scan_dists`` swaps in the direct form)."""
    import numpy as np
    if metric == "euclidean":
        # ||q-c||^2 = ||q||^2 + ||c||^2 - 2 q.c: one BLAS matmul, no
        # (q, c, d) diff tensor (the chunked diff variant measured 67 s
        # on the 10x all-pairs join; this is seconds). Cancellation can
        # produce tiny negatives -> clip before sqrt.
        sq = (Q ** 2).sum(1)[:, None] + (C ** 2).sum(1)[None, :] \
            - 2.0 * (Q @ C.T)
        return np.sqrt(np.clip(sq, 0.0, None))
    if metric == "manhattan":
        return _diff_dists(Q, C, metric)
    if metric == "dotproduct":
        return -(Q @ C.T)
    if metric == "cosine":
        nq = np.linalg.norm(Q, axis=1)
        nc = np.linalg.norm(C, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.clip((Q @ C.T) / (nq[:, None] * nc[None, :]), -1.0, 1.0)
        return np.where((nq[:, None] == 0) | (nc[None, :] == 0), 1.0,
                        1.0 - sim)
    raise ValueError(f"unsupported metric: {metric!r}")


def _diff_dists(Q, M, metric: str):
    """(q, m) distances in the direct difference form: euclidean
    sqrt(sum((q - m)^2)) or manhattan sum(|q - m|), over (queries,
    rows, dim) tensors of at most ``DIFF_CHUNK_CELLS`` cells — query
    chunks, and row chunks too once one query's tensor is past the
    bound. Each cell is one last-axis sum, so the values are the same
    as a per-query ``((M - q) ** 2).sum(1)``."""
    import numpy as np
    out = np.empty((len(Q), len(M)))
    qstep = max(1, DIFF_CHUNK_CELLS // max(1, M.size))
    mstep = max(1, DIFF_CHUNK_CELLS // max(1, M.shape[1]))
    fold = np.square if metric == "euclidean" else np.abs
    for s in range(0, len(Q), qstep):
        for t in range(0, len(M), mstep):
            diff = Q[s:s + qstep, None, :] - M[None, t:t + mstep, :]
            # in place: a second tensor-sized buffer per chunk costs
            # more than the arithmetic
            cell = fold(diff, out=diff).sum(-1)
            out[s:s + qstep, t:t + mstep] = \
                np.sqrt(cell) if metric == "euclidean" else cell
    return out


def _scan_dists(Q, M, metric: str):
    """The scan kernels' distances: the direct euclidean form (no
    cancellation: duplicate vectors score exactly 0, as in the Column
    tier's fold), ``_np_dists`` for the other metrics."""
    if metric == "euclidean":
        return _diff_dists(Q, M, metric)
    return _np_dists(Q, M, metric)


def _first_k(qq, cc, dd, k: int):
    """Order (query, corpus id, distance) triples by (query, distance,
    id) and keep each query's first ``k``."""
    import numpy as np
    o = np.lexsort((cc, dd, qq))
    qq, cc, dd = qq[o], cc[o], dd[o]
    pos = np.arange(len(qq))
    first = np.maximum.accumulate(
        np.where(np.r_[True, qq[1:] != qq[:-1]], pos, 0))
    top = pos - first < k
    return qq[top], cc[top], dd[top]


def _topk_candidates(D, k: int):
    """(row, column) indexes of each row's finite entries of ``D`` up
    to its k-th smallest distance. Tie-safe: EVERY candidate tied at
    the k-th distance is kept, so the (distance, id) order of
    ``_first_k`` picks the winners — an ``argpartition[:k]`` would keep
    an arbitrary tied subset and could drop the smallest-id tie (common
    with duplicate vectors in dedup-centric corpora). Non-finite
    distances are dropped (a masked candidate is +inf)."""
    import numpy as np
    keep = np.isfinite(D)
    if D.shape[1] > k:
        kth = np.partition(np.where(keep, D, np.inf), k - 1, axis=1)[:, k - 1]
        keep &= D <= kth[:, None]
    return np.nonzero(keep)


def _topk_cut(D, k: int, qrows, cids):
    """The per-query (distance, id) top-k of one scored block, as
    (query, corpus id, distance) arrays in (query, distance, id) order:
    row r of ``D`` scores query ``qrows[r]`` against corpus ids
    ``cids``; non-finite distances are dropped."""
    r, c = _topk_candidates(D, k)
    return _first_k(qrows[r], cids[c], D[r, c], k)


def _cogroup_pairs(q: DataFrame, corpus: DataFrame, key: str, k: int,
                   metric: str, dist_col: str,
                   label_mask: bool = False) -> DataFrame:
    """(__qid, __cid, dist) per-group local top-k rows: ``q`` is
    (__qid, __qvec, key) and ``corpus`` is (__cid, __cvec, key); both
    shuffle ONCE on ``key`` and each group scores its queries against
    its corpus rows as one matrix op (``_np_dists``, BLAS-expansion
    euclidean), in query chunks of at most ``MATRIX_CHUNK_CELLS``
    distances. With ``label_mask`` the sides also carry __qlbl /
    __clbl, and same-label pairs score +inf INSIDE the matrix step —
    the filter composes before the cut, which drops them."""
    import numpy as np
    import pandas as pd

    def score(_, qpdf, cpdf):
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame({"__qid": [], "__cid": [], dist_col: []})
        Q, C = _stack_vecs(qpdf["__qvec"]), _stack_vecs(cpdf["__cvec"])
        cids = cpdf["__cid"].values
        parts = []
        step = max(1, MATRIX_CHUNK_CELLS // len(C))
        for s in range(0, len(Q), step):
            D = _np_dists(Q[s:s + step], C, metric)
            if label_mask:
                same = (qpdf["__qlbl"].values[s:s + step, None]
                        == cpdf["__clbl"].values[None, :])
                D = np.where(same, np.inf, D)
            parts.append(_topk_cut(D, k, np.arange(s, s + len(D)), cids))
        qq, cc, dd = (np.concatenate(x) for x in zip(*parts))
        return pd.DataFrame({"__qid": qpdf["__qid"].values[qq],
                             "__cid": cc, dist_col: dd})

    qid_t = dict(q.dtypes)["__qid"]
    cid_t = dict(corpus.dtypes)["__cid"]
    return q.groupBy(key).cogroup(corpus.groupBy(key)).applyInPandas(
        score, f"__qid {qid_t}, __cid {cid_t}, {dist_col} double")


def _broadcast_pairs(q: DataFrame, corpus: DataFrame, k: int, metric: str,
                     pcol: str, dist_col: str, probe) -> DataFrame:
    """(__qid, __cid, dist) batch-local top-k rows of a broadcast-query
    join: ``q`` is (__qid, __qvec), ``corpus`` is (__cid, __cvec,
    cluster column ``pcol``), and ``probe(Q)`` maps the query matrix to
    {cluster: ascending row indexes of the queries probing it}.

    The query prologue collects the queries, drops those with a null
    vector, requires one shared dimension and returns an empty frame
    when no query is left. The query matrix then ships once as a
    broadcast variable, and one mapInPandas pass scores each corpus
    row's cluster only against the queries probing it (``_scan_dists``
    in query chunks of at most ``MATRIX_CHUNK_CELLS`` distances) and
    emits each query's batch-local top-k, so the one shuffle carries
    <= queries x batches x k rows. Null and wrong-length corpus vectors
    are excluded."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType([q.schema["__qid"], corpus.schema["__cid"],
                         StructField(dist_col, DoubleType())])
    rows = [r for r in q.collect() if r[1] is not None]
    spark = q.sparkSession
    if not rows:
        return spark.createDataFrame([], schema)
    dims = {len(r[1]) for r in rows}
    if len(dims) != 1:
        raise ValueError(f"queries must share one dimension, got {dims}")
    d = dims.pop()
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    qids = np.empty(len(rows), dtype=object)
    qids[:] = [r[0] for r in rows]
    bc = spark.sparkContext.broadcast((Q, qids, probe(Q)))

    def score(batches):
        Q, qids, by_cluster = bc.value
        probed = np.fromiter(by_cluster, dtype=np.int64)
        for pdf in batches:
            cl = pdf[pcol].to_numpy()
            vecs = pdf["__cvec"].to_numpy()
            keep = np.flatnonzero(np.isin(cl, probed))
            keep = keep[np.array([vecs[i] is not None and len(vecs[i]) == d
                                  for i in keep], dtype=bool)]
            if not len(keep):
                continue
            keep = keep[np.argsort(cl[keep], kind="stable")]
            cl = cl[keep].astype(np.int64)
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in vecs[keep]])
            cids = pdf["__cid"].to_numpy()[keep]
            cuts = np.flatnonzero(np.diff(cl)) + 1
            parts = []
            for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(cl)]):
                qrows = by_cluster[int(cl[lo])]
                step = max(1, MATRIX_CHUNK_CELLS // (hi - lo))
                for s in range(0, len(qrows), step):
                    sub = qrows[s:s + step]
                    D = _scan_dists(Q[sub], M[lo:hi], metric)
                    r, c = _topk_candidates(D, k)
                    parts.append((sub[r], cids[lo + c], D[r, c]))
            # one (distance, id) cut over the whole batch: a query
            # probing several of its clusters has candidates in each
            qq, cc, dd = _first_k(*(np.concatenate(x) for x in zip(*parts)),
                                  k)
            yield pd.DataFrame({"__qid": qids[qq], "__cid": cc,
                                dist_col: dd})

    return corpus.mapInPandas(score, schema)


def _probe_groups(Q, centroids, nprobe: int):
    """``probe`` of ``_broadcast_pairs`` for an IVF index: checks the
    query dimension against the index and maps each probed cluster to
    the ascending rows of the queries probing it, picked in
    ``probe_clusters_expr``'s order (``_probe_np``)."""
    import numpy as np
    d, index_dim = Q.shape[1], np.shape(centroids)[1]
    if d != index_dim:
        raise ValueError(f"query dimension {d} != index dimension "
                         f"{index_dim}")
    probes = _probe_np(Q, centroids, nprobe)
    flat_c = probes.ravel()
    o = np.argsort(flat_c, kind="stable")
    clusters, starts = np.unique(flat_c[o], return_index=True)
    flat_q = np.repeat(np.arange(len(Q)), probes.shape[1])[o]
    return dict(zip(clusters.tolist(), np.split(flat_q, starts[1:])))


def knn_join_ivf_arrow(queries: DataFrame, index, k: int = DEFAULT_K,
                       nprobe: int = 3, metric: str = "euclidean",
                       query_id_col: str = "query_id",
                       query_vec_col: str = "query_vec",
                       dist_col: str = "distance",
                       broadcast_queries: bool = False) -> DataFrame:
    """The BLAS tier of the IVF similarity join, in two modes. Same
    probes, same candidates and same (distance, corpus id) answers as
    the Column-expression ``knn_join_ivf`` in either mode (parity-
    tested on every metric), without its per-pair interpreted fold.

    ``broadcast_queries=False`` (all-pairs / corpus-sized queries):
    both sides shuffle ONCE on cluster id, then a cogroup-applyInPandas
    (``_cogroup_pairs``) scores each cluster's queries against its
    corpus rows as one (q, c) matrix op and emits only the per-query
    local top-k; the global merge reduces queries x nprobe x k rows.
    Measured 28 s vs ~2 s for the Column tier at sf0.1 all-pairs.

    ``broadcast_queries=True`` (the chooser's ``ivf-broadcast`` tier —
    the query side is broadcast-sized by that contract): the queries
    are collected, each query's ``nprobe`` clusters are picked
    driver-side in ``probe_clusters_expr``'s order, and
    ``_broadcast_pairs`` scores the live index table in one
    mapInPandas pass — each row's stored cluster only against the
    queries probing it, with the direct euclidean form (no
    cancellation: duplicate vectors score exactly 0). Queries with a
    null vector are dropped; all queries must share the index's
    dimension (``ValueError`` otherwise, as in ``knn_join_arrow``).
    The kernel is one Python pass per task, with no probe UDF and no
    broadcast hash join; only an index whose clusters are not yet
    materialized (a fresh build) adds its assign pass to the same
    stage.

    Column broadcast join (``knn_join_ivf``) vs this mode, sf0.1
    embeddings (2,000 x 64), euclidean, k=10, nprobe ~ 20 % of nlist
    (the chooser's recall 0.9 rule), deterministic index built and
    cached once, best of 3 collects, 4-core host
    (``python tools/tier_probe.py join``), seconds:

      batch  tier     nlist 16    32    64   128   179   256   565
          1  column       0.87  0.68  0.60  0.55  0.59  0.60  0.52
          1  this         0.50  0.41  0.36  0.41  0.31  0.36  0.40
         10  column       0.94  0.60  0.52  0.53  0.67  0.48  0.62
         10  this         0.36  0.36  0.44  0.34  0.40  0.31  0.37
        100  column       1.76  1.36  1.11  1.38  1.26  1.07  1.04
        100  this         0.46  0.38  0.36  0.41  0.33  0.39  0.37
       1000  column       8.25  7.33  6.26  7.66  7.48  7.97  9.50
       1000  this         0.50  0.48  0.52  0.60  0.70  0.73  0.85

    The Column tier wins no cell, so there is no crossover knob: the
    chooser sends every broadcast-sized IVF join here. Re-measured
    before / after the per-task zip re-read left the Python worker
    (pyworker.py), same probe, this mode only (the Column tier runs no
    Python and again won no cell, 0.40-12.7 s):

      batch            nlist 16    32    64   128   179   256   565
          1  before       0.54  0.40  0.42  0.41  0.48  0.43  0.45
          1  after        0.39  0.30  0.23  0.25  0.25  0.20  0.24
         10  before       0.39  0.43  0.36  0.32  0.42  0.39  0.44
         10  after        0.23  0.20  0.22  0.21  0.20  0.20  0.21
        100  before       0.57  0.75  0.66  0.61  0.57  0.42  0.46
        100  after        0.27  0.21  0.25  0.22  0.22  0.24  0.28
       1000  before       0.93  0.75  0.65  0.86  0.85  0.77  0.89
       1000  after        0.54  0.35  0.43  0.46  0.53  0.56  0.67
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if metric not in METRICS:
        raise ValueError(f"unsupported metric: {metric!r}")
    pcol = index.PARTITION_COL
    corpus = index._live(index.table).select(
        F.col(index.id_col).alias("__cid"),
        F.col(index.vec_col).alias("__cvec"), pcol)
    q = queries.select(F.col(query_id_col).alias("__qid"),
                       F.col(query_vec_col).alias("__qvec"))
    if broadcast_queries:
        pairs = _broadcast_pairs(
            q, corpus, k, metric, pcol, dist_col,
            lambda Q: _probe_groups(Q, index.centroids, nprobe))
    else:
        q = q.withColumn(pcol, F.explode(probe_clusters_expr(
            index.centroids, F.col("__qvec"), nprobe)))
        pairs = _cogroup_pairs(q, corpus, pcol, k, metric, dist_col)
    topk = _per_query_topk(pairs, k, dist_col, two_phase=False)
    return topk.select(F.col("__qid").alias(query_id_col),
                       F.col("__cid").alias(index.id_col),
                       F.col(dist_col))


def _ivf_column_pairs(queries: DataFrame, index, nprobe: int, metric: str,
                      query_id_col: str, query_vec_col: str, dist_col: str,
                      broadcast: bool) -> DataFrame:
    """Scored (__qid, __cid, dist) pairs of the Column IVF join: each
    query row explodes to its ``nprobe`` probe clusters
    (``probe_clusters_expr``), equi-joins the live index table on the
    cluster id and scores each pair with the Column ``distance``; null
    (dim-mismatch) scores are dropped. Shared by the batch ``knn_join_ivf``
    (``broadcast=True``) and the streaming ``score_query_stream``,
    whose query side is a stream."""
    pcol = index.PARTITION_COL
    probes = probe_clusters_expr(index.centroids,
                                 F.col(query_vec_col), nprobe)
    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).alias("__qvec"),
        F.explode(probes).alias(pcol))
    if broadcast:
        q = F.broadcast(q)
    corpus = index._live(index.table).select(
        F.col(index.id_col).alias("__cid"),
        F.col(index.vec_col).alias("__cvec"), pcol)
    return corpus.join(q, pcol).select(
        "__qid", "__cid",
        distance(metric, F.col("__cvec"), F.col("__qvec")).alias(dist_col)
    ).filter(F.col(dist_col).isNotNull())


def knn_join_ivf(queries: DataFrame, index, k: int = DEFAULT_K,
                 nprobe: int = 3, metric: str = "euclidean",
                 query_id_col: str = "query_id",
                 query_vec_col: str = "query_vec",
                 dist_col: str = "distance") -> DataFrame:
    """IVF-accelerated similarity join: each query scores only the rows
    of its ``nprobe`` nearest clusters.

    ``knn_join`` is exact but every corpus row meets every query (a
    broadcast nested-loop by construction). At 100 TB that is the
    bottleneck: |corpus| x |queries| distance evaluations. This variant
    turns the crossJoin into a broadcast hash EQUI-join on the cluster
    id: queries explode to (query, probe_cluster) rows driver-free (the
    centroid table is broadcast-sized, probe selection is one pandas
    UDF pass), the corpus side keeps its IVF assignment from the
    index, and the join prunes the candidate set to ~nprobe/n_centroids
    of the corpus per query before any distance is computed. With the
    index table saved partitioned by cluster, the probe filter is real
    partition pruning at the source (small query batches broadcast and
    get dynamic partition pruning). A corpus-sized query side belongs
    on ``knn_join_ivf_arrow``'s cogroup mode, which shuffles both sides
    on the cluster id instead.

    ``index`` is an :class:`~..operators.ann.IvfIndex` (tombstones are
    respected). Probe selection orders by (centroid distance, centroid
    index) — the same total order as the deterministic-IVF oracle, so
    the whole join is value-checkable when the index was built with
    ``IvfIndex.build_deterministic``.

    Reference: generalizes NEAREST TO (executor.go:251-388) to batch
    queries, accelerated the way faiss IVF batch search prunes, but as
    a join the optimizer can reorder.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    pairs = _ivf_column_pairs(queries, index, nprobe, metric, query_id_col,
                              query_vec_col, dist_col, broadcast=True)
    topk = _per_query_topk(pairs, k, dist_col)
    return topk.select(F.col("__qid").alias(query_id_col),
                       F.col("__cid").alias(index.id_col),
                       F.col(dist_col))
