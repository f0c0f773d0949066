"""Graph-structured approximate nearest neighbor: the HNSW analogue.

Reference: /root/reference/pkg/index/hnsw/hnsw.go — Build inserts
points one at a time, linking each to its M nearest neighbors per
layer (:158-243) and pruning to bounded degree (:245-278); Search is
greedy best-first expansion over those links with an ``ef``-wide
candidate beam (:280-388); Delete tombstones nodes that every search
skips (:391-412).

A pointer-chasing in-memory graph does not translate to Spark, but the
ideas that make HNSW work — a bounded-degree neighbor graph and a beam
search that only touches the frontier's neighbors — do:

- **Build** is one batch job instead of n sequential inserts: the
  corpus self-joined to its m nearest neighbors (the BLAS cogroup
  all-pairs tier of the IVF join — knn.knn_join_ivf_arrow — so the
  build never goes quadratic), symmetrized, pruned back to bounded
  degree (the reference's pruneConnections as one window pass), and
  stored as an EDGES DataFrame ``(src, dst, dst_vec)``. Storing the
  neighbor's vector WITH the adjacency row is the DiskANN/Vamana
  layout (Subramanya et al., NeurIPS 2019): one read serves both the
  topology and the geometry, so a hop is a single bounded fetch. That
  costs ~2m copies of each vector — the standard graph-ANN
  space-for-locality trade.
- **Search** is the same greedy beam walk: start from deterministic
  entry points (cached on the index — the analogue of the reference's
  stored entry point, hnsw.go:66), then per hop fetch the frontier's
  edge rows — ONE Spark job, ``src`` filter, partition-prunable on the
  saved bucketed-by-src layout — and score the fetched neighbor
  vectors driver-side in NumPy (the fetched set is query state, <=
  ef * 2m rows, never corpus-sized — exactly like a probe list).
  Stop when a hop admits nothing into the ``ef``-wide beam.
- **Delete** is the reference's own strategy: tombstones
  (_MaintainableIndex), skipped during the walk and at assembly.
  **Add** links a delta batch the way the reference links one node:
  k nearest LIVE rows per new vector, plus reverse edges.

Config mapping (reference DefaultHNSWConfig, hnsw.go:44-58): M ->
``m`` (out-degree; pruned bound 2m), efSearch -> ``ef`` (beam width),
efConstruct -> build ``nprobe`` (build-time effort vs link quality),
MaxLevel / entry point -> ``n_entry`` deterministic entry points (a
multi-start flat graph replaces the layer descent; layers exist to
give a serial in-memory walk a good entry — multi-start does the same
for a batch engine).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import vector_lit
from .ann import IvfIndex, _in, _MaintainableIndex

DEFAULT_M = 8          # out-degree per node (reference M=16 default; 8
                       # suffices for the recall gates on dim-64 data)
DEFAULT_EF = 48        # search beam width (reference efSearch default 50)
#: search_batch driver-state cap: beams, visited sets, and the
#: adjacency cache are DRIVER-resident (O(batch * ef + expanded *
#: degree) with vectors), so oversized query batches are walked in
#: chunks of this many queries — per-chunk state is bounded and the
#: cache is released between chunks; jobs grow to chunks * max_hops,
#: the price of the bound. Corpus-sized query sets belong on the
#: executor-side IVF join tiers (knn_join_ivf_arrow) instead.
BATCH_MAX_QUERIES = 1024
DEFAULT_ENTRIES = 4    # multi-start entry points (replaces layer descent)
# cap: saved-layout FILE partition count (see save()); a search prunes
# to the frontier's buckets regardless of value, and rows-per-bucket
# growth only grows file size, never per-walk work — retune per
# deployment for object-store file sizing, not correctness.
N_EDGE_BUCKETS = 64


def _src_bucket_py(src, n_buckets: int = N_EDGE_BUCKETS) -> int:
    """Driver-side twin of the saved layout's bucket column: first two
    hex digits of md5(str(src)) mod ``n_buckets``. md5 is the one hash
    both Python and Spark SQL compute identically, so a search can turn
    a frontier id list into partition filters without a lookup table."""
    import hashlib
    return int(hashlib.md5(str(src).encode()).hexdigest()[:2],
               16) % n_buckets


def _src_bucket_col(col, n_buckets: int = N_EDGE_BUCKETS):
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 2), 16, 10)
            .cast("int") % n_buckets)


def _iter_query_chunks(qdf: DataFrame, cap: int):
    """Stream a (id, vec) query frame to the driver as chunks of at
    most ``cap`` numpy-ready tuples, WITHOUT ever materializing the
    whole batch locally: ``toLocalIterator`` fetches one input
    partition at a time (prefetch off), so peak driver footprint is
    O(max(cap, one partition)) rows — the r6 residual where
    ``search_batch`` collected the full batch ahead of the chunked
    walk is closed by consuming through here (memory-shape test:
    test_graph.test_query_chunks_never_collect)."""
    import numpy as np

    chunk: list = []
    for r in qdf.toLocalIterator(prefetchPartitions=False):
        chunk.append((r[0], np.asarray(list(r[1]), dtype=np.float64)))
        if len(chunk) >= cap:
            yield chunk
            chunk = []
    if chunk:
        yield chunk


def _prune_degree(scored_edges: DataFrame, max_degree: int) -> DataFrame:
    """Keep each node's ``max_degree`` nearest out-edges (ties -> dst
    asc, deterministic) — pruneConnections (hnsw.go:245-278) as one
    window over (src, distance). Duplicate (src, dst) pairs collapse
    first so a mutual pair costs one slot."""
    from pyspark.sql import Window
    dedup = scored_edges.groupBy("src", "dst") \
        .agg(F.min("distance").alias("distance"))
    w = Window.partitionBy("src").orderBy(F.col("distance").asc(),
                                          F.col("dst").asc())
    return (dedup.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= max_degree)
            .select("src", "dst"))


def _np_query_dists(vecs, q, metric: str):
    """Distances from one query to a stack of vectors — delegates to
    the shared matrix implementation (knn._np_dists) so the metric
    semantics (incl. cosine zero-norm => 1.0) live in exactly one
    place."""
    import numpy as np

    from .knn import _np_dists
    M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    return _np_dists(q[None, :], M, metric)[0]


class KnnGraphIndex(_MaintainableIndex):
    """Bounded-degree k-NN graph + greedy beam search (HNSW analogue).

    Corpus contract: DEDUP BEFORE INDEXING. On a replica-saturated
    corpus (the 100x derived set carries ~100 identical copies per
    vector) every node's m nearest neighbors are its own replicas, so
    the degree prune leaves no inter-family edges and the graph
    fragments into per-family cliques a beam walk cannot cross — a
    known pathology of HNSW-style bounded-degree graphs on duplicate
    vectors (the public mitigations are the diversity neighbor-select
    heuristic or collapsing duplicates). This engine ships exact
    dedup as a first-class operator; one distinct-vector collapse
    (groupBy the vector, min id representative — Spark partial-
    aggregates map-side) before build restores connectivity at any
    replication factor and shrinks the build by the replication
    factor. The workload recall gates (ann_graph_recall_gate,
    knn_join_graph_batch) demonstrate exactly this pipeline; measured
    at 100x: recall gates green post-collapse vs 0.2-0.4 raw, build
    65.8 s -> ~13 s."""

    def __init__(self, table: DataFrame, edges: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 m: int = DEFAULT_M, metric: str = "euclidean",
                 n_entry: int = DEFAULT_ENTRIES,
                 edge_buckets: int = N_EDGE_BUCKETS):
        self.table = table
        self.edges = edges          # (src, dst, dst_vec), degree <= 2m
        self.id_col = id_col
        self.vec_col = vec_col
        self.m = m
        self.metric = metric
        self.n_entry = n_entry
        # the SAVED layout's partition count: persisted in params.json
        # and restored on load, so changing the module constant can
        # never silently mis-bucket searches over an old layout
        self.edge_buckets = edge_buckets
        self._deleted = None
        self._entries = None        # cached [(id, vec)] driver-side
        self._coarse = None         # optional coarse entry layer
        #: observability: hop/job counts of the LAST search call —
        #: scale assertions (tests, tools/scale_up.py) read these
        self.last_hops = 0
        self.last_jobs = 0

    # -- build ----------------------------------------------------------

    @classmethod
    def build(cls, df: DataFrame, m: int = DEFAULT_M,
              metric: str = "euclidean", id_col: str = "vec_id",
              vec_col: str = "embedding", n_centroids: int | None = None,
              nprobe: int | None = None,
              n_entry: int = DEFAULT_ENTRIES) -> "KnnGraphIndex":
        """Batch k-NN-graph construction. The self-join runs on the
        BLAS cogroup tier over a deterministic IVF partitioning so the
        build is (a) never an all-pairs crossJoin and (b) reproducible
        — same corpus, same graph. ``nprobe`` trades build cost for
        edge quality exactly like efConstruct trades insert cost for
        link quality in the reference.

        Default sizing makes the build LINEAR in N: n_centroids follows
        the 4*sqrt(N) chooser rule and nprobe widens so every node sees
        a ~constant candidate pool (max(64, 8*(m+1)) — an efConstruct-
        style effort knob) — so per-node work is O(pool), total O(N),
        where a fixed 8-centroid partitioning made the self-join
        quadratic (each node scored against 3N/8 candidates)."""
        import math

        from .chooser import ivf_nlist, rows as _rows
        from .knn import knn_join_ivf_arrow

        if n_centroids is None or nprobe is None:
            n = _rows(df)
            if n_centroids is None:
                n_centroids = ivf_nlist(n)
            if nprobe is None:
                pool = max(64, 8 * (m + 1))
                nprobe = min(n_centroids,
                             max(3, math.ceil(pool * n_centroids
                                              / max(1, n))))
        ivf = IvfIndex.build_deterministic(df, n_centroids=n_centroids,
                                           id_col=id_col, vec_col=vec_col)
        q = df.select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).alias("query_vec"))
        # k = m+1: the best neighbor of a stored row is itself
        nn = knn_join_ivf_arrow(q, ivf, k=m + 1, nprobe=nprobe,
                                metric=metric)
        fwd = (nn.filter(F.col("query_id") != F.col(id_col))
               .select(F.col("query_id").alias("src"),
                       F.col(id_col).alias("dst"), "distance"))
        pruned = _prune_degree(
            fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst"),
                                       "distance")),
            2 * m)
        edges = cls._attach_vectors(pruned, df, id_col, vec_col)
        # materialize: every search hop filters this frame, and without
        # a cut each hop would RE-RUN the all-pairs join + prune window
        # (measured 27 s -> seconds for a 3-query gate at sf0.1). The
        # persisted layout (save()) plays this role for a deployed index.
        edges = edges.localCheckpoint(eager=True)
        return cls(df, edges, id_col, vec_col, m, metric, n_entry)

    @staticmethod
    def _attach_vectors(edges: DataFrame, corpus: DataFrame,
                        id_col: str, vec_col: str) -> DataFrame:
        """DiskANN-style co-location: each edge row carries the
        NEIGHBOR's vector, so one fetch per hop serves topology and
        geometry."""
        vecs = corpus.select(F.col(id_col).alias("dst"),
                             F.col(vec_col).alias("dst_vec"))
        return edges.join(vecs, "dst").select("src", "dst", "dst_vec")

    # -- search ---------------------------------------------------------

    def _entry_points(self) -> list:
        """Deterministic entry points — same (md5(id), id) pseudo-random
        order as ann.det_sample — cached driver-side like the
        reference's stored entryPoint (hnsw.go:66)."""
        if self._entries is None:
            rows = (self._live(self.table)
                    .select(self.id_col, self.vec_col)
                    .orderBy(F.md5(F.col(self.id_col).cast("string")),
                             F.col(self.id_col))
                    .limit(self.n_entry).collect())
            self._entries = [(r[0], list(r[1])) for r in rows]
        return self._entries

    def with_coarse_entries(self, n_coarse: int | None = None
                            ) -> "KnnGraphIndex":
        """Attach a COARSE ENTRY LAYER — the HNSW upper-layer descent
        (hnsw.go:439-521's top-down phase) collapsed into one level: a
        det_sample of ~4*sqrt(N) nodes (the IVF sizing rule) is held
        driver-side, and each search seeds its beam with the n_entry
        nearest SAMPLED nodes instead of the fixed pseudo-random
        entries. Seeding from ~sqrt(N)-dense coverage starts the walk
        near the answer, so the base layer needs fewer hops — the whole
        point of HNSW's hierarchy, at the cost of one in-memory scan
        over the sample (exactly how faiss scans its coarse quantizer).
        Bounded: at N=1e9 the sample is ~126k rows * dim doubles.
        Returns self (mutates the cache; cheap to re-derive)."""
        import numpy as np

        from .chooser import ivf_nlist, rows as _rows
        live = self._live(self.table)
        if n_coarse is None:
            n_coarse = ivf_nlist(_rows(live))
        rows = (live.select(self.id_col, self.vec_col)
                .orderBy(F.md5(F.col(self.id_col).cast("string")),
                         F.col(self.id_col))
                .limit(n_coarse).collect())
        ids = [r[0] for r in rows]
        mat = np.stack([np.asarray(list(r[1]), dtype=np.float64)
                        for r in rows])
        self._coarse = (ids, mat)
        return self

    def _seed_entries(self, q, dead: set) -> list:
        """Beam seeds for one query vector: nearest n_entry coarse
        nodes when the coarse layer is attached, else the fixed
        deterministic entry points."""
        import numpy as np

        from .knn import _np_dists
        if self._coarse is not None:
            ids, mat = self._coarse
            d = _np_dists(q[None, :], mat, self.metric)[0]
            order = np.argsort(d, kind="stable")
            out = []
            for j in order:
                if ids[j] not in dead:
                    out.append((float(d[j]), ids[j]))
                    if len(out) >= self.n_entry:
                        break
            if out:
                return out
        entries = [(i, v) for i, v in self._entry_points()
                   if i not in dead]
        if not entries:
            return []
        d0 = _np_query_dists([v for _, v in entries], q, self.metric)
        return sorted(zip((float(x) for x in d0),
                          (i for i, _ in entries)))

    def _deleted_ids(self) -> set:
        """Tombstones as a driver set for the walk (bounded: tombstone
        debt is delete volume, not corpus size — compact() folds it)."""
        return set(self._deleted or ())

    def search(self, qvec: Sequence[float], k: int = 10,
               ef: int = DEFAULT_EF, max_hops: int = 6) -> DataFrame:
        """Greedy beam search (hnsw.go:280-388 re-expressed): expand
        the best unexpanded beam members' neighbors — one bounded edge
        fetch per hop — keep the ``ef`` best seen, stop when a hop
        admits nothing. Returns the same (row..., distance) frame shape
        as the other index tiers, ordered (distance, id).

        r13 (guide §2.4/§5): the walk itself is ``_walk_chunk`` with a
        single query — ONE beam-walk implementation serves both the
        single-query and batch tiers (they were line-for-line twins;
        the duplicate had already drifted once, r12's distinct()
        removal landing here first). Beam admission order, candidate
        dedup and break conditions are identical, so the returned
        frame is bit-identical to the r12 loop.
        cap: the driver loop runs <= max_hops rounds (one bounded job
        per hop) — a convergence bound independent of corpus size;
        beams typically converge in 2-4 hops on the bounded-degree
        graph, and the early-break fires well before the ceiling."""
        import numpy as np

        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        ef = max(ef, k)  # the beam must hold k results (hnsw.go uses
        #                  max(efSearch, k) the same way)
        q = np.asarray(list(qvec), dtype=np.float64)
        dead = self._deleted_ids()
        live = self._live(self.table)
        self.last_hops = 0
        self.last_jobs = 0
        top = self._walk_chunk([("__q", q)], k, ef, max_hops, dead)
        if not top:
            return live.withColumn("distance",
                                   F.lit(None).cast("double")).limit(0)
        top_ids = [i for _, i, _ in top]
        qlit = vector_lit(qvec)
        from ..functions.distance import distance
        res = live.filter(F.col(self.id_col).isin(top_ids)) \
            .withColumn("distance",
                        distance(self.metric, F.col(self.vec_col), qlit))
        return res.orderBy(F.col("distance").asc_nulls_last(),
                           F.col(self.id_col).asc()).limit(k)

    def search_batch(self, queries: DataFrame, k: int = 10,
                     ef: int = DEFAULT_EF, max_hops: int = 6,
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec",
                     max_batch: int | None = None) -> DataFrame:
        """The ``knn_join``-shaped form of the beam walk: advance MANY
        query beams per Spark job — each hop runs ONE bounded edge
        fetch for the UNION of every still-walking query's frontier,
        so a 100-query batch costs <= max_hops jobs total instead of
        100 * max_hops (the single-query ``search``'s per-hop driver
        round-trip, amortized; ``last_jobs`` records the actual count).

        Driver state is query state, never corpus-sized: per chunk,
        Q * ef beam entries plus an adjacency cache of expanded nodes
        (<= visited * 2m edges, vectors included — the same rows
        ``search`` fetches, kept so overlapping walks never refetch a
        node). A hop's fetch collects <= |union frontier| * 2m edge
        rows. Batches past ``max_batch`` (default
        ``BATCH_MAX_QUERIES``) are walked in chunks so that state
        stays bounded no matter the batch size — ``last_chunks``
        records the count, ``last_jobs``/``last_hops`` become totals
        across chunks (per-chunk each is still <= max_hops). The
        query rows themselves STREAM to the driver per chunk
        (``_iter_query_chunks``: toLocalIterator, one input partition
        at a time), so the bound is end-to-end — there is no
        batch-sized collect ahead of the walk. Truly corpus-sized
        query sets belong on the IVF join tiers (knn_join_ivf_arrow)
        whose state lives executor-side.

        Returns (query_id, vec_id, distance) like the other join tiers,
        distances in the shared _np_dists float64 semantics."""
        import numpy as np

        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        ef = max(ef, k)
        spark = self.table.sparkSession
        qid_t = dict(queries.dtypes)[query_id_col]
        id_t = dict(self.table.dtypes)[self.id_col]
        schema = (f"{query_id_col} {qid_t}, {self.id_col} {id_t}, "
                  "distance double")
        self.last_hops = 0
        self.last_jobs = 0
        self.last_chunks = 0
        cap = BATCH_MAX_QUERIES if max_batch is None else max_batch
        if cap < 1:
            raise ValueError(f"max_batch must be >= 1, got {cap}")
        dead = None
        out: list = []
        # query rows stream to the driver per chunk (toLocalIterator
        # pulls one input partition at a time), so driver footprint is
        # O(max(chunk, one input partition)) END-TO-END — never the
        # whole batch at once, finishing the bound _walk_chunk already
        # gives the walk state
        for qs in _iter_query_chunks(
                queries.select(query_id_col, query_vec_col), cap):
            if dead is None:
                dead = self._deleted_ids()   # once, and only if queries
            out += self._walk_chunk(qs, k, ef, max_hops, dead)
            self.last_chunks += 1
        return spark.createDataFrame(out, schema)

    def _walk_chunk(self, qs, k, ef, max_hops, dead) -> list:
        """One bounded beam-walk: beams/visited/adjacency for exactly
        this chunk's queries, freed on return. Accumulates
        last_hops/last_jobs (caller zeroes them per batch).
        cap: <= max_hops driver rounds per chunk (one bounded job per
        hop, shared across the chunk's queries) — same convergence
        bound as ``search``, corpus-size-independent."""
        import numpy as np

        from .knn import _np_dists

        beams: dict = {}
        visited: dict = {}
        for qid, qv in qs:
            beams[qid] = self._seed_entries(qv, dead)[:ef]
            visited[qid] = set()
        active = {qid for qid, _ in qs if beams[qid]}
        adj: dict = {}  # src -> [(dst, vec)] cache across hops/queries
        for _ in range(max_hops):
            frontiers = {}
            for qid in list(active):
                fr = [i for _, i in beams[qid] if i not in visited[qid]]
                if fr:
                    frontiers[qid] = fr
                else:
                    active.discard(qid)  # every beam member expanded
            if not frontiers:
                break
            need = sorted({i for fr in frontiers.values() for i in fr
                           if i not in adj})
            self.last_hops += 1
            if need:
                hop = self.edges
                if "src_bucket" in hop.columns:
                    buckets = sorted({_src_bucket_py(i, self.edge_buckets)
                                      for i in need})
                    hop = hop.filter(F.col("src_bucket").isin(buckets))
                fetched = (hop.filter(F.col("src").isin(need))
                           .select("src", "dst", "dst_vec").collect())
                self.last_jobs += 1
                for i in need:
                    adj[i] = []
                for r in fetched:
                    adj[r["src"]].append(
                        (r["dst"],
                         np.asarray(list(r["dst_vec"]),
                                    dtype=np.float64)))
            qmap = dict(qs)
            for qid, fr in frontiers.items():
                visited[qid].update(fr)
                seen = (visited[qid] | {i for _, i in beams[qid]}
                        | dead)
                cand, cvecs, cseen = [], [], set()
                for src in fr:
                    for dst, dvec in adj.get(src, ()):
                        if dst not in seen and dst not in cseen:
                            cseen.add(dst)
                            cand.append(dst)
                            cvecs.append(dvec)
                if not cand:
                    active.discard(qid)
                    continue
                d = _np_dists(qmap[qid][None, :], np.stack(cvecs),
                              self.metric)[0]
                before = {i for _, i in beams[qid]}
                beams[qid] = sorted(
                    beams[qid] + list(zip((float(x) for x in d),
                                          cand)))[:ef]
                if {i for _, i in beams[qid]} == before:
                    active.discard(qid)  # hop admitted nothing
        return [(qid, i, d) for qid, _ in qs
                for d, i in beams[qid][:k]]

    # -- maintenance (reference Add/Delete semantics) -------------------

    def _index_rows(self, df: DataFrame) -> DataFrame:
        return df  # graph rows carry no derived columns; edges separate

    def add(self, rows: DataFrame, check_dups: bool = True):
        """Insert + link (hnsw.go:145-243): each new row links to its m
        nearest LIVE rows (exact — the delta is the small, broadcast
        side), plus the reverse edges. Touched existing nodes may
        exceed the 2m bound until compact()/rebuild, mirroring the
        reference's relax-then-prune."""
        from .knn import knn_join

        out = super().add(rows, check_dups=check_dups)
        q = rows.select(F.col(self.id_col).alias("query_id"),
                        F.col(self.vec_col).alias("query_vec"))
        nn = knn_join(q, self._live(self.table), k=self.m,
                      metric=self.metric, corpus_id_col=self.id_col,
                      corpus_vec_col=self.vec_col)
        fwd = nn.select(F.col("query_id").alias("src"),
                        F.col(self.id_col).alias("dst"))
        delta = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        delta = self._attach_vectors(delta, out.table, self.id_col,
                                     self.vec_col)
        if "src_bucket" in self.edges.columns:  # loaded bucketed layout
            delta = delta.withColumn(
                "src_bucket", _src_bucket_col(F.col("src"),
                                              self.edge_buckets))
        # a re-added id (delete -> add with a NEW vector) may still have
        # edge rows carrying its OLD vector in dst_vec — those would
        # score the node at its stale location during the beam walk.
        # Drop every existing edge touching a delta id before the union
        # (for genuinely-new ids this anti-join matches nothing).
        delta_ids = rows.select(F.col(self.id_col).alias("src"))
        base = (self.edges
                .join(delta_ids, "src", "left_anti")
                .join(delta_ids.withColumnRenamed("src", "dst"),
                      "dst", "left_anti"))
        out.edges = base.unionByName(delta).distinct()
        out._entries = None  # corpus changed; re-derive entry points
        out._coarse = None   # (copy.copy shares the cache otherwise)
        return out

    def delete(self, ids):
        out = super().delete(ids)
        if isinstance(ids, DataFrame):
            # the rows are removed, not tombstoned: unlink them here
            d = ids.select(F.col(ids.columns[0]).alias("src"))
            out.edges = (self.edges.join(d, "src", "left_anti")
                         .join(d.withColumnRenamed("src", "dst"), "dst",
                               "left_anti"))
        out._entries = None  # an entry point may now be tombstoned
        out._coarse = None   # ditto for coarse seeds (shared via copy)
        return out

    def compact(self):
        """Fold tombstones into table AND edges (the rebuild the
        reference never does — its deleted nodes keep their links
        forever, hnsw.go:391-412)."""
        dead = self._deleted
        if not dead:
            return self
        out = super().compact()
        out.edges = self.edges.filter(~_in("src", dead) & ~_in("dst", dead))
        out._entries = None
        return out

    # -- persistence ----------------------------------------------------

    def save(self, path: str) -> None:
        import json
        compacted = self.compact()
        compacted.table.write.mode("overwrite") \
            .parquet(os.path.join(path, "table"))
        # partition the edges by a bounded src-hash bucket (the graph
        # analogue of the cluster-partitioned IVF layout): a hop's
        # frontier filter becomes real PARTITION pruning at the source
        # — each search reads ≤ |frontier| of N_EDGE_BUCKETS dirs, not
        # the whole edge table (plan-asserted in test_graph.py)
        (compacted.edges
         .withColumn("src_bucket",
                     _src_bucket_col(F.col("src"), self.edge_buckets))
         .write.mode("overwrite").partitionBy("src_bucket")
         .parquet(os.path.join(path, "edges")))
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump({"id_col": self.id_col, "vec_col": self.vec_col,
                       "m": self.m, "metric": self.metric,
                       "n_entry": self.n_entry,
                       "edge_buckets": self.edge_buckets}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "KnnGraphIndex":
        import json
        with open(os.path.join(path, "params.json")) as f:
            p = json.load(f)
        return cls(spark.read.parquet(os.path.join(path, "table")),
                   spark.read.parquet(os.path.join(path, "edges")),
                   p["id_col"], p["vec_col"], p["m"], p["metric"],
                   p.get("n_entry", DEFAULT_ENTRIES),
                   p.get("edge_buckets", N_EDGE_BUCKETS))
