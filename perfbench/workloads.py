"""The workloads. Each one generates its inputs from the seed,
drives the engine's public functions through a ``Recorder`` and checks
every answer against ground truth computed here.

The benchmark's workloads are ``Mix``es of two parts each; every part
exposes:

- ``setup(dir)``: input generation plus the prebuilt state;
- ``step(i)``: the i-th foreground operation of a fixed, seeded cycle;
- ``quality()``: the recall-type score over the first ``min_steps``
  steps, which every run completes, so it is deterministic per seed;
- ``user_bytes`` / ``meter``: user data ingested and the storage
  written for it, over setup plus the first ``min_steps`` steps;
- ``layer_extras()``: per-layer counts only the workload can compute.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, truth
from .harness import StorageMeter, ratio, recall_at_k

K = 10


def write_vectors(path: str, ids, X, metadata=None) -> str:
    os.makedirs(path, exist_ok=True)
    cols = {"id": pa.array(ids, pa.string()),
            "embedding": pa.array(list(X), pa.list_(pa.float32()))}
    if metadata is not None:
        cols["metadata"] = pa.array(metadata, pa.map_(pa.string(), pa.string()))
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
    return path


def vector_literal(q) -> str:
    return "[" + ", ".join(repr(float(x)) for x in q) + "]"


def row_bytes(vid: str, x, meta=()) -> int:
    """User payload of one vector row: id, float32 values, metadata."""
    return len(vid) + 4 * len(x) + sum(len(k) + len(v) for k, v in meta)


class Workload:
    name = ""
    cycle: tuple = ()
    min_cycles = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rec = ctx.rec
        self.recalls: list[float] = []
        self.user_bytes = 0
        self.meter = StorageMeter()
        self.extras: dict[str, list[float]] = {}
        self.tiers: dict[str, dict[str, int]] = {}

    @property
    def min_steps(self) -> int:
        return self.min_cycles * len(self.cycle)

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.ctx.seed, stream])

    def extra(self, name: str, value: float) -> None:
        if self.rec.traced:
            self.extras.setdefault(name, []).append(float(value))

    def note_tier(self, kind: str, plan) -> float:
        """Tally the tier the chooser picked for ``kind``; returns the
        share of the corpus the plan scores per query."""
        by_tier = self.tiers.setdefault(kind, {})
        by_tier[plan.tier] = by_tier.get(plan.tier, 0) + 1
        p = plan.params
        return p["nprobe"] / p["n_centroids"] if "nprobe" in p else 1.0

    def in_window(self, step: int) -> bool:
        """Steps whose writes and recalls count toward the fixed-size
        quality / write-amplification window."""
        return step < self.min_steps

    def quality(self) -> float:
        if not self.recalls:
            raise RuntimeError(f"{self.name}: no recall sample in the window")
        return float(np.mean(self.recalls))

    def finish(self) -> None:
        pass

    def write_amplification(self) -> float:
        return ratio(self.meter.bytes_written, self.user_bytes)

    def layer_extras(self) -> dict[str, float]:
        out = {k: float(np.mean(v)) for k, v in self.extras.items()}
        for kind, (nbytes, nfiles) in self.meter.by_kind.items():
            if kind == "ann.ivf_save":
                out["ann.ivf_save.bytes"] = nbytes
                out["ann.ivf_save.files"] = nfiles
            else:
                out["catalog.bytes_written"] = out.get("catalog.bytes_written", 0) + nbytes
                out["catalog.files_written"] = out.get("catalog.files_written", 0) + nfiles
        return out


# -- point_search ----------------------------------------------------------------


class PointSearch(Workload):
    """Single queries over a static collection: dialect NEAREST TO (four
    metrics), metadata filter, id lookup, chooser.search_auto, a saved
    and reloaded IvfIndex, and a KnnGraphIndex."""

    name = "point_search"
    N, DIM, COMP, NQ, SPREAD = 2000, 128, 32, 64, 1.0
    # the persisted IVF layout: a partitioned save costs ~60 ms per
    # cluster directory, so the ivf_nlist rule (178 clusters at this N)
    # would add ~10 s to every set-up; a fixed 16 keeps it a few
    # seconds. Probing half of them keeps recall@10 near 1 on every
    # seed, so the recall metric moves only when a tier degrades
    NLIST, NPROBE = 16, 8
    min_cycles = 3
    cycle = ("nearest:euclidean", "point", "search_auto", "nearest:cosine",
             "ivf", "filter", "nearest:dotproduct", "graph",
             "nearest:manhattan")

    def setup(self, d: str) -> None:
        from toy_vector_db_spark.operators.ann import IvfIndex
        from toy_vector_db_spark.operators.graph import KnnGraphIndex
        from toy_vector_db_spark.plans.catalog import CollectionCatalog
        from toy_vector_db_spark.plans.dialect import SqlEngine
        from toy_vector_db_spark.schema import VECTORS_SCHEMA

        rng = self.rng(1)
        ctr = gen.centers(rng, self.COMP, self.DIM, spread=self.SPREAD)
        self.vs = gen.vectors(rng, self.N, ctr)
        self.Q = gen.queries(rng, self.NQ, ctr)
        self.pos = {v: i for i, v in enumerate(self.vs.ids)}
        pick = self.rng(2)
        self.point_ids = [self.vs.ids[i] for i in pick.integers(0, self.N, 64)]
        self.filters = [(f"c{pick.integers(0, gen.N_CATEGORIES)}",
                         f"t{pick.integers(0, gen.N_TAGS)}") for _ in range(64)]
        meta = self.vs.metadata()
        self.user_bytes = sum(row_bytes(i, x, m)
                              for i, x, m in zip(self.vs.ids, self.vs.X, meta))
        src = write_vectors(os.path.join(d, "input"), self.vs.ids, self.vs.X, meta)

        self.meter = StorageMeter(os.path.join(d, "catalog"), os.path.join(d, "ivf"))
        self.cat = CollectionCatalog(self.spark, os.path.join(d, "catalog"))
        self.eng = SqlEngine(self.spark, self.cat)
        rec = self.rec
        self.meter.measure("catalog.insert_df", lambda: rec.op(
            "catalog.insert_df",
            lambda: self.cat.insert_df(
                "vecs", self.spark.read.schema(VECTORS_SCHEMA).parquet(src)),
            check=lambda n: n == self.N, series=None))
        self.cdf = self.cat.read("vecs")
        built = rec.op("ann.ivf_build", lambda: IvfIndex.build_deterministic(
            self.cdf, n_centroids=self.NLIST, id_col="id"), series=None)
        ivf_dir = os.path.join(d, "ivf")
        os.makedirs(ivf_dir, exist_ok=True)
        self.meter.measure("ann.ivf_save", lambda: rec.op(
            "ann.ivf_save", lambda: built.save(ivf_dir), series=None))
        self.ivf = rec.op("sources.read",
                          lambda: IvfIndex.load(self.spark, ivf_dir), series=None)
        # coarse entries seed each walk near its answer; fixed entries
        # cannot reach the well-separated mixture components
        self.graph = rec.op("graph.build", lambda: KnnGraphIndex.build(
            self.cdf, id_col="id").with_coarse_entries(), series=None)
        # cluster sizes, for candidates-per-result in the traced run
        C, X = self.ivf.centroids, self.vs.X.astype(np.float64)
        d2 = (C ** 2).sum(1)[None] - 2 * X @ C.T
        self.cluster_sizes = np.bincount(d2.argmin(1), minlength=len(C))

    def _topk_ok(self, ids, q, metric) -> bool:
        return truth.same_topk(ids, self.vs.X, self.pos, q, metric, K)

    def _dists_ok(self, rows, q, metric="euclidean") -> bool:
        """Returned distances equal the true distances of returned ids."""
        ids = [r[0] for r in rows]
        if len(ids) != K or len(set(ids)) != K:
            return False
        d = truth.distances(self.vs.X[[self.pos[i] for i in ids]], q, metric)
        return bool(np.allclose([r[1] for r in rows], d, rtol=truth.RTOL, atol=1e-9))

    def _recall(self, step, ids, q) -> None:
        if self.in_window(step):
            want, _ = truth.topk(self.vs.X, self.vs.ids, q, "euclidean", K)
            self.recalls.append(recall_at_k(ids, want))

    def step(self, i: int) -> None:
        from toy_vector_db_spark.operators.chooser import search_auto

        op = self.cycle[i % len(self.cycle)]
        q = self.Q[i % self.NQ]
        rec, eng = self.rec, self.eng
        collect = lambda df: df.collect()  # noqa: E731
        if op.startswith("nearest:"):
            metric = op.split(":")[1]
            sql = (f"SELECT id, distance FROM vecs NEAREST TO "
                   f"{vector_literal(q)} USING {metric} LIMIT {K}")
            rec.op("dialect.nearest", lambda: eng.execute(sql).df, collect,
                   lambda rows: self._topk_ok([r[0] for r in rows], q, metric),
                   series=op)
        elif op == "point":
            vid = self.point_ids[i % len(self.point_ids)]
            x = self.vs.X[self.pos[vid]]
            rec.op("dialect.point", lambda: eng.execute(
                f"SELECT id, vector FROM vecs WHERE id = '{vid}'").df, collect,
                lambda rows: len(rows) == 1 and np.array_equal(
                    np.asarray(rows[0][1], np.float32), x))
        elif op == "filter":
            c, t = self.filters[i % len(self.filters)]
            want = {v for v, vc, vt in zip(self.vs.ids, self.vs.category,
                                           self.vs.tag) if vc == c and vt == t}
            rec.op("dialect.filter", lambda: eng.execute(
                f"SELECT id FROM vecs WHERE metadata.category = '{c}' "
                f"AND metadata.tag = '{t}'").df, collect,
                lambda rows: {r[0] for r in rows} == want)
        elif op == "search_auto":
            res = rec.op(
                "chooser.search_auto",
                lambda: search_auto(self.cdf.select("id", "embedding"),
                                    q.tolist(), k=K, id_col="id"),
                lambda plan_df: (plan_df[0], plan_df[1].collect()),
                lambda r: self._topk_ok([row["id"] for row in r[1]], q,
                                        "euclidean"))
            if res is not None:
                share = self.note_tier("chooser.search_auto", res[0])
                self.extra("knn.rows_scored_per_result", share * self.N / K)
        elif op == "ivf":
            rows = rec.op("ann.ivf_search", lambda: self.ivf.search(
                q.tolist(), k=K, metric="euclidean", nprobe=self.NPROBE),
                lambda df: [(r["id"], r["distance"]) for r in df.collect()],
                lambda rows: self._dists_ok(rows, q))
            if rows is not None:
                self._recall(i, [r[0] for r in rows], q)
                probe = self.ivf.probe_clusters(q, self.NPROBE)
                self.extra("ann.ivf_search.candidates_per_result",
                           self.cluster_sizes[probe].sum() / K)
        elif op == "graph":
            rows = rec.op("graph.search", lambda: self.graph.search(
                q.tolist(), k=K),
                lambda df: [(r["id"], r["distance"]) for r in df.collect()],
                lambda rows: self._dists_ok(rows, q))
            if rows is not None:
                self._recall(i, [r[0] for r in rows], q)
                self.extra("graph.search.hops", self.graph.last_hops)
                self.extra("graph.search.jobs", self.graph.last_jobs)
        else:
            raise ValueError(op)


# -- bulk_similarity ---------------------------------------------------------------


class BulkSimilarity(Workload):
    """Batch top-k joins: each op is one knn_join_auto call, IVF build
    included; the chooser routes a 10-query batch to the
    cluster-pruned ivf-broadcast tier (knn_join_ivf). A traced run adds one
    IVF-PQ build + knn_join_ivfpq with exact re-rank after the loop (its
    Column-expression encode pass costs ~1 ms per corpus row here, too
    slow to repeat inside a run)."""

    name = "bulk_similarity"
    N, DIM, COMP, SPREAD = 3000, 128, 48, 1.0
    # the ivf-broadcast tier scores each (query, candidate) pair as a
    # Column expression, ~70 us a pair on a 4-core host: 10 queries x
    # ~600 candidates keep a batch near 2 s, IVF build included
    QB, NBATCH = 10, 4
    RECALL_TARGET = 0.9
    # the pruned tiers are what this workload measures: the default
    # 1e9-pair crossover would route every batch (QB x N = 30,000
    # pairs) to the exact tier, so the crossover moves below that. The
    # broadcast-query cap keeps its default, so the chooser picks the
    # tier it would for real 10-query traffic
    EXACT_MAX_PAIRS = 10 ** 4
    PQ_QUERIES, PQ_M, PQ_KS, RERANK = 3, 8, 16, 4
    # every run samples each kind at least four times after the two
    # warm-up rounds
    min_cycles = 6
    cycle = ("batch",)

    def setup(self, d: str) -> None:
        from toy_vector_db_spark.operators.chooser import ivf_nlist
        from toy_vector_db_spark.plans.catalog import CollectionCatalog
        from toy_vector_db_spark.schema import VECTORS_SCHEMA

        rng = self.rng(1)
        ctr = gen.centers(rng, self.COMP, self.DIM, spread=self.SPREAD)
        self.vs = gen.vectors(rng, self.N, ctr)
        self.batches = [gen.queries(rng, self.QB, ctr) for _ in range(self.NBATCH)]
        self.pos = {v: i for i, v in enumerate(self.vs.ids)}
        self.user_bytes = sum(row_bytes(i, x) for i, x in zip(self.vs.ids, self.vs.X))
        src = write_vectors(os.path.join(d, "input"), self.vs.ids, self.vs.X)
        qpaths = []
        for b, Q in enumerate(self.batches):
            p = os.path.join(d, f"queries{b}")
            os.makedirs(p)
            pq.write_table(pa.table({
                "query_id": pa.array(np.arange(self.QB), pa.int64()),
                "query_vec": pa.array(list(Q), pa.list_(pa.float64()))}),
                os.path.join(p, "part-0.parquet"))
            qpaths.append(p)
        self.meter = StorageMeter(os.path.join(d, "catalog"))
        self.cat = CollectionCatalog(self.spark, os.path.join(d, "catalog"))
        self.meter.measure("catalog.insert_df", lambda: self.rec.op(
            "catalog.insert_df",
            lambda: self.cat.insert_df(
                "corpus", self.spark.read.schema(VECTORS_SCHEMA).parquet(src)),
            check=lambda n: n == self.N, series=None))
        self.cdf = self.cat.read("corpus")
        self.qdfs = [self.spark.read.schema("query_id long, query_vec array<double>")
                     .parquet(p) for p in qpaths]
        self.nlist = ivf_nlist(self.N)
        self.nprobe = math.ceil(self.nlist * (0.02 + 0.2 * self.RECALL_TARGET))
        self._truth = {}

    def _truth_for(self, b: int):
        if b not in self._truth:
            X = self.vs.X.astype(np.float64)
            Q = self.batches[b]
            d2 = (Q ** 2).sum(1)[:, None] - 2 * Q @ X.T + (X ** 2).sum(1)[None]
            top = np.argsort(d2, axis=1, kind="stable")[:, :K]
            self._truth[b] = [[self.vs.ids[j] for j in row] for row in top]
        return self._truth[b]

    def _check_join(self, rows, b: int, step: int) -> bool:
        """Every query answered with k distinct ids whose distances are
        the true euclidean distances; recall recorded in the window."""
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["id"], r["distance"]))
        if sorted(got) != list(range(self.QB)):
            return False
        Q = self.batches[b]
        want = self._truth_for(b)
        recalls = []
        for qid, pairs in got.items():
            ids = [p[0] for p in pairs]
            if len(ids) != K or len(set(ids)) != K:
                return False
            d = truth.distances(self.vs.X[[self.pos[i] for i in ids]], Q[qid],
                                "euclidean")
            if not np.allclose([p[1] for p in pairs], d, rtol=truth.RTOL, atol=1e-9):
                return False
            recalls.append(recall_at_k(ids, want[qid]))
        if self.in_window(step):
            self.recalls.append(float(np.mean(recalls)))
        return True

    def step(self, i: int) -> None:
        from toy_vector_db_spark.operators.chooser import knn_join_auto

        b = i % self.NBATCH
        res = self.rec.op(
            "chooser.knn_join_auto",
            lambda: knn_join_auto(self.qdfs[b], self.cdf, k=K,
                                  recall_target=self.RECALL_TARGET,
                                  corpus_id_col="id",
                                  exact_max_pairs=self.EXACT_MAX_PAIRS),
            lambda plan_df: (plan_df[0], plan_df[1].collect()),
            lambda r: self._check_join(r[1], b, i),
            series="bulk.batch", work=self.QB)
        if res is not None:
            share = self.note_tier("chooser.knn_join_auto", res[0])
            self.extra("knn.rows_scored_per_result", share * self.N / K)

    def finish(self) -> None:
        """Traced runs only: one IVF-PQ build and batch join."""
        from toy_vector_db_spark.operators.pq import IvfPqIndex, knn_join_ivfpq

        if not self.rec.traced:
            return
        qdf = self.qdfs[0].filter(f"query_id < {self.PQ_QUERIES}")
        want = self._truth_for(0)

        def check(rows):
            got: dict[int, list] = {}
            for r in rows:
                got.setdefault(r["query_id"], []).append(r["id"])
            ok = sorted(got) == list(range(self.PQ_QUERIES)) and all(
                len(set(v)) == K for v in got.values())
            if ok:
                self.extra("pq.recall_at_10", np.mean(
                    [recall_at_k(v, want[q]) for q, v in got.items()]))
            return ok

        def build():
            idx = IvfPqIndex.build_deterministic(
                self.cdf, n_centroids=self.nlist, m=self.PQ_M, ks=self.PQ_KS,
                id_col="id")
            return knn_join_ivfpq(qdf, idx, k=K, nprobe=self.nprobe,
                                  rerank=self.RERANK)

        if self.rec.op("pq", build, lambda df: df.collect(), check,
                       series=None) is not None:
            self.extra("pq.rerank_rows", self.PQ_QUERIES * self.RERANK * K)


# -- ingest_mutate ------------------------------------------------------------------


class IngestMutate(Workload):
    """Writes beside reads on one collection that starts empty:
    insert_df batches, dialect INSERT / DELETE / UPDATE, read-after-write
    COUNT(*) and NEAREST TO checked against the benchmark's own row
    model, periodic OPTIMIZE + vacuum, and an IvfIndex maintained with
    add / delete / compact and, in a traced run, saved at the end."""

    name = "ingest_mutate"
    DIM, COMP, BATCH, POOL_BATCHES, TRAIN = 128, 32, 500, 64, 500
    # a fixed small nlist: each insert batch is its own partition of the
    # index table, so the final partitioned save writes up to
    # batches x nlist files
    NLIST, NPROBE = 16, 8
    cycle = ("insert_df", "ivf_add", "count", "nearest", "insert", "delete",
             "ivf_delete", "nearest", "update", "count", "ivf_search",
             "optimize", "ivf_compact")

    def setup(self, d: str) -> None:
        from toy_vector_db_spark.operators.ann import IvfIndex
        from toy_vector_db_spark.plans.catalog import CollectionCatalog
        from toy_vector_db_spark.plans.dialect import SqlEngine

        rng = self.rng(1)
        ctr = gen.centers(rng, self.COMP, self.DIM)
        train = gen.vectors(rng, self.TRAIN, ctr, prefix="t")
        self.pool = [gen.vectors(rng, self.BATCH, ctr, start=b * self.BATCH)
                     for b in range(self.POOL_BATCHES)]
        self.singles = gen.vectors(rng, 4096, ctr, prefix="s")
        self.Q = gen.queries(rng, 64, ctr)
        self.pick = self.rng(2)
        self.batch_dirs = [write_vectors(os.path.join(d, f"batch{b}"), v.ids,
                                         v.X, v.metadata())
                           for b, v in enumerate(self.pool)]
        train_dir = write_vectors(os.path.join(d, "train"), train.ids, train.X)
        self.d = d
        self.cat = CollectionCatalog(self.spark, os.path.join(d, "catalog"))
        self.eng = SqlEngine(self.spark, self.cat)
        self.meter = StorageMeter(os.path.join(d, "catalog"))
        self.meter.measure("dialect.create", lambda: self.rec.op(
            "dialect.create", lambda: self.eng.execute(
                f"CREATE COLLECTION live (DIMENSION {self.DIM})"), series=None))
        tdf = self.spark.read.parquet(train_dir)
        self.idx = self.rec.op("ann.ivf_build", lambda: IvfIndex.build_deterministic(
            tdf, n_centroids=self.NLIST, id_col="id"), series=None)
        # row models: the collection, and what the index holds
        self.rows: dict[str, np.ndarray] = {}
        self.meta: dict[str, dict] = {}
        self.indexed: dict[str, np.ndarray] = dict(zip(train.ids, train.X))
        self.next_batch = self.next_single = self.n_tag = 0
        self.last_batch = self.last_deleted = None

    # -- helpers

    def _model_matrix(self, model):
        ids = sorted(model)
        return ids, np.stack([model[i] for i in ids])

    def _write(self, kind, build, check, i, **kw):
        """A write op; storage measured inside the window only."""
        def run():
            return self.rec.op(kind, build, check=check, **kw)
        if self.in_window(i):
            return self.meter.measure(kind, run)
        return run()

    def _live_id(self) -> str:
        ids = sorted(self.rows)
        return ids[int(self.pick.integers(0, len(ids)))]

    def step(self, i: int) -> None:
        op = self.cycle[i % len(self.cycle)]
        rec, eng, spark = self.rec, self.eng, self.spark
        if op == "insert_df":
            b = self.next_batch % self.POOL_BATCHES
            self.next_batch += 1
            v = self.pool[b]
            src = self.batch_dirs[b]
            from toy_vector_db_spark.schema import VECTORS_SCHEMA
            df = spark.read.schema(VECTORS_SCHEMA).parquet(src)
            if self._write("catalog.insert_df",
                           lambda: self.cat.insert_df("live", df),
                           lambda n: n == self.BATCH, i, work=self.BATCH) is not None:
                for vid, x, m in zip(v.ids, v.X, v.metadata()):
                    self.rows[vid] = x
                    self.meta[vid] = dict(m)
                    if self.in_window(i):
                        self.user_bytes += row_bytes(vid, x, m)
                self.last_batch = (v, df)
        elif op == "ivf_add":
            v, df = self.last_batch
            new = rec.op("ann.ivf_add", lambda: self.idx.add(df), work=0)
            if new is not None:
                self.idx = new
                self.indexed.update(zip(v.ids, v.X))
        elif op == "count":
            n = len(self.rows)
            rec.op("dialect.count", lambda: eng.execute(
                "SELECT COUNT(*) FROM live").df, lambda df: df.collect(),
                lambda rows: rows[0][0] == n, series="rw.count", work=0)
        elif op == "nearest":
            q = self.Q[i % len(self.Q)]
            ids, X = self._model_matrix(self.rows)
            pos = {v: j for j, v in enumerate(ids)}
            sql = (f"SELECT id, distance FROM live NEAREST TO "
                   f"{vector_literal(q)} USING euclidean LIMIT {K}")
            rec.op("dialect.nearest", lambda: eng.execute(sql).df,
                   lambda df: df.collect(),
                   lambda rows: truth.same_topk([r[0] for r in rows], X, pos, q,
                                                "euclidean", K),
                   series="rw.nearest", work=0)
        elif op == "insert":
            s = self.singles
            j = self.next_single % len(s.ids)
            self.next_single += 1
            vid, x = s.ids[j], s.X[j]
            sql = f"INSERT INTO live (id, vector) VALUES ('{vid}', {vector_literal(x)})"
            if self._write("dialect.insert", lambda: eng.execute(sql),
                           lambda r: r.affected == 1, i, work=1) is not None:
                self.rows[vid] = x.astype(np.float32)
                self.meta[vid] = {}
                if self.in_window(i):
                    self.user_bytes += row_bytes(vid, x)
        elif op == "delete":
            vid = self._live_id()
            if self._write("dialect.delete", lambda: eng.execute(
                    f"DELETE FROM live WHERE id = '{vid}'"),
                    lambda r: r.affected == 1, i, work=0) is not None:
                del self.rows[vid]
                self.meta.pop(vid, None)
                self.last_deleted = vid
        elif op == "ivf_delete":
            vid = self.last_deleted
            if vid in self.indexed:
                new = rec.op("ann.ivf_delete", lambda: self.idx.delete([vid]),
                             work=0)
                if new is not None:
                    self.idx = new
                    del self.indexed[vid]
        elif op == "update":
            vid = self._live_id()
            self.n_tag += 1
            tag = f"u{self.n_tag}"
            if self._write("dialect.update", lambda: eng.execute(
                    f"UPDATE live SET metadata.tag = '{tag}' WHERE id = '{vid}'"),
                    lambda r: r.affected == 1, i, work=0) is not None:
                self.meta[vid]["tag"] = tag
        elif op == "ivf_search":
            q = self.Q[i % len(self.Q)]
            ids, X = self._model_matrix(self.indexed)
            pos = {v: j for j, v in enumerate(ids)}
            rows = rec.op("ann.ivf_search", lambda: self.idx.search(
                q.tolist(), k=K, metric="euclidean", nprobe=self.NPROBE),
                lambda df: [(r["id"], r["distance"]) for r in df.collect()],
                lambda rows: len({r[0] for r in rows}) == K and all(
                    r[0] in pos for r in rows) and np.allclose(
                    [r[1] for r in rows],
                    truth.distances(X[[pos[r[0]] for r in rows]], q, "euclidean"),
                    rtol=truth.RTOL), series="rw.ivf_search", work=0)
            if rows is not None and self.in_window(i):
                want, _ = truth.topk(X, ids, q, "euclidean", K)
                self.recalls.append(recall_at_k([r[0] for r in rows], want))
        elif op == "optimize":
            n = len(self.rows)
            self._write("dialect.optimize", lambda: eng.execute("OPTIMIZE live"),
                        lambda r: r.affected >= 1, i, work=0)
            self._write("catalog.vacuum", lambda: self.cat.vacuum("live", 1),
                        lambda removed: isinstance(removed, list), i, work=0)
            rec.op("dialect.count", lambda: eng.execute(
                "SELECT COUNT(*) FROM live").df, lambda df: df.collect(),
                lambda rows: rows[0][0] == n, series="rw.count", work=0)
        elif op == "ivf_compact":
            new = rec.op("ann.ivf_compact", lambda: self.idx.compact(), work=0)
            if new is not None:
                self.idx = new
        else:
            raise ValueError(op)

    def finish(self) -> None:
        """Traced runs only: the final index save."""
        if not self.rec.traced:
            return
        path = os.path.join(self.d, "ivf")
        os.makedirs(path, exist_ok=True)
        self.save_meter = StorageMeter(path)
        self.save_meter.measure("ann.ivf_save", lambda: self.rec.op(
            "ann.ivf_save", lambda: self.idx.save(path), series=None))

    def layer_extras(self) -> dict[str, float]:
        from .harness import disk_usage
        out = super().layer_extras()
        live = sum(row_bytes(v, x, self.meta.get(v, {}).items())
                   for v, x in self.rows.items())
        disk, _ = disk_usage(os.path.join(self.cat.root, "live"))
        out["catalog.disk_bytes_per_live_byte"] = disk / live if live else 0.0
        if self.rec.traced:
            out["ann.ivf_save.bytes"] = self.save_meter.bytes_written
            out["ann.ivf_save.files"] = self.save_meter.files_written
        return out


# -- dedup_corpus ---------------------------------------------------------------------


class DedupCorpus(Workload):
    """The text pipeline: exact_dedup -> minhash_lsh_pairs(verify) ->
    connected_components -> embed_documents, one corpus shard per op.
    Shards carry planted exact and near duplicates at known rates."""

    name = "dedup_corpus"
    SHARDS, DOCS = 2, 200
    THRESHOLD = 0.5
    min_cycles = 6
    cycle = ("pipeline",)

    def setup(self, d: str) -> None:
        from toy_vector_db_spark.plans.catalog import CollectionCatalog

        self.corpora = [gen.documents(self.rng(10 + s), self.DOCS,
                                      id_start=s * self.DOCS)
                        for s in range(self.SHARDS)]
        self.cat = CollectionCatalog(self.spark, os.path.join(d, "catalog"))
        self.meter = StorageMeter(os.path.join(d, "catalog"))
        for s, c in enumerate(self.corpora):
            p = os.path.join(d, f"docs{s}")
            os.makedirs(p)
            pq.write_table(pa.table({
                "doc_id": pa.array([self.doc_id(i) for i in c.ids], pa.string()),
                "content": pa.array(c.texts, pa.string()),
                "content_type": pa.array(["text"] * len(c.ids), pa.string())}),
                os.path.join(p, "part-0.parquet"))
            self.user_bytes += sum(len(t.encode()) for t in c.texts) + \
                sum(len(self.doc_id(i)) for i in c.ids)
            df = self.spark.read.parquet(p)
            self.meter.measure("catalog.upsert_docs", lambda: self.rec.op(
                "catalog.upsert_docs",
                lambda: self.cat.upsert_docs(f"s{s}", df),
                check=lambda n: n == self.DOCS, series=None))
        self._truth = {}

    @staticmethod
    def doc_id(i: int) -> str:
        return f"d{i:07d}"

    def _truth_for(self, s: int) -> dict:
        """Expected exact survivors, each doc's shingle set, and the
        planted near-dup pairs the verified pass can find."""
        if s not in self._truth:
            c = self.corpora[s]
            ids = [self.doc_id(i) for i in c.ids]
            surv = truth.exact_survivors(ids, c.texts)
            sh = {i: truth.shingles(t) for i, t in zip(ids, c.texts)}
            text = dict(zip(ids, c.texts))
            planted = set()
            for copy, orig in c.near_of.items():
                a, b = self.doc_id(orig), self.doc_id(copy)
                if a in surv and b in surv and text[a] != text[b] and \
                        truth.jaccard(sh[a], sh[b]) >= self.THRESHOLD:
                    planted.add((min(a, b), max(a, b)))
            self._truth[s] = {"surv": surv, "sh": sh, "text": text,
                              "planted": planted}
        return self._truth[s]

    def _check_pairs(self, rows, t) -> bool:
        for a, b, j in rows:
            if not (a < b and a in t["surv"] and b in t["surv"]):
                return False
            if j < self.THRESHOLD or abs(j - truth.jaccard(t["sh"][a], t["sh"][b])) > 1e-9:
                return False
        return True

    def _check_embed(self, rows, t) -> bool:
        from toy_vector_db_spark.functions.embedding import embed_one
        if {r[0] for r in rows} != t["surv"]:
            return False
        if not all(abs(r[2] - 1.0) < 1e-9 for r in rows):
            return False
        for r in sorted(rows)[:: max(1, len(rows) // 4)]:
            if abs(r[1] - float(embed_one(t["text"][r[0]]).sum())) > 1e-9:
                return False
        return True

    def step(self, i: int) -> None:
        from pyspark.sql import functions as F
        from toy_vector_db_spark.functions.embedding import embed_documents
        from toy_vector_db_spark.operators.components import connected_components
        from toy_vector_db_spark.operators.dedup import exact_dedup, minhash_lsh_pairs

        s = i % self.SHARDS
        t = self._truth_for(s)
        rec = self.rec
        docs = rec.op("sources.read", lambda: self.cat.read_docs(f"s{s}")
                      .select("doc_id", "content"), series=None)
        if docs is None:
            return

        def materialize(df, cols):
            cp = df.localCheckpoint()
            return cp, [tuple(r) for r in cp.select(*cols).collect()]

        # each stage is its own latency sample; a failed stage ends the
        # step, since the later stages consume its output
        out = rec.op("dedup.exact",
                     lambda: exact_dedup(docs, text_col="content", id_col="doc_id"),
                     lambda df: materialize(df, ["doc_id"]),
                     lambda r: {x[0] for x in r[1]} == t["surv"], work=self.DOCS)
        if out is None:
            return
        surv = out[0]
        out = rec.op("dedup.minhash",
                     lambda: minhash_lsh_pairs(surv, text_col="content",
                                               id_col="doc_id", verify=True,
                                               threshold=self.THRESHOLD),
                     lambda df: materialize(df, ["id_a", "id_b", "jaccard"]),
                     lambda r: self._check_pairs(r[1], t), work=0)
        if out is None:
            return
        pairs_df, pairs = out
        want_cc = truth.components([(a, b) for a, b, _ in pairs])
        if rec.op("components.cc", lambda: connected_components(pairs_df),
                  lambda df: df.collect(),
                  lambda rows: {r[0]: r[1] for r in rows} == want_cc,
                  work=0) is None:
            return
        if rec.op("embedding.embed",
                  lambda: embed_documents(surv, content_col="content",
                                          out_col="vector"),
                  lambda df: df.select(
                      "doc_id",
                      F.aggregate("vector", F.lit(0.0), lambda a, x: a + x),
                      F.aggregate("vector", F.lit(0.0), lambda a, x: a + x * x)
                  ).collect(),
                  lambda rows: self._check_embed(rows, t), work=0) is None:
            return
        found = {(a, b) for a, b, _ in pairs}
        if self.in_window(i) and t["planted"]:
            self.recalls.append(len(found & t["planted"]) / len(t["planted"]))
        if rec.traced:
            cand = minhash_lsh_pairs(surv, text_col="content", id_col="doc_id",
                                     verify=False).count()
            self.extra("dedup.candidate_pairs", cand)
            self.extra("dedup.verified_per_candidate", len(pairs) / cand if cand else 0.0)
            self.extra("components.edges", len(pairs))


# -- mixes ---------------------------------------------------------------------------------


class Mix(Workload):
    """Several workloads interleaved op by op in one session. Each part
    keeps its own inputs, checks and step numbering; the run's samples,
    recalls and storage counts are the union of the parts'."""

    part_types: tuple = ()
    warmup_cycles = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = tuple(t(ctx) for t in self.part_types)
        self.setup_s: dict[str, float] = {}
        self.cycle = tuple(p.name for p in self.parts)
        self.min_cycles = max(p.min_steps for p in self.parts)

    @property
    def warmup_steps(self) -> int:
        """``warmup_cycles`` whole cycles of every part."""
        return self.warmup_cycles * len(self.parts) * max(
            len(p.cycle) for p in self.parts)

    def setup(self, d: str) -> None:
        for p in self.parts:
            t0 = time.perf_counter()
            p.setup(os.path.join(d, p.name))
            self.setup_s[p.name] = time.perf_counter() - t0
        self.user_bytes = sum(p.user_bytes for p in self.parts)

    def step(self, i: int) -> None:
        n = len(self.parts)
        self.parts[i % n].step(i // n)

    def finish(self) -> None:
        for p in self.parts:
            p.finish()

    def quality(self) -> float:
        recalls = [r for p in self.parts for r in p.recalls]
        if not recalls:
            raise RuntimeError(f"{self.name}: no recall sample in the window")
        return float(np.mean(recalls))

    def write_amplification(self) -> float:
        return ratio(sum(p.meter.bytes_written for p in self.parts),
                     self.user_bytes)

    def tier_counts(self) -> dict[str, dict[str, int]]:
        return {k: v for p in self.parts for k, v in p.tiers.items()}

    def layer_extras(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            for k, v in p.layer_extras().items():
                out[k] = out.get(k, 0.0) + v if k.startswith("catalog.") else v
        return out


class Interactive(Mix):
    """Single queries on a static collection beside single writes and
    read-after-write queries on a live one: fixed per-op cost."""

    name = "interactive"
    part_types = (PointSearch, IngestMutate)


class Bulk(Mix):
    """Batch top-k joins beside the dedup pipeline: compute-bound jobs."""

    name = "bulk"
    part_types = (BulkSimilarity, DedupCorpus)
    # a bulk op still runs ~1.4x its steady-state time one round after
    # session start and settles over the next minute of JIT warm-up; a
    # second warm-up round keeps the samples off the steepest part of
    # that slope, where run-to-run warm-up speed sets the figures
    warmup_cycles = 2


WORKLOADS = {w.name: w for w in (Interactive, Bulk)}
