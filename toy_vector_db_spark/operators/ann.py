"""Approximate nearest neighbor: the Spark-idiomatic HNSW analogue.

Reference HNSW (/root/reference/pkg/index/hnsw/hnsw.go) is a
pointer-chasing graph — an anti-pattern on Spark (SURVEY §7 risk 1).
Capability parity is "approximate knn, much cheaper than brute force,
tunable recall" (README.md:190-195); delivered here as:

  1. Random-hyperplane LSH (cosine-family): signature = sign bits of
     dot(v, plane_i). Index build is one scan; search probes the
     query's bucket plus ``multiprobe`` Hamming-adjacent buckets, then
     exact-scores only candidates. Recall tunes with n_planes (fewer
     planes = bigger buckets = higher recall, more work) and
     multiprobe — the efSearch analogue (hnsw.go:50).
  2. IVF via MLlib KMeans: centroid table (broadcast-sized), cluster
     assignment at build, ``nprobe``-nearest-centroid pruning at
     search — partition pruning does the rest when the index table is
     written partitioned by cluster.

Index persistence (reference Save/Load, hnsw.go:556-652 — gob
snapshots) maps to writing the signed/assigned table + params as
Parquet: ``save_index`` / ``load_index``.

Maintenance (reference Add/Delete, pkg/index/index.go:19-49): a
mutated index is a list of parquet segments plus a driver-side
tombstone set (``_MaintainableIndex``). Each ``add`` writes its delta's
index rows once, as a new segment, and ``compact`` rewrites only the
segments whose footers can hold a tombstone, so ``table`` stays a bare
parquet scan and no search re-runs an assign or encode pass, however
many mutations came before it.

Scale: build is embarrassingly parallel (no shuffle unless writing
partitioned); search reads only matching buckets/clusters — with a
partitioned index table that is real partition pruning at the source.
"""

from __future__ import annotations

import bisect
import copy
import functools
import json
import os
from collections.abc import Sequence
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.util import sql_string
from ..session import session_scratch_dir
from ..sources.pqwriter import parquet_writer
from .chooser import rows as _rows
from .knn import knn

# ---------------------------------------------------------------------------
# Incremental maintenance shared by every index type
# ---------------------------------------------------------------------------


class _MaintainableIndex:
    """Add/Delete/Size/GetIDs from the reference ``Index`` interface
    (pkg/index/index.go:19-49), kept as a list of parquet SEGMENTS plus
    a driver-side tombstone set, so that ``table`` is a bare parquet
    scan whose plan does not grow with the number of mutations:

    - the first mutation writes a base that ``build*`` left lazy (the
      assign / KMeans transform / PQ encode) once, as the first
      segment; a loaded index's saved files are segments as they are
      and are never written to. An index that is never mutated keeps
      its build plan.
    - ``add``: one job writes the delta's index rows (sign / assign /
      encode — a map-only pass over the delta, never a rebuild) as a
      new segment; one check job finds which of its ids the segments
      already hold. A live one, or an id repeated within the delta,
      errors like flat.go:72-80 / hnsw.go:145-156
      (ErrVectorAlreadyExists); a tombstoned one is resurrected: its
      stale row is dropped from its file and its tombstone cleared.
    - ``delete``: tombstones, exactly the HNSW strategy (hnsw.go:391-412
      sets ``Deleted=true``; every search skips deleted nodes). A
      driver-side id list joins the tombstone set (no job) and
      ``_live`` filters it as a pushed ``NOT id IN (…)``. A DataFrame of
      ids, too large to collect, instead rewrites only the segments
      that hold a match, as a Spark job.
    - ``compact``: drops the tombstoned rows from every segment whose
      id-column footer min/max can hold one (chosen on the driver, no
      job), rewriting each candidate with pyarrow one row group at a
      time, and clears the tombstones; with none it is a no-op. ``save``
      writes only live rows, so persisted indexes carry no tombstone
      debt.

    Mutations return a NEW index object and never change a file an
    older handle reads (rewrites go to new files), so every handle
    keeps its own snapshot; callers rebind, which is the reference's
    mutate-in-place under a lock re-expressed without shared state.
    Segments live under ``session.session_scratch_dir`` until the
    process exits.
    """

    table: DataFrame
    id_col: str
    vec_col: str
    _deleted: frozenset | None  # tombstoned ids

    def _copy(self, table: DataFrame, deleted):
        out = copy.copy(self)
        out.table = table
        out._deleted = frozenset(deleted or ()) or None
        # membership changed: a cached covering radius could be too
        # small after add() (breaking range-search pruning exactness)
        out.__dict__.pop("_radii", None)
        return out

    def _with_files(self, files: Sequence[str], deleted):
        return self._copy(self._scan(files), deleted)

    def _index_rows(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _live(self, df: DataFrame) -> DataFrame:
        d = getattr(self, "_deleted", None)
        if not d:
            return df
        return df.filter(~_in(self.id_col, d))

    # -- segments ---------------------------------------------------------

    def _scan(self, files: Sequence[str], with_file: bool = False) -> DataFrame:
        """The rows of ``files`` with the table's schema passed: a bare
        parquet scan (no job, footer-sized by ``chooser.rows``). Files of
        a Hive-style layout (a saved index, a stream sink) read under
        their base directory, which keeps their partition column and its
        pruning, so the plan is one scan per such base plus one for all
        flat segments. ``with_file`` adds each row's ``__file``."""
        spark, schema = self.table.sparkSession, self.table.schema
        groups: dict = {}
        for f in files:
            groups.setdefault(_layout(f)[0], []).append(f)
        scans = []
        for base, fs in (groups or {None: []}).items():
            r = spark.read.schema(schema)
            if base is not None:
                r = r.option("basePath", base)
            df = r.parquet(*fs)
            if with_file:
                df = df.select("*", F.col("_metadata.file_path").alias("__file"))
            scans.append(df)
        return functools.reduce(DataFrame.unionByName, scans)

    def _files(self) -> list[str]:
        """The data files ``table`` scans. A table that is not a bare
        parquet scan (a build's lazy plan) is written once, as the first
        segment."""
        files = _scan_files(self.table)
        return self._write(self.table) if files is None else files

    def _write(self, df: DataFrame) -> list[str]:
        """Write ``df`` as a new segment (one job); its non-empty files."""
        path = session_scratch_dir("index_segment")
        df.write.mode("overwrite").parquet(path)
        files = []
        for f in sorted(os.listdir(path)):
            p = os.path.join(path, f)
            if f.startswith("part-") and f.endswith(".parquet"):
                if pq.read_metadata(p).num_rows:
                    files.append(p)
                else:
                    os.remove(p)
        return files

    def _dropped(self, files: Sequence[str], ids) -> list[str]:
        """``files`` without the rows whose id is in ``ids``. Candidates
        come from the id column's footer min/max (``_may_hold``); each
        one holding such a row is rewritten on the driver, one row group
        at a time (a Hive-style file gains its partition values as
        columns). The copies go to a new segment directory, never next
        to the file, which may belong to a saved index or an older
        handle; a file left with no rows gets no copy."""
        if not ids:
            return list(files)
        from pyspark.sql.pandas.types import to_arrow_type
        out = session_scratch_dir("index_segment")
        fields = {f.name: f for f in self.table.schema.fields}
        gone, written = set(), []

        def kept(src, vs, parts):
            for g in range(src.num_row_groups):
                t = src.read_row_group(g)
                t = t.filter(pc.invert(pc.is_in(t[self.id_col], value_set=vs)))
                for k, v in parts.items():
                    typ = to_arrow_type(fields[k].dataType)
                    t = t.append_column(pa.field(k, typ), pa.nulls(
                        t.num_rows, typ) if v == _NULL_PARTITION else
                        pa.array([v] * t.num_rows).cast(typ))
                if t.num_rows:
                    yield t

        for f in files:
            if not _may_hold(f, self.id_col, ids):
                continue
            with pq.ParquetFile(f) as src:
                vs = pa.array(list(ids)).cast(
                    src.schema_arrow.field(self.id_col).type)
                if not any(pc.any(pc.is_in(src.read_row_group(
                        g, columns=[self.id_col]).column(0),
                        value_set=vs)).as_py()
                           for g in range(src.num_row_groups)):
                    continue
                gone.add(f)
                parts = {k: v for k, v in _layout(f)[1].items() if k in fields}
                groups = kept(src, vs, parts)
                first = next(groups, None)
                if first is None:
                    continue
                dst = os.path.join(out, f"part-{len(written):05d}.parquet")
                with parquet_writer(dst, first.schema.remove_metadata()) as w:
                    w.write_table(first)
                    for t in groups:
                        w.write_table(t)
                written.append(dst)
        return [f for f in files if f not in gone] + written

    # -- the Index contract -------------------------------------------------

    def add(self, rows: DataFrame, check_dups: bool = True):
        """Index a delta of new rows as a new segment. ``check_dups=True``
        replicates the reference's ErrVectorAlreadyExists for an id the
        index holds live or the delta repeats; disable it for bulk loads
        whose ids are known fresh (a tombstoned id is still resurrected).
        The check reads the delta's ids on the driver from the id column
        of its new segment."""
        files = self._files()
        new = self._write(self._index_rows(rows).select(
            *[F.col(f.name).cast(f.dataType) for f in self.table.schema]))
        dead = self._deleted or frozenset()
        ids = [i for f in new for i in pq.read_table(
            f, columns=[self.id_col]).column(0).to_pylist()] \
            if check_dups or dead else []
        probe = set(ids) if check_dups else dead.intersection(ids)
        held = {r[0] for r in self._scan(files)
                .filter(_in(self.id_col, probe)).select(self.id_col)
                .collect()} if probe else set()
        if check_dups and (len(set(ids)) < len(ids) or not held <= dead):
            for f in new:
                os.remove(f)
            raise ValueError("vector already exists")  # flat.go:19
        # re-adding a tombstoned id resurrects it: drop its stale row
        # (otherwise size() over-counts and searches can surface the
        # stale vector) and clear its tombstone
        return self._with_files(self._dropped(files, held) + new,
                                dead.difference(ids))

    def delete(self, ids: Sequence | DataFrame):
        """Tombstone ids (HNSW hnsw.go:391-412): a driver-side list joins
        the tombstone set with no job. A DataFrame of ids, for bulk
        deletes too large to collect, removes the rows instead by
        rewriting the segments that hold a match (Spark jobs; no id
        reaches the driver)."""
        if not isinstance(ids, DataFrame):
            return self._copy(self.table,
                              (self._deleted or frozenset()) | frozenset(ids))
        files = self._files()
        d = ids.select(F.col(ids.columns[0]).alias(self.id_col))
        hit = [_local(r[0]) for r in self._scan(files, with_file=True)
               .join(d, self.id_col, "left_semi").select("__file")
               .distinct().collect()]
        new = self._write(self._scan(hit).join(d, self.id_col, "left_anti")) \
            if hit else []
        return self._with_files([f for f in files if f not in hit] + new,
                                self._deleted)

    def compact(self):
        """Fold the tombstones into the segments and clear them; with no
        tombstones, ``self`` (no job). Candidate files come from the id
        column's footer min/max on the driver (a file without stats is a
        candidate); only those are read and rewritten (``_dropped``)."""
        if not self._deleted:
            return self
        return self._with_files(self._dropped(self._files(), self._deleted),
                                None)

    def size(self) -> int:
        """Live row count (flat.go:147-151; HNSW counts non-deleted)."""
        return self._live(self.table).count()

    def get_ids(self) -> list:
        """All live ids (flat.go:155-163). Driver-side by contract —
        use ``self.table`` directly when the corpus is large."""
        return [r[0] for r in
                self._live(self.table).select(self.id_col).collect()]


#: the directory value Spark writes for a NULL partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _in(col: str, values) -> Column:
    """``col IN (values)``, parsed from one SQL string when the values
    are strings or integers. ``Column.isin`` makes one py4j call per
    value: building a 500-id filter took 230 ms that way and 36 ms
    from the string (4-core host)."""
    vals = list(values)
    if not vals:
        return F.lit(False)
    if all(isinstance(v, str) for v in vals):
        lits = map(sql_string, vals)
    elif all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        lits = map(str, vals)
    else:
        return F.col(col).isin(vals)
    name = col.replace("`", "``")
    return F.expr(f"`{name}` IN ({', '.join(lits)})")


def _local(uri: str) -> str:
    """A file URI (``inputFiles``, ``_metadata.file_path``) as a path."""
    return unquote(urlparse(uri).path)


def _layout(path: str) -> tuple[str | None, dict[str, str]]:
    """(base directory, partition values) of a file in a Hive-style
    layout (``<base>/__cluster=3/part-….parquet``); a file whose
    directory is not a ``name=value`` one is flat: (None, {})."""
    head, vals = os.path.dirname(path), {}
    while "=" in os.path.basename(head):
        k, v = os.path.basename(head).split("=", 1)
        vals[k] = unquote(v)
        head = os.path.dirname(head)
    return (head if vals else None), vals


def _scan_files(df: DataFrame) -> list[str] | None:
    """The files of ``df`` when its analyzed plan is parquet file scans
    only (scans, their unions and column selections of them, nothing
    computed), else None. Read from the scans' file indexes: a cached
    frame's ``inputFiles()`` is empty."""
    def files(p):
        name = p.getClass().getSimpleName()
        if name == "LogicalRelation":
            rel = p.relation()
            if (rel.getClass().getSimpleName() != "HadoopFsRelation"
                    or rel.fileFormat().getClass().getSimpleName()
                    != "ParquetFileFormat"):
                return None
            return [_local(u) for u in rel.location().inputFiles()]
        if name == "Project":
            ps = p.projectList()
            if any(ps.apply(i).getClass().getSimpleName()
                   != "AttributeReference" for i in range(ps.size())):
                return None
            return files(p.child())
        if name == "Union":
            kids = p.children()
            out = [files(kids.apply(i)) for i in range(kids.size())]
            return None if None in out else [f for fs in out for f in fs]
        return None
    return files(df._jdf.queryExecution().analyzed())


def _may_hold(path: str, col: str, ids) -> bool:
    """Whether a row group's footer min/max of ``col`` can hold one of
    ``ids`` (a file without stats for it: yes)."""
    md = pq.read_metadata(path)
    j = next((c for c in range(md.num_columns)
              if md.schema.column(c).path == col), None)
    try:
        want = sorted(ids)
        for g in range(md.num_row_groups if j is not None else 0):
            st = md.row_group(g).column(j).statistics
            if st is None or not st.has_min_max:
                return True
            i = bisect.bisect_left(want, st.min)
            if i < len(want) and want[i] <= st.max:
                return True
    except TypeError:   # ids of another type than the column's
        return True
    return j is None


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic engine-portable hyperplanes, shape (n_planes, dim):
    coefficient (i, j) = first 8 hex digits of md5(f"{seed}:{i}:{j}")
    scaled to [-1, 1). Any SQL engine with md5 derives the identical
    matrix, which makes the LSH bucketing itself oracle-checkable
    (workload.ann_lsh_topk) — something a PRNG-seeded matrix can't do.
    Uniform directions bucket as well as Gaussian for sign-LSH."""
    import hashlib

    def coef(i: int, j: int) -> float:
        h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8]
        return int(h, 16) / 2 ** 31 - 1.0

    return np.array([[coef(i, j) for j in range(dim)]
                     for i in range(n_planes)])


def _sig_expr(vec_col: str, planes: np.ndarray):
    """Signature as an int: bit i = [dot(v, plane_i) > 0]. Pure Column
    expression — the dot products run JVM-side, no Python.

    One ``transform`` lambda over the plane matrix as a nested-array
    literal instead of n_planes copies of the dot fold (r12): identical
    per-plane arithmetic and bit weights (bit-identical signatures,
    same oracle), ~n_planes-fold smaller expression tree. The bit
    weights sum in a LONG accumulator (the old int + chain overflowed
    past n_planes 30 in principle; same values for every real size)."""
    from ..functions.vector import vector_lit
    one = F.lit(1).cast("long")
    v = F.col(vec_col).cast("array<double>")
    bits = F.transform(vector_lit(planes), lambda p, i: F.when(
        F.aggregate(F.zip_with(v, p, lambda x, y: x * y),
                    F.lit(0.0), lambda s, x: s + x) > 0,
        F.call_function("shiftleft", one, i)).otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda s, x: s + x)


def add_lsh_signature(df: DataFrame, planes: np.ndarray,
                      vec_col: str = "embedding",
                      sig_col: str = "__sig") -> DataFrame:
    return df.withColumn(sig_col, _sig_expr(vec_col, planes))


def query_signature(qvec: Sequence[float], planes: np.ndarray) -> int:
    dots = planes @ np.asarray(qvec, dtype=np.float64)
    return int(sum(1 << i for i, d in enumerate(dots) if d > 0))


def probe_signatures(sig: int, n_planes: int, multiprobe: int = 1) -> list[int]:
    """The query bucket plus all buckets within Hamming distance
    ``multiprobe`` (efSearch-style recall knob)."""
    sigs = {sig}
    frontier = {sig}
    for _ in range(multiprobe):
        frontier = {s ^ (1 << b) for s in frontier for b in range(n_planes)}
        sigs |= frontier
    return sorted(sigs)


class LshIndex(_MaintainableIndex):
    """Bucket-table ANN index (flat/HNSW ``Index`` interface analogue,
    reference pkg/index/index.go:19-49: Build/Add/Delete/Search/Size/
    GetIDs/Save/Load — maintenance via _MaintainableIndex)."""

    TABLE_DIR = "buckets"
    PARTITION_COL = "__sig"

    def __init__(self, planes: np.ndarray, table: DataFrame,
                 id_col: str, vec_col: str):
        self.planes = planes
        self.table = table  # base columns + __sig
        self.id_col = id_col
        self.vec_col = vec_col
        self._deleted = None

    def _index_rows(self, df: DataFrame) -> DataFrame:
        return add_lsh_signature(df, self.planes, self.vec_col)

    @classmethod
    def build(cls, df: DataFrame, n_planes: int = 12, seed: int = 42,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int | None = None) -> "LshIndex":
        if dim is None:
            row = df.select(F.size(vec_col)).first()
            if row is None:
                raise ValueError("cannot build index over an empty corpus")
            dim = int(row[0])
        planes = hyperplanes(n_planes, dim, seed)
        return cls(planes, add_lsh_signature(df, planes, vec_col), id_col, vec_col)

    def candidates(self, qvec: Sequence[float],
                   multiprobe: int = 1) -> DataFrame:
        """Rows in the query's bucket plus Hamming-adjacent buckets
        (partition pruning when the table was saved partitioned)."""
        qsig = query_signature(qvec, self.planes)
        probes = probe_signatures(qsig, len(self.planes), multiprobe)
        return self._live(self.table.filter(F.col("__sig").isin(probes)))

    def search(self, qvec: Sequence[float], k: int = 10,
               metric: str = "cosine", multiprobe: int = 1) -> DataFrame:
        return knn(self.candidates(qvec, multiprobe),
                   [float(x) for x in qvec], k=k, metric=metric,
                   vec_col=self.vec_col).drop("__sig")

    # -- persistence (S5 analogue) --------------------------------------

    def save(self, path: str, partitioned: bool = True) -> None:
        """Write the bucket table (optionally partitioned by signature:
        bucket probes then become partition pruning at the source) and
        the plane matrix + params as JSON. Tombstones are compacted
        away — persisted indexes carry only live rows."""
        w = self._live(self.table).write.mode("overwrite")
        if partitioned:
            w = w.partitionBy("__sig")
        w.parquet(os.path.join(path, "buckets"))
        meta = {"planes": self.planes.tolist(), "id_col": self.id_col,
                "vec_col": self.vec_col}
        with open(os.path.join(path, "lsh_meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LshIndex":
        with open(os.path.join(path, "lsh_meta.json")) as f:
            meta = json.load(f)
        table = spark.read.parquet(os.path.join(path, "buckets"))
        return cls(np.asarray(meta["planes"]), table,
                   meta["id_col"], meta["vec_col"])


# ---------------------------------------------------------------------------
# IVF (inverted file) via KMeans centroids
# ---------------------------------------------------------------------------


def det_sample(df: DataFrame, n: int, id_col: str,
               vec_col: str) -> np.ndarray:
    """The ``n`` corpus vectors with smallest (md5(id), id) as a
    matrix — the deterministic pseudo-random sample behind every
    engine-reproducible fit (det-IVF centroids, PQ codebooks). One
    TakeOrdered job; callers needing both centroids AND codebooks
    collect once with max(n_centroids, ks) and slice."""
    rows = (df.select(F.col(vec_col).cast("array<double>").alias("v"),
                      F.col(id_col).alias("i"))
            .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
            .limit(n).collect())
    if not rows:
        raise ValueError("cannot build index over an empty corpus")
    return np.array([list(r["v"]) for r in rows])


class IvfIndex(_MaintainableIndex):
    """Centroid-partitioned ANN index. Build: MLlib KMeans (public
    Spark API) over a sample; assign every row to its nearest centroid.
    Search: score centroids driver-side (they're broadcast-sized),
    scan only the ``nprobe`` nearest clusters. ``add`` assigns new rows
    to the EXISTING centroids (standard IVF — no retrain; faiss
    add_with_ids does the same); ``delete`` tombstones."""

    TABLE_DIR = "clusters"
    PARTITION_COL = "__cluster"

    def __init__(self, centroids: np.ndarray, table: DataFrame,
                 id_col: str, vec_col: str):
        self.centroids = centroids
        self.table = table  # base columns + __cluster
        self.id_col = id_col
        self.vec_col = vec_col
        self._deleted = None

    def _index_rows(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__cluster", self._assign_expr(self.centroids, self.vec_col))

    @classmethod
    def build(cls, df: DataFrame, n_centroids: int = 16, seed: int = 42,
              id_col: str = "vec_id", vec_col: str = "embedding",
              max_iter: int = 5, train_rows: int = 20_000) -> "IvfIndex":
        """Train centroids on a bounded sample, then assign every row.

        Training on a sample is the standard IVF recipe (faiss trains
        on ~50*nlist points): KMeans quality saturates quickly, and a
        full-corpus fit would iterate over 100 TB per step. Assignment
        is one map-only pass over the full table. max_iter=5 measured
        within recall noise of 10 on the synthetic corpus at half the
        build jobs; raise it for strongly clustered data.

        cap: the n_centroids default is a small-demo layout — corpus-
        scale callers size it via chooser.ivf_nlist (~4*sqrt(n)), the
        one shared IVF rule (a pinned nlist is the latent-N^2 class).
        """
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats_col = array_to_vector(F.col(vec_col).cast("array<double>"))
        n = _rows(df)
        sample = df if n <= train_rows else \
            df.sample(fraction=min(1.0, train_rows / n), seed=seed)
        km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter,
                    featuresCol="__features", predictionCol="__cluster")
        model = km.fit(sample.select(feats_col.alias("__features")))
        centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
        table = model.transform(df.withColumn("__features", feats_col)) \
            .drop("__features")
        return cls(centroids, table, id_col, vec_col)

    @classmethod
    def build_deterministic(cls, df: DataFrame, n_centroids: int = 8,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            sample: np.ndarray | None = None) -> "IvfIndex":
        """Init-only IVF: centroids are the ``n_centroids`` corpus
        vectors with the smallest md5(id) — a deterministic pseudo-random
        sample that any SQL engine reproduces, so cluster assignment,
        probe selection, and the pruned search are all value-checkable
        by the DuckDB oracle (workload.ann_ivf_det_topk). Recall behaves
        like sampled-centroid IVF; use ``build`` for Lloyd-trained
        centroids when bit-reproducibility isn't needed. ``sample``
        short-circuits the collect when the caller already holds the
        det_sample matrix (first ``n_centroids`` rows are used).

        cap: n_centroids=8 is the oracle-demo default; scale callers
        size via chooser.ivf_nlist (semdedup, the auto join tiers)."""
        if sample is None:
            sample = det_sample(df, n_centroids, id_col, vec_col)
        centroids = np.asarray(sample)[:n_centroids]
        table = df.withColumn("__cluster", cls._assign_expr(centroids, vec_col))
        return cls(centroids, table, id_col, vec_col)

    @staticmethod
    def _assign_expr(centroids: np.ndarray, vec_col: str):
        """Nearest-centroid id as a Column (ties -> the lowest centroid
        index, matching SQL list_position-of-min): the first probe of
        ``knn.probe_clusters_expr``. Null or wrong-length vectors get a
        null cluster."""
        from .knn import probe_clusters_expr
        probes = probe_clusters_expr(centroids, F.col(vec_col), 1)
        return F.element_at(probes, 1)

    def probe_clusters(self, qvec: Sequence[float], nprobe: int = 3) -> list[int]:
        """The ``nprobe`` centroids nearest the query, in
        ``probe_clusters_expr``'s order (``knn._probe_np``)."""
        from .knn import _probe_np
        q = np.asarray(qvec, dtype=np.float64)
        return _probe_np(q[None], self.centroids, nprobe)[0].tolist()

    def candidates(self, qvec: Sequence[float], nprobe: int = 3) -> DataFrame:
        """Rows of the ``nprobe`` clusters nearest the query (partition
        pruning when the table was saved partitioned by cluster)."""
        probe = self.probe_clusters(qvec, nprobe)
        return self._live(self.table.filter(F.col("__cluster").isin(probe)))

    def search(self, qvec: Sequence[float], k: int = 10,
               metric: str = "cosine", nprobe: int = 3) -> DataFrame:
        return knn(self.candidates(qvec, nprobe),
                   [float(x) for x in qvec], k=k, metric=metric,
                   vec_col=self.vec_col).drop("__cluster")

    def _dist_to_own_centroid(self):
        """Column: euclidean distance from a member row to the centroid
        of its assigned cluster."""
        from ..functions.vector import vector_lit
        v = F.col(self.vec_col).cast("array<double>")
        cents = vector_lit(self.centroids)
        # fold only the OWN centroid's entry (element_at before the
        # fold, r12): one distance per row instead of n_centroids —
        # same arithmetic on the same entry, bit-identical result
        return F.sqrt(F.aggregate(
            F.zip_with(v, F.element_at(cents, F.col("__cluster") + 1),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda s, x: s + x))

    def cluster_radii(self) -> np.ndarray:
        """Per-cluster covering radius: max euclidean distance from any
        live member to its centroid. One partial-aggregated pass over
        the table, <= n_centroids rows collected; cached on the index
        (production path: compute at build and persist in the meta —
        ``save`` does exactly that via this cache). Empty clusters get
        radius 0."""
        cached = getattr(self, "_radii", None)
        if cached is not None:
            return cached
        rows = (self._live(self.table)
                .groupBy("__cluster")
                .agg(F.max(self._dist_to_own_centroid()).alias("r"))
                .collect())
        radii = np.zeros(len(self.centroids))
        for r in rows:
            radii[r["__cluster"]] = r["r"]
        self._radii = radii
        return radii

    def cluster_stats(self, label_col: str | None = None) -> DataFrame:
        """Corpus cartography: per-cluster membership count, mean and
        max distance to centroid, and (with ``label_col``) the dominant
        label + its count — the SemDeDup-style \"what lives where\" map
        used to spot over-represented regions before pruning. One
        aggregate on the compact cluster key; the dominant label adds
        one (cluster, label) aggregate and a per-cluster top-1 window —
        group count is bounded by n_centroids x labels, never rows."""
        base = self._live(self.table) \
            .withColumn("__cd", self._dist_to_own_centroid())
        stats = (base.groupBy("__cluster")
                 .agg(F.count(F.lit(1)).alias("n_members"),
                      F.round(F.avg("__cd"), 4).alias("avg_dist"),
                      F.round(F.max("__cd"), 4).alias("max_dist"))
                 .withColumnRenamed("__cluster", "cluster_id"))
        if label_col is None:
            return stats
        from pyspark.sql import Window
        lc = (base.groupBy("__cluster", label_col)
              .agg(F.count(F.lit(1)).alias("top_label_n")))
        win = Window.partitionBy("__cluster").orderBy(
            F.col("top_label_n").desc(), F.col(label_col).asc())
        top = (lc.withColumn("__rk", F.row_number().over(win))
               .filter(F.col("__rk") == 1)
               .select(F.col("__cluster").alias("cluster_id"),
                       F.col(label_col).alias("top_label"), "top_label_n"))
        return stats.join(top, "cluster_id")

    def range_search(self, qvec: Sequence[float], radius: float,
                     dist_col: str = "distance") -> DataFrame:
        """EXACT euclidean radius query with cluster pruning: by the
        triangle inequality a cluster can hold a point within
        ``radius`` of q only if d(q, centroid) <= radius + covering
        radius, so every other cluster is skipped (partition pruning on
        a saved layout) with zero recall loss. Exactness means the
        pruned tier shares the brute-force oracle — the workload query
        value-checks that pruning loses nothing. Euclidean only: the
        bound needs a metric distance (cosine distance violates the
        triangle inequality)."""
        from .knn import range_search as _range
        if radius < 0:
            raise ValueError(f"radius must be >= 0, got {radius}")
        q = np.asarray(qvec, dtype=np.float64)
        qd = np.linalg.norm(self.centroids - q, axis=1)
        keep = [int(c) for c in np.nonzero(qd <= radius
                                           + self.cluster_radii())[0]]
        cand = self._live(self.table.filter(F.col("__cluster").isin(keep)))
        return _range(cand, [float(x) for x in qvec], radius,
                      metric="euclidean", vec_col=self.vec_col,
                      dist_col=dist_col).drop("__cluster")

    def save(self, path: str) -> None:
        self._live(self.table).write.mode("overwrite") \
            .partitionBy("__cluster").parquet(os.path.join(path, "clusters"))
        meta = {"centroids": self.centroids.tolist(), "id_col": self.id_col,
                "vec_col": self.vec_col,
                "radii": self.cluster_radii().tolist()}
        with open(os.path.join(path, "ivf_meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IvfIndex":
        with open(os.path.join(path, "ivf_meta.json")) as f:
            meta = json.load(f)
        table = spark.read.parquet(os.path.join(path, "clusters"))
        out = cls(np.asarray(meta["centroids"]), table,
                  meta["id_col"], meta["vec_col"])
        if "radii" in meta:  # persisted covering radii (pre-r4 saves lack them)
            out._radii = np.asarray(meta["radii"])
        return out


# ---------------------------------------------------------------------------
# Recall harness (ANN tiers are validated by recall@k vs the exact
# tier, not value hashes — SURVEY §5)
# ---------------------------------------------------------------------------


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str) -> float:
    a = {r[0] for r in approx.select(id_col).collect()}
    e = {r[0] for r in exact.select(id_col).collect()}
    return len(a & e) / max(len(e), 1)
