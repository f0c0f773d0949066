"""Collection catalog: named vector collections with full DML.

Reference storage is one ``.vec`` file per vector with write-through
CRUD (/root/reference/pkg/storage/storage.go:133-292) and a single
implicit collection (executor.go:601-602). Here a collection is a
versioned Parquet directory:

    <root>/<name>/v00000/part-*.parquet
    <root>/<name>/v00001/...
    <root>/<name>/_current          <- pointer file (atomic rename)

Each mutation writes a NEW version directory then flips the pointer —
Spark cannot overwrite a path it is reading, and versioning gives
readers snapshot isolation for free. This is a deliberately minimal
transaction-log pattern; on a production cluster you'd swap in Delta
Lake/Iceberg (same read-modify-write semantics, richer log) — the
SqlEngine above is storage-agnostic either way.

Every collection is also registered as a temp view, so spark.sql and
the dialect see it as a table.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import vector_lit
from ..schema import DOCUMENTS_SCHEMA, VECTORS_SCHEMA

# Per-collection document sidecar table (reference embeds write a full
# Document JSON next to the vector, cmd_embed.go:100-112). Stored as a
# second versioned-parquet table named <collection>__docs.
DOCS_SUFFIX = "__docs"


class CollectionCatalog:
    def __init__(self, spark: SparkSession, root: str | None = None,
                 keep_versions: int = 2):
        self.spark = spark
        self.root = root or tempfile.mkdtemp(prefix="vectodb_collections_")
        self.keep_versions = keep_versions
        os.makedirs(self.root, exist_ok=True)
        # re-register collections that already exist on disk
        for name in self.list_collections():
            self._register(name)

    # -- paths / versions -------------------------------------------------

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), "_current")

    def _version(self, name: str) -> int:
        try:
            with open(self._pointer(name)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _data_path(self, name: str, version: int | None = None) -> str:
        v = self._version(name) if version is None else version
        return os.path.join(self._dir(name), f"v{v:05d}")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._pointer(name))

    def list_collections(self) -> list[str]:
        if not os.path.exists(self.root):
            return []
        return sorted(n for n in os.listdir(self.root)
                      if os.path.exists(self._pointer(n))
                      and not n.endswith(DOCS_SUFFIX))

    # -- read -------------------------------------------------------------

    def _schema_for(self, name: str):
        return DOCUMENTS_SCHEMA if name.endswith(DOCS_SUFFIX) else VECTORS_SCHEMA

    def read(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise KeyError(f"collection not found: {name!r}")
        return self.spark.read.schema(self._schema_for(name)).parquet(
            self._data_path(name))

    def versions(self, name: str) -> list[int]:
        """Version numbers still on disk, oldest first (the newest
        ``keep_versions`` survive GC)."""
        if not self.exists(name):
            raise KeyError(f"collection not found: {name!r}")
        base = self._dir(name)
        return sorted(int(e[1:]) for e in os.listdir(base)
                      if e.startswith("v") and e[1:].isdigit())

    def read_version(self, name: str, version: int) -> DataFrame:
        """Snapshot read (time travel): the table exactly as committed
        at ``version``. This is what the versioned layout buys — every
        mutation wrote a NEW directory and flipped the pointer, so any
        retained version is a consistent, immutable snapshot (the same
        read semantics Delta/Iceberg time travel exposes; swap them in
        for a longer history than ``keep_versions``)."""
        if version not in self.versions(name):
            raise KeyError(
                f"version {version} of {name!r} not on disk "
                f"(retained: {self.versions(name)})")
        return self.spark.read.schema(self._schema_for(name)).parquet(
            self._data_path(name, version))

    def read_docs(self, name: str) -> DataFrame:
        """The document sidecar table of a collection (DOCUMENTS_SCHEMA:
        doc_id, content, content_type, vector, metadata, created_at,
        updated_at — reference pkg/embedding/document.go:18-26)."""
        return self.read(name + DOCS_SUFFIX)

    def _register(self, name: str) -> None:
        self.read(name).createOrReplaceTempView(name)

    # -- write ------------------------------------------------------------

    def _commit(self, name: str, df: DataFrame) -> None:
        v = self._version(name) + 1
        path = self._data_path(name, v)
        df.write.mode("overwrite").parquet(path)
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer(name))  # atomic pointer flip
        self._register(name)
        self._gc(name, v)

    def _gc(self, name: str, current: int) -> None:
        base = self._dir(name)
        for entry in os.listdir(base):
            if entry.startswith("v") and entry[1:].isdigit():
                if int(entry[1:]) <= current - self.keep_versions:
                    shutil.rmtree(os.path.join(base, entry), ignore_errors=True)

    # -- maintenance -------------------------------------------------------

    def history(self, name: str) -> list[dict]:
        """Snapshot history of the retained versions (DESCRIBE HISTORY
        analogue), oldest first: version, committed_at (directory
        mtime, UTC epoch seconds), n_files, is_current. Reads only
        directory metadata — no data scan."""
        if not self.exists(name):
            raise KeyError(f"no such collection: {name!r}")
        cur = self._version(name)
        out = []
        for v in self.versions(name):
            path = self._data_path(name, v)
            out.append({
                "version": v,
                "committed_at": os.path.getmtime(path),
                "n_files": sum(1 for f in os.listdir(path)
                               if f.startswith("part-")
                               and f.endswith(".parquet")),
                "is_current": v == cur,
            })
        return out

    def vacuum(self, name: str, retain_versions: int = 1) -> list[int]:
        """Delete all but the newest ``retain_versions`` snapshots NOW
        (VACUUM analogue; _gc applies the standing ``keep_versions``
        policy on every commit — this is the explicit, tighter sweep).
        The current version is always retained. Returns the removed
        version numbers."""
        if retain_versions < 1:
            raise ValueError(
                f"retain_versions must be >= 1, got {retain_versions}")
        versions = self.versions(name)
        cur = self._version(name)
        keep = set(versions[-retain_versions:]) | {cur}
        removed = []
        for v in versions:
            if v not in keep:
                shutil.rmtree(self._data_path(name, v), ignore_errors=True)
                removed.append(v)
        return removed

    def compact(self, name: str, target_files: int = 1,
                sort_by: list[str] | None = None,
                zorder_by: list[str] | None = None) -> tuple[int, int]:
        """OPTIMIZE analogue: rewrite the current snapshot into
        ``target_files`` parquet files, committing a NEW version (the
        pointer flip is atomic; readers of retained older versions are
        untouched — the Delta/Iceberg OPTIMIZE contract). Returns
        (files_before, files_after).

        Row-at-a-time DML (the reference's write-through model,
        storage.go:133-292) accretes one small file per commit batch —
        the classic small-files problem that at scale turns every scan
        into open/footer overhead. ``sort_by`` additionally
        RANGE-partitions on those columns and sorts within files, so
        parquet column min/max stats become selective and point/range
        predicates on the sort key skip whole files (poor-man's
        clustering). ``zorder_by`` instead range-partitions and sorts
        on the Morton key over SEVERAL columns
        (`functions/zorder.z_value` — the Delta/Iceberg OPTIMIZE
        ZORDER analogue): each interleaved column's file-level min/max
        stays partially selective, so multi-dimensional box predicates
        skip O(files^(1-1/d)) of the layout instead of scanning it
        all. Mutually exclusive with ``sort_by``.
        """
        if target_files < 1:
            raise ValueError(f"target_files must be >= 1, got {target_files}")
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        df = self.read(name)
        before = self._file_count(name)
        if zorder_by:
            from ..functions.zorder import z_value
            out = z_value(df, zorder_by)
            out = out.repartitionByRange(target_files, F.col("__z")) \
                .sortWithinPartitions("__z").drop("__z")
        elif sort_by:
            out = df.repartitionByRange(target_files,
                                        *[F.col(c) for c in sort_by]) \
                .sortWithinPartitions(*sort_by)
        else:
            out = df.repartition(target_files)
        self._commit(name, out)
        return before, self._file_count(name)

    def _file_count(self, name: str) -> int:
        path = self._data_path(name)
        return sum(1 for f in os.listdir(path)
                   if f.startswith("part-") and f.endswith(".parquet"))

    # -- DDL ---------------------------------------------------------------

    def create(self, name: str, dimension: int | None = None,
               if_not_exists: bool = False) -> None:
        """CREATE COLLECTION (reference no-ops this, executor.go:601-602;
        we create a real empty table). ``dimension`` is recorded for
        documentation only — like the reference, nothing enforces it
        (SURVEY §1.2)."""
        if self.exists(name):
            if if_not_exists:
                return
            raise ValueError(f"collection already exists: {name!r}")
        os.makedirs(self._dir(name), exist_ok=True)
        if dimension is not None:
            with open(os.path.join(self._dir(name), "_dimension"), "w") as f:
                f.write(str(dimension))
        self._commit(name, self.spark.createDataFrame([], VECTORS_SCHEMA))

    def drop(self, name: str) -> int:
        """DROP COLLECTION -> count of removed vectors (the reference
        deletes every vector from its single store, executor.go:616-652).
        The document sidecar, if any, goes with it."""
        n = self.read(name).count() if self.exists(name) else 0
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(self._dir(name), ignore_errors=True)
        shutil.rmtree(self._dir(name + DOCS_SUFFIX), ignore_errors=True)
        return n

    # -- DML ---------------------------------------------------------------

    def insert(self, name: str, rows: list[tuple]) -> int:
        """Append rows (id, embedding, metadata); duplicate id errors like
        the reference (executor.go:476-480). The dup probe is a point
        lookup pushed to the parquet scan, not a full join."""
        if not self.exists(name):
            self.create(name, if_not_exists=True)
        new = self.spark.createDataFrame(
            [(i, [float(x) for x in (e or [])], m) for i, e, m in rows],
            VECTORS_SCHEMA)
        cur = self.read(name)
        dup = cur.join(F.broadcast(new.select("id")), "id", "left_semi").limit(1)
        hit = dup.select("id").first()
        if hit is not None:
            raise ValueError(f"duplicate id: {hit[0]!r}")
        self._commit(name, cur.unionByName(new))
        return len(rows)

    def insert_df(self, name: str, df: DataFrame) -> int:
        """Distributed append of an (id, embedding[, metadata]) frame —
        the bulk-ingest path (no driver materialization, unlike the
        row-list ``insert``). Any duplicate id — within the batch or
        against the stored table — errors like the reference."""
        if not self.exists(name):
            self.create(name, if_not_exists=True)
        cols = {"id", "embedding", "metadata"} & set(df.columns)
        new = df.select(
            F.col("id").cast("string"),
            F.col("embedding").cast("array<float>"),
            (F.col("metadata") if "metadata" in cols
             else F.lit(None)).cast("map<string,string>").alias("metadata"))
        cur = self.read(name)
        dup = new.groupBy("id").count().filter(F.col("count") > 1) \
            .unionByName(cur.join(new.select("id"), "id", "left_semi")
                         .groupBy("id").count()).limit(1)
        hit = dup.first()
        if hit is not None:
            raise ValueError(f"duplicate id: {hit[0]!r}")
        n = new.count()
        self._commit(name, cur.unionByName(new))
        return n

    def upsert_docs(self, name: str, docs: DataFrame) -> int:
        """Write-through the document sidecar (embed persists the FULL
        Document — content + vector + metadata + timestamps — next to
        the vector row, reference cmd_embed.go:100-112). Upsert by
        doc_id: the reference overwrites the per-doc JSON file; here the
        matching rows are replaced. Missing DOCUMENTS_SCHEMA columns
        are filled with NULL."""
        dname = name + DOCS_SUFFIX
        cols = set(docs.columns)
        new = docs.select(*[
            (F.col(f.name) if f.name in cols else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in DOCUMENTS_SCHEMA.fields])
        n = new.count()
        if self.exists(dname):
            cur = self.read(dname)
            out = cur.join(new.select("doc_id"), "doc_id", "left_anti") \
                .unionByName(new)
        else:
            os.makedirs(self._dir(dname), exist_ok=True)
            out = new
        self._commit(dname, out)
        return n

    def export_docs_json(self, name: str, path: str) -> int:
        """Export the document sidecar as JSON — format parity with the
        reference, which persists each embedded Document as a JSON file
        next to the vector (cmd_embed.go:100-112, Document shape
        document.go:18-26). One JSONL part-file per partition is the
        distributed-scale analogue of one-file-per-doc (a million tiny
        JSON files is exactly the small-files problem a 100 TB corpus
        cannot afford); timestamps serialize ISO-8601. Returns the row
        count."""
        docs = self.read_docs(name)
        docs.write.mode("overwrite").json(path)
        return docs.count()

    def delete(self, name: str, condition: str) -> int:
        """DELETE WHERE <condition> (SQL-string predicate); returns the
        deleted count (executor.go:519-576)."""
        cur = self.read(name)
        matched = cur.filter(condition).count()
        if matched:
            self._commit(name, cur.filter(f"NOT ({condition})"))
        return matched

    def update(self, name: str, sets: dict, condition: str | None) -> int:
        """UPDATE SET ... [WHERE ...] — the reference parses this but has
        no executor arm (executor.go:87-100, ErrUnsupportedOperation);
        fully implemented here as a conditional column rewrite."""
        cur = self.read(name)
        cond = F.expr(condition) if condition else F.lit(True)
        matched = cur.filter(cond).count()
        if not matched:
            return 0
        out = cur
        if "embedding" in sets:
            vec = vector_lit(sets["embedding"]).cast("array<float>")
            out = out.withColumn("embedding",
                                 F.when(cond, vec).otherwise(F.col("embedding")))
        if "metadata" in sets:
            # merge the SET keys into the existing map (last wins)
            patch = F.create_map(*[F.lit(x) for kv in sets["metadata"].items()
                                   for x in kv])
            merged = F.map_concat(
                F.map_filter(F.coalesce(F.col("metadata"), F.create_map()),
                             lambda k, _: ~k.isin(*sets["metadata"].keys())),
                patch)
            out = out.withColumn("metadata",
                                 F.when(cond, merged).otherwise(F.col("metadata")))
        self._commit(name, out)
        return matched

    def set_metadata(self, name: str, vec_id: str, key: str, value: str) -> int:
        """CLI set-metadata (reference main.go:252-282)."""
        return self.update(name, {"metadata": {key: value}},
                           "id = '{}'".format(vec_id.replace("'", "''")))
