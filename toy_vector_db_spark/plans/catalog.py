"""Collection catalog: named vector collections with full DML.

Reference storage is one ``.vec`` file per vector with write-through
CRUD (/root/reference/pkg/storage/storage.go:133-292) and a single
implicit collection (executor.go:601-602). Here a collection is a
versioned Parquet directory whose versions are file manifests:

    <root>/<name>/v00000/_manifest.json       <- []  (CREATE writes no data)
    <root>/<name>/v00001/part-*.parquet       <- the rows v1 wrote
    <root>/<name>/v00001/_manifest.json       <- ["v00001/part-…"]
    <root>/<name>/v00002/part-*.parquet       <- the rows v2 wrote
    <root>/<name>/v00002/_manifest.json       <- ["v00001/part-…", "v00002/part-…"]
    <root>/<name>/_current                    <- pointer file (atomic rename)

The manifest contract (the minimal part of Delta Lake's log of file
actions):
- ``v{N}/`` holds only the files commit N wrote, and its
  ``_manifest.json`` lists every live data file of version N by path
  relative to the collection. Files of earlier versions are carried
  into it by reference, never copied.
- A commit writes its files and its manifest, then flips ``_current``
  (the commit point). A crash before the flip leaves the previous
  version current; the next commit overwrites the orphan directory.
- INSERT and ``insert_df`` write only their new rows. DELETE, UPDATE
  and the document upsert rewrite only the files that hold a matching
  row. OPTIMIZE rewrites the whole snapshot into new files.
- GC drops a version's manifest and deletes only the files that no
  retained manifest lists; a dropped version's directory stays while
  it still holds files a retained version reads.
- A version directory without a manifest (written before manifests)
  reads as all of its ``part-*.parquet`` files; the first commit over
  such a catalog writes those manifests.

Reads are a bare ``spark.read.schema(S).parquet(*files)``, so sizing
through ``chooser.rows`` reads only footers. Versioning gives readers
snapshot isolation for free.
On a production cluster you'd swap in Delta Lake/Iceberg (same
semantics, richer log) — the SqlEngine above is storage-agnostic
either way.

Every collection is also registered as a temp view, so spark.sql and
the dialect see it as a table.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.vector import vector_lit
from ..operators.chooser import rows as footer_rows
from ..schema import DOCUMENTS_SCHEMA, VECTORS_SCHEMA

# Per-collection document sidecar table (reference embeds write a full
# Document JSON next to the vector, cmd_embed.go:100-112). Stored as a
# second versioned-parquet table named <collection>__docs.
DOCS_SUFFIX = "__docs"

MANIFEST = "_manifest.json"


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

    def _manifest(self, name: str, version: int) -> str:
        return os.path.join(self._data_path(name, version), MANIFEST)

    def _files(self, name: str, version: int | None = None) -> list[str]:
        """Live data files of a version (the current one by default),
        relative to the collection directory."""
        v = self._version(name) if version is None else version
        try:
            with open(self._manifest(name, v)) as f:
                return json.load(f)
        except FileNotFoundError:   # written before manifests
            vdir = os.path.basename(self._data_path(name, v))
            return sorted(f"{vdir}/{f}" for f in os.listdir(
                self._data_path(name, v))
                if f.startswith("part-") and f.endswith(".parquet"))

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

    def _scan(self, name: str, files: list[str]) -> DataFrame:
        """The rows of ``files``: a bare parquet scan with the schema
        passed (no job; an empty list is an empty scan)."""
        return self.spark.read.schema(self._schema_for(name)).parquet(
            *[os.path.join(self._dir(name), f) for f in files])

    def read(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise KeyError(f"collection not found: {name!r}")
        return self._scan(name, self._files(name))

    def _version_dirs(self, name: str) -> list[int]:
        """Version directories up to the current one, oldest first (a
        higher one is an uncommitted write the next commit replaces)."""
        cur = self._version(name)
        return sorted(int(e[1:]) for e in os.listdir(self._dir(name))
                      if e.startswith("v") and e[1:].isdigit()
                      and int(e[1:]) <= cur)

    def versions(self, name: str) -> list[int]:
        """Version numbers still readable, oldest first (the newest
        ``keep_versions`` survive GC): those with a manifest, or every
        directory of a catalog written before manifests."""
        if not self.exists(name):
            raise KeyError(f"collection not found: {name!r}")
        dirs = self._version_dirs(name)
        if not os.path.exists(self._manifest(name, self._version(name))):
            return dirs
        return [v for v in dirs if os.path.exists(self._manifest(name, v))]

    def read_version(self, name: str, version: int) -> DataFrame:
        """Snapshot read (time travel): the table exactly as committed
        at ``version``. This is what the versioned layout buys — every
        mutation committed a NEW manifest over immutable files and
        flipped the pointer, so any retained version is a consistent,
        immutable snapshot (the same
        read semantics Delta/Iceberg time travel exposes; swap them in
        for a longer history than ``keep_versions``)."""
        if version not in self.versions(name):
            raise KeyError(
                f"version {version} of {name!r} not on disk "
                f"(retained: {self.versions(name)})")
        return self._scan(name, self._files(name, version))

    def read_docs(self, name: str) -> DataFrame:
        """The document sidecar table of a collection (DOCUMENTS_SCHEMA:
        doc_id, content, content_type, vector, metadata, created_at,
        updated_at — reference pkg/embedding/document.go:18-26)."""
        return self.read(name + DOCS_SUFFIX)

    def _register(self, name: str) -> None:
        self.read(name).createOrReplaceTempView(name)

    # -- write ------------------------------------------------------------

    def _commit(self, name: str, data: DataFrame | pa.Table | None = None,
                carry: list[str] = ()) -> int:
        """Commit the next version: ``carry`` (live files of earlier
        versions, by reference) plus ``data`` written into the new
        version directory — a DataFrame through Spark, a pyarrow Table
        on the driver. Returns the row count of the written files, read
        from their footers; files with no rows are not kept."""
        v = self._version(name) + 1
        if v and not os.path.exists(self._manifest(name, v - 1)):
            for u in self.versions(name):   # written before manifests
                files = self._files(name, u)
                with open(self._manifest(name, u), "w") as f:
                    json.dump(files, f)
        path = self._data_path(name, v)
        shutil.rmtree(path, ignore_errors=True)   # an uncommitted write
        if isinstance(data, DataFrame):
            data.write.parquet(path)
        else:
            os.makedirs(path)
            if data is not None:
                pq.write_table(data, os.path.join(
                    path, f"part-00000-{uuid.uuid4()}.parquet"))
        files, n = list(carry), 0
        for f in sorted(os.listdir(path)):
            if f.startswith("part-") and f.endswith(".parquet"):
                rows = pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                if rows:
                    files.append(f"{os.path.basename(path)}/{f}")
                    n += rows
                else:
                    os.remove(os.path.join(path, f))
        with open(self._manifest(name, v), "w") as f:
            json.dump(files, f)
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer(name))  # atomic pointer flip
        self._register(name)
        self._gc(name, {u for u in self.versions(name)
                        if u > v - self.keep_versions})
        return n

    def _gc(self, name: str, keep: set[int]) -> None:
        """Drop every version outside ``keep``: its manifest and each
        file of its directory that no kept manifest lists."""
        live = {f for v in keep for f in self._files(name, v)}
        for v in self._version_dirs(name):
            if v in keep:
                continue
            vdir = self._data_path(name, v)
            for f in os.listdir(vdir):
                if f"{os.path.basename(vdir)}/{f}" not in live:
                    os.remove(os.path.join(vdir, f))
            if not os.listdir(vdir):
                os.rmdir(vdir)

    def _touched(self, name: str, files: list[str],
                 match) -> dict[str, int]:
        """Matching rows per live file, for ``match`` (a filter or
        semi-join of the scan of ``files``): one match job grouped by
        file gives both the affected count and the files to rewrite.
        The file path is taken at the scan (``_metadata.file_path``,
        unlike input_file_name() it survives a join and keeps the
        filter pushed into the scan)."""
        scan = self._scan(name, files).select(
            "*", F.col("_metadata.file_path").alias("_file"))
        hits = match(scan).groupBy("_file").count().collect()
        # a file URI's last two segments are its manifest entry
        return {"/".join(unquote(urlparse(u).path).rsplit("/", 2)[-2:]): c
                for u, c in hits}

    # -- maintenance -------------------------------------------------------

    def history(self, name: str) -> list[dict]:
        """Snapshot history of the retained versions (DESCRIBE HISTORY
        analogue), oldest first: version, committed_at (directory
        mtime, UTC epoch seconds), n_files (the version's manifest
        entries), is_current. Reads only manifests and directory
        metadata — no data scan."""
        if not self.exists(name):
            raise KeyError(f"no such collection: {name!r}")
        cur = self._version(name)
        out = []
        for v in self.versions(name):
            path = self._data_path(name, v)
            out.append({
                "version": v,
                "committed_at": os.path.getmtime(path),
                "n_files": len(self._files(name, v)),
                "is_current": v == cur,
            })
        return out

    def vacuum(self, name: str, retain_versions: int = 1) -> list[int]:
        """Delete all but the newest ``retain_versions`` snapshots NOW
        (VACUUM analogue; _gc applies the standing ``keep_versions``
        policy on every commit — this is the explicit, tighter sweep).
        The current version is always retained; files a retained
        version still reads stay. Returns the removed version numbers."""
        if retain_versions < 1:
            raise ValueError(
                f"retain_versions must be >= 1, got {retain_versions}")
        versions = self.versions(name)
        keep = set(versions[-retain_versions:]) | {self._version(name)}
        self._gc(name, keep)
        return [v for v in versions if v not in keep]

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
        return len(self._files(name))

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
        self._commit(name)

    def drop(self, name: str) -> int:
        """DROP COLLECTION -> count of removed vectors (the reference
        deletes every vector from its single store, executor.go:616-652).
        The document sidecar, if any, goes with it."""
        n = footer_rows(self.read(name)) if self.exists(name) else 0
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(self._dir(name), ignore_errors=True)
        shutil.rmtree(self._dir(name + DOCS_SUFFIX), ignore_errors=True)
        return n

    # -- DML ---------------------------------------------------------------

    def insert(self, name: str, rows: list[tuple]) -> int:
        """Append rows (id, embedding, metadata); duplicate id errors like
        the reference (executor.go:476-480). The dup probe is an
        ``id IN (…)`` filter pushed to the parquet scan (one job); the
        rows are written on the driver as one new file."""
        if not self.exists(name):
            self.create(name, if_not_exists=True)
        ids = [r[0] for r in rows]
        if None in ids:
            raise ValueError("id must not be NULL")
        files = self._files(name)
        hit = self._scan(name, files).where(F.col("id").isin(ids)) \
            .select("id").collect()
        if hit:
            raise ValueError(f"duplicate id: {hit[0][0]!r}")
        self._commit(name, pa.Table.from_pylist(
            [{"id": i, "embedding": [float(x) for x in (e or [])],
              "metadata": m} for i, e, m in rows],
            schema=to_arrow_schema(VECTORS_SCHEMA)), files)
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
        return self._commit(name, new, self._files(name))

    def upsert_docs(self, name: str, docs: DataFrame) -> int:
        """Write-through the document sidecar (embed persists the FULL
        Document — content + vector + metadata + timestamps — next to
        the vector row, reference cmd_embed.go:100-112). Upsert by
        doc_id: the reference overwrites the per-doc JSON file; here the
        files holding a matching row are rewritten without it, beside
        the new rows. Missing DOCUMENTS_SCHEMA columns are filled with
        NULL. Returns the number of documents written."""
        dname = name + DOCS_SUFFIX
        cols = set(docs.columns)
        new = docs.select(*[
            (F.col(f.name) if f.name in cols else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in DOCUMENTS_SCHEMA.fields])
        keys = new.select("doc_id")
        if not self.exists(dname):
            os.makedirs(self._dir(dname), exist_ok=True)
            return self._commit(dname, new)
        files = self._files(dname)
        hits = self._touched(dname, files,
                             lambda df: df.join(keys, "doc_id", "left_semi"))
        touched = self._scan(dname, list(hits))
        written = self._commit(
            dname, touched.join(keys, "doc_id", "left_anti").unionByName(new),
            [f for f in files if f not in hits])
        # written = the touched files' rows that survived + the new rows
        return written - (footer_rows(touched) - sum(hits.values()))

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

    def _rewrite(self, name: str, match: Column, rewrite) -> int:
        """Commit ``rewrite`` of the files holding a row where ``match``
        is true; the other files carry over by reference. Returns the
        matched count; nothing matched commits nothing."""
        files = self._files(name)
        hits = self._touched(name, files, lambda df: df.where(match))
        if hits:
            self._commit(name, rewrite(self._scan(name, list(hits))),
                         [f for f in files if f not in hits])
        return sum(hits.values())

    def delete(self, name: str, condition: str) -> int:
        """DELETE WHERE <condition> (SQL-string predicate); returns the
        deleted count (executor.go:519-576). A row where the condition
        is NULL (a missing metadata key) does not match and stays, as
        in the reference."""
        match = F.coalesce(F.expr(condition), F.lit(False))
        return self._rewrite(name, match, lambda df: df.where(~match))

    def update(self, name: str, sets: dict, condition: str | None) -> int:
        """UPDATE SET ... [WHERE ...] — the reference parses this but has
        no executor arm (executor.go:87-100, ErrUnsupportedOperation);
        fully implemented here as a conditional column rewrite."""
        cond = F.expr(condition) if condition else F.lit(True)
        return self._rewrite(name, F.coalesce(cond, F.lit(False)),
                             lambda df: self._set(df, sets, cond))

    @staticmethod
    def _set(out: DataFrame, sets: dict, cond: Column) -> DataFrame:
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
        return out

    def set_metadata(self, name: str, vec_id: str, key: str, value: str) -> int:
        """CLI set-metadata (reference main.go:252-282)."""
        return self.update(name, {"metadata": {key: value}},
                           "id = '{}'".format(vec_id.replace("'", "''")))
