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
- DELETE and UPDATE on a collection of at most
  ``chooser.DRIVER_REWRITE_MAX_ROWS`` rows run one match job and
  rewrite the touched files on the driver with pyarrow, row group by
  row group; larger ones, and the document upsert, write through Spark.
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

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.util import sql_string
from ..functions.vector import vector_lit
from ..operators.chooser import rewrite_on_driver
from ..schema import DOCUMENTS_SCHEMA, VECTORS_SCHEMA
from ..sources.pqwriter import parquet_writer, write_parquet

# Per-collection document sidecar table (reference embeds write a full
# Document JSON next to the vector, cmd_embed.go:100-112). Stored as a
# second versioned-parquet table named <collection>__docs.
DOCS_SUFFIX = "__docs"

MANIFEST = "_manifest.json"


def _entry(uri: str) -> str:
    """The manifest entry of a data file URI: its last two segments."""
    return "/".join(unquote(urlparse(uri).path).rsplit("/", 2)[-2:])


def _part(i: int) -> str:
    """The name of the ``i``-th data file a driver-side commit writes."""
    return f"part-{i:05d}-{uuid.uuid4()}.parquet"


def _rewrite_file(src: str, dst: str, rows: np.ndarray,
                  new: pa.Table | None) -> None:
    """Copy ``src`` to ``dst`` one row group at a time, without the rows
    at the sorted positions ``rows`` (``new`` None) or with the columns
    of ``new`` (one row per position) in place at them."""
    with pq.ParquetFile(src) as f, \
            parquet_writer(dst, f.schema_arrow.remove_metadata()) as w:
        start = 0
        for g in range(f.num_row_groups):
            t = f.read_row_group(g)
            lo, hi = np.searchsorted(rows, (start, start + t.num_rows))
            at = rows[lo:hi] - start
            start += t.num_rows
            if hi > lo and new is None:
                keep = np.ones(t.num_rows, bool)
                keep[at] = False
                t = t.filter(pa.array(keep))
            elif hi > lo:
                # the replacements appended after the row group's values
                pick = np.arange(t.num_rows)
                pick[at] = t.num_rows + np.arange(hi - lo)
                for c in new.column_names:
                    field = t.schema.field(c)
                    values = pa.chunked_array(
                        t[c].chunks + new[c].slice(lo, hi - lo)
                        .cast(field.type).chunks, field.type)
                    t = t.set_column(t.schema.get_field_index(c), field,
                                     values.take(pick))
            if t.num_rows:
                w.write_table(t)


class CollectionCatalog:
    def __init__(self, spark: SparkSession, root: str | None = None,
                 keep_versions: int = 2):
        self.spark = spark
        self.root = root or tempfile.mkdtemp(prefix="vectodb_collections_")
        self.keep_versions = keep_versions
        # footer row count per data file path; files are never changed
        # in place, so each footer is read once (``_rows``)
        self._footer_rows: dict[str, int] = {}
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

    def _rows(self, name: str, files: list[str]) -> int:
        """Row count of ``files`` from their footers, each read once
        per catalog (no job)."""
        n = 0
        for f in files:
            p = os.path.join(self._dir(name), f)
            if p not in self._footer_rows:
                self._footer_rows[p] = pq.ParquetFile(p).metadata.num_rows
            n += self._footer_rows[p]
        return n

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

    def _commit(self, name: str, data=None, carry: list[str] = ()) -> int:
        """Commit the next version: ``carry`` (live files of earlier
        versions, by reference) plus ``data`` written into the new
        version directory — a DataFrame through Spark, or a function
        that writes its files into the directory it is given, on the
        driver. Returns the row count of the written files, read from
        their footers; files with no rows are not kept."""
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
                data(path)
        files, n = list(carry), 0
        for f in sorted(os.listdir(path)):
            if f.startswith("part-") and f.endswith(".parquet"):
                entry = f"{os.path.basename(path)}/{f}"
                rows = self._rows(name, [entry])
                if rows:
                    files.append(entry)
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
                    self._footer_rows.pop(os.path.join(vdir, f), None)
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
        return {_entry(u): c for u, c in hits}

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
        n = self._rows(name, self._files(name)) if self.exists(name) else 0
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
        table = pa.Table.from_pylist(
            [{"id": i, "embedding": [float(x) for x in (e or [])],
              "metadata": m} for i, e, m in rows],
            schema=to_arrow_schema(VECTORS_SCHEMA))
        self._commit(name, lambda path: write_parquet(
            table, os.path.join(path, _part(0))), files)
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
        return written - (self._rows(dname, list(hits)) - sum(hits.values()))

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

    def _rewrite(self, name: str, match: Column,
                 sets: dict | None = None) -> int:
        """Commit a copy-on-write of the files holding a row where
        ``match`` is true: without those rows (``sets`` None, DELETE) or
        with ``sets`` applied to them (UPDATE). The other files carry
        over by reference and each rewritten file keeps its row order.
        Returns the matched count; nothing matched commits nothing.

        A collection of at most ``chooser.DRIVER_REWRITE_MAX_ROWS``
        footer rows (``_rows``, no job) is rewritten on the driver: one
        job collects the matched rows' ``_metadata.file_path`` and
        ``row_index`` (and, for UPDATE, their SET columns from
        ``_set``) as Arrow, and each touched file is streamed through
        pyarrow one row group at a time into the new version, dropping
        or replacing those positions. A larger one runs the grouped
        match (``_touched``) and rewrites the touched files with a
        Spark write job. So does a document table, whose INT96
        timestamps a pyarrow round trip would write back as INT64
        nanoseconds."""
        files = self._files(name)
        if not files:
            return 0
        new = self._set(sets) if sets is not None else {}
        if (name.endswith(DOCS_SUFFIX)
                or not rewrite_on_driver(self._rows(name, files))):
            hits = self._touched(name, files, lambda df: df.where(match))
            if hits:
                old = self._scan(name, list(hits))
                self._commit(name, old.where(~match) if sets is None
                             else old.withColumns({
                                 c: F.when(match, v).otherwise(F.col(c))
                                 for c, v in new.items()}),
                             [f for f in files if f not in hits])
            return sum(hits.values())
        # the SET values are computed from the matched rows as they were
        got = self._scan(name, files).where(match).select(
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_row"),
            *[v.alias(c) for c, v in new.items()]).toArrow()
        if not got.num_rows:
            return 0
        by_file = got.column("_file").combine_chunks().dictionary_encode()
        which = by_file.indices.to_numpy()
        at = got.column("_row").to_numpy()
        touched = {}
        for k, uri in enumerate(by_file.dictionary.to_pylist()):
            sel = np.flatnonzero(which == k)
            sel = sel[np.argsort(at[sel])]
            touched[_entry(uri)] = (at[sel], got.select(list(new)).take(sel)
                                    if sets is not None else None)

        def write(path):
            for i, (f, (rows, vals)) in enumerate(touched.items()):
                _rewrite_file(os.path.join(self._dir(name), f),
                              os.path.join(path, _part(i)), rows, vals)

        self._commit(name, write, [f for f in files if f not in touched])
        return got.num_rows

    def delete(self, name: str, condition: str) -> int:
        """DELETE WHERE <condition> (SQL-string predicate); returns the
        deleted count (executor.go:519-576). A row where the condition
        is NULL (a missing metadata key) does not match and stays, as
        in the reference. The files holding a match are rewritten
        without it (``_rewrite``; one job on the driver path)."""
        return self._rewrite(
            name, F.coalesce(F.expr(condition), F.lit(False)))

    def update(self, name: str, sets: dict, condition: str | None) -> int:
        """UPDATE SET ... [WHERE ...] — the reference parses this but has
        no executor arm (executor.go:87-100, ErrUnsupportedOperation);
        fully implemented here as a conditional column rewrite of the
        files holding a match (``_rewrite``; one job on the driver
        path). A row where the condition is NULL is left as it is."""
        cond = F.expr(condition) if condition else F.lit(True)
        return self._rewrite(name, F.coalesce(cond, F.lit(False)), sets)

    @staticmethod
    def _set(sets: dict) -> dict[str, Column]:
        """The new value of each column ``sets`` writes, from the row's
        current values: ``embedding`` replaced, ``metadata`` with the
        SET keys merged in (last wins). Each is parsed from one SQL
        string; built through the Column API, the metadata merge took
        ~40 ms of py4j calls per UPDATE."""
        out = {}
        if "embedding" in sets:
            out["embedding"] = vector_lit(sets["embedding"]) \
                .cast("array<float>")
        if sets.get("metadata"):
            keys = ", ".join(map(sql_string, sets["metadata"]))
            patch = ", ".join(f"{sql_string(k)}, {sql_string(v)}"
                              for k, v in sets["metadata"].items())
            out["metadata"] = F.expr(
                "map_concat(map_filter(coalesce(metadata, map()),"
                f" (k, v) -> NOT k IN ({keys})), map({patch}))")
        return out

    def set_metadata(self, name: str, vec_id: str, key: str, value: str) -> int:
        """CLI set-metadata (reference main.go:252-282)."""
        return self.update(name, {"metadata": {key: value}},
                           "id = '{}'".format(vec_id.replace("'", "''")))
