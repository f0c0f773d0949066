"""DELETE / UPDATE copy-on-write (plans/catalog.py ``_rewrite``): the
driver path (one match job, pyarrow rewrite) and the Spark path
(grouped match, Spark write) commit the same rows, schema and
per-file row order. Each path is forced through the crossover."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from conftest import count_jobs

from toy_vector_db_spark.operators import chooser
from toy_vector_db_spark.plans.catalog import DOCS_SUFFIX, CollectionCatalog
from toy_vector_db_spark.plans.dialect import SqlEngine

PATHS = {"driver": 10**12, "spark": 0}

STEPS = [
    # matches in two row groups of the big file and in the small file
    "DELETE FROM c WHERE id IN ('r0001', 'r2990', 's1')",
    # rows with NULL metadata or no 'cat' key stay
    "DELETE FROM c WHERE metadata.cat = 'x'",
    "UPDATE c SET metadata.tag = 'u' WHERE id IN ('r0002', 'r2999', 's2')",
    "UPDATE c SET vector = [0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, "
    "0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5] WHERE id = 'r0004'",
    # the WHERE reads the column the SET rewrites
    "UPDATE c SET metadata.tag = 'v' WHERE metadata.tag = 'u'",
    # a SET key and value that need quoting in SQL
    "UPDATE c SET metadata.note = 'it''s a\\b' WHERE id = 'r0005'",
]


def _snap(df):
    return sorted((r["id"], tuple(r["embedding"] or ()),
                   tuple(sorted((r["metadata"] or {}).items())))
                  for r in df.collect())


def _paths(cat):
    return [os.path.join(cat._dir("c"), f) for f in cat._files("c")]


def _orders(cat):
    """Ids per live file, in file order."""
    return [pq.read_table(f, columns=["id"]).column(0).to_pylist()
            for f in _paths(cat)]


def _build(spark, root):
    cat = CollectionCatalog(spark, root, keep_versions=10)
    cat.create("c")
    meta = [None if i % 7 == 0 else ({"tag": "t"} if i % 5 == 0 else
                                     {"cat": "x" if i % 3 == 0 else "y"})
            for i in range(3000)]
    big = spark.createDataFrame(
        [(f"r{i:04d}", [float(i), 1.0] * 8, m) for i, m in enumerate(meta)],
        "id string, embedding array<float>, metadata map<string,string>"
    ).coalesce(1)
    spark.conf.set("parquet.block.size", "32768")
    try:
        cat.insert_df("c", big)
    finally:
        spark.conf.unset("parquet.block.size")
    cat.insert("c", [(f"s{i}", [float(i)] * 16, {"cat": "x"})
                     for i in range(4)])
    return cat


def _run(spark, root):
    cat = _build(spark, root)
    assert max(pq.ParquetFile(f).metadata.num_row_groups
               for f in _paths(cat)) >= 3
    eng = SqlEngine(spark, cat)
    out = []
    for stmt in STEPS:
        before, v = _snap(cat.read("c")), cat._version("c")
        pos = {i: (k, j) for k, ids in enumerate(_orders(cat))
               for j, i in enumerate(ids)}
        out.append((eng.execute(stmt).affected, _snap(cat.read("c"))))
        assert cat._version("c") == v + 1
        # time travel still reads the version before the change
        assert _snap(cat.read_version("c", v)) == before
        # each source file's surviving rows keep their order
        for ids in _orders(cat):
            src = [pos[i] for i in ids]
            for k in {s for s, _ in src}:
                mine = [j for s, j in src if s == k]
                assert mine == sorted(mine)
    v = cat._version("c")
    for stmt in ("DELETE FROM c WHERE id = 'nope'",
                 "UPDATE c SET metadata.tag = 'n' WHERE id = 'nope'"):
        res, jobs = count_jobs(spark, lambda: eng.execute(stmt))
        assert (res.affected, jobs) == (0, 1)
    assert cat._version("c") == v
    return out, spark.read.parquet(*_paths(cat)).schema, \
        cat.read("c").schema


def test_driver_and_spark_rewrites_agree(spark, tmp_path, monkeypatch):
    got = {}
    for p, cap in PATHS.items():
        monkeypatch.setattr(chooser, "DRIVER_REWRITE_MAX_ROWS", cap)
        got[p] = _run(spark, str(tmp_path / p))
    assert got["driver"] == got["spark"]
    counts = [n for n, _ in got["driver"][0]]
    assert counts[0] == 3 and counts[2:] == [2, 1, 2, 1]  # s2 went in step 2
    rows = dict((r[0], r) for r in got["driver"][0][-1][1])
    assert rows["r0007"][2] == () and "r0003" not in rows   # NULL stays
    assert dict(rows["r0002"][2])["tag"] == "v"
    assert rows["r0004"][1] == (0.5,) * 16
    assert dict(rows["r0005"][2]) == {"tag": "t", "note": "it's a\\b"}


def test_driver_rewrite_copies_a_file_minus_its_matches(spark, tmp_path,
                                                        monkeypatch):
    """The driver path writes one file per touched file: its rows in
    order, less the deleted ones."""
    monkeypatch.setattr(chooser, "DRIVER_REWRITE_MAX_ROWS", 10**12)
    cat = _build(spark, str(tmp_path / "one"))
    before = _orders(cat)
    SqlEngine(spark, cat).execute(STEPS[0])
    assert sorted(_orders(cat)) == sorted(
        [i for i in ids if i not in ("r0001", "r2990", "s1")]
        for ids in before)


def test_rewrite_over_a_catalog_without_manifests(spark, tmp_path,
                                                  monkeypatch):
    """A version directory written before manifests reads as its part
    files; on either path the rewrite writes the manifests first."""
    import shutil
    for p, cap in PATHS.items():
        monkeypatch.setattr(chooser, "DRIVER_REWRITE_MAX_ROWS", cap)
        root = str(tmp_path / p)
        cat = CollectionCatalog(spark, root, keep_versions=3)
        cat.insert("c", [("a", [1.0], None), ("b", [2.0], {"k": "1"})])
        rows, schema = cat.read("c").collect(), cat.read("c").schema
        for v in cat.versions("c"):
            os.remove(cat._manifest("c", v))
        shutil.rmtree(cat._data_path("c"))
        spark.createDataFrame(rows, schema).write.parquet(cat._data_path("c"))
        old = CollectionCatalog(spark, root, keep_versions=3)
        v = old._version("c")
        assert old.delete("c", "id = 'a'") == 1
        assert [r[0] for r in _snap(old.read("c"))] == ["b"]
        assert [r[0] for r in _snap(old.read_version("c", v))] == ["a", "b"]
        assert old.update("c", {"metadata": {"k": "2"}}, "id = 'b'") == 1
        assert _snap(old.read("c")) == [("b", (2.0,), (("k", "2"),))]


def test_docs_table_rewrite_keeps_its_int96_timestamps(spark, tmp_path,
                                                       monkeypatch):
    """A document table's created_at / updated_at are INT96, which a
    pyarrow round trip would write back as INT64 nanoseconds, so its
    DELETE writes through Spark even where the crossover picks the
    driver."""
    monkeypatch.setattr(chooser, "DRIVER_REWRITE_MAX_ROWS", 10**12)
    cat = CollectionCatalog(spark, str(tmp_path / "docs"))
    cat.upsert_docs("c", spark.sql(
        "SELECT concat('d', id) AS doc_id, 'x' AS content, "
        "current_timestamp() AS created_at, "
        "current_timestamp() AS updated_at FROM range(4)").coalesce(1))
    name = "c" + DOCS_SUFFIX

    def stamps():
        out = set()
        for f in cat._files(name):
            md = pq.ParquetFile(os.path.join(cat._dir(name), f)).metadata
            out |= {(c.name, c.physical_type) for c in map(
                md.schema.column, range(md.num_columns))
                if c.name.endswith("_at")}
        return out

    before, schema = cat.read_docs("c").collect(), cat.read_docs("c").schema
    assert stamps() == {("created_at", "INT96"), ("updated_at", "INT96")}
    res = SqlEngine(spark, cat).execute(f"DELETE FROM {name} "
                                        "WHERE doc_id = 'd1'")
    assert res.affected == 1
    assert stamps() == {("created_at", "INT96"), ("updated_at", "INT96")}
    assert cat.read_docs("c").schema == schema
    assert sorted(cat.read_docs("c").collect()) == sorted(
        r for r in before if r["doc_id"] != "d1")
