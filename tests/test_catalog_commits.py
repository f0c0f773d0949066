"""Catalog commit protocol (plans/catalog.py): a version is a file
manifest, so a commit writes only its own rows, carries the other
files by reference, survives a crash before the pointer flip, and GC
never deletes a file a retained version reads."""

from __future__ import annotations

import os
import shutil

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from toy_vector_db_spark.operators.chooser import rows
from toy_vector_db_spark.plans.catalog import DOCS_SUFFIX, CollectionCatalog
from toy_vector_db_spark.plans.dialect import SqlEngine
from toy_vector_db_spark.schema import VECTORS_SCHEMA


def _snap(df):
    return sorted((r["id"], tuple(r["embedding"] or ()),
                   tuple(sorted((r["metadata"] or {}).items())))
                  for r in df.collect())


def _frame(spark, ids, parts=2):
    return spark.createDataFrame(
        [(i, [float(n), 1.0], {"k": i}) for n, i in enumerate(ids)],
        "id string, embedding array<float>, metadata map<string,string>"
    ).repartition(parts)


def _disk_files(cat, name):
    base = cat._dir(name)
    return {f"{v}/{f}" for v in os.listdir(base) if v.startswith("v")
            for f in os.listdir(os.path.join(base, v))
            if f.endswith(".parquet")}


def test_commits_write_only_their_rows(spark, tmp_path):
    cat = CollectionCatalog(spark, str(tmp_path / "c"), keep_versions=10)
    eng = SqlEngine(spark, cat)
    cat.create("c")
    assert cat._files("c") == [] and cat.read("c").count() == 0
    cat.insert_df("c", _frame(spark, [f"r{i}" for i in range(20)]))
    base = cat._files("c")
    assert len(base) == 2 and all(f.startswith("v00001/") for f in base)

    eng.execute("INSERT INTO c (id, vector) VALUES ('s', [9.0, 9.0])")
    files = cat._files("c")
    assert files[:2] == base and len(files) == 3
    assert files[2].startswith("v00002/")
    assert [f for f in os.listdir(cat._data_path("c"))
            if f.endswith(".parquet")] == [files[2].split("/")[1]]

    # the DELETE touches one of the two insert_df files: the other is
    # carried by reference, the touched one is rewritten into v3
    touched = {os.path.basename(r["f"]) for r in cat.read("c").where(
        "id = 'r3'").select(F.input_file_name().alias("f")).collect()}
    assert eng.execute("DELETE FROM c WHERE id = 'r3'").affected == 1
    now = cat._files("c")
    assert set(now) - set(files) == {f for f in now
                                      if f.startswith("v00003/")}
    assert {f.split("/")[1] for f in set(files) - set(now)} == touched
    assert len(now) == 3

    # an UPDATE on the driver-written row rewrites only that file
    assert eng.execute(
        "UPDATE c SET metadata.tag = 'u' WHERE id = 's'").affected == 1
    after = cat._files("c")
    assert set(now) - set(after) == {files[2]}
    rows = {r["id"]: r for r in cat.read("c").collect()}
    assert len(rows) == 20 and "r3" not in rows
    assert rows["s"]["metadata"] == {"tag": "u"}
    assert rows["s"]["embedding"] == [9.0, 9.0]

    # OPTIMIZE keeps its meaning: the whole snapshot in target_files
    assert cat.compact("c", target_files=1) == (3, 1)
    assert cat._files("c")[0].startswith("v00005/")
    assert [e["n_files"] for e in cat.history("c")] == [0, 2, 3, 3, 3, 1]


def test_upsert_docs_rewrites_only_touched_files(spark, tmp_path):
    cat = CollectionCatalog(spark, str(tmp_path / "d"))
    schema = "doc_id string, content string"
    first = spark.createDataFrame(
        [(f"d{i}", f"old {i}") for i in range(6)], schema).repartition(2)
    assert cat.upsert_docs("c", first) == 6
    name = "c" + DOCS_SUFFIX
    before = cat._files(name)
    assert cat.upsert_docs("c", spark.createDataFrame(
        [("d1", "new 1"), ("d9", "new 9")], schema)) == 2
    got = {r["doc_id"]: r["content"] for r in cat.read_docs("c").collect()}
    assert got == {**{f"d{i}": f"old {i}" for i in range(6)},
                   "d1": "new 1", "d9": "new 9"}
    # one of the two files held d1; the other is carried by reference
    assert len(set(before) & set(cat._files(name))) == 1


def test_crash_before_pointer_flip_keeps_previous_version(
        spark, tmp_path, monkeypatch):
    root = str(tmp_path / "crash")
    cat = CollectionCatalog(spark, root)
    cat.create("c")
    cat.insert("c", [("a", [1.0], {"k": "1"}), ("b", [2.0], None)])
    v, want = cat._version("c"), _snap(cat.read("c"))
    replace = os.replace

    def crash(src, dst):
        if os.path.basename(dst) == "_current":
            raise OSError("crash before the pointer flip")
        return replace(src, dst)

    monkeypatch.setattr(os, "replace", crash)
    for op in (lambda: cat.insert("c", [("x", [9.0], None)]),
               lambda: cat.insert_df("c", _frame(spark, ["y"])),
               lambda: cat.delete("c", "id = 'a'"),
               lambda: cat.update("c", {"metadata": {"k": "2"}}, "id = 'a'"),
               lambda: cat.compact("c")):
        with pytest.raises(OSError, match="pointer flip"):
            op()
        # the failed commit wrote its data and its manifest
        assert os.path.exists(cat._manifest("c", v + 1))
        for c in (cat, CollectionCatalog(spark, root)):
            assert c._version("c") == v
            assert c.versions("c")[-1] == v
            assert _snap(c.read("c")) == want
            assert _snap(spark.table("c")) == want
    monkeypatch.undo()
    cat.insert("c", [("x", [9.0], None)])
    assert cat._version("c") == v + 1
    assert [r[0] for r in _snap(cat.read("c"))] == ["a", "b", "x"]


def test_retained_versions_read_back_as_committed(spark, tmp_path):
    cat = CollectionCatalog(spark, str(tmp_path / "gc"), keep_versions=3)
    eng = SqlEngine(spark, cat)
    snaps = {}

    def check():
        for v in cat.versions("c"):
            assert _snap(cat.read_version("c", v)) == snaps[v], v
        live = {f for v in cat.versions("c") for f in cat._files("c", v)}
        assert live <= _disk_files(cat, "c")
        # and nothing else is left behind
        assert _disk_files(cat, "c") == live

    steps = [
        lambda: cat.create("c"),
        lambda: cat.insert_df("c", _frame(spark, [f"r{i}" for i in range(12)])),
        lambda: eng.execute("INSERT INTO c (id, vector) VALUES ('s', [5.0, 5.0])"),
        lambda: eng.execute("DELETE FROM c WHERE id = 'r3'"),
        lambda: eng.execute("UPDATE c SET metadata.tag = 'u' WHERE id = 'r7'"),
        lambda: eng.execute("OPTIMIZE c"),
        lambda: eng.execute("INSERT INTO c (id, vector) VALUES ('r3', [3.0, 1.0])"),
        lambda: eng.execute("DELETE FROM c WHERE metadata.k = 'r9'"),
        lambda: eng.execute("UPDATE c SET vector = [0.5, 0.5] WHERE id = 's'"),
        lambda: cat.insert_df("c", _frame(spark, ["t0", "t1", "t2"])),
    ]
    for step in steps:
        step()
        snaps[cat._version("c")] = _snap(cat.read("c"))
        check()
    assert cat.versions("c") == [7, 8, 9]
    assert cat.vacuum("c", retain_versions=2) == [7]
    check()
    assert cat.vacuum("c", retain_versions=1) == [8]
    check()
    # the deleted-then-reinserted id is one row
    assert eng.sql("SELECT id FROM c WHERE id = 'r3'").count() == 1
    assert eng.sql("SELECT COUNT(*) FROM c").first()[0] == len(snaps[9])


def test_catalog_written_before_manifests_still_loads(spark, tmp_path):
    """Version directories without a manifest read as all of their
    part files; the first commit writes their manifests."""
    root = tmp_path / "legacy"
    cat = CollectionCatalog(spark, str(root), keep_versions=3)
    cat.insert("c", [("a", [1.0], None)])
    cat.insert("c", [("b", [2.0], None)])
    # rewrite the layout as full-copy versions without manifests
    snaps = {v: cat.read_version("c", v).collect() for v in cat.versions("c")}
    for v, rows in snaps.items():
        d = cat._data_path("c", v)
        shutil.rmtree(d)
        spark.createDataFrame(rows, VECTORS_SCHEMA).write.parquet(d)
    old = CollectionCatalog(spark, str(root), keep_versions=3)
    assert old.versions("c") == [0, 1, 2]
    assert [r[0] for r in _snap(old.read("c"))] == ["a", "b"]
    assert [r[0] for r in _snap(old.read_version("c", 1))] == ["a"]
    old.insert("c", [("x", [3.0], None)])
    assert old.versions("c") == [1, 2, 3]
    assert [r[0] for r in _snap(old.read_version("c", 2))] == ["a", "b"]
    assert [r[0] for r in _snap(old.read("c"))] == ["a", "b", "x"]


def test_dml_job_budgets(spark, tmp_path):
    from toy_vector_db_spark.operators.chooser import rows
    cat = CollectionCatalog(spark, str(tmp_path / "jobs"))
    eng = SqlEngine(spark, cat)
    assert count_jobs(spark, lambda: cat.create("c"))[1] == 0
    assert count_jobs(spark, lambda: cat.read("c"))[1] == 0
    assert count_jobs(spark, lambda: rows(cat.read("c"))) == (0, 0)

    src = str(tmp_path / "src")
    _frame(spark, [f"r{i}" for i in range(20)]).write.parquet(src)
    new = spark.read.schema(cat.read("c").schema).parquet(src)
    assert count_jobs(spark, lambda: cat.insert_df("c", new)) == (20, 4)
    res, jobs = count_jobs(spark, lambda: eng.execute(
        "INSERT INTO c (id, vector) VALUES ('s', [1.0, 2.0])"))
    assert res.affected == 1 and jobs <= 2
    res, jobs = count_jobs(spark, lambda: eng.execute(
        "DELETE FROM c WHERE id = 'r1'"))
    assert res.affected == 1 and jobs == 1
    res, jobs = count_jobs(spark, lambda: eng.execute(
        "UPDATE c SET metadata.tag = 't' WHERE id = 'r2'"))
    assert res.affected == 1 and jobs == 1
    v = cat._version("c")
    for stmt in ("DELETE FROM c WHERE id = 'nope'",
                 "UPDATE c SET metadata.tag = 't' WHERE id = 'nope'"):
        res, jobs = count_jobs(spark, lambda: eng.execute(stmt))
        assert (res.affected, jobs) == (0, 1)
        assert cat._version("c") == v
    assert count_jobs(spark, lambda: rows(cat.read("c"))) == (20, 0)
    assert count_jobs(spark, lambda: cat.drop("c")) == (20, 0)


def test_read_over_many_files_runs_no_job(spark, tmp_path):
    """A read passes every manifest file to Spark. Past 32 paths Spark
    used to list them in a job; ``session.DEFAULT_CONF`` raises that
    threshold, so a read of 40 files still runs none."""
    cat = CollectionCatalog(spark, str(tmp_path / "c"))
    cat.create("c")
    cat.insert_df("c", _frame(spark, [f"r{i}" for i in range(400)], parts=40))
    assert len(cat._files("c")) == 40
    df, jobs = count_jobs(spark, lambda: cat.read("c"))
    assert jobs == 0
    assert count_jobs(spark, lambda: rows(df)) == (400, 0)
