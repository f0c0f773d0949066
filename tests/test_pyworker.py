"""The Python-worker daemon (toy_vector_db_spark/pyworker.py): an
unchanged archive is not re-read on invalidate_caches(), a changed one
is, and Spark's workers run under it unless the caller overrides it.

Worker-side functions are defined inside the tests so that cloudpickle
ships them by value (workers cannot import this test module)."""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

import pandas as pd

from toy_vector_db_spark import pyworker, session


def _write_zip(path, source, module="m"):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", source)


def _load(importer):
    spec = importer.find_spec("m")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_is_not_reread_changed_one_is(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, "V = 1\n")
    importer = zipimport.zipimporter(path)
    assert _load(importer).V == 1
    pyworker.invalidate_if_changed(importer)
    files = importer._files
    pyworker.invalidate_if_changed(importer)
    assert importer._files is files
    _write_zip(path, "V = 2  # a different size\n")
    pyworker.invalidate_if_changed(importer)
    assert importer._files is not files
    assert _load(importer).V == 2


def test_workers_run_under_the_daemon(spark):
    def qualname(it):
        import zipimport
        for _ in it:
            yield pd.DataFrame(
                {"q": [zipimport.zipimporter.invalidate_caches.__qualname__]})

    # under -m the daemon module is __main__, so match the qualname
    got = {r["q"] for r in spark.range(2).mapInPandas(qualname, "q string")
           .collect()}
    assert got == {pyworker.invalidate_if_changed.__qualname__}


def test_add_py_file_after_a_task_is_imported(spark, tmp_path):
    def ran(it):
        for b in it:
            yield b
    assert spark.range(4).mapInPandas(ran, "id long").count() == 4

    name = f"pyworker_probe_{tmp_path.name.replace('-', '_')}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, "V = 'fresh'\n", name)
    spark.sparkContext.addPyFile(path)

    def load(it):
        import importlib
        for _ in it:
            yield pd.DataFrame({"v": [importlib.import_module(name).V]})
    assert {r["v"] for r in spark.range(2).mapInPandas(load, "v string")
            .collect()} == {"fresh"}


def test_extra_conf_overrides_the_daemon(monkeypatch):
    seen = {}

    class Builder:
        def master(self, _):
            return self

        appName = master

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return seen

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    assert session.get_spark()["spark.python.daemon.module"] \
        == "toy_vector_db_spark.pyworker"
    seen.clear()
    assert session.get_spark(extra_conf={
        "spark.python.daemon.module": "pyspark.daemon"}
    )["spark.python.daemon.module"] == "pyspark.daemon"
