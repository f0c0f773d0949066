"""Dialect end-to-end on the canonical fixture — mirrors the reference's
own SQL tests (/root/reference/pkg/sql/sql_test.go:108-215, FIXTURES.md F1/F2)."""

from __future__ import annotations

import pytest

from toy_vector_db_spark.plans.catalog import CollectionCatalog
from toy_vector_db_spark.plans.dialect import SqlEngine
from toy_vector_db_spark.schema import five_vectors, vectors_meta


@pytest.fixture()
def engine(spark, tmp_path):
    eng = SqlEngine(spark, CollectionCatalog(spark, str(tmp_path / "coll")))
    five_vectors(spark).createOrReplaceTempView("vectors")
    vectors_meta(spark).createOrReplaceTempView("vmeta")
    return eng


def test_full_scan_5_rows(engine):
    assert len(engine.sql("SELECT id FROM vectors").collect()) == 5


def test_limit_2(engine):
    assert len(engine.sql("SELECT id FROM vectors LIMIT 2").collect()) == 2


def test_id_filter_1_row(engine):
    rows = engine.sql("SELECT id, dimension FROM vectors WHERE id = 'vec1'").collect()
    assert len(rows) == 1 and rows[0]["dimension"] == 3


def test_nearest_3_rows_vec1_first(engine):
    rows = engine.sql(
        "SELECT id, distance FROM vectors NEAREST TO [1.0, 0.0, 0.0] "
        "USING euclidean LIMIT 3").collect()
    assert len(rows) == 3
    assert rows[0]["id"] == "vec1" and rows[0]["distance"] == 0.0


def test_nearest_default_limit_10(engine):
    rows = engine.sql("SELECT id, distance FROM vectors NEAREST TO [1.0,0.0,0.0]").collect()
    assert len(rows) == 5  # all rows; default limit 10 > 5


def test_nearest_non_finite_query_vector(engine):
    """NaN and infinite query components render as SQL doubles (there is
    no ``nanD`` literal): the statement plans and every row scores."""
    for vec in ("[nan, 1.0, 0.0]", "[inf, 0.0, -inf]"):
        rows = engine.sql(
            f"SELECT id, distance FROM vectors NEAREST TO {vec}").collect()
        assert len(rows) == 5, vec


def test_nearest_by_id_excludes_self(engine):
    rows = engine.sql(
        "SELECT id, distance FROM vectors NEAREST TO 'vec1' LIMIT 3").collect()
    assert all(r["id"] != "vec1" for r in rows)
    assert rows[0]["id"] == "vec4"


def test_nearest_subquery(engine):
    rows = engine.sql(
        "SELECT id, distance FROM vectors NEAREST TO "
        "(SELECT embedding FROM vectors WHERE id = 'vec2') LIMIT 2").collect()
    assert rows[0]["id"] == "vec2" and rows[0]["distance"] == 0.0


def test_nearest_cosine_metric(engine):
    rows = engine.sql(
        "SELECT id, distance FROM vectors NEAREST TO [1.0,1.0,0.0] "
        "USING cosine LIMIT 1").collect()
    assert rows[0]["id"] == "vec4" and rows[0]["distance"] == pytest.approx(0.0)


def test_unknown_metric_raises(engine):
    with pytest.raises(ValueError, match="unsupported distance metric"):
        engine.sql("SELECT id FROM vectors NEAREST TO [1.0,0.0,0.0] USING chebyshev")


def test_unknown_column_raises(engine):
    # documented divergence: reference silently projects id (executor.go:238-241)
    with pytest.raises(ValueError, match="unknown column"):
        engine.sql("SELECT bogus FROM vectors")


def test_count_star(engine):
    assert engine.sql("SELECT COUNT(*) FROM vectors").first()[0] == 5


def test_explain_nearest_is_topk_not_sort(engine):
    # reference -verbose shows a VECTOR_SEARCH plan node
    # (planner.go:256-319); here the displayed plan is the executed one
    plan = engine.explain(
        "SELECT id, distance FROM vectors NEAREST TO [1.0,0.0,0.0] LIMIT 3")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[0]


def test_explain_id_lookup_shows_filter(engine):
    # ID_LOOKUP plan detection (planner.go:148-167): the predicate must
    # appear as a Filter in the physical plan
    plan = engine.explain("SELECT id FROM vectors WHERE id = 'vec1'")
    assert "Filter" in plan and "vec1" in plan


def test_explain_dml_describes_write_path(engine):
    out = engine.explain("INSERT INTO c (id, vector) VALUES ('x', [1.0])")
    assert out.startswith("== INSERT ==")
    out = engine.explain("DROP COLLECTION c")
    assert "catalog DDL" in out


def test_cli_verbose_prints_plan(spark, tmp_path, capsys):
    from toy_vector_db_spark.cli import main
    data_dir = str(tmp_path / "vcli")
    main(["--data-dir", data_dir, "add", "v1", "[1,0,0]"])
    capsys.readouterr()
    main(["--data-dir", data_dir, "--verbose", "sql",
          "SELECT id FROM vectors"])
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "row(s)" in out


def test_nearest_by_quoted_id_escapes(engine):
    # an id containing a single quote must round-trip through the
    # NEAREST TO rewrite (the self-exclusion predicate re-escapes it)
    engine.execute(
        "INSERT INTO quoted (id, vector) VALUES ('o''brien', [1.0, 0.0, 0.1])")
    engine.execute(
        "INSERT INTO quoted (id, vector) VALUES ('plain', [0.9, 0.0, 0.0])")
    rows = engine.sql(
        "SELECT id, distance FROM quoted NEAREST TO 'o''brien' LIMIT 5").collect()
    assert [r["id"] for r in rows] == ["plain"]  # self excluded


def test_set_metadata_escapes_quoted_id(engine):
    engine.execute(
        "INSERT INTO quoted2 (id, vector) VALUES ('it''s', [1.0, 0.0, 0.0])")
    n = engine.catalog.set_metadata("quoted2", "it's", "k", "v")
    assert n == 1
    got = engine.sql("SELECT metadata.k FROM quoted2 WHERE id = 'it''s'").first()
    assert got[0] == "v"


def test_metadata_eq_missing_key_false(engine):
    rows = engine.sql(
        "SELECT id FROM vmeta WHERE metadata.category = 'image'").collect()
    assert sorted(r["id"] for r in rows) == ["test1", "test3"]


def test_metadata_ne_missing_key_true(engine):
    # prod1/prod2 lack 'category' => != matches them (executor.go:716-718)
    rows = engine.sql(
        "SELECT id FROM vmeta WHERE metadata.category != 'image'").collect()
    assert sorted(r["id"] for r in rows) == ["prod1", "prod2", "test2"]


def test_like_on_id_and_metadata(engine):
    rows = engine.sql("SELECT id FROM vmeta WHERE id LIKE 'test%'").collect()
    assert len(rows) == 3
    rows = engine.sql(
        "SELECT id FROM vmeta WHERE metadata.tags LIKE '%important%'").collect()
    assert sorted(r["id"] for r in rows) == ["test1", "test3"]


def test_knn_with_where_filter(engine):
    rows = engine.sql(
        "SELECT id, distance FROM vmeta NEAREST TO [1.0,0.0,0.0,0.0] "
        "WHERE metadata.category = 'image' LIMIT 5").collect()
    assert sorted(r["id"] for r in rows) == ["test1", "test3"]
    assert rows[0]["id"] == "test1"


def test_select_star_projection(engine):
    df = engine.sql("SELECT * FROM vectors LIMIT 1")
    assert df.columns == ["id", "vector", "dimension"]


def test_ansi_passthrough(engine):
    rows = engine.sql(
        "SELECT count(*) AS n, size(embedding) AS dim FROM vectors "
        "GROUP BY size(embedding)").collect()
    assert rows[0]["n"] == 5 and rows[0]["dim"] == 3


# -- DML/DDL lifecycle (sql_test.go INSERT/DELETE + D1-D5) -----------------

def test_crud_lifecycle(engine):
    eng = engine
    eng.execute("CREATE COLLECTION mycoll (DIMENSION 3)")
    with pytest.raises(ValueError, match="already exists"):
        eng.execute("CREATE COLLECTION mycoll")

    r = eng.execute("INSERT INTO mycoll (id, vector) VALUES ('a', [1.0, 0.0, 0.0])")
    assert r.affected == 1
    eng.execute("INSERT INTO mycoll (id, vector) VALUES ('b', [0.0, 1.0, 0.0])")
    eng.execute("INSERT INTO mycoll (id, vector) VALUES ('c', [0.0, 0.0, 1.0])")
    with pytest.raises(ValueError, match="duplicate id"):
        eng.execute("INSERT INTO mycoll (id, vector) VALUES ('a', [9.0, 9.0, 9.0])")

    assert eng.sql("SELECT COUNT(*) FROM mycoll").first()[0] == 3
    rows = eng.sql("SELECT id, distance FROM mycoll NEAREST TO [1.0,0.1,0.0] LIMIT 1").collect()
    assert rows[0]["id"] == "a"

    # UPDATE — unexecutable in the reference (executor.go:87-100), real here
    r = eng.execute("UPDATE mycoll SET vector = [5.0, 5.0, 5.0] WHERE id = 'a'")
    assert r.affected == 1
    rows = eng.sql("SELECT id FROM mycoll NEAREST TO [5.0,5.0,5.0] LIMIT 1").collect()
    assert rows[0]["id"] == "a" and rows[0].asDict().get("distance", 0.0) == 0.0
    r = eng.execute("UPDATE mycoll SET metadata.tag = 'x' WHERE id = 'b'")
    assert r.affected == 1
    rows = eng.sql("SELECT id FROM mycoll WHERE metadata.tag = 'x'").collect()
    assert [r["id"] for r in rows] == ["b"]

    with pytest.raises(ValueError, match="WHERE"):
        eng.execute("DELETE FROM mycoll")
    r = eng.execute("DELETE FROM mycoll WHERE id = 'c'")
    assert r.affected == 1 and r.message == "Deleted 1 row(s)"
    assert eng.sql("SELECT COUNT(*) FROM mycoll").first()[0] == 2

    r = eng.execute("DROP COLLECTION mycoll")
    assert r.affected == 2
    with pytest.raises(Exception):
        eng.sql("SELECT id FROM mycoll")


def test_catalog_persistence(spark, tmp_path):
    root = str(tmp_path / "persist")
    cat = CollectionCatalog(spark, root)
    cat.create("c1")
    cat.insert("c1", [("x", [1.0, 2.0], {"k": "v"})])
    # new catalog instance over the same root sees the data (file-store
    # round-trip, reference storage_test.go:136-258)
    cat2 = CollectionCatalog(spark, root)
    rows = cat2.read("c1").collect()
    assert len(rows) == 1 and rows[0]["id"] == "x"
    assert rows[0]["metadata"] == {"k": "v"}


def test_catalog_time_travel(spark, tmp_path):
    """Snapshot isolation the versioned layout buys: any retained
    version reads back exactly as committed, GC keeps only the newest
    keep_versions, and reading an evicted version errors."""
    root = str(tmp_path / "tt")
    cat = CollectionCatalog(spark, root, keep_versions=3)
    cat.create("c")                              # v0: empty
    cat.insert("c", [("a", [1.0], None)])        # v1: {a}
    cat.insert("c", [("b", [2.0], None)])        # v2: {a,b}
    cat.delete("c", "id = 'a'")                  # v3: {b}
    assert cat.versions("c") == [1, 2, 3]        # v0 GC'd (keep 3)
    ids = lambda v: sorted(r["id"] for r in cat.read_version("c", v).collect())
    assert ids(1) == ["a"]
    assert ids(2) == ["a", "b"]
    assert ids(3) == ["b"]
    assert sorted(r["id"] for r in cat.read("c").collect()) == ["b"]
    with pytest.raises(KeyError, match="version 0"):
        cat.read_version("c", 0)
    with pytest.raises(KeyError, match="not found"):
        cat.versions("nope")


def test_sql_version_as_of(spark, tmp_path):
    from toy_vector_db_spark.plans.dialect import SqlEngine
    cat = CollectionCatalog(spark, str(tmp_path / "ttsql"), keep_versions=5)
    eng = SqlEngine(spark, cat)
    eng.execute("CREATE COLLECTION c")
    eng.execute("INSERT INTO c (id, vector) VALUES ('a', [1.0, 0.0])")
    eng.execute("INSERT INTO c (id, vector) VALUES ('b', [0.0, 1.0])")
    now = sorted(r["id"] for r in eng.sql("SELECT id FROM c").collect())
    old = sorted(r["id"] for r in
                 eng.sql("SELECT id FROM c VERSION AS OF 1").collect())
    assert now == ["a", "b"]
    assert old == ["a"]
    # NEAREST TO composes over a pinned snapshot
    res = eng.sql("SELECT id FROM c VERSION AS OF 1 "
                  "NEAREST TO [0.9, 0.1] LIMIT 5").collect()
    assert [r["id"] for r in res] == ["a"]
    with pytest.raises(ValueError, match="requires a collection"):
        eng.sql("SELECT id FROM not_a_coll VERSION AS OF 1")


def test_delete_keeps_rows_where_condition_is_null(spark, tmp_path):
    """A row where the WHERE is NULL (missing metadata key, NULL
    metadata, dialect-inserted row) does not match: DELETE keeps it,
    as the reference does, and the reported count agrees."""
    from toy_vector_db_spark.plans.dialect import SqlEngine
    cat = CollectionCatalog(spark, str(tmp_path / "dnull"))
    cat.insert("c", [("a", [1.0], {"category": "x"}),
                     ("b", [2.0], {"category": "y"}),
                     ("n", [3.0], None),
                     ("m", [4.0], {"tag": "t"})])
    eng = SqlEngine(spark, cat)
    eng.execute("INSERT INTO c (id, vector) VALUES ('i', [5.0])")
    r = eng.execute("DELETE FROM c WHERE metadata.category = 'x'")
    assert r.message == "Deleted 1 row(s)"
    assert sorted(row["id"] for row in cat.read("c").collect()) == \
        ["b", "i", "m", "n"]
