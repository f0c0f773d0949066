"""ANN tiers validated by recall@k vs the exact tier (SURVEY §5: ANN is
not hash-stable, so recall is the contract — the HNSW analogue)."""

from __future__ import annotations

import os

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from toy_vector_db_spark.functions.vector import vector_lit
from toy_vector_db_spark.operators.ann import IvfIndex, LshIndex, recall_at_k
from toy_vector_db_spark.operators.knn import knn, lookup_vector
from toy_vector_db_spark.operators.pq import IvfPqIndex, PqIndex

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return lookup_vector(emb, "vec_id", 7)


def test_lsh_search_recall(spark, emb, qvec):
    # The synthetic embeddings are near-random (true neighbors at ~70deg),
    # a worst case for hyperplane LSH — 6 planes + multiprobe 3 measured
    # at recall 0.7 here; real near-dup corpora sit far higher.
    idx = LshIndex.build(emb, n_planes=6)
    exact = knn(emb, qvec, k=10, metric="cosine")
    approx = idx.search(qvec, k=10, metric="cosine", multiprobe=3)
    rows = approx.collect()
    assert len(rows) == 10
    assert approx.columns == emb.columns + ["distance"]
    r = recall_at_k(approx, exact, "vec_id")
    assert r >= 0.5, f"recall@10 too low: {r}"
    # self is in its own bucket: top hit must be the query row itself
    assert rows[0]["vec_id"] == 7 and rows[0]["distance"] <= 1e-6


def test_lsh_multiprobe_increases_candidates(emb, qvec):
    idx = LshIndex.build(emb, n_planes=8)
    r0 = idx.search(qvec, k=500, metric="cosine", multiprobe=0).count()
    r2 = idx.search(qvec, k=500, metric="cosine", multiprobe=2).count()
    assert r2 >= r0


def test_lsh_save_load_roundtrip(spark, emb, qvec, tmp_path):
    idx = LshIndex.build(emb, n_planes=8)
    path = str(tmp_path / "lsh")
    idx.save(path)
    idx2 = LshIndex.load(spark, path)
    a = sorted(r["vec_id"] for r in idx.search(qvec, k=5).collect())
    b = sorted(r["vec_id"] for r in idx2.search(qvec, k=5).collect())
    assert a == b


def test_ivf_search_recall(spark, emb, qvec):
    idx = IvfIndex.build(emb, n_centroids=8, seed=42)
    exact = knn(emb, qvec, k=10, metric="cosine")
    approx = idx.search(qvec, k=10, metric="cosine", nprobe=3)
    assert approx.count() == 10
    r = recall_at_k(approx, exact, "vec_id")
    assert r >= 0.5, f"recall@10 too low: {r}"


def test_ivf_nprobe_full_equals_exact(spark, emb, qvec):
    idx = IvfIndex.build(emb, n_centroids=4, seed=42)
    exact = {r["vec_id"] for r in knn(emb, qvec, k=10, metric="cosine").collect()}
    full = idx.search(qvec, k=10, metric="cosine", nprobe=4)
    assert {r["vec_id"] for r in full.collect()} == exact  # probe-all == exact


def test_ivf_save_load_roundtrip(spark, emb, qvec, tmp_path):
    idx = IvfIndex.build(emb, n_centroids=4, seed=42)
    path = str(tmp_path / "ivf")
    idx.save(path)
    idx2 = IvfIndex.load(spark, path)
    a = sorted(r["vec_id"] for r in idx.search(qvec, k=5).collect())
    b = sorted(r["vec_id"] for r in idx2.search(qvec, k=5).collect())
    assert a == b


def test_ivf_deterministic_build(spark, emb, qvec):
    # same corpus -> identical centroids and assignments, and probe-all
    # still equals exact (partitioning is lossless)
    a = IvfIndex.build_deterministic(emb, n_centroids=4)
    b = IvfIndex.build_deterministic(emb, n_centroids=4)
    assert a.centroids.tolist() == b.centroids.tolist()
    ca = a.table.groupBy("__cluster").count().collect()
    cb = b.table.groupBy("__cluster").count().collect()
    assert sorted(map(tuple, ca)) == sorted(map(tuple, cb))
    exact = {r["vec_id"] for r in knn(emb, qvec, k=10, metric="cosine").collect()}
    full = a.search(qvec, k=10, metric="cosine", nprobe=4)
    assert {r["vec_id"] for r in full.collect()} == exact


# ---------------------------------------------------------------------------
# Incremental maintenance (reference Index.Add/Delete/Size/GetIDs,
# pkg/index/index.go:19-49; tombstone delete hnsw.go:391-412; dup-add
# error flat.go:68-80)
# ---------------------------------------------------------------------------


def _fresh_rows(spark, emb, ids):
    """Rows shaped like embeddings but with unused ids (delta to add)."""
    base = emb.filter(F.col("vec_id").isin([1, 2, 3][: len(ids)])).collect()
    data = [(new_id, r["embedding"], r["label"])
            for new_id, r in zip(ids, base)]
    return spark.createDataFrame(data, emb.schema)


@pytest.mark.parametrize("builder", [
    lambda emb: LshIndex.build(emb, n_planes=6),
    lambda emb: IvfIndex.build_deterministic(emb, n_centroids=8),
], ids=["lsh", "ivf"])
def test_index_add_then_searchable(spark, emb, builder):
    idx = builder(emb)
    n0 = idx.size()
    delta = _fresh_rows(spark, emb, [900001, 900002])
    idx2 = idx.add(delta)
    assert idx2.size() == n0 + 2
    # the clone of vec_id=1 must be found at distance ~0 from vector 1
    q = lookup_vector(emb, "vec_id", 1)
    hits = {r["vec_id"] for r in idx2.search(q, k=3, metric="cosine").collect()}
    assert 900001 in hits and 1 in hits
    # original index object untouched (immutable handles)
    assert idx.size() == n0


def test_index_add_duplicate_id_errors(spark, emb):
    idx = LshIndex.build(emb, n_planes=6)
    dup = _fresh_rows(spark, emb, [1])  # vec_id 1 already indexed
    with pytest.raises(ValueError, match="already exists"):
        idx.add(dup)


@pytest.mark.parametrize("builder", [
    lambda emb: LshIndex.build(emb, n_planes=6),
    lambda emb: IvfIndex.build_deterministic(emb, n_centroids=8),
], ids=["lsh", "ivf"])
def test_index_delete_tombstones_search(spark, emb, qvec, builder):
    idx = builder(emb)
    n0 = idx.size()
    # self-match is the top hit; after deleting it, it must vanish
    idx2 = idx.delete([7])
    assert idx2.size() == n0 - 1
    hits = {r["vec_id"] for r in
            idx2.search(qvec, k=10, metric="cosine").collect()}
    assert 7 not in hits
    assert 7 not in idx2.get_ids()
    # compact folds tombstones into the table; results unchanged
    idx3 = idx2.compact()
    assert idx3._deleted is None and idx3.size() == n0 - 1
    hits3 = {r["vec_id"] for r in
             idx3.search(qvec, k=10, metric="cosine").collect()}
    assert hits3 == hits


def test_index_delete_then_readd_resurrects(spark, emb):
    idx = LshIndex.build(emb, n_planes=6).delete([1])
    assert 1 not in idx.get_ids()
    row = emb.filter(F.col("vec_id") == 1)
    idx2 = idx.add(row)
    assert 1 in idx2.get_ids()
    # the stale physical row must be gone too: exactly one live row for
    # id 1, size back to the original count, no duplicate ids anywhere
    assert idx2.size() == emb.count()
    ids = idx2.get_ids()
    assert len(ids) == len(set(ids))
    assert idx2.table.filter(F.col("vec_id") == 1).count() == 1


def test_index_readd_with_new_vector_replaces_stale(spark, emb):
    # delete id 1 then re-add it with a DIFFERENT vector: searches must
    # see only the new vector, never the stale one
    new_vec = [9.0] * len(emb.filter(F.col("vec_id") == 1)
                          .first()["embedding"])
    replacement = spark.createDataFrame(
        [(1, new_vec, -1)], "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    idx = LshIndex.build(emb, n_planes=6).delete([1]).add(replacement)
    rows = idx.table.filter(F.col("vec_id") == 1).collect()
    assert len(rows) == 1
    assert [round(float(x)) for x in rows[0]["embedding"]] == \
        [9] * len(new_vec)


def test_index_save_compacts_tombstones(spark, emb, qvec, tmp_path):
    idx = LshIndex.build(emb, n_planes=8).delete([7])
    path = str(tmp_path / "lsh_tomb")
    idx.save(path)
    idx2 = LshIndex.load(spark, path)
    assert idx2.size() == idx.size()
    assert 7 not in {r["vec_id"] for r in
                     idx2.search(qvec, k=10, metric="cosine").collect()}


def test_index_delete_accepts_dataframe(spark, emb):
    ids_df = emb.select("vec_id").filter(F.col("vec_id") < 5)
    idx = IvfIndex.build_deterministic(emb, n_centroids=8).delete(ids_df)
    live = set(idx.get_ids())
    assert live.isdisjoint({0, 1, 2, 3, 4})


def _fold_reference(centroids, v):
    """The Column fold every IVF assign and probe used to run: per
    centroid sqrt(aggregate(zip_with((x - c)^2), 0.0, s + x)), then the
    first minimum (assign) and the struct sort (d, i) (probes)."""
    dists = [F.sqrt(F.aggregate(
        F.zip_with(v, vector_lit(c),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda s, x: s + x)) for c in centroids]
    assign = (F.array_position(F.array(*dists), F.array_min(F.array(*dists)))
              - 1).cast("int")
    cdist = F.array(*[F.struct(d.alias("d"), F.lit(i).alias("i"))
                      for i, d in enumerate(dists)])
    probes = F.transform(F.slice(F.sort_array(cdist), 1, 5),
                         lambda s: s["i"])
    return assign, probes


def test_assign_and_probe_tiers_agree(spark):
    """The one nearest-centroid rule against the Column fold it
    replaced, on rows whose norms spread over 0.01-100 (where
    cancellation would show): 0 assign and 0 nprobe-5 probe differences
    at nlist 8 and 16 (the in-order form) and 24 (the BLAS form). The
    driver-side probes (``IvfIndex.probe_clusters``,
    ``IvfPqIndex._probe``) match ``probe_clusters_expr`` row for row."""
    import numpy as np

    from toy_vector_db_spark.operators.knn import probe_clusters_expr
    from toy_vector_db_spark.operators.pq import IvfPqIndex

    rng = np.random.default_rng(11)
    X = rng.standard_normal((4000, 128))
    X *= (np.logspace(-2, 2, len(X)) / np.linalg.norm(X, axis=1))[:, None]
    X = X[rng.permutation(len(X))]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(X.tolist())],
        "vec_id int, embedding array<double>").cache()
    v = F.col("embedding")
    for nlist in (8, 16, 24):
        C = X[:nlist]
        ref_assign, ref_probes = _fold_reference(C, v)
        got = df.select(
            "vec_id",
            IvfIndex._assign_expr(C, "embedding").alias("a"),
            ref_assign.alias("ra"),
            probe_clusters_expr(C, v, 5).alias("p"),
            ref_probes.alias("rp")).collect()
        assert sum(r["a"] != r["ra"] for r in got) == 0, nlist
        assert sum(r["p"] != r["rp"] for r in got) == 0, nlist
        ivf = IvfIndex(C, None, "vec_id", "embedding")
        ivfpq = IvfPqIndex(C, None, None, "vec_id", "embedding")
        for r in got:
            q = X[r["vec_id"]]
            assert ivf.probe_clusters(q, 5) == r["p"], (nlist, r["vec_id"])
            assert ivfpq._probe(q, 5) == r["p"], (nlist, r["vec_id"])
    df.unpersist()


def test_null_or_wrong_length_vector_gets_no_cluster(spark):
    """A null vector, or one of another dimension, is assigned no
    cluster and probes none, on either arithmetic form."""
    import numpy as np

    from toy_vector_db_spark.operators.knn import probe_clusters_expr

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>")
    for nlist in (2, 24):
        C = np.arange(2.0 * nlist).reshape(nlist, 2)
        got = df.orderBy("vec_id").select(
            IvfIndex._assign_expr(C, "embedding").alias("a"),
            probe_clusters_expr(C, F.col("embedding"), 2).alias("p")
        ).collect()
        assert [(r["a"], r["p"]) for r in got] == \
            [(0, [0, 1]), (None, None), (None, None)], nlist


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString().splitlines())


def _slice(emb, lo, hi):
    return emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))


def test_maintained_index_plan_stays_flat(spark, emb, qvec):
    """Each mutation materializes its own segment once, so the table's
    plan, the search plan and the search's job count do not grow with
    the number of mutations: 40 adds without a compact, then 20
    add / delete / compact cycles. After the first mutation no search
    runs the assign UDF again."""
    idx = IvfIndex.build_deterministic(_slice(emb, 180, 10**9),
                                       n_centroids=16)
    assert "ArrowEvalPython" in _plan(idx.search(qvec, k=10, nprobe=3))

    def search_jobs(i):
        res = i.search(qvec, k=10, metric="cosine", nprobe=3)
        assert "ArrowEvalPython" not in _plan(res)
        rows, jobs = count_jobs(spark, res.collect)
        assert len(rows) == 10
        return jobs

    idx = idx.add(_slice(emb, 0, 3))
    lines, jobs = _plan_lines(idx.table), search_jobs(idx)
    for n in range(1, 40):
        idx = idx.add(_slice(emb, 3 * n, 3 * n + 3), check_dups=n % 2 == 0)
        assert _plan_lines(idx.table) == lines
    assert search_jobs(idx) == jobs
    for n in range(40, 60):
        idx = idx.add(_slice(emb, 3 * n, 3 * n + 3))
        idx = idx.delete([3 * n])
        if n == 40:   # with a tombstone
            assert search_jobs(idx) == jobs
        idx = idx.compact()
        assert _plan_lines(idx.table) == lines
    assert search_jobs(idx) == jobs
    assert idx.size() == emb.count() - 20


_KINDS = {
    "lsh": lambda emb: LshIndex.build(emb, n_planes=6),
    "ivf": lambda emb: IvfIndex.build_deterministic(emb, n_centroids=8),
    "pq": lambda emb: PqIndex.build(emb, m=4, ks=8),
    "ivfpq": lambda emb: IvfPqIndex.build_deterministic(emb, n_centroids=8),
}


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_add_rejects_a_delta_that_repeats_an_id(spark, emb, kind):
    """The reference's Add rejects the second copy of an id, whether
    the index holds it or the same delta does."""
    idx = _KINDS[kind](_slice(emb, 0, 20))
    with pytest.raises(ValueError, match="already exists"):
        idx.add(_fresh_rows(spark, emb, [900001, 900001]))
    assert idx.size() == 20 and sorted(idx.get_ids()) == list(range(20))
    with pytest.raises(ValueError, match="already exists"):
        idx.add(_fresh_rows(spark, emb, [900001, 900001]), check_dups=True)


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_maintenance_job_budgets(spark, emb, kind):
    """``delete(list)`` runs no job; ``add`` a write and a check job;
    ``compact`` runs no Spark job, with or without tombstones; the
    table stays footer-sized by ``chooser.rows``."""
    from toy_vector_db_spark.operators.chooser import rows
    idx = _KINDS[kind](emb).add(_fresh_rows(spark, emb, [900001]))
    n = idx.size()
    assert count_jobs(spark, lambda: rows(idx.table)) == (n, 0)
    same, jobs = count_jobs(spark, idx.compact)
    assert same is idx and jobs == 0
    idx, jobs = count_jobs(spark, lambda: idx.delete([1, 2]))
    assert jobs == 0 and idx.size() == n - 2
    delta = _fresh_rows(spark, emb, [900002, 900003])
    idx, jobs = count_jobs(spark, lambda: idx.add(delta))
    assert jobs <= 2 and idx.size() == n
    idx, jobs = count_jobs(spark, idx.compact)
    assert jobs == 0 and idx._deleted is None and idx.size() == n
    assert {1, 2}.isdisjoint(idx.get_ids())
    assert count_jobs(spark, lambda: rows(idx.table)) == (n, 0)


def _tree_bytes(path):
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


@pytest.mark.parametrize("kind", ["lsh", "ivfpq"])
def test_handles_are_snapshots(spark, emb, qvec, kind, tmp_path):
    """After add / delete / compact / resurrection on a newer handle an
    older handle's size and search are unchanged, and a loaded index's
    save directory is left byte for byte as saved."""
    path = str(tmp_path / kind)
    built = _KINDS[kind](emb)
    built.save(path)
    saved = _tree_bytes(path)
    old = type(built).load(spark, path)
    n = old.size()

    def top(i):
        return [r["vec_id"] for r in
                i.search(qvec, k=5, metric="euclidean").collect()]

    want = top(old)
    new = old.add(_fresh_rows(spark, emb, [900001, 900002]))
    mid = new.delete([7, 900001])
    new = mid.compact().add(_fresh_rows(spark, emb, [900001]))
    new = new.add(emb.filter(F.col("vec_id") == 7))   # resurrect 7
    new = new.delete(emb.select("vec_id").filter(F.col("vec_id") < 3))
    assert new.size() == n + 2 - 3
    assert mid.size() == n and 7 not in top(mid)
    assert old.size() == n and top(old) == want
    assert sorted(new.get_ids()) == sorted(
        set(range(3, n)) | {900001, 900002})
    assert _tree_bytes(path) == saved


def test_in_filter_quotes_string_ids(spark):
    """Tombstones and the add check filter through one SQL ``IN`` string:
    quotes and backslashes in ids stay literal."""
    from toy_vector_db_spark.operators.ann import _in
    ids = ["a'b", "c\\d", "e", "it's\\'"]
    df = spark.createDataFrame([(i,) for i in ids + ["x"]], "id string")
    assert sorted(r[0] for r in df.filter(_in("id", ids[:2] + ids[3:]))
                  .collect()) == sorted(ids[:2] + ids[3:])
    assert df.filter(_in("id", [])).count() == 0


def test_compacted_segment_stays_spark_sized(spark):
    """A segment ``compact()`` rewrites on the driver stays within 2 % of
    its Spark-written source in bytes per row (pyarrow's default
    dictionary encoding of the vector column made it ~40 % larger)."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(64).astype(np.float32).tolist())
         for i in range(4000)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>").coalesce(1)
    idx = IvfIndex.build_deterministic(df, n_centroids=4)
    base = idx._with_files(idx._files(), None)
    after = base.delete([5, 1234, 3999]).compact()
    src = set(base._files()) - set(after._files())
    new = set(after._files()) - set(base._files())
    assert len(src) == len(new) == 1

    def per_row(f):
        return os.path.getsize(f) / pq.ParquetFile(f).metadata.num_rows
    a, b = per_row(src.pop()), per_row(new.pop())
    assert abs(b - a) / a <= 0.02, (a, b)
