"""ANN tiers validated by recall@k vs the exact tier (SURVEY §5: ANN is
not hash-stable, so recall is the contract — the HNSW analogue)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.functions.vector import vector_lit
from toy_vector_db_spark.operators.ann import IvfIndex, LshIndex, recall_at_k
from toy_vector_db_spark.operators.knn import knn, lookup_vector

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


def test_maintained_index_assigns_each_delta_once(spark, emb, qvec,
                                                  monkeypatch):
    """Plan shape of the maintained IVF index: the dup-check job of
    ``add`` never runs the assign UDF (only ids are read, so the
    column is pruned), and a search over the base plus n deltas holds
    exactly n + 1 assign passes — one per table, not one for the probe
    filter and another for the projection."""
    idx = IvfIndex.build_deterministic(emb.filter(F.col("vec_id") >= 100),
                                       n_centroids=16)
    deltas = [emb.filter(F.col("vec_id") < 50),
              emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))]
    plans = []
    count = type(emb).count

    def spy(self):
        plans.append(_plan(self))
        return count(self)

    monkeypatch.setattr(type(emb), "count", spy)
    idx = idx.add(deltas[0])
    monkeypatch.undo()
    assert len(plans) == 1 and "ArrowEvalPython" not in plans[0]
    idx = idx.add(deltas[1], check_dups=False)
    res = idx.search(qvec, k=10, metric="cosine", nprobe=3)
    assert _plan(res).count("ArrowEvalPython") == len(deltas) + 1
    assert len(res.collect()) == 10
