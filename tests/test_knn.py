"""knn on the canonical 5-vector fixture
(/root/reference/pkg/sql/sql_test.go:218-235, FIXTURES.md F1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.operators.knn import knn, knn_join, lookup_vector
from toy_vector_db_spark.schema import five_vectors


def test_nearest_to_top1_is_vec1(spark):
    df = five_vectors(spark)
    res = knn(df, [1.0, 0.0, 0.0], k=3, metric="euclidean",
              vec_col="embedding").collect()
    assert len(res) == 3
    assert res[0]["id"] == "vec1"
    assert res[0]["distance"] == 0.0


def test_self_exclusion(spark):
    df = five_vectors(spark)
    qvec = lookup_vector(df.withColumnRenamed("id", "vid"), "vid", "vec1")
    res = knn(df, qvec, k=3, metric="euclidean",
              exclude_id="vec1", id_col="id").collect()
    assert all(r["id"] != "vec1" for r in res)
    assert res[0]["id"] == "vec4"  # [1,1,0] is nearest to [1,0,0] after self


def test_default_limit_10(spark):
    # default LIMIT 10 (executor.go:306-309); fixture smaller than 10
    df = five_vectors(spark)
    assert knn(df, [1.0, 0.0, 0.0]).count() == 5


def test_k_clamp_and_error(spark):
    df = five_vectors(spark)
    assert knn(df, [1.0, 0.0, 0.0], k=100).count() == 5  # clamp (flat.go:113)
    with pytest.raises(ValueError):
        knn(df, [1.0, 0.0, 0.0], k=0)


def test_lookup_missing_raises(spark):
    with pytest.raises(KeyError):
        lookup_vector(five_vectors(spark), "id", "nope")


def test_metric_changes_ordering(spark):
    df = five_vectors(spark)
    # cosine: vec4=[1,1,0] at 45deg; euclidean: vec4 at distance 1
    eu = knn(df, [1.0, 0.0, 0.0], k=5, metric="euclidean").collect()
    co = knn(df, [1.0, 0.0, 0.0], k=5, metric="cosine").collect()
    assert eu[0]["id"] == co[0]["id"] == "vec1"
    assert [r["id"] for r in eu] != [] and len(co) == 5


def test_knn_join_matches_single_knn(spark):
    df = five_vectors(spark)
    queries = df.select(F.col("id").alias("query_id"),
                        F.col("embedding").alias("query_vec"))
    joined = knn_join(queries, df.select(F.col("id").alias("vec_id"),
                                         "embedding"),
                      k=2, metric="euclidean")
    rows = {(r["query_id"], r["vec_id"]) for r in joined.collect()}
    assert len(rows) == 10  # 5 queries x k=2
    # each row's nearest neighbor (distance 0) is itself
    for qid in ("vec1", "vec2", "vec3", "vec4", "vec5"):
        assert (qid, qid) in rows


def test_knn_join_ivf_full_probe_equals_exact(spark):
    # probing every cluster makes the IVF join exhaustive, so it must
    # reproduce the exact knn_join answer bit-for-bit
    from toy_vector_db_spark.operators.ann import IvfIndex
    from toy_vector_db_spark.operators.knn import knn_join_ivf
    df = five_vectors(spark)
    corpus = df.select(F.col("id").alias("vec_id"), "embedding")
    queries = df.select(F.col("id").alias("query_id"),
                        F.col("embedding").alias("query_vec"))
    idx = IvfIndex.build_deterministic(corpus, n_centroids=3,
                                       id_col="vec_id")
    exact = knn_join(queries, corpus, k=2, metric="euclidean")
    approx = knn_join_ivf(queries, idx, k=2, nprobe=3, metric="euclidean")
    norm = lambda d: sorted((r["query_id"], r["vec_id"], round(r["distance"], 9))
                            for r in d.collect())
    assert norm(approx) == norm(exact)


def test_knn_join_ivf_respects_tombstones(spark):
    from toy_vector_db_spark.operators.ann import IvfIndex
    from toy_vector_db_spark.operators.knn import knn_join_ivf
    df = five_vectors(spark)
    corpus = df.select(F.col("id").alias("vec_id"), "embedding")
    queries = df.limit(2).select(F.col("id").alias("query_id"),
                                 F.col("embedding").alias("query_vec"))
    idx = IvfIndex.build_deterministic(corpus, n_centroids=2,
                                       id_col="vec_id").delete(["vec1"])
    res = knn_join_ivf(queries, idx, k=5, nprobe=2).collect()
    assert res and all(r["vec_id"] != "vec1" for r in res)


def test_knn_join_ivf_validates_params(spark):
    from toy_vector_db_spark.operators.ann import IvfIndex
    from toy_vector_db_spark.operators.knn import knn_join_ivf
    df = five_vectors(spark)
    corpus = df.select(F.col("id").alias("vec_id"), "embedding")
    queries = df.limit(1).select(F.col("id").alias("query_id"),
                                 F.col("embedding").alias("query_vec"))
    idx = IvfIndex.build_deterministic(corpus, n_centroids=2,
                                       id_col="vec_id")
    with pytest.raises(ValueError):
        knn_join_ivf(queries, idx, k=0)
    with pytest.raises(ValueError):
        knn_join_ivf(queries, idx, nprobe=0)


def test_dim_mismatch_yields_null_distance_sorted_last(spark):
    """Reference errors on dimension mismatch (distance.go:56-58); the
    Spark engine scores mismatched rows as NULL distance, which sorts
    after every real match in ascending knn order — a documented
    divergence (mismatches are excluded rather than fatal)."""
    from toy_vector_db_spark.operators.knn import knn

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("bad", [1.0, 0.0, 0.0])],
        "id STRING, embedding ARRAY<DOUBLE>")
    out = knn(df, [1.0, 0.0], k=3, metric="euclidean").collect()
    assert [r["id"] for r in out[:2]] == ["a", "b"]
    assert out[2]["id"] == "bad" and out[2]["distance"] is None


def test_knn_arrow_matches_hof_tier(spark):
    """The Arrow/NumPy scoring tier returns the same top-k as the
    pure-Column tier on every metric (values to 1e-9, ids exactly)."""
    from toy_vector_db_spark.operators.knn import knn, knn_arrow
    from toy_vector_db_spark.workload import _t

    e = _t(spark, "/root/testdata/sf0.001", "embeddings")
    dim = len(e.select("embedding").first()[0])
    q = [0.1] * dim
    for metric in ("euclidean", "cosine", "dotproduct", "manhattan"):
        a = knn(e, q, k=5, metric=metric).collect()
        b = knn_arrow(e, q, k=5, metric=metric).collect()
        assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b], metric
        for ra, rb in zip(a, b):
            assert ra["distance"] == pytest.approx(rb["distance"], abs=1e-9)


def test_knn_join_ivf_arrow_matches_column_tier(spark):
    """The BLAS cogroup tier (knn_join_ivf_arrow) must return the
    identical all-pairs answer as the Column-expression join — same
    probes, same candidates, same (dist, id) tie order — across every
    metric."""
    from toy_vector_db_spark.operators.ann import IvfIndex
    from toy_vector_db_spark.operators.knn import (knn_join_ivf,
                                                   knn_join_ivf_arrow)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IvfIndex.build_deterministic(emb, n_centroids=4)
    queries = emb.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("query_vec"))
    norm = lambda d: sorted((r["query_id"], r["vec_id"],
                             round(r["distance"], 6)) for r in d.collect())
    for metric in ("euclidean", "cosine", "dotproduct", "manhattan"):
        a = knn_join_ivf(queries, idx, k=3, nprobe=2, metric=metric)
        b = knn_join_ivf_arrow(queries, idx, k=3, nprobe=2, metric=metric)
        assert norm(a) == norm(b), metric
    with pytest.raises(ValueError):
        knn_join_ivf_arrow(queries, idx, k=0)
    with pytest.raises(ValueError):
        knn_join_ivf_arrow(queries, idx, nprobe=0)


def test_knn_join_arrow_matches_column_tier(spark):
    """The exact Arrow batch join must return the identical answer as
    the Column-expression knn_join — same top-k, same (dist, id) tie
    order — across every metric, plus the mismatched-dim exclusion."""
    from toy_vector_db_spark.operators.knn import knn_join_arrow
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    norm = lambda d: sorted((r["query_id"], r["vec_id"],
                             round(r["distance"], 6)) for r in d.collect())
    for metric in ("euclidean", "cosine", "dotproduct", "manhattan"):
        a = knn_join(queries, emb, k=5, metric=metric)
        b = knn_join_arrow(queries, emb, k=5, metric=metric)
        assert norm(a) == norm(b), metric
    # corpus rows of a different dimension are excluded, not scored
    bad = spark.createDataFrame([(999999, [1.0, 2.0])],
                                "vec_id long, embedding array<float>")
    c = knn_join_arrow(queries,
                       emb.unionByName(bad, allowMissingColumns=True), k=5)
    assert 999999 not in {r["vec_id"] for r in c.collect()}
    with pytest.raises(ValueError, match="share one dimension"):
        knn_join_arrow(queries.unionByName(
            spark.createDataFrame([(7777, [0.5, 0.5])],
                                  "query_id long, query_vec array<float>")),
            emb, k=5)
    with pytest.raises(ValueError):
        knn_join_arrow(queries, emb, k=0)


def test_knn_join_arrow_boundary_ties_in_one_batch(spark):
    """Candidates tied at the k-th distance WITHIN one Arrow batch must
    resolve by the (distance, corpus id) order, not by whichever subset
    argpartition happened to keep: dists [1,5,5,5] with cids stored in
    order [40,30,10,20] and k=2 must keep cid 10, the smallest tie.
    Exact ties are common in dedup-centric corpora (duplicate vectors)."""
    from toy_vector_db_spark.operators.knn import knn_join_arrow
    corpus = spark.createDataFrame(
        [(40, [1.0]), (30, [5.0]), (10, [-5.0]), (20, [5.0])],
        "vec_id long, embedding array<double>").coalesce(1)
    queries = spark.createDataFrame([(0, [0.0])],
                                    "query_id long, query_vec array<double>")
    for metric in ("euclidean", "manhattan"):
        got = [(r["vec_id"], r["distance"])
               for r in knn_join_arrow(queries, corpus, k=2, metric=metric)
               .orderBy("distance", "vec_id").collect()]
        assert got == [(40, 1.0), (10, 5.0)], metric
        col = [(r["vec_id"], r["distance"])
               for r in knn_join(queries, corpus, k=2, metric=metric)
               .orderBy("distance", "vec_id").collect()]
        assert got == col, metric


def test_knn_join_arrow_null_query_vector_matches_column_tier(spark):
    """A query with a null vector beside valid ones gets no rows, as in
    the Column knn_join; the valid queries' answers are unchanged."""
    from toy_vector_db_spark.operators.knn import knn_join_arrow
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec")).unionByName(
        spark.createDataFrame([(7777, None)],
                              "query_id long, query_vec array<float>"))
    norm = lambda d: sorted((r["query_id"], r["vec_id"],
                             round(r["distance"], 6)) for r in d.collect())
    for metric in ("euclidean", "cosine", "dotproduct", "manhattan"):
        want = norm(knn_join(queries, emb, k=3, metric=metric))
        assert want and 7777 not in {t[0] for t in want}
        assert norm(knn_join_arrow(queries, emb, k=3, metric=metric)) \
            == want, metric


def _cut_rows(D, k, cids):
    from toy_vector_db_spark.operators.knn import _topk_cut
    import numpy as np
    qq, cc, dd = _topk_cut(D, k, np.arange(len(D)), cids)
    return [(int(q), c, float(d)) for q, c, d in zip(qq, cc, dd)]


def _cut_oracle(D, k, cids):
    import math
    out = []
    for r, row in enumerate(D):
        best = sorted((d, c) for d, c in zip(row, cids) if math.isfinite(d))
        out += [(r, c, float(d)) for d, c in best[:k]]
    return out


def test_topk_cut_equals_per_row_sort():
    """The shared per-query cut of the Arrow tiers equals a per-row
    sorted((distance, id))[:k] with non-finite entries dropped: ties
    at the k-th distance resolve to the smallest ids, duplicate rows
    cut alike, and rows with fewer than k finite candidates keep them
    all."""
    import numpy as np
    rng = np.random.default_rng(7)
    inf = np.inf
    cids = np.array([40, 30, 10, 20, 50, 60])
    D = np.array([
        [1.0, 5.0, 5.0, 5.0, 9.0, 5.0],       # 4-way tie at the k-th
        [1.0, 5.0, 5.0, 5.0, 9.0, 5.0],       # duplicate row
        [inf, 2.0, inf, inf, inf, 3.0],       # fewer than k finite
        [inf, inf, inf, inf, inf, inf],       # nothing finite
        [0.0, 0.0, 0.0, 0.0, 0.0, 0.0],       # all tied
        [np.nan, 1.0, 4.0, -inf, 2.0, 2.0],   # nan and -inf dropped
    ])
    for k in (1, 2, 3, 6, 8):
        assert _cut_rows(D, k, cids) == _cut_oracle(D, k, cids), k
    # string ids, and random blocks drawn from few values (many ties)
    names = np.array([f"v{i:02d}" for i in range(30)], dtype=object)
    for trial in range(20):
        M = rng.integers(0, 4, (5, 30)).astype(float)
        M[rng.random(M.shape) < 0.2] = inf
        M[3] = M[1]
        ids = names[rng.permutation(30)]
        for k in (1, 3, 7, 30, 40):
            assert _cut_rows(M, k, ids) == _cut_oracle(M, k, ids), (trial, k)


@pytest.mark.parametrize("cells", [50, 10 ** 9])
def test_diff_dists_chunking_is_bit_identical(monkeypatch, cells):
    """The direct-form kernel equals the per-query form bit for bit,
    whether the cell bound splits queries and rows into chunks (50)
    or not at all."""
    import importlib

    import numpy as np
    knn_mod = importlib.import_module("toy_vector_db_spark.operators.knn")
    monkeypatch.setattr(knn_mod, "DIFF_CHUNK_CELLS", cells)
    rng = np.random.default_rng(3)
    Q, M = rng.normal(size=(7, 9)), rng.normal(size=(23, 9))
    eu = np.stack([np.sqrt(((M - q) ** 2).sum(axis=1)) for q in Q])
    mh = np.stack([np.abs(M - q).sum(axis=1) for q in Q])
    assert np.array_equal(knn_mod._diff_dists(Q, M, "euclidean"), eu)
    assert np.array_equal(knn_mod._diff_dists(Q, M, "manhattan"), mh)


# -- knn_join_ivf_arrow(broadcast_queries=True) vs the Column tier ----------

METRICS = ("euclidean", "cosine", "dotproduct", "manhattan")
EMB_SMALL = "/root/testdata/sf0.001/embeddings.parquet"


def _triples(df):
    return sorted((r["query_id"], r["vec_id"], round(r["distance"], 9))
                  for r in df.collect())


def _assert_broadcast_parity(queries, idx, k, nprobe, label):
    from toy_vector_db_spark.operators.knn import (knn_join_ivf,
                                                   knn_join_ivf_arrow)
    for metric in METRICS:
        a = knn_join_ivf(queries, idx, k=k, nprobe=nprobe, metric=metric)
        b = knn_join_ivf_arrow(queries, idx, k=k, nprobe=nprobe,
                               metric=metric, broadcast_queries=True)
        want = _triples(a)
        assert want, (label, metric)
        assert _triples(b) == want, (label, metric)


@pytest.fixture(scope="module")
def emb_queries(spark):
    emb = spark.read.parquet(EMB_SMALL)
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    return emb, queries


@pytest.mark.parametrize("n_centroids", [4, 40])
def test_knn_join_ivf_arrow_broadcast_matches_column_tier(
        spark, emb_queries, n_centroids, tmp_path):
    """The broadcast mode picks probes driver-side and scores the
    stored clusters in one Arrow pass; it must return the Column
    tier's exact answer on every metric — with both probe tiers
    (4 centroids: expression fold, 40: BLAS), with tombstones, and on
    a saved-and-reloaded partitioned index."""
    from toy_vector_db_spark.operators.ann import IvfIndex
    emb, queries = emb_queries
    idx = IvfIndex.build_deterministic(emb, n_centroids=n_centroids)
    _assert_broadcast_parity(queries, idx, 5, 3, "built")
    # tombstones: some queries' own rows and their neighbours vanish
    _assert_broadcast_parity(queries, idx.delete(list(range(0, 40, 3))),
                             5, 3, "tombstoned")
    idx.save(str(tmp_path))
    loaded = IvfIndex.load(spark, str(tmp_path))
    _assert_broadcast_parity(queries, loaded, 5, 3, "reloaded")


def test_knn_join_ivf_arrow_broadcast_boundary_ties(spark, emb_queries):
    """Duplicate vectors tie exactly; at the k boundary the smaller
    corpus id must win, as in the Column tier's struct sort. Every
    query's own row and its duplicate tie at distance 0 (k=1 keeps
    one), and duplicated neighbours tie further down (k=4). One
    partition puts both copies in the same Arrow batch, so the tie is
    cut inside the kernel, not only in the merge."""
    from toy_vector_db_spark.operators.ann import IvfIndex
    emb, queries = emb_queries
    dups = emb.filter(F.col("vec_id") < 120).withColumn(
        "vec_id", F.col("vec_id") + 100_000)
    idx = IvfIndex.build_deterministic(
        emb.unionByName(dups).coalesce(1), n_centroids=4)
    _assert_broadcast_parity(queries, idx, 1, 2, "k=1")
    _assert_broadcast_parity(queries, idx, 4, 2, "k=4")


def test_knn_join_ivf_arrow_broadcast_excludes_bad_vectors(spark,
                                                           emb_queries):
    """A null and a wrong-length corpus vector are never scored, even
    when the stored layout gives them a probed cluster."""
    from toy_vector_db_spark.operators.ann import IvfIndex
    emb, queries = emb_queries
    idx = IvfIndex.build_deterministic(emb, n_centroids=4)
    assert idx.table.columns == ["vec_id", "embedding", "label", "__cluster"]
    bad = spark.createDataFrame(
        [(999998, None, 0, 0), (999999, [1.0, 2.0], 0, 0)], idx.table.schema)
    bad_idx = IvfIndex(idx.centroids, idx.table.unionByName(bad),
                       idx.id_col, idx.vec_col)
    _assert_broadcast_parity(queries, bad_idx, 5, 4, "bad vectors")
    from toy_vector_db_spark.operators.knn import knn_join_ivf_arrow
    got = knn_join_ivf_arrow(queries, bad_idx, k=500, nprobe=4,
                             broadcast_queries=True).collect()
    assert len(got) == 12 * 500
    assert not {999998, 999999} & {r["vec_id"] for r in got}


def test_knn_join_ivf_arrow_broadcast_edge_inputs(spark, emb_queries):
    from toy_vector_db_spark.operators.ann import IvfIndex
    from toy_vector_db_spark.operators.knn import (knn_join_ivf,
                                                   knn_join_ivf_arrow)
    emb, queries = emb_queries
    idx = IvfIndex.build_deterministic(emb, n_centroids=4)
    # an empty query side is an empty frame with the output schema
    none = queries.filter(F.lit(False))
    got = knn_join_ivf_arrow(none, idx, k=5, broadcast_queries=True)
    assert got.collect() == []
    want = knn_join_ivf(none, idx, k=5)
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in want.schema]
    # mixed query dimensions raise, as in knn_join_arrow
    mixed = queries.unionByName(spark.createDataFrame(
        [(7777, [0.5, 0.5])], "query_id long, query_vec array<float>"))
    with pytest.raises(ValueError, match="share one dimension"):
        knn_join_ivf_arrow(mixed, idx, k=5, broadcast_queries=True)
    narrow = spark.createDataFrame([(1, [0.5, 0.5])],
                                   "query_id long, query_vec array<float>")
    with pytest.raises(ValueError, match="index dimension"):
        knn_join_ivf_arrow(narrow, idx, k=5, broadcast_queries=True)
    for bad in ({"k": 0}, {"nprobe": 0}, {"metric": "hamming"}):
        with pytest.raises(ValueError):
            knn_join_ivf_arrow(queries, idx, broadcast_queries=True, **bad)


def test_knn_per_group_quota_and_order(spark):
    from toy_vector_db_spark.operators.knn import knn_per_group

    df = spark.createDataFrame(
        [(1, "a", [0.0, 0.0]), (2, "a", [1.0, 0.0]), (3, "a", [2.0, 0.0]),
         (4, "b", [5.0, 0.0]), (5, "b", [6.0, 0.0])],
        "vec_id long, label string, embedding array<float>")
    rows = knn_per_group(df, [0.0, 0.0], "label", k=2,
                         tie_col="vec_id").collect()
    by = {}
    for r in rows:
        by.setdefault(r["label"], []).append(r["vec_id"])
    assert sorted(by["a"]) == [1, 2]   # 2 closest of 3
    assert sorted(by["b"]) == [4, 5]   # group smaller than k kept whole
    import pytest as _pytest
    with _pytest.raises(ValueError):
        knn_per_group(df, [0.0, 0.0], "label", k=0)


def test_knn_per_group_null_distance_excluded(spark):
    from toy_vector_db_spark.operators.knn import knn_per_group

    df = spark.createDataFrame(
        [(1, "a", [0.0, 0.0]), (2, "a", None)],
        "vec_id long, label string, embedding array<float>")
    rows = knn_per_group(df, [0.0, 0.0], "label", k=5).collect()
    assert [r["vec_id"] for r in rows] == [1]
