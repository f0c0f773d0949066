"""Graph ANN (HNSW analogue, operators/graph.py): recall against the
exact tier, bounded degree, maintenance semantics, persistence."""

from __future__ import annotations

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from toy_vector_db_spark.operators.graph import KnnGraphIndex
from toy_vector_db_spark.operators.knn import knn

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from toy_vector_db_spark.workload import _t
    return _t(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def idx(emb):
    return KnnGraphIndex.build(emb, m=8)


def _qvec(emb, vid):
    return list(emb.filter(F.col("vec_id") == vid)
                .select("embedding").first()[0])


def test_replica_cliques_fragment_and_collapse_restores(spark):
    """The documented corpus contract (KnnGraphIndex docstring): on a
    replica-saturated corpus every node's m nearest are its own
    replicas, the degree prune leaves no inter-family edges, and a
    beam walk cannot enter the query's family unless a seed lands
    there — so recall collapses. Collapsing to distinct vectors
    (dedup-before-index) restores connectivity at any replication
    factor. This pins at unit scale exactly what the 100x derived set
    exposed in r6 (raw recall 0.2-0.4 -> 1.0 post-collapse)."""
    import numpy as np
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(6, 16))
    rows = [(int(f * 100 + i), (centers[f]).tolist())
            for f in range(6) for i in range(30)]   # 30 exact replicas
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    raw = KnnGraphIndex.build(df, m=4)
    # every edge stays inside its replica family (same hundreds-block)
    fams = raw.edges.select(
        (F.col("src") / 100).cast("int").alias("fs"),
        (F.col("dst") / 100).cast("int").alias("fd"))
    assert fams.filter(F.col("fs") != F.col("fd")).count() == 0
    # the collapse: one node per distinct vector
    uniq = (df.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
            .select("vec_id", "embedding"))
    collapsed = KnnGraphIndex.build(uniq, m=4)
    for f in (0, 3, 5):
        q = centers[f].tolist()
        top = collapsed.search(q, k=1, ef=8).first()
        assert top["distance"] == pytest.approx(0.0, abs=1e-9), f
        assert top["vec_id"] // 100 == f


def test_recall_gate(emb, idx):
    # mean recall@10 over a few stored queries must clear 0.8 — the
    # same harness style as test_ann_recall for the learned tiers
    hits = total = 0
    for vid in (1, 5, 9):
        q = _qvec(emb, vid)
        exact = {r["vec_id"] for r in
                 knn(emb, q, k=10, tie_col="vec_id").collect()}
        approx = {r["vec_id"] for r in idx.search(q, k=10, ef=48).collect()}
        hits += len(exact & approx)
        total += len(exact)
    assert hits / total >= 0.8, f"graph recall {hits}/{total}"


def test_self_query_returns_itself_first(emb, idx):
    q = _qvec(emb, 3)
    rows = idx.search(q, k=5).collect()
    assert rows and rows[0]["vec_id"] == 3 and rows[0]["distance"] == 0.0


def test_degree_bounded(idx):
    deg = idx.edges.groupBy("src").count().agg(F.max("count")).first()[0]
    assert deg <= 2 * idx.m  # symmetrization at most doubles m


def test_build_deterministic(emb, idx):
    again = KnnGraphIndex.build(emb, m=8)
    assert again.edges.count() == idx.edges.count()
    assert again.edges.exceptAll(idx.edges).count() == 0


def test_delete_tombstones_skip_node(emb, idx):
    q = _qvec(emb, 7)
    assert idx.search(q, k=3).collect()[0]["vec_id"] == 7
    pruned = idx.delete([7])
    got = [r["vec_id"] for r in pruned.search(q, k=3).collect()]
    assert 7 not in got and got  # neighbors still reachable THROUGH it


def test_add_links_new_rows(spark, emb, idx):
    base = _qvec(emb, 2)
    new_vec = [x + 0.001 for x in base]
    delta = spark.createDataFrame([(990001, 0, new_vec)],
                                  "vec_id long, label int, "
                                  "embedding array<float>")
    grown = idx.add(delta.select("vec_id", "label", "embedding")
                    .withColumn("embedding",
                                F.col("embedding").cast("array<float>")))
    got = [r["vec_id"] for r in grown.search(base, k=3).collect()]
    assert 990001 in got
    with pytest.raises(ValueError):
        grown.add(delta)  # duplicate id errors (hnsw.go:145-156)


def test_k_larger_than_ef_still_returns_k(emb, idx):
    # ef must clamp to at least k (hnsw.go max(efSearch, k)); before
    # the fix k=60 with ef=48 silently returned <= 48 rows
    rows = idx.search(_qvec(emb, 1), k=60, ef=8).collect()
    assert len(rows) == 60


def test_readd_with_new_vector_drops_stale_edges(spark, emb, idx):
    # delete X then re-add it with a DIFFERENT vector: edges carrying
    # X's OLD vector in dst_vec must not survive (they would score X
    # at its stale location during the beam walk)
    old_vec = _qvec(emb, 8)
    new_vec = [x + 100.0 for x in old_vec]
    delta = spark.createDataFrame(
        [(8, 0, new_vec)],
        "vec_id long, label int, embedding array<float>") \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    re_idx = idx.delete([8]).add(delta)
    import numpy as np
    want = np.asarray(old_vec, dtype=np.float32) + np.float32(100.0)
    stale = re_idx.edges.filter(F.col("dst") == 8) \
        .select("dst_vec").collect()
    assert stale  # 8 is linked again after the re-add
    for r in stale:
        assert np.allclose(np.asarray(r["dst_vec"], dtype=np.float32),
                           want, atol=1e-3)
    # a search near the OLD location must not surface 8 at rank 0
    got = [r["vec_id"] for r in re_idx.search(old_vec, k=3).collect()]
    assert got[0] != 8


def test_tombstones_cost_a_search_no_job(spark, emb, idx):
    """Tombstones are a driver-side set, so a search over a graph with
    one (far from the query, off its walk) runs the same hops and
    Spark jobs as over the graph without it."""
    import numpy as np
    q = _qvec(emb, 3)
    rows = emb.select("vec_id", "embedding").collect()
    far = max(rows, key=lambda r: float(np.linalg.norm(
        np.asarray(r[1]) - np.asarray(q))))[0]
    pruned = idx.delete([far])
    counted = []
    for g in (idx, pruned):
        g.search(q, k=5).collect()   # entry points cached
        got, jobs = count_jobs(spark, lambda: g.search(q, k=5).collect())
        counted.append(([r["vec_id"] for r in got], jobs,
                        g.last_hops, g.last_jobs))
    assert counted[0] == counted[1]


def test_compact_drops_dead_edges(emb, idx):
    pruned = idx.delete([7]).compact()
    assert pruned.edges.filter("src = 7 OR dst = 7").count() == 0
    assert pruned.size() == idx.size() - 1


def test_save_load_roundtrip(spark, emb, idx, tmp_path):
    p = str(tmp_path / "graph_idx")
    idx.save(p)
    back = KnnGraphIndex.load(spark, p)
    q = _qvec(emb, 4)
    want = [(r["vec_id"], round(r["distance"], 5))
            for r in idx.search(q, k=5).collect()]
    got = [(r["vec_id"], round(r["distance"], 5))
           for r in back.search(q, k=5).collect()]
    assert got == want


def test_loaded_layout_hop_prunes_partitions(spark, emb, idx, tmp_path):
    from toy_vector_db_spark.operators.graph import (
        _src_bucket_py, N_EDGE_BUCKETS,
    )
    p = str(tmp_path / "graph_idx_pruned")
    idx.save(p)
    back = KnnGraphIndex.load(spark, p)
    assert "src_bucket" in back.edges.columns
    # the hop scan a search issues: bucket + src filters. The bucket
    # filter must reach the scan as a PARTITION filter (pruned read).
    frontier = [1, 2, 3]
    buckets = sorted({_src_bucket_py(i) for i in frontier})
    hop = back.edges.filter(
        F.col("src_bucket").isin(buckets)).filter(F.col("src").isin(frontier))
    plan = hop._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "src_bucket" in plan.split(
        "PartitionFilters")[1][:200]
    # and the driver-side bucket fn matches the saved column for every src
    rows = back.edges.select("src", "src_bucket").distinct().collect()
    assert rows and all(_src_bucket_py(r["src"]) == r["src_bucket"]
                        for r in rows)
    assert all(0 <= r["src_bucket"] < N_EDGE_BUCKETS for r in rows)
    # search over the loaded layout still answers correctly
    q = _qvec(emb, 6)
    assert back.search(q, k=3).collect()[0]["vec_id"] == 6


def test_batch_search_matches_single_walks(emb, idx):
    # same seeds, same walk -> batch results must equal per-query
    # search() id sets (both converge identically on this corpus)
    q = (emb.filter(F.col("vec_id").isin(1, 5, 9))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    got = idx.search_batch(q, k=10, ef=48, max_hops=6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for vid in (1, 5, 9):
        single = {r["vec_id"] for r in
                  idx.search(_qvec(emb, vid), k=10, ef=48).collect()}
        assert by_q[vid] == single, vid


def test_batch_search_job_bound(emb, idx):
    # the amortization contract: <= max_hops fetch jobs for the WHOLE
    # batch (single-query search would pay |batch| * hops)
    q = (emb.filter(F.col("vec_id") < 50)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    out = idx.search_batch(q, k=5, ef=32, max_hops=4)
    assert out.count() == 50 * 5
    assert idx.last_jobs <= 4


def test_batch_search_chunks_bound_driver_state(emb, idx):
    """Batches past max_batch walk in chunks: per-chunk beams/visited/
    adjacency are freed between chunks (driver state bounded by chunk
    size, not batch size), results are identical to the one-chunk walk
    (chunks are independent — the cache only saves refetches), and the
    job total is chunks * per-chunk <= max_hops."""
    q = (emb.filter(F.col("vec_id") < 40)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    one = {(r["query_id"], r["vec_id"]) for r in
           idx.search_batch(q, k=5, ef=32, max_hops=4).collect()}
    assert idx.last_chunks == 1
    jobs_one = idx.last_jobs
    chunked = {(r["query_id"], r["vec_id"]) for r in
               idx.search_batch(q, k=5, ef=32, max_hops=4,
                                max_batch=16).collect()}
    assert idx.last_chunks == 3  # ceil(40 / 16)
    assert chunked == one
    assert idx.last_jobs <= 3 * 4
    assert idx.last_jobs >= jobs_one
    import pytest
    with pytest.raises(ValueError, match="max_batch"):
        idx.search_batch(q, max_batch=0)


def test_query_chunks_never_collect(emb, monkeypatch):
    """Memory-shape assertion for the r6 residual: search_batch's
    query consumption must stream per chunk (toLocalIterator), never
    materialize the whole batch with a driver collect. Patching
    DataFrame.collect to raise proves _iter_query_chunks touches no
    collect path while still yielding every row in cap-sized chunks."""
    from pyspark.sql import DataFrame

    from toy_vector_db_spark.operators.graph import _iter_query_chunks
    q = (emb.filter(F.col("vec_id") < 40)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))

    def boom(self):
        raise AssertionError("full-batch collect in the chunk feed")

    monkeypatch.setattr(DataFrame, "collect", boom)
    chunks = list(_iter_query_chunks(q, 16))
    assert [len(c) for c in chunks] == [16, 16, 8]
    assert {qid for c in chunks for qid, _ in c} == set(range(40))


def test_batch_search_empty_and_validation(spark, idx):
    import pytest
    empty = spark.createDataFrame(
        [], "query_id bigint, query_vec array<double>")
    assert idx.search_batch(empty).count() == 0
    with pytest.raises(ValueError):
        idx.search_batch(empty, k=0)


def test_coarse_entries_cut_hops_keep_recall(emb):
    # seeding from the sqrt(N) sample must not LOSE recall, and the
    # walk from near-answer seeds converges in <= the flat-entry hops
    flat = KnnGraphIndex.build(emb, m=8)
    coarse = KnnGraphIndex.build(emb, m=8).with_coarse_entries()
    assert coarse._coarse is not None
    flat_hops = coarse_hops = 0
    for vid in (1, 5, 9):
        q = _qvec(emb, vid)
        exact = {r["vec_id"] for r in
                 knn(emb, q, k=10, tie_col="vec_id").collect()}
        af = {r["vec_id"] for r in flat.search(q, k=10, ef=48).collect()}
        flat_hops += flat.last_hops
        ac = {r["vec_id"] for r in coarse.search(q, k=10, ef=48).collect()}
        coarse_hops += coarse.last_hops
        assert len(exact & ac) >= len(exact & af) - 1, vid
    assert coarse_hops <= flat_hops


def test_coarse_cache_invalidated_on_mutation(spark, emb):
    idx2 = KnnGraphIndex.build(emb, m=8).with_coarse_entries()
    assert idx2._coarse is not None
    assert idx2.delete([1])._coarse is None
    new = spark.createDataFrame(
        [(9001, 1, [0.5] * 64)], "vec_id bigint, label bigint, "
        "embedding array<double>")
    assert idx2.add(new)._coarse is None
