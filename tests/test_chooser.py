"""Cost-based search-tier selection (operators/chooser.py): the
decision table as a pure function, plus routed end-to-end searches
whose answers must match the exact tier."""

from __future__ import annotations

import pytest
from conftest import count_jobs as _jobs
from pyspark.sql import functions as F

from toy_vector_db_spark.operators.chooser import (
    EXACT_MAX_ROWS, choose_search_tier, search_auto,
)

SF = "/root/testdata/sf0.001"


# -- decision table (no Spark) ------------------------------------------------

def test_small_corpus_routes_exact():
    assert choose_search_tier(10_000, 64, 10).tier == "flat-arrow"
    assert choose_search_tier(10_000, 8, 10).tier == "flat-arrow"


def test_exact_recall_forces_flat_even_at_scale():
    p = choose_search_tier(10**9, 64, 10, recall_target=1.0)
    assert p.tier == "flat-arrow"


def test_angular_metrics_route_to_lsh():
    p = choose_search_tier(10**8, 64, 10, metric="cosine",
                           recall_target=0.9)
    assert p.tier == "lsh"
    assert 4 <= p.params["n_planes"] <= 24
    assert p.params["multiprobe"] >= 1


def test_euclidean_routes_to_ivf_with_classic_sizing():
    n = 10**8
    p = choose_search_tier(n, 64, 10, metric="euclidean",
                           recall_target=0.9)
    assert p.tier == "ivf"
    assert p.params["n_centroids"] == int(4 * n ** 0.5)
    assert 1 <= p.params["nprobe"] <= p.params["n_centroids"]


def test_higher_recall_probes_wider():
    lo = choose_search_tier(10**8, 64, 10, recall_target=0.5)
    hi = choose_search_tier(10**8, 64, 10, recall_target=0.95)
    assert hi.params["nprobe"] > lo.params["nprobe"]


def test_memory_budget_forces_pq_with_dividing_m():
    n, dim = 10**8, 64
    p = choose_search_tier(n, dim, 10, recall_target=0.9,
                           memory_budget_bytes=n * dim)  # 1/4 of raw
    assert p.tier == "ivfpq"
    assert dim % p.params["m"] == 0


def test_budget_never_hijacks_non_euclidean_metrics():
    # the IVF-PQ route is euclidean-only: a cosine query under memory
    # pressure must NOT be routed there (it would silently return
    # euclidean answers) — it stays on the angular tier
    n, dim = 10**8, 64
    p = choose_search_tier(n, dim, 10, metric="cosine",
                           recall_target=0.9, memory_budget_bytes=n * dim)
    assert p.tier == "lsh"
    p = choose_search_tier(n, dim, 10, metric="manhattan",
                           recall_target=0.9, memory_budget_bytes=n * dim)
    assert p.tier == "ivf" and "no compressed tier" in p.reason
    # dotproduct DOES have an ADC form (faiss METRIC_INNER_PRODUCT) —
    # the compressed route carries the metric through
    p = choose_search_tier(n, dim, 10, metric="dotproduct",
                           recall_target=0.9, memory_budget_bytes=n * dim)
    assert p.tier == "ivfpq" and p.params["metric"] == "dotproduct"


def test_exact_recall_with_budget_conflict_is_flagged():
    p = choose_search_tier(10**9, 64, 10, recall_target=1.0,
                           memory_budget_bytes=1 << 30)
    assert p.tier == "flat-arrow" and "over the" in p.reason


def test_join_exact_recall_honored_even_over_pair_cap():
    from toy_vector_db_spark.operators.chooser import choose_join_tier
    # default recall (1.0) must stay exact — the caller never opted
    # into approximate answers — with the overage noted in the reason
    p = choose_join_tier(10**6, 10**7, 64, 5)
    assert p.tier == "exact-broadcast" and "NOTE" in p.reason


def test_invalid_inputs_raise():
    with pytest.raises(ValueError):
        choose_search_tier(-1, 64, 10)
    with pytest.raises(ValueError):
        choose_search_tier(100, 64, 10, recall_target=0.0)


# -- routed execution ---------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    from toy_vector_db_spark.workload import _t
    return _t(spark, SF, "embeddings").cache()


def test_search_auto_exact_route_matches_knn(spark, emb):
    from toy_vector_db_spark.operators.knn import knn
    qvec = [r for r in emb.filter("vec_id = 1").select("embedding")
            .collect()][0][0]
    plan, res = search_auto(emb, qvec, k=5, tie_col="vec_id")
    assert plan.tier == "flat-arrow"
    got = [(r["vec_id"], round(r["distance"], 4)) for r in res.collect()]
    want = [(r["vec_id"], round(r["distance"], 4))
            for r in knn(emb, qvec, k=5, tie_col="vec_id").collect()]
    assert got == want


def test_search_auto_ivf_route_returns_neighbors(spark, emb):
    # force the approximate path with a tiny exact cap: the chosen tier
    # must be IVF and the query's own stored row must come back first
    qvec = [r for r in emb.filter("vec_id = 2").select("embedding")
            .collect()][0][0]
    plan, res = search_auto(emb, qvec, k=5, metric="euclidean",
                            recall_target=0.9, exact_max_rows=10)
    assert plan.tier == "ivf"
    rows = res.collect()
    assert rows and rows[0]["vec_id"] == 2 and rows[0]["distance"] == 0.0


def test_join_tier_decision_table():
    from toy_vector_db_spark.operators.chooser import choose_join_tier
    # small x small, exact recall -> exact broadcast
    assert choose_join_tier(5, 10_000, 64, 5).tier == "exact-broadcast"
    # too many pairs -> IVF prune, queries still broadcastable
    p = choose_join_tier(10_000, 10**7, 64, 5, recall_target=0.9)
    assert p.tier == "ivf-broadcast" and p.params["nprobe"] >= 1
    # corpus-sized query side -> co-partitioned BLAS cogroup
    p = choose_join_tier(10**7, 10**7, 64, 5, recall_target=0.9)
    assert p.tier == "ivf-cogroup"


def test_knn_join_auto_ivf_route_matches_ivf_join(spark, emb):
    # force the pruned route with a tiny pair cap; its answers must
    # equal knn_join_ivf on the same deterministic index
    from toy_vector_db_spark.operators.ann import IvfIndex
    from toy_vector_db_spark.operators.chooser import knn_join_auto
    from toy_vector_db_spark.operators.knn import knn_join_ivf
    from pyspark.sql import functions as FF
    queries = emb.filter("vec_id in (1, 2, 3)").select(
        FF.col("vec_id").alias("query_id"),
        FF.col("embedding").alias("query_vec"))
    plan, res = knn_join_auto(queries, emb, k=5, recall_target=0.9,
                              exact_max_pairs=10)
    assert plan.tier == "ivf-broadcast"
    idx = IvfIndex.build_deterministic(
        emb, n_centroids=min(plan.params["n_centroids"], emb.count()))
    want = knn_join_ivf(queries, idx, k=5, nprobe=plan.params["nprobe"])
    norm = lambda d: sorted((r["query_id"], r["vec_id"],
                             round(r["distance"], 9)) for r in d.collect())
    assert norm(res) == norm(want)


def test_search_auto_lsh_route_returns_neighbors(spark, emb):
    qvec = [r for r in emb.filter("vec_id = 3").select("embedding")
            .collect()][0][0]
    plan, res = search_auto(emb, qvec, k=5, metric="cosine",
                            recall_target=0.5, exact_max_rows=10)
    assert plan.tier == "lsh"
    rows = res.collect()
    assert rows and rows[0]["vec_id"] == 3


# -- sizing seam and job budgets ----------------------------------------------

EMB = f"{SF}/embeddings.parquet"




@pytest.fixture(scope="module")
def emb_copy(tmp_path_factory):
    """A private copy of the sf0.001 embeddings file: a scan of the
    original path can match a frame another test cached, and a cached
    plan is not a file scan."""
    import shutil
    dst = tmp_path_factory.mktemp("emb") / "embeddings.parquet"
    shutil.copy(EMB, dst)
    return str(dst)


@pytest.fixture(scope="module")
def bare_scans(spark, emb_copy, tmp_path_factory):
    """(queries, corpus) as bare parquet scans: 10 query rows written
    to their own file, the embeddings copy as the corpus."""
    qdir = str(tmp_path_factory.mktemp("queries"))
    spark.read.parquet(emb_copy).filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec")) \
        .coalesce(1).write.mode("overwrite").parquet(qdir)
    return (spark.read.schema("query_id long, query_vec array<float>")
            .parquet(qdir),
            spark.read.schema("vec_id long, embedding array<float>, "
                              "label int").parquet(emb_copy))


def test_knn_join_auto_ivf_broadcast_job_and_plan_budget(spark, bare_scans):
    # over bare scans the only jobs before the frame exists are the
    # det_sample centroid pick and the query collect; the plan is one
    # Arrow pass (no broadcast hash join of exploded probes)
    from toy_vector_db_spark.operators.chooser import knn_join_auto
    queries, corpus = bare_scans
    (plan, res), jobs = _jobs(spark, lambda: knn_join_auto(
        queries, corpus, k=5, recall_target=0.9, exact_max_pairs=10))
    assert plan.tier == "ivf-broadcast"
    assert jobs <= 2
    text = res._jdf.queryExecution().executedPlan().toString()
    assert text.count("MapInPandas") == 1
    assert "BroadcastHashJoin" not in text
    assert {r["query_id"] for r in res.collect()} == set(range(10))


def test_knn_join_auto_exact_route_launches_no_sizing_job(spark, bare_scans):
    from toy_vector_db_spark.operators.chooser import knn_join_auto
    queries, corpus = bare_scans
    (plan, _), jobs = _jobs(spark, lambda: knn_join_auto(queries, corpus,
                                                         k=5))
    assert plan.tier == "exact-broadcast"
    assert jobs == 0


def test_rows_reads_footers_of_file_scans(spark, emb_copy, tmp_path):
    from toy_vector_db_spark.operators.ann import IvfIndex
    from toy_vector_db_spark.operators.chooser import rows
    from toy_vector_db_spark.plans.catalog import CollectionCatalog
    from toy_vector_db_spark.sources.tables import ensure_parallelism
    emb = spark.read.parquet(emb_copy)
    emb.write.partitionBy("label").parquet(str(tmp_path / "by_label"))
    IvfIndex.build_deterministic(emb, n_centroids=4).save(
        str(tmp_path / "ivf"))
    cat = CollectionCatalog(spark, str(tmp_path / "catalog"))
    cat.insert_df("c", emb.select(F.col("vec_id").alias("id"), "embedding"))
    cat.insert_df("c", emb.limit(7).select(
        (F.col("vec_id") + 10_000).alias("id"), "embedding"))
    scans = {
        "bare": emb,
        "projected": emb.select("vec_id", F.size("embedding").alias("n")),
        "partition directory": spark.read.parquet(str(tmp_path / "by_label")),
        "saved index": IvfIndex.load(spark, str(tmp_path / "ivf")).table,
        "catalog": cat.read("c"),
        # repartitions never change the row count: every _tp() read
        # goes through ensure_parallelism
        "ensure_parallelism": ensure_parallelism(emb),
        "repartitioned by key": emb.repartition(7, "vec_id"),
    }
    for name, df in scans.items():
        want = df.count()
        got, jobs = _jobs(spark, lambda: rows(df))
        assert (got, jobs) == (want, 0), name


def test_rows_falls_back_to_count(spark, emb_copy):
    from toy_vector_db_spark.operators.chooser import rows
    emb = spark.read.parquet(emb_copy)
    frames = {
        "filtered": emb.filter("vec_id % 3 = 0"),
        "limited": emb.limit(17),
        "unioned": emb.unionByName(emb),
        "local": spark.createDataFrame([(1,), (2,)], "a int"),
    }
    for name, df in frames.items():
        want = df.count()
        got, jobs = _jobs(spark, lambda: rows(df))
        assert got == want and jobs >= 1, name


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_footer_sizing_leaves_tier_picks_unchanged(spark, sf, tmp_path,
                                                   monkeypatch):
    # the same decisions as sizing with count(): every entry point, on
    # the exact and the pruned sides of each crossover
    import shutil
    from toy_vector_db_spark.operators import chooser
    from toy_vector_db_spark.operators.chooser import (
        _parquet_scan_files, choose_join_tier, knn_join_auto, search_auto)
    from toy_vector_db_spark.workload import _tp
    shutil.copy(f"{sf}/embeddings.parquet", tmp_path)
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    assert _parquet_scan_files(emb) is not None
    queries = emb.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("query_vec"))
    nq, nc = queries.count(), emb.count()
    qvec = emb.first()["embedding"]
    for kw in ({}, {"recall_target": 0.9, "exact_max_pairs": 10}):
        a, _ = knn_join_auto(queries, emb, k=5, **kw)
        assert a == choose_join_tier(nq, nc, None, 5, **kw), kw
    for kw in ({}, {"recall_target": 0.9, "exact_max_rows": 10},
               {"metric": "cosine", "recall_target": 0.5,
                "exact_max_rows": 10}):
        a, _ = search_auto(emb, qvec, k=5, **kw)
        assert a == choose_search_tier(nc, len(qvec), 5, **kw), kw
    # text_tier decides as `count() >= crossover` did, sizing a _tp
    # read (ensure_parallelism) from its footers
    shutil.copy(f"{sf}/documents.parquet", tmp_path)
    docs = _tp(spark, str(tmp_path), "documents")
    nd = docs.count()
    for crossover in (chooser.TEXT_ARROW_MIN_DOCS, nd, nd + 1):
        monkeypatch.setattr(chooser, "TEXT_ARROW_MIN_DOCS", crossover)
        want = "arrow" if nd >= crossover else "column"
        assert _jobs(spark, lambda: chooser.text_tier(docs)) == (want, 0)


# -- text tier seam -----------------------------------------------------------

def test_text_tier_crossover_boundary(spark):
    from toy_vector_db_spark.operators.chooser import (
        TEXT_ARROW_MIN_DOCS, text_tier)
    assert text_tier(spark.range(TEXT_ARROW_MIN_DOCS - 1)) == "column"
    assert text_tier(spark.range(TEXT_ARROW_MIN_DOCS)) == "arrow"
    # explicit tiers pass through unsized
    assert text_tier(spark.range(1), "arrow") == "arrow"
    assert text_tier(spark.range(TEXT_ARROW_MIN_DOCS), "column") == "column"


def _text_entry_points():
    from toy_vector_db_spark.operators import crossdoc, decontam, dedup
    from toy_vector_db_spark.operators.chooser import text_tier
    pairs = lambda d: d.select(F.col("doc_id").alias("id_a"),
                               F.col("doc_id").alias("id_b"))
    return {
        "text_tier": text_tier,
        "shingles_tiered": lambda d, t: dedup.shingles_tiered(d, tier=t),
        "minhash_signatures_tiered":
            lambda d, t: dedup.minhash_signatures_tiered(d, tier=t),
        "minhash_lsh_pairs":
            lambda d, t: dedup.minhash_lsh_pairs(d, sig_tier=t),
        "fingerprints_tiered":
            lambda d, t: dedup.fingerprints_tiered(d, tier=t),
        "simhash_tiered": lambda d, t: dedup.simhash_tiered(d, tier=t),
        "simhash_dup_clusters":
            lambda d, t: dedup.simhash_dup_clusters(d, tier=t),
        "simhash_hamming_pairs":
            lambda d, t: dedup.simhash_hamming_pairs(d, tier=t),
        "simhash_neighbor_counts":
            lambda d, t: dedup.simhash_neighbor_counts(d, tier=t),
        "ngram_jaccard_pairs":
            lambda d, t: dedup.ngram_jaccard_pairs(d, pairs(d), tier=t),
        "exploded_shingles":
            lambda d, t: crossdoc.exploded_shingles(d, tier=t),
        "shared_shingle_stats":
            lambda d, t: crossdoc.shared_shingle_stats(d, tier=t),
        "shingle_hash_set":
            lambda d, t: decontam.shingle_hash_set(d, tier=t),
        "contamination_report":
            lambda d, t: decontam.contamination_report(d, d, train_tier=t),
    }


@pytest.mark.parametrize("entry", sorted(_text_entry_points()))
def test_unknown_text_tier_raises_at_every_entry_point(spark, entry):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown text tier 'arow'"):
        _text_entry_points()[entry](docs, "arow")


def test_streaming_frames_take_the_column_tier_under_auto(spark):
    from toy_vector_db_spark.operators.chooser import text_tier
    from toy_vector_db_spark.operators.crossdoc import exploded_shingles
    stream = spark.readStream.format("rate").load().select(
        F.col("value").alias("doc_id"),
        F.col("value").cast("string").alias("text"))
    assert text_tier(stream) == "column"
    assert text_tier(stream, "arrow") == "arrow"
    assert exploded_shingles(stream).isStreaming
