"""Tier-crossover probes over the sf embeddings, two modes.

``assign`` (default) — A/B the IVF expression-vs-Arrow tier crossover
(r13, VERDICT r12 #2). The r12 expression folding (one transform
lambda over a nested-array literal instead of n_centroids fold copies)
changed the cost balance the EXPR_MAX_CENTROIDS=32 crossover was tuned
under (r7). This probe times the two tiers of `IvfIndex._assign_expr`
and `knn.probe_clusters_expr` — the per-row hot loops of every
IVF/IVF-PQ build and batch join — at a sweep of centroid counts,
forced through each tier by monkeypatching the constant. Both tiers
are value-identical by contract (first-minimum argmin / stable argsort
tie-breaks; parity-tested), so each cell is best-of-``runs`` of a full
noop-sink pass.

``join`` — the chooser's ivf-broadcast route: the Column broadcast
hash join (`knn.knn_join_ivf`) against the one-pass Arrow kernel
(`knn.knn_join_ivf_arrow(broadcast_queries=True)`) at batch sizes
1/10/100/1000 and nlist 16-565, nprobe from the chooser's rule at
recall 0.9, k=10, euclidean. Each index is built deterministically and
its table cached once; each cell is best-of-``runs`` of building the
join and collecting it (the Arrow route's query collect included).

Usage: python tools/tier_probe.py [assign|join] [sf_dir] [runs]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NLISTS = [8, 16, 32, 64, 128, 179, 256, 565]
BATCHES = [1, 10, 100, 1000]
JOIN_NLISTS = [16, 32, 64, 128, 179, 256, 565]


def main() -> None:
    args = sys.argv[1:]
    mode = args.pop(0) if args and args[0] in ("assign", "join") else "assign"
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    runs = int(args[1]) if len(args) > 1 else 3
    (join_probe if mode == "join" else assign_probe)(sf_dir, runs)


def join_probe(sf_dir: str, runs: int) -> None:
    import math

    from pyspark.sql import functions as F

    from toy_vector_db_spark.operators.ann import IvfIndex, det_sample
    from toy_vector_db_spark.operators.knn import (knn_join_ivf,
                                                   knn_join_ivf_arrow)
    from toy_vector_db_spark.session import get_spark

    spark = get_spark("tier-probe")
    spark.sparkContext.setLogLevel("ERROR")
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")) \
        .select("vec_id", "embedding")
    sample = det_sample(e, max(JOIN_NLISTS), "vec_id", "embedding")
    print(f"rows={e.count()} dim={sample.shape[1]}")

    def best(make) -> float:
        out = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            make().collect()
            out = min(out, time.perf_counter() - t0)
        return out

    print("batch  tier    " + " ".join(f"{n:>6d}" for n in JOIN_NLISTS))
    for b in BATCHES:
        q = e.filter(F.col("vec_id") < b).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec")).cache()
        q.count()
        cells = {"column": [], "arrow": []}
        for nlist in JOIN_NLISTS:
            built = IvfIndex.build_deterministic(e, nlist, sample=sample)
            idx = IvfIndex(built.centroids, built.table.cache(),
                           built.id_col, built.vec_col)
            idx.table.count()
            nprobe = math.ceil(nlist * (0.02 + 0.2 * 0.9))
            cells["column"].append(best(lambda: knn_join_ivf(
                q, idx, k=10, nprobe=nprobe)))
            cells["arrow"].append(best(lambda: knn_join_ivf_arrow(
                q, idx, k=10, nprobe=nprobe, broadcast_queries=True)))
            idx.table.unpersist()
        for tier, ts in cells.items():
            print(f"{b:5d}  {tier:6s}  " + " ".join(f"{t:6.2f}" for t in ts),
                  flush=True)
        q.unpersist()


def assign_probe(sf_dir: str, runs: int) -> None:
    import numpy as np

    import importlib
    # operators/__init__ re-exports the knn FUNCTION under the same
    # name, shadowing the submodule on attribute access
    knn_mod = importlib.import_module("toy_vector_db_spark.operators.knn")
    from toy_vector_db_spark.operators.ann import IvfIndex, det_sample
    from toy_vector_db_spark.session import get_spark

    spark = get_spark("tier-probe")
    spark.sparkContext.setLogLevel("ERROR")
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    e.count()  # warm footers/JVM
    n_rows = e.count()
    sample = det_sample(e, max(NLISTS), "vec_id", "embedding")
    print(f"rows={n_rows} dim={sample.shape[1]}")

    def t_noop(df) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    from pyspark.sql import functions as F
    for nlist in NLISTS:
        if nlist > len(sample):
            continue
        cents = np.asarray(sample)[:nlist]
        row = [f"nlist={nlist:4d}"]
        for tier, cap in (("expr", 10**9), ("arrow", 0)):
            prev = knn_mod.EXPR_MAX_CENTROIDS
            knn_mod.EXPR_MAX_CENTROIDS = cap
            try:
                spark.sparkContext.setJobDescription(
                    f"assign nlist={nlist} tier={tier}")
                assign = e.withColumn(
                    "__cluster", IvfIndex._assign_expr(cents, "embedding"))
                ta = t_noop(assign.select("vec_id", "__cluster"))
                spark.sparkContext.setJobDescription(
                    f"probe nlist={nlist} tier={tier}")
                probes = knn_mod.probe_clusters_expr(
                    cents, F.col("embedding"), 3)
                tp = t_noop(e.select("vec_id", probes.alias("__p")))
            finally:
                knn_mod.EXPR_MAX_CENTROIDS = prev
                spark.sparkContext.setJobDescription(None)
            row.append(f"{tier}: assign {ta:6.2f}s probe {tp:6.2f}s")
        print(" | ".join(row), flush=True)


if __name__ == "__main__":
    main()
