"""Tier and form crossover probes over the sf embeddings, two modes.

``assign`` (default) — the two arithmetic forms of the one
nearest-centroid rule (`knn._probe_np`): the in-order accumulation
(`knn._inorder_dists`, bit-identical to the SQL fold) against the BLAS
expansion (`knn._blas_d2`), over every embedding row, at a sweep of
centroid counts. NumPy only, no Spark: each cell is best-of-``runs``
ms of one assign pass (nearest centroid) and one probe pass (3 nearest
in (distance, index) order), which regenerates the table next to
`knn.INORDER_MAX_CENTROIDS`.

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
    import pyarrow.parquet as pq

    from toy_vector_db_spark.operators.knn import _blas_d2, _inorder_dists

    X = np.array(pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                               columns=["embedding"])[0].to_pylist())
    print(f"rows={len(X)} dim={X.shape[1]}")

    def best_ms(fn) -> float:
        out = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            out = min(out, time.perf_counter() - t0)
        return out * 1e3

    print("form     pass   " + " ".join(f"{n:>6d}" for n in NLISTS))
    for name, form in (("inorder", _inorder_dists), ("blas", _blas_d2)):
        cells = {"assign": [], "probe": []}
        for nlist in NLISTS:
            C = X[:nlist]
            cells["assign"].append(best_ms(
                lambda: np.argmin(form(X, C), axis=1)))
            cells["probe"].append(best_ms(lambda: np.argsort(
                form(X, C), axis=1, kind="stable")[:, :3]))
        for pass_, ts in cells.items():
            print(f"{name:7s}  {pass_:6s} "
                  + " ".join(f"{t:6.1f}" for t in ts), flush=True)


if __name__ == "__main__":
    main()
