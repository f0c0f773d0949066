"""Streaming similarity search: a stream of query vectors against a
static ANN index.

Beyond-parity: the reference serves one query per CLI/SQL invocation
(pkg/sql/executor/executor.go:251-388); the 100 TB twin is a standing
Structured Streaming job answering an unbounded query feed against a
frozen index — the online-serving half of the batch `knn_join_ivf`.

Shape:

- The map side runs ON the stream: each query row explodes to its
  ``nprobe`` probe clusters via the same pandas UDF as the batch join
  (``probe_clusters_expr``), then a STREAM-STATIC equi-join
  on the cluster id against the index table scores candidates —
  incremental, stateless, no watermark needed (stream-static joins
  carry no state store).
- The per-query top-k is a grouped reduction, which an append-mode
  unbounded stream cannot express without event-time state; queries
  are complete within their micro-batch, so the reduction runs in
  ``foreachBatch`` over the already-scored micro-batch.
- The sink is idempotent: results land partitioned by ``__batch_id``
  with dynamic partition overwrite, so a crashed/replayed micro-batch
  overwrites its own partition instead of duplicating — the standard
  exactly-once ``foreachBatch`` recipe.

Batch parity is the contract (tests/test_streaming_search.py): drain
the query stream, read the sink, and the result equals the batch
``knn_join_ivf`` over the same query set, value for value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.knn import DEFAULT_K, _ivf_column_pairs, _per_query_topk


def score_query_stream(index, query_stream: DataFrame,
                       nprobe: int = 3, metric: str = "euclidean",
                       query_id_col: str = "query_id",
                       query_vec_col: str = "query_vec",
                       dist_col: str = "distance") -> DataFrame:
    """Probe-explode + stream-static cluster equi-join + distance
    scoring, all expressed on the (possibly streaming) query side — the
    batch ``knn_join_ivf``'s pair builder without its query broadcast.
    Returns scored (__qid, __cid, distance) pairs — unbounded, one row
    per (query, candidate)."""
    return _ivf_column_pairs(query_stream, index, nprobe, metric,
                             query_id_col, query_vec_col, dist_col,
                             broadcast=False)


def start_streaming_search(index, query_stream: DataFrame, out_path: str,
                           checkpoint_dir: str, k: int = DEFAULT_K,
                           nprobe: int = 3, metric: str = "euclidean",
                           query_id_col: str = "query_id",
                           query_vec_col: str = "query_vec",
                           available_now: bool = False) -> StreamingQuery:
    """Stand up the serving job. Each micro-batch of scored pairs is
    reduced to per-query top-k (the batch join's two-phase reduction)
    and written to ``out_path`` partitioned by micro-batch id with
    dynamic overwrite — replays are idempotent."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = score_query_stream(index, query_stream, nprobe, metric,
                                query_id_col, query_vec_col)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        topk = _per_query_topk(batch_df, k, "distance").select(
            F.col("__qid").alias(query_id_col),
            F.col("__cid").alias(index.id_col),
            F.col("distance"))
        (topk.withColumn("__batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__batch_id").parquet(out_path))

    w = (scored.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def read_search_results(spark, out_path: str) -> DataFrame:
    """All results the serving job has committed so far."""
    return spark.read.parquet(out_path).drop("__batch_id")
