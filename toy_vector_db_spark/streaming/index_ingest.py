"""Streaming ANN index maintenance: keep a persisted index fresh from
a stream of new vectors.

Beyond-parity: the reference's ``Index.Add`` (pkg/index/index.go:19-49,
flat.go:68-97, hnsw.go:145-242) mutates an in-memory structure one
vector at a time under a mutex; the 100 TB twin is a Structured
Streaming job that appends micro-batches to the index's partitioned
parquet layout:

- The index transform (LSH signature / IVF cluster / PQ code) is a pure
  Column expression (``_index_rows``), so it runs ON the stream —
  map-only, whole-stage codegen, no state store, no foreachBatch.
- The sink is Spark's transactional file sink: appends are recorded in
  ``_spark_metadata``, so a crashed/retried micro-batch is exactly-once
  — stronger than the reference's mutex (which has no durability at
  all: a crash between Add and Save loses the vector).
- The stream lands in a SIBLING directory (``<TABLE_DIR>_stream``),
  not the batch-saved one: a batch read of a directory containing a
  file-sink ``_spark_metadata`` log trusts the log and silently
  ignores every file not written by the stream — it would hide the
  bootstrap rows. ``load_fresh`` adds the sink's committed files to
  the loaded index as a segment; both layouts carry the same partition
  columns, so bucket/cluster probes keep pruning at the source on each
  side.

Typical shape::

    idx = LshIndex.build(bootstrap_df, n_planes=12)
    idx.save(path)                        # initial layout + params
    q = start_index_ingest(idx, stream_rows, path, ckpt)
    q.awaitTermination()                  # or leave running
    fresh = load_fresh(LshIndex, spark, path)   # bootstrap + streamed

Folding the stream into the base layout is an owner-side compaction:
``load_fresh(...).save(path)`` then delete the stream dir + checkpoint
(otherwise the streamed rows double on the next load).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def encode_index_stream(index, stream_rows: DataFrame) -> DataFrame:
    """Apply the index's map-only transform to a streaming DataFrame.
    Works for every index type whose ``_index_rows`` is a pure Column
    expression (LshIndex, deterministic IvfIndex, PqIndex, IvfPqIndex —
    KMeans-trained IvfIndex too, since assignment is an expression over
    frozen centroids)."""
    encoded = index._index_rows(stream_rows)
    return encoded.select(*index.table.columns)


def start_index_ingest(index, stream_rows: DataFrame, path: str,
                       checkpoint_dir: str,
                       available_now: bool = False) -> StreamingQuery:
    """Append-only streaming maintenance of a saved index.

    ``index`` supplies the frozen parameters (planes / centroids /
    codebooks) and the target layout (``TABLE_DIR``, ``PARTITION_COL``);
    ``stream_rows`` is a streaming DataFrame with the base columns
    (id, vector, ...). ``available_now=True`` drains the currently
    available input and stops — the batch-backfill trigger.

    Deletes stay an owner-side operation (``index.delete`` +
    ``save``): streaming upserts into parquet would need a
    log-structured table format, out of scope by design.
    """
    out = encode_index_stream(index, stream_rows)
    w = (out.writeStream.format("parquet")
         .option("path", os.path.join(path, index.TABLE_DIR + "_stream"))
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append"))
    if index.PARTITION_COL:
        w = w.partitionBy(index.PARTITION_COL)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def load_fresh(index_cls, spark, path: str):
    """Load a saved index plus everything its ingest stream has
    committed so far (one consistent file-sink snapshot)."""
    idx = index_cls.load(spark, path)
    sdir = os.path.join(path, index_cls.TABLE_DIR + "_stream")
    if os.path.isdir(os.path.join(sdir, "_spark_metadata")):
        from ..operators.ann import _local
        streamed = spark.read.schema(idx.table.schema).parquet(sdir)
        return idx._with_files(
            idx._files() + [_local(u) for u in streamed.inputFiles()], None)
    return idx
