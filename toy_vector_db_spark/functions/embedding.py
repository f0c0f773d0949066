"""Deterministic mock embedding pipeline.

Reference: /root/reference/pkg/embedding/
  - Mock "all-MiniLM-L6-v2" model (models/huggingface.go:36-87): a hash
    of the text seeds a deterministic draw of 384 floats in [-1, 1),
    then L2-normalizes. Deterministic per text.
  - Text processor (pipeline/processor.go:21-40): pass-through.
  - JSON processor (pipeline/processor.go:43-78): map -> "k: v" pairs
    joined by spaces — Go map iteration makes the reference's output
    NONDETERMINISTIC; we sort keys (SURVEY §2.7 F12 fix).
  - EMBEDDING() SQL function (sql/executor/functions.go:45-92) exists in
    the reference but is never registered (:95-97 registers only COUNT);
    here ``register_udfs`` actually installs it.

The reference seeds Go's math/rand, which neither Python nor a SQL
oracle can reproduce (SURVEY §7 risk 5); the parity contract is
determinism + 384 dims + unit norm. We meet it with a HASH-CHAIN
construction instead of a PRNG, which buys two big properties:

  value(j) = int(md5(sha256(text) + ":" + j)[:8], 16) / 2^31 - 1,
  then L2-normalize; all arithmetic in IEEE double.

1. It is a pure Column expression (sha2/md5/conv/transform/aggregate),
   so BULK embedding runs inside whole-stage codegen — no Python
   workers, no Arrow transfer, and Catalyst can pipeline it into the
   downstream knn / dedup plan. UDFs are reserved for the SQL-facing
   EMBEDDING() registration.
2. Any engine with md5/sha256 derives bit-identical vectors, so the
   DuckDB oracle value-checks the whole embed -> knn pipeline
   (embed_documents_values / search_text_documents in workload.py),
   not just the dim/norm contract.

``embed_one`` (driver-side, plain Python), ``embedding_expr`` (Column),
and the oracle SQL all fold the norm left-to-right so the doubles agree
bit-for-bit across all three.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .util import bind_once

EMBEDDING_DIM = 384  # mocked all-MiniLM-L6-v2 (huggingface.go:31)


def embed_one(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Hash-chain embedding of one string, driver-side. Bit-identical
    to ``embedding_expr`` (sequential fold, IEEE double throughout)."""
    seed = hashlib.sha256(text.encode("utf-8")).hexdigest()
    vals = [int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:8], 16)
            / 2.0 ** 31 - 1.0 for j in range(dim)]
    acc = 0.0
    for x in vals:
        acc += x * x
    nrm = math.sqrt(acc)
    if nrm > 0:
        vals = [x / nrm for x in vals]
    return np.asarray(vals, dtype=np.float64)


def embedding_expr(text: Column, dim: int = EMBEDDING_DIM) -> Column:
    """EMBEDDING(text) as a pure Column expression (F8/F9/F10): the
    scale path for bulk embedding — JVM-side, codegen-friendly, no
    Python in the loop. NULL embeds as the empty string (matching the
    UDF). The sha256 seed, the raw array, and the norm are each bound
    once per row via bind_once so codegen doesn't re-inline them per
    element."""
    t = F.coalesce(text.cast("string"), F.lit(""))

    def from_seed(seed: Column) -> Column:
        raw = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.conv(
                F.substring(
                    F.md5(F.concat(seed, F.lit(":"), j.cast("string"))), 1, 8),
                16, 10).cast("long") / F.lit(2.0 ** 31) - F.lit(1.0))

        def normed(arr: Column) -> Column:
            nrm_expr = F.sqrt(F.aggregate(arr, F.lit(0.0),
                                          lambda s, x: s + x * x))
            return bind_once(
                nrm_expr,
                lambda nrm: F.when(
                    nrm > 0, F.transform(arr, lambda x: x / nrm)).otherwise(arr))

        return bind_once(raw, normed)

    return bind_once(F.sha2(t, 256), from_seed)


# explicit DataType (not a DDL string): keeps the UDF constructible
# before any SparkSession exists
@pandas_udf(T.ArrayType(T.DoubleType()))
def embed_text(texts: pd.Series) -> pd.Series:
    """EMBEDDING(text) as an Arrow-batched pandas UDF — the SQL-facing
    registration (F8). Bulk pipelines use ``embedding_expr`` instead;
    this exists so ad-hoc SQL can call EMBEDDING('...') and so tests
    can cross-check the UDF against the Column expression bit-for-bit."""
    return texts.map(lambda t: embed_one("" if t is None else str(t)))


def register_udfs(spark: SparkSession) -> None:
    """Install EMBEDDING for SQL use — completing the reference's
    orphaned registration (functions.go:95-97)."""
    spark.udf.register("embedding", embed_text)


def process_text(col: Column) -> Column:
    """Text processor: pass-through to string (processor.go:21-40)."""
    return col.cast("string")


def process_json(col: Column) -> Column:
    """JSON object -> "k: v" pairs joined by spaces, keys sorted for
    determinism (processor.go:43-78; sorting fixes the Go map-order
    nondeterminism). Pure Column expr — no UDF."""
    m = F.from_json(col, "map<string,string>")
    entries = F.array_sort(F.map_entries(m))  # struct sort = key order
    return F.concat_ws(
        " ", F.transform(entries,
                         lambda e: F.concat(e["key"], F.lit(": "), e["value"])))


def embed_documents(docs: DataFrame, content_col: str = "text",
                    content_type: str = "text",
                    out_col: str = "vector") -> DataFrame:
    """Document ingest (D7, cmd_embed.go:21-120): process content by
    type, append the embedding column. JVM-side end to end — the
    embedding is a Column expression, so the whole ingest is one
    codegen'd projection over the scan."""
    from ..sources.tables import ensure_parallelism
    col = F.col(content_col)
    processed = process_json(col) if content_type == "json" else process_text(col)
    return ensure_parallelism(docs).withColumn(out_col, embedding_expr(processed))


def ingest_documents(catalog, collection: str, docs: DataFrame,
                     id_col: str = "doc_id", content_col: str = "text",
                     content_type: str = "text",
                     now=None) -> int:
    """Embed-and-store (D7): one codegen'd pass computes the embedding,
    then BOTH tables are written — the vector row (id, embedding,
    metadata={'content_type': ...}) and the full document sidecar
    (content + vector + metadata + timestamps), matching the reference,
    which persists the whole Document next to the vector
    (cmd_embed.go:100-112; Document shape document.go:18-26).

    ``now`` pins created_at/updated_at for reproducible ingests; default
    is the cluster clock. The embedded frame is localCheckpoint'ed
    (eager — ingest is an action anyway) so the vector write and the
    sidecar write share ONE embedding computation. Returns row count.
    """
    embedded = embed_documents(
        docs.select(F.col(id_col).cast("string").alias("doc_id"),
                    F.col(content_col).cast("string").alias("content")),
        content_col="content", content_type=content_type,
        out_col="vector").localCheckpoint()
    ts = F.lit(now).cast("timestamp") if now is not None \
        else F.current_timestamp()
    n = catalog.insert_df(collection, embedded.select(
        F.col("doc_id").alias("id"),
        F.col("vector").cast("array<float>").alias("embedding"),
        F.create_map(F.lit("content_type"), F.lit(content_type))
        .alias("metadata")))
    catalog.upsert_docs(collection, embedded.select(
        "doc_id", "content", F.lit(content_type).alias("content_type"),
        F.col("vector").cast("array<float>").alias("vector"),
        F.create_map(F.lit("content_type"), F.lit(content_type))
        .alias("metadata"),
        ts.alias("created_at"), ts.alias("updated_at")))
    return n


def search_text(corpus: DataFrame, text: str, k: int = 10,
                metric: str = "cosine", vec_col: str = "vector",
                content_type: str = "text", tie_col: str | None = None,
                id_cols=None):
    """search-text composition (K11, cmd_search_text.go:15-118): embed
    the free-text query driver-side (one string — no cluster roundtrip),
    then run exact knn against the embedded corpus. No SQL string
    round-trip, unlike the reference (:39-50). The corpus vector column
    may be an unmaterialized embedding projection: knn binds it once per
    row, so the embedding chain is never re-inlined per metric term.

    ``id_cols``: project to these columns and score on the Arrow/BLAS
    tier (``knn_arrow``, the fast path; the result carries only id_cols
    + distance). Default keeps every corpus column and the pure-Column
    tier."""
    from ..operators.knn import knn, knn_arrow
    qvec = [float(x) for x in embed_one(text)]
    if id_cols is not None:
        return knn_arrow(corpus.select(*id_cols, vec_col), qvec, k=k,
                         metric=metric, vec_col=vec_col,
                         id_cols=list(id_cols), tie_col=tie_col)
    return knn(corpus, qvec, k=k, metric=metric, vec_col=vec_col,
               tie_col=tie_col)
