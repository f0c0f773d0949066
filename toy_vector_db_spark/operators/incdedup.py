"""Incremental near-duplicate detection against a persisted store.

The batch pipeline (``dedup.minhash_lsh_pairs``) recomputes corpus
signatures every run — right for a one-shot clean, wrong for the
ingest loop a production corpus actually lives in: a bounded batch
arrives every day and must be checked against EVERYTHING accepted so
far without touching the accepted corpus' text again. The reference
engine has no dedup surface at all (beyond-parity tier, like the rest
of the training-pipeline operators); the store layout follows the
same save/load conventions as the ANN index layouts
(`operators/ann.py` — parquet payload + json meta sidecar).

``MinHashStore`` persists one narrow row per accepted document —
(id, minhash signature, shingle set) — as parquet. Checking a batch
then costs:

  * O(batch) signature work (map-only, same salted-md5 construction
    as ``dedup.minhash_signature``, so DuckDB replays it exactly);
  * one band-key equi-join where the STORE side never shuffles and is
    never a broadcast candidate: candidate generation joins the
    store's exploded ``(id, band)`` projection (signature columns
    only — column pruning keeps text and shingles out of the scan)
    against the broadcast batch bands, entirely map-side over the
    store scan;
  * a shingle fetch for surviving candidates only: the capped
    candidate list is broadcast back against the store, so shingle
    ARRAYS cross no shuffle and are never the build side of anything
    (the same discipline minhash_lsh_pairs' verify join enforces).

Degenerate-band guard: a boilerplate band key matched by the batch
would otherwise contribute |family| candidates per batch doc. The
``max_candidates`` cap keeps the md5-smallest store ids per batch doc
(deterministic, oracle-replayable — the same pinned-constant-is-
latent-N² discipline as ``max_bucket`` in the batch pipeline); an
identical-boilerplate duplicate still collides with the kept
representatives, so the cap trades recall only on families that are
near- but not exact-duplicates AND larger than the cap.

Store growth is append-only (``add``); batches larger than broadcast
size should instead be unioned into the corpus and swept with the
batch pipeline — at that size the run IS a corpus-scale job and the
batch economics no longer apply.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_shingles
from .chooser import text_tier
from .dedup import jaccard, minhash_bands, minhash_signature


class MinHashStore:
    """Persisted (id, sig, sh) signature store for incremental dedup."""

    def __init__(self, path: str, num_perm: int = 8, bands: int = 4,
                 shingle_k: int = 3, id_col: str = "doc_id",
                 text_col: str = "text", sig_tier: str = "auto"):
        if num_perm % bands:
            raise ValueError(f"num_perm={num_perm} not divisible by "
                             f"bands={bands}")
        self.path = path
        self.num_perm = num_perm
        self.bands = bands
        self.shingle_k = shingle_k
        self.id_col = id_col
        self.text_col = text_col
        self.sig_tier = sig_tier

    # -- persistence -------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.path, "minhash_store_meta.json")

    def _data_path(self) -> str:
        # parquet payload in a subdir so the json sidecar never sits
        # inside the directory the parquet reader lists
        return os.path.join(self.path, "store")

    def _sig_sh(self, df: DataFrame) -> DataFrame:
        """(id, sig, sh) projection — the only columns the store keeps;
        document text never reaches the store files.

        ``sig_tier`` follows minhash_lsh_pairs: "column" (Catalyst HOF
        fold + word_shingles), "arrow" (hashlib over Arrow batches,
        sig bit-identical, shingles sorted-set order), or "auto" —
        ``chooser.text_tier`` picks by the same crossover (an unknown
        name raises there). The corpus-sized store BUILD is where the
        Arrow tier earns its keep (the interpreted HOF fold is the
        dominant build cost at scale); the two tiers agree on every
        downstream value because sig is parity-tested byte-identical
        and sh is only ever consumed as a set (jaccard's
        array_intersect/union)."""
        if text_tier(df, self.sig_tier) == "arrow":
            from .dedup import minhash_signatures_arrow
            return minhash_signatures_arrow(
                df, text_col=self.text_col, id_col=self.id_col,
                num_perm=self.num_perm, shingle_k=self.shingle_k,
                sh_col="sh")
        return df.select(
            F.col(self.id_col),
            minhash_signature(F.col(self.text_col), self.num_perm,
                              self.shingle_k).alias("sig"),
            word_shingles(F.col(self.text_col),
                          k=self.shingle_k).alias("sh"))

    def build(self, df: DataFrame) -> "MinHashStore":
        """One corpus-sized pass (the cost ``dedup_batch`` exists to
        avoid re-paying); overwrites any existing store."""
        self._sig_sh(df).write.mode("overwrite").parquet(self._data_path())
        with open(self._meta_path(), "w") as f:
            json.dump({"num_perm": self.num_perm, "bands": self.bands,
                       "shingle_k": self.shingle_k, "id_col": self.id_col,
                       "text_col": self.text_col}, f)
        return self

    def add(self, df: DataFrame) -> "MinHashStore":
        """Append accepted documents (batch-sized work)."""
        self._check_meta()
        self._sig_sh(df).write.mode("append").parquet(self._data_path())
        return self

    def compact(self, spark, target_files: int | None = None,
                target_bytes: int = 128 * 1024 * 1024) -> tuple[int, int]:
        """Rewrite the store into ``target_files`` parquet files
        (default: sized so each file is ~``target_bytes``). Every
        ``add`` appends at least one file, so a long-lived ingest loop
        accretes the classic small-files problem — each ``dedup_batch``
        then pays open/footer overhead per tiny file on BOTH store
        scans. Returns (files_before, files_after).

        Single-writer swap (the store's ingest loop is single-writer
        by contract — quiesce ``add`` while compacting): the rewrite
        lands in a sibling directory, then two renames flip it in.
        Readers mid-scan of the old directory are a cluster concern
        the versioned catalog (`plans/catalog.compact`) solves with
        retained snapshots; this store is the lean non-versioned
        layout, and documents the trade instead."""
        import shutil

        self._check_meta()
        data = self._data_path()
        files = [f for f in os.listdir(data) if f.endswith(".parquet")]
        before = len(files)
        if target_files is None:
            total = sum(os.path.getsize(os.path.join(data, f))
                        for f in files)
            target_files = max(1, -(-total // target_bytes))
        tmp = data + "_compacting"
        old = data + "_old"
        spark.read.parquet(data).repartition(target_files) \
            .write.mode("overwrite").parquet(tmp)
        os.rename(data, old)
        os.rename(tmp, data)
        shutil.rmtree(old)
        after = len([f for f in os.listdir(data) if f.endswith(".parquet")])
        return before, after

    def _check_meta(self) -> None:
        if not os.path.exists(self._meta_path()):
            raise ValueError(f"no store at {self.path} — call build() "
                             f"before add()/dedup_batch()/compact()")
        with open(self._meta_path()) as f:
            meta = json.load(f)
        mine = {"num_perm": self.num_perm, "bands": self.bands,
                "shingle_k": self.shingle_k, "id_col": self.id_col,
                "text_col": self.text_col}
        if meta != mine:
            raise ValueError(f"store at {self.path} was built with "
                             f"{meta}, probe configured {mine}")

    def _store(self, spark) -> DataFrame:
        self._check_meta()
        return spark.read.parquet(self._data_path())

    # -- the incremental check ---------------------------------------
    def dedup_batch(self, batch: DataFrame, threshold: float = 0.5,
                    max_candidates: int = 64) -> DataFrame:
        """Flag each batch document that near-duplicates ANY stored
        document: (id, is_dup, dup_of, sim). ``dup_of`` is the highest-
        similarity stored id (ties broken by smallest id); null with
        sim null when no verified match reaches ``threshold``.

        Plan: store scan #1 projects (id, sig)->(id, band) and joins
        the broadcast batch bands map-side; candidates are capped per
        batch doc by md5-order; store scan #2 fetches shingles for the
        broadcast surviving candidates only. The store is scanned
        twice but never shuffled, never broadcast, and never read with
        its shingle column except for candidate rows.

        cap: max_candidates bounds verify work per batch doc against
        a boilerplate-saturated store (md5-order keeps the cut
        deterministic) — the same star-cap recall trade as
        minhash_lsh_pairs' max_bucket; it never bounds store size.
        """
        rpb = self.num_perm // self.bands
        spark = batch.sparkSession
        store = self._store(spark)

        bsig = self._sig_sh(batch).localCheckpoint()  # one signature pass
        batch_bands = bsig.select(
            F.col(self.id_col).alias("__bid"),
            F.explode(minhash_bands(F.col("sig"), self.bands,
                                    rpb)).alias("__band"))

        store_bands = store.select(
            F.col(self.id_col).alias("__sid"),
            F.explode(minhash_bands(F.col("sig"), self.bands,
                                    rpb)).alias("__band"))

        cand = (store_bands
                .join(F.broadcast(batch_bands), "__band")
                .select("__bid", "__sid").distinct())
        cap_win = (Window.partitionBy("__bid")
                   .orderBy(F.md5(F.col("__sid").cast("string")).asc(),
                            F.col("__sid").asc()))
        cand = (cand.withColumn("__rk", F.row_number().over(cap_win))
                .filter(F.col("__rk") <= max_candidates).drop("__rk")
                .localCheckpoint())  # small by the cap; pin before reuse

        verified = (store.select(F.col(self.id_col).alias("__sid"),
                                 F.col("sh").alias("__s_sh"))
                    .join(F.broadcast(cand), "__sid")
                    .join(F.broadcast(bsig.select(
                        F.col(self.id_col).alias("__bid"),
                        F.col("sh").alias("__b_sh"))), "__bid")
                    .withColumn("__sim", jaccard(F.col("__s_sh"),
                                                 F.col("__b_sh")))
                    .filter(F.col("__sim") >= threshold)
                    .select("__bid", "__sid", "__sim"))
        best_win = (Window.partitionBy("__bid")
                    .orderBy(F.col("__sim").desc(), F.col("__sid").asc()))
        best = (verified.withColumn("__rk", F.row_number().over(best_win))
                .filter(F.col("__rk") == 1).drop("__rk"))

        return (batch.select(self.id_col)
                .join(F.broadcast(best),
                      batch[self.id_col] == best["__bid"], "left")
                .select(F.col(self.id_col),
                        F.col("__sid").isNotNull().alias("is_dup"),
                        F.col("__sid").alias("dup_of"),
                        F.round(F.col("__sim"), 4).alias("sim")))
