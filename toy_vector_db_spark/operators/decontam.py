"""Train/eval decontamination: n-gram-overlap detection and removal.

Beyond-parity extension (the reference has no corpus tooling; its text
surface is the embedding pass-through, pipeline/processor.go:21-40).
This is the standard pre-training hygiene step — find training
documents that share word-n-gram content with an evaluation set and
drop them — expressed as pure DataFrame ops:

  * each side is exploded to DISTINCT per-document shingle hashes, so
    the shuffle carries (id, 16-byte md5), never document text;
  * the eval side collapses to a distinct hash SET and is broadcast by
    default (eval suites are tiny next to a 100 TB train corpus), so
    the only wide operation is the single groupBy(doc_id) that builds
    the report — one shuffle end-to-end;
  * with ``broadcast_eval=False`` the membership probe becomes a
    shuffle equi-join on shingle_hash (md5 keys are uniform, so no
    skew) for the eval-set-too-big-to-broadcast case;
  * thresholds are counts of SHARED DISTINCT shingles per train doc —
    growth-stable (adding train docs never flips another doc's
    verdict), matching the hash-split stability in operators/sampling.

Everything here has an exact DuckDB twin (workload.decontam_overlap),
so the whole pipeline is value-checked by the driver oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def shingle_hash_set(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 5,
                     tier: str = "auto") -> DataFrame:
    """(id, shingle_hash) with one row per DISTINCT n-word shingle of
    the normalized text. Map-side only — no shuffle; the projection
    prunes every other column before the shingle derivation, which is
    tiered by corpus size (``dedup.shingles_tiered`` — the Column
    transform is interpreter-evaluated per position, the wrong tier
    for a corpus-scale decontam scan). Streaming frames take the
    Column tier under "auto" (``chooser.text_tier``)."""
    from .dedup import shingles_tiered
    sh = shingles_tiered(df, text_col=text_col, id_col=id_col, k=n,
                         tier=tier, sh_col="__sh")
    return (sh.select(F.col(id_col), F.explode("__sh").alias("__shingle"))
            .select(id_col, F.md5("__shingle").alias("shingle_hash")))


def contamination_report(train: DataFrame, eval_df: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 5, min_shared: int = 1,
                         broadcast_eval: bool = True,
                         train_tier: str = "auto") -> DataFrame:
    """Per-train-document overlap report: ``n_shingles`` (distinct
    n-grams in the doc), ``n_shared`` (of those, how many appear
    anywhere in the eval set), ``contaminated`` (n_shared >=
    min_shared). One shuffle: the membership probe is a broadcast left
    join, then a single groupBy(id) aggregates both counts.

    ``train_tier``: shingle-derivation tier for the train side. A
    STREAMING train frame defaults to the Column tier (a streaming
    plan cannot be sized, and real micro-batches are small) — but a
    caller draining a corpus-sized batch through one trigger
    (AvailableNow backfills) should pass ``chooser.text_tier`` of its
    batch twin explicitly: mapInPandas is streaming-legal and the
    Column transform is the interpreted-HOF tier the crossover exists
    for."""
    tr = shingle_hash_set(train, id_col, text_col, n, tier=train_tier)
    ev = (shingle_hash_set(eval_df, id_col, text_col, n)
          .select("shingle_hash").distinct()
          .withColumn("__hit", F.lit(1)))
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (tr.join(ev, "shingle_hash", "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.count("__hit").alias("n_shared"))
            .withColumn("contaminated", F.col("n_shared") >= min_shared))


def _bloom_positions(sh_hash, m_bits: int, k: int):
    """k bit positions for a shingle hash (seeded xxhash64 mod m)."""
    return [F.pmod(F.xxhash64(F.concat(F.lit(f"b{i}:"), sh_hash)),
                   F.lit(m_bits)).cast("long")
            for i in range(k)]


def build_shingle_bloom(eval_df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 5,
                        m_bits: int = 1 << 16, k: int = 4,
                        hashes: DataFrame | None = None) -> list[int]:
    """Distributed Bloom-filter build over the eval set's distinct
    shingle hashes: each hash sets k seeded-xxhash64 bits; the bit
    array is assembled executor-side (explode positions → per-64-bit
    word `bit_or` aggregation) and only the m_bits/64 words reach the
    driver — 2^16 bits = 1 KiB of longs, independent of eval size.
    ``hashes``: a precomputed distinct (shingle_hash) frame — callers
    that also need the hash set for exact verification pass it so the
    eval text scans once (contamination_report_bloom does)."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    ev = hashes if hashes is not None else \
        shingle_hash_set(eval_df, id_col, text_col, n) \
        .select("shingle_hash").distinct()
    pos = ev.select(F.explode(F.array(
        *_bloom_positions(F.col("shingle_hash"), m_bits, k))).alias("p"))
    words = (pos.select(
        F.expr("p div 64").alias("w"),
        F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("m"))
        .groupBy("w").agg(F.bit_or("m").alias("bits")).collect())
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[int(r["w"])] = int(r["bits"])
    return arr


def contamination_report_bloom(train: DataFrame, eval_df: DataFrame,
                               id_col: str = "doc_id",
                               text_col: str = "text", n: int = 5,
                               min_shared: int = 1,
                               m_bits: int = 1 << 16,
                               k: int = 4) -> DataFrame:
    """contamination_report with a Bloom prefilter — the scale tier
    for eval sets too big to broadcast as a row set but fine as a bit
    array (the filter is m_bits/8 bytes REGARDLESS of eval size; at
    1% FPP that's ~1.2 bytes per eval shingle vs ~16 for the hash
    row). The probe is a pure Column expression (element_at + bit
    test, k=4 probes per shingle, no join), so the full train scan
    stays map-only; only the ~FPP-sized survivor set reaches the
    EXACT verification join — the answer is identical to
    contamination_report (false positives cost verify work, never
    correctness), and the same DuckDB oracle value-checks both tiers
    (workload.decontam_bloom_overlap).

    Plan-size note: the filter ships as an array literal (m_bits/64
    longs inside the plan) — right up to a few hundred KiB. Past
    that, fall back to ``contamination_report(broadcast_eval=False)``
    (shuffle join) or shard the eval set across several filters.
    """
    # the distinct eval hash set feeds BOTH the filter build and the
    # exact verification semi-join: derive it ONCE (it previously ran
    # the eval text scan + shingle pass + tier count twice — the same
    # eval-once pattern the sharded tier already had)
    ev = (shingle_hash_set(eval_df, id_col, text_col, n)
          .select("shingle_hash").distinct().localCheckpoint(eager=True))
    flt = build_shingle_bloom(eval_df, id_col, text_col, n, m_bits, k,
                              hashes=ev)
    flt_col = F.lit(flt)
    # the narrow (id, hash) frame feeds BOTH the probe projection and
    # the per-doc totals aggregate; materialize it once so the corpus
    # text scan + shingle derivation doesn't execute twice (the tfidf
    # localCheckpoint pattern)
    tr = shingle_hash_set(train, id_col, text_col, n).localCheckpoint()
    # name the k probe positions so the variable-distance shifts can be
    # plain SQL exprs (shiftleft's numBits is int-only in the DSL)
    probes = _bloom_positions(F.col("shingle_hash"), m_bits, k)
    tr_p = tr.select(id_col, "shingle_hash",
                     *[p.alias(f"__p{i}") for i, p in enumerate(probes)])

    def bit_set(i):
        word = F.element_at(flt_col,
                            F.expr(f"cast(__p{i} div 64 AS INT)") + 1)
        return word.bitwiseAND(
            F.expr(f"shiftleft(1L, cast(__p{i} % 64 AS INT))")) != 0

    maybe = bit_set(0)
    for i in range(1, k):
        maybe = maybe & bit_set(i)

    totals = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (tr_p.filter(maybe).select(id_col, "shingle_hash")
            .join(F.broadcast(ev), "shingle_hash", "left_semi")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shared")))
    return (totals.join(hits, id_col, "left")
            .select(id_col, "n_shingles",
                    F.coalesce("n_shared", F.lit(0)).alias("n_shared"))
            .withColumn("contaminated", F.col("n_shared") >= min_shared))


#: auto-sizing targets ~this many eval hashes per shard. The probe's
#: per-row cost is a Spark map element_at — a LINEAR scan of the
#: shard's word map — so shard maps must stay small: 64 hashes set
#: <= min(4*64, m_bits/64) words, and with the default m_bits (1<<12,
#: 64 words) the scan is <= 64 entries while fill stays ~6% (FPP
#: ~1.3e-5 at k=4). Oversized shards were measured QUADRATIC-ish:
#: 16 shards at the 10x probe point put ~47k entries in each map and
#: the probe column alone cost ~10 s.
#: cap: per-shard map size; the SHARD COUNT derives from eval-set size
#: / this constant, so per-task work is fixed as the eval set grows.
HASHES_PER_SHARD = 64


def _shard_expr(hash_col, n_shards: int):
    return F.pmod(F.xxhash64(F.concat(F.lit("shard:"), hash_col)),
                  F.lit(n_shards)).cast("int")


def _bloom_from_hashes(ev: DataFrame, n_shards: int, m_bits: int,
                       k: int) -> DataFrame:
    """(shard, word->bits map) filter frame from a distinct
    shingle-hash frame — assembled entirely executor-side by a
    (shard, word) bit_or aggregate + one map_from_entries; nothing
    reaches the driver. Total capacity n_shards * m_bits bits, sized
    independent of eval rows; the per-shard maps stay SPARSE (only
    set words are kept)."""
    pos = ev.select(_shard_expr(F.col("shingle_hash"),
                                n_shards).alias("__s"),
                    F.explode(F.array(*_bloom_positions(
                        F.col("shingle_hash"), m_bits, k))).alias("p"))
    words = (pos.select("__s", F.expr("p div 64").alias("w"),
                        F.expr("shiftleft(1L, cast(p % 64 AS INT))")
                        .alias("m"))
             .groupBy("__s", "w").agg(F.bit_or("m").alias("bits")))
    return words.groupBy("__s").agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits")))
        .alias("__bm"))


def build_sharded_bloom(eval_df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 5,
                        n_shards: int | None = None,
                        m_bits: int = 1 << 12,
                        k: int = 4) -> DataFrame:
    """Bloom filter as a (shard, word->bits map) DATAFRAME — the form
    for eval sets past what a plan-literal array (a few hundred KiB)
    or a broadcast row set can carry. Each distinct eval shingle hash
    routes to ONE shard (seeded xxhash64 mod n_shards) and sets k bits
    in that shard's private m_bits array. ``n_shards=None`` auto-sizes
    to ~HASHES_PER_SHARD eval hashes per shard (one count job), which
    keeps both FPP and the per-probe map scan bounded at ANY eval
    size; pass it explicitly to pin the layout."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    if n_shards is not None and n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    ev = shingle_hash_set(eval_df, id_col, text_col, n) \
        .select("shingle_hash").distinct()
    if n_shards is None:
        import math
        n_shards = max(16, math.ceil(ev.count() / HASHES_PER_SHARD))
    return _bloom_from_hashes(ev, n_shards, m_bits, k)


def contamination_report_sharded(train: DataFrame, eval_df: DataFrame,
                                 id_col: str = "doc_id",
                                 text_col: str = "text", n: int = 5,
                                 min_shared: int = 1,
                                 n_shards: int | None = None,
                                 m_bits: int = 1 << 12,
                                 k: int = 4) -> DataFrame:
    """The genuinely-large-eval-set tier (the BASELINE.md caveat on
    the other tiers, made real): the eval side is NEVER broadcast and
    never inlined in the plan. Three parts, same exact answer as
    ``contamination_report`` (the shared DuckDB oracle value-checks
    all tiers):

    1. ``build_sharded_bloom`` — a bounded (shard, bit-word map)
       filter frame, built by aggregation only;
    2. probe — train shingles compute their shard + k bit positions
       map-side, meet the filter via a broadcast join ON SHARD KEY
       (broadcasting the COMPACT filter, n_shards rows bounded by
       construction, is the point — the raw eval rows are what must
       not broadcast), and the k-bit test is a pure Column predicate,
       so the full train scan stays map-only and only the ~FPP-sized
       survivor set continues;
    3. exact verification — survivors semi-join the distinct eval
       hashes as a SHUFFLE equi-join on shingle_hash: md5 keys are
       uniform, no skew, and the left side is already pruned to
       survivors. False positives cost verify work, never
       correctness. r13 (guide §3.1): the hint moved merge ->
       shuffle_hash — the eval side per post-shuffle partition is
       bounded by construction (distinct hashes / shuffle
       partitions), so building a hash table on it beats sorting BOTH
       sides; the sort-merge plan paid two full sorts for a
       uniform-key semi-join.
    """
    # the distinct eval hash set feeds BOTH the filter build and the
    # exact verification join — checkpoint so the eval shingle explode
    # runs once (it is eval-set-sized, bounded executor-side state)
    ev = (shingle_hash_set(eval_df, id_col, text_col, n)
          .select("shingle_hash").distinct()
          .localCheckpoint(eager=True))
    if n_shards is None:
        import math
        n_shards = max(16, math.ceil(ev.count() / HASHES_PER_SHARD))
    filt = _bloom_from_hashes(ev, n_shards, m_bits, k)
    # probe projection AND totals aggregate both consume the train
    # shingles: checkpoint so the corpus text scan + shingle pass runs
    # once, not twice (the bloom tier's existing pattern)
    tr = shingle_hash_set(train, id_col, text_col, n).localCheckpoint()
    probes = _bloom_positions(F.col("shingle_hash"), m_bits, k)
    tr_p = tr.select(id_col, "shingle_hash",
                     _shard_expr(F.col("shingle_hash"),
                                 n_shards).alias("__s"),
                     *[p.alias(f"__p{i}") for i, p in enumerate(probes)])
    joined = tr_p.join(F.broadcast(filt), "__s", "left")

    def bit_set(i):
        word = F.coalesce(
            F.element_at(F.col("__bm"), F.expr(f"__p{i} div 64")),
            F.lit(0).cast("long"))
        return word.bitwiseAND(
            F.expr(f"shiftleft(1L, cast(__p{i} % 64 AS INT))")) != 0

    maybe = bit_set(0)
    for i in range(1, k):
        maybe = maybe & bit_set(i)

    survivors = joined.filter(maybe).select(id_col, "shingle_hash")
    hits = (survivors
            .join(ev.hint("shuffle_hash"), "shingle_hash", "left_semi")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shared")))
    totals = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    return (totals.join(hits, id_col, "left")
            .select(id_col, "n_shingles",
                    F.coalesce("n_shared", F.lit(0)).alias("n_shared"))
            .withColumn("contaminated", F.col("n_shared") >= min_shared))


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 5, min_shared: int = 1,
                  broadcast_eval: bool = True) -> DataFrame:
    """Training corpus with contaminated documents removed — a
    broadcast-able anti-join against the (small) contaminated-id set,
    so the full train table streams through untouched."""
    bad = (contamination_report(train, eval_df, id_col, text_col, n,
                                min_shared, broadcast_eval)
           .filter("contaminated").select(id_col))
    return train.join(F.broadcast(bad), id_col, "left_anti")
