"""Deduplication operators for training-data pipelines.

Beyond-parity extension (the reference's only dup handling is the
INSERT duplicate-id error, executor.go:476-480). Five tiers, cheapest
to strongest, all shuffle-conscious:

  exact        md5-fingerprint groupBy              (1 shuffle on hash)
  minhash-LSH  shingle -> minhash sig -> band join  (shuffle on band key)
  simhash      bitwise near-dup hash, groupBy       (1 shuffle on hash)
  jaccard      n-gram set similarity (verifier)     (computed per pair)
  embedding    cosine near-dup via knn_join/LSH     (see ann.py)

Everything except the (optional) verification join is pure Column
expressions — md5 / array ops are JVM-side, codegen-friendly. The
DuckDB oracles in workload.py replicate each tier value-for-value
(md5 hex strings are engine-independent).

At 100 TB: candidate generation only ever shuffles (id, small-key)
pairs, never full documents; verification joins re-read only candidate
rows via a semi-join on id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import PUNCT_CLASS, fingerprint, word_shingles
from .chooser import text_tier

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def _bounded_clusters(keyed: DataFrame, key_col: str, id_col: str,
                      max_ids: int) -> DataFrame:
    """(key, n_docs, id_min, id_max, ids) cluster report where ``ids``
    is the ``max_ids`` SMALLEST member ids; counts and extrema are
    exact. Two-phase so no task ever buffers a whole cluster: the
    per-(key, input-partition) partial collects at most a partition's
    ids for one key and emits a capped slice, the merge sees at most
    partitions x max_ids ids per key. (A single-phase
    collect_list(id) puts a 100M-copy boilerplate cluster's entire id
    list in ONE aggregation buffer — the executor-OOM shape; a
    collect_list group cannot spill.)"""
    part = (keyed.withColumn("__pid", F.spark_partition_id())
            .groupBy(key_col, "__pid")
            .agg(F.count("*").alias("__n"),
                 F.min(id_col).alias("__mn"),
                 F.max(id_col).alias("__mx"),
                 F.slice(F.sort_array(F.collect_list(id_col)), 1, max_ids)
                 .alias("__ids")))
    return (part.groupBy(key_col)
            .agg(F.sum("__n").alias("n_docs"),
                 F.min("__mn").alias("id_min"),
                 F.max("__mx").alias("id_max"),
                 F.slice(F.sort_array(F.flatten(F.collect_list("__ids"))),
                         1, max_ids).alias("ids"))
            .filter(F.col("n_docs") > 1))


def exact_dup_clusters(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_ids: int = 64) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (fingerprint, n_docs, id_min, id_max, ids) with only >1-doc
    clusters. ``n_docs``/``id_min``/``id_max`` are exact; ``ids`` is a
    deterministic sample (the ``max_ids`` smallest) so an
    arbitrarily large duplicate family never sits in one aggregation
    buffer (see ``_bounded_clusters``). cap: max_ids bounds the REPORT
    sample per cluster — aggregate work stays exact and linear at any
    value; raising it only widens the output rows."""
    keyed = df.select(fingerprint(F.col(text_col)).alias("fingerprint"),
                      F.col(id_col))
    return _bounded_clusters(keyed, "fingerprint", id_col, max_ids)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of every exact-dup cluster.
    One hash shuffle; the winner set comes back via a semi-join so full
    rows never shuffle."""
    keep = (df.select(fingerprint(F.col(text_col)).alias("__fp"), F.col(id_col))
            .groupBy("__fp").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(text: Column, num_perm: int = 8,
                      shingle_k: int = 3) -> Column:
    """MinHash signature as an array of ``num_perm`` lexicographic-min
    md5 hex strings over salted word shingles. md5-as-permutation keeps
    the signature engine-portable (identical in DuckDB), at the cost of
    hashing each shingle num_perm times — fine for num_perm <= 16."""
    sh = word_shingles(text, k=shingle_k)
    # Single fold over the shingle array: per shingle, compute its
    # num_perm salted hashes and fold element-wise minima. Higher-order
    # functions are interpreted (no codegen/CSE), so a per-permutation
    # array_min would re-derive the shingle array num_perm times —
    # measured 8x slower at sf0.1.
    init = F.array_repeat(F.lit("g" * 32), num_perm)  # 'g' > any md5 hex char

    def fold(acc, s):
        salted = F.array(*[F.md5(F.concat(F.lit(f"{i}:"), s))
                           for i in range(num_perm)])
        return F.zip_with(acc, salted, lambda a, b: F.least(a, b))

    return F.aggregate(sh, init, fold)


#: Java \s is exactly [ \t\n\x0B\f\r]; Python's \s would also eat
#: unicode whitespace and diverge from the JVM tier on e.g. \xa0
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def _shingle_set(t, shingle_k: int, punct, ws) -> set:
    """The one Python tokenizer mirroring the Column tier's
    normalize+shingle chain exactly (parity is proven transitively by
    the bit-identical signature tests): lower, strip punct, collapse
    JVM-whitespace, split, k-shingle as a set."""
    t = "" if t is None else str(t)
    # Spark's trim removes ' ' only; after the \s+ -> ' ' collapse
    # that is also all that can remain at the ends
    t = ws.sub(" ", punct.sub("", t.lower())).strip(" ")
    toks = t.split(" ")
    return {" ".join(toks[i:i + shingle_k])
            for i in range(max(len(toks) - shingle_k, 0) + 1)}


def word_shingles_arrow(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 3,
                        sh_col: str = "sh") -> DataFrame:
    """C-speed twin of ``functions.text.word_shingles``: (id, shingle
    set as a sorted ARRAY<STRING>) over Arrow batches. Membership-
    identical to the Column tier (order differs — consumers treat the
    array as a set). Exists for the same reason as the signature
    Arrow tier: Catalyst evaluates ``transform``/``aggregate``
    lambdas in its interpreter, so a corpus-sized shingle derivation
    (the verify scan of minhash_lsh_pairs) pays per-position
    interpretation the Python re/split loop does not."""
    import re

    import pandas as pd

    punct = re.compile(PUNCT_CLASS)
    ws = re.compile(_JAVA_WS)
    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                sh_col: [sorted(_shingle_set(t, shingle_k, punct, ws))
                         for t in pdf[text_col]]})

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, {sh_col} array<string>")


def shingles_tiered(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3,
                    tier: str = "auto", sh_col: str = "sh") -> DataFrame:
    """(id, shingle set) under the same corpus-size tier rule as
    minhash_lsh_pairs' signatures: Column ``word_shingles`` below the
    crossover (stays JVM-side, no Arrow transfer), the Python
    tokenizer above it (the Column ``transform`` is interpreter-
    evaluated per position — it turned corpus-scale shingle scans in
    crossdoc/decontam/verify into the same bottleneck the signature
    tier split exists for). Membership-identical either way."""
    if text_tier(df, tier) == "arrow":
        return word_shingles_arrow(df, text_col=text_col, id_col=id_col,
                                   shingle_k=k, sh_col=sh_col)
    return df.select(F.col(id_col),
                     word_shingles(F.col(text_col), k).alias(sh_col))


def minhash_signatures_arrow(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", num_perm: int = 8,
                             shingle_k: int = 3,
                             sig_col: str = "sig",
                             sh_col: str | None = None) -> DataFrame:
    """Arrow/bulk tier of ``minhash_signature``: bit-identical salted-md5
    signatures computed with Python hashlib over Arrow batches
    (mapInPandas) instead of the Catalyst higher-order fold.

    Measured trade (sf0.1, local[32], 5k docs): the Column tier wins at
    steady state (0.26-0.57 s vs 0.69-1.3 s here — Arrow transfer costs
    more than the md5s), BUT the Column tier's first ~2 full passes run
    12 s: HOFs evaluate in Catalyst's *interpreter*, whose hot loops
    only reach C2-JIT steady state after ~10k documents PER EXECUTOR
    PROCESS. On a long-lived cluster that knee amortizes to zero (keep
    the Column tier); on ephemeral/autoscaled executors every fresh JVM
    pays it, while hashlib.md5 is a C call that is uniformly fast from
    the first row — that regime is what this tier is for. Map-only
    either way: signatures only, document text never leaves the scan.
    Output: (id_col, sig_col ARRAY<STRING>) — byte-identical to the
    Column tier (parity-tested), so bands/buckets/oracles are shared.

    ``sh_col``: also emit the shingle SET (sorted ARRAY<STRING>) the
    signature was computed from — free here (the set already exists
    per row), and what the incremental-dedup store persists alongside
    the signature. Element ORDER differs from the Column tier's
    first-occurrence ``word_shingles`` order; every consumer treats
    the array as a set (array_intersect/array_union), so only the
    membership is contract.

    NULL text normalizes to the empty string (one empty shingle) —
    identically in BOTH tiers (the Column tier's ``word_shingles``
    coalesces null before tokenizing), so the bit-parity contract
    covers every input including null/empty text
    (test_dedup.test_sig_tier_parity_null_and_empty_text).
    """
    import hashlib
    import re

    import pandas as pd

    punct = re.compile(PUNCT_CLASS)
    ws = re.compile(_JAVA_WS)
    salts = [f"{i}:".encode() for i in range(num_perm)]
    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            sigs = []
            shs = []
            for t in pdf[text_col]:
                shingles = _shingle_set(t, shingle_k, punct, ws)
                mins = ["g" * 32] * num_perm
                for s in shingles:
                    sb = s.encode()
                    for i, salt in enumerate(salts):
                        h = hashlib.md5(salt + sb).hexdigest()
                        if h < mins[i]:
                            mins[i] = h
                sigs.append(mins)
                if sh_col is not None:
                    shs.append(sorted(shingles))
            cols = {id_col: pdf[id_col], sig_col: sigs}
            if sh_col is not None:
                cols[sh_col] = shs
            yield pd.DataFrame(cols)

    ddl = f"{id_col} {id_type}, {sig_col} array<string>"
    if sh_col is not None:
        ddl += f", {sh_col} array<string>"
    return df.select(id_col, text_col).mapInPandas(gen, ddl)


from ..functions.util import bind_once as _bind_once  # noqa: E402


def minhash_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys: concat of ``rows_per_band`` consecutive signature
    entries, prefixed with the band index. ``sig`` is referenced
    bands*rows_per_band times — pass a plain column or a lambda var,
    not an expensive derived expression (see ``_bind_once``)."""
    return F.array(*[
        F.concat_ws("|", F.lit(str(b)),
                    *[F.element_at(sig, b * rows_per_band + r + 1)
                      for r in range(rows_per_band)])
        for b in range(bands)])


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0.0, F.lit(1.0)).otherwise(inter / union)


def minhash_signatures_tiered(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", num_perm: int = 8,
                              shingle_k: int = 3, sig_col: str = "sig",
                              tier: str = "auto") -> DataFrame:
    """Signature computation under the SAME column/arrow routing rule
    ``minhash_lsh_pairs`` applies: bit-identical tiers, chosen by
    ``chooser.text_tier``. At the 100x derived set the Column HOF fold
    costs 23.7 s vs the Arrow twin's 8.5 s — standalone signature
    consumers (the workload query, stores) should route here rather
    than pin a tier. Output: (id_col, sig_col ARRAY<STRING>)."""
    if text_tier(df, tier) == "arrow":
        return minhash_signatures_arrow(df, text_col=text_col,
                                        id_col=id_col, num_perm=num_perm,
                                        shingle_k=shingle_k,
                                        sig_col=sig_col)
    return df.select(F.col(id_col),
                     minhash_signature(F.col(text_col), num_perm,
                                       shingle_k).alias(sig_col))


def _bucket_pairs(keyed: DataFrame, key_col: str,
                  elem_col: str, max_bucket: int | None) -> DataFrame:
    """Within-bucket candidate pairs ``(a, b)`` with ``a < b`` from
    (key, elem) membership rows. ``elem`` may be an id or a struct
    whose first field is the id (struct ordering is lexicographic, so
    sort/min/pair order stay id-driven either way).

    Uncapped (``max_bucket=None``): one groupBy-bucket aggregate —
    sort_array + pairwise expansion. The upstream signatures compute
    exactly once and the shuffle carries only (key, elem), but a
    degenerate bucket of b members emits b(b-1)/2 pairs from ONE task
    and, just as fatally at scale, buffers all b members in that
    task's aggregation buffer (a single collect_list group cannot
    spill).

    Capped: over-cap buckets fall back to STAR candidates (bucket-min
    element x each other member, b-1 pairs) and — the part the star
    formula alone doesn't give — NO over-cap bucket is ever
    materialized as an array: membership counts and the star center
    come from window aggregates over the bucket key (WindowExec
    streams its sorted input with spill support; per-group state is
    one count + one min), the star branch emits its pairs row-by-row,
    and the collect_list path only ever aggregates buckets already
    known to be <= cap. The annotated membership frame is
    localCheckpointed because the two branches would otherwise each
    re-derive the upstream signature scan.
    """
    if max_bucket is None:
        buckets = (keyed.groupBy(key_col)
                   .agg(F.sort_array(F.collect_list(elem_col)).alias("__ids"))
                   .filter(F.size("__ids") > 1))
        return buckets.select(
            F.explode(_pair_combos(F.col("__ids"))).alias("__p")) \
            .select("__p.a", "__p.b")
    from pyspark.sql.window import Window
    w = Window.partitionBy(key_col)
    ann = (keyed.select(key_col, F.col(elem_col).alias("__e"))
           .withColumn("__n", F.count("*").over(w))
           .withColumn("__ctr", F.min("__e").over(w))
           .localCheckpoint(eager=False))
    star = (ann.filter((F.col("__n") > max_bucket)
                       & (F.col("__e") != F.col("__ctr")))
            .select(F.col("__ctr").alias("a"), F.col("__e").alias("b")))
    small = (ann.filter((F.col("__n") <= max_bucket) & (F.col("__n") > 1))
             .groupBy(key_col)
             .agg(F.sort_array(F.collect_list("__e")).alias("__ids")))
    small_pairs = small.select(
        F.explode(_pair_combos(F.col("__ids"))).alias("__p")) \
        .select("__p.a", "__p.b")
    return small_pairs.unionByName(star)


def _pair_combos(ids: Column) -> Column:
    """All ordered combos struct<a,b> from a sorted array."""
    return F.flatten(F.transform(
        ids, lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 8,
                      bands: int = 4, shingle_k: int = 3,
                      threshold: float | None = 0.5,
                      verify: bool = True,
                      max_bucket: int | None = None,
                      sig_tier: str = "auto") -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash.

    Plan shape: project (id, band_keys) -> explode bands -> groupBy
    bucket (shuffle carries only ids + band strings) -> distinct pairs
    -> optional exact-Jaccard verification: ONE more scan of the text
    re-derives each candidate document's shingle set exactly once,
    joins it map-side against the narrow (pair, member-id, side) frame,
    and a single groupBy on the pair key brings the two shingle sets
    together. Shingle ARRAYS are therefore never the small side of a
    join (never a broadcast candidate — the old two-join shape let
    Catalyst broadcast the full corpus' shingle arrays off a
    post-projection size estimate, a driver-OOM shape at real scale)
    and the text is scanned once for verification, not once per join
    side. Output: (id_a, id_b, jaccard) with id_a < id_b.

    ``sig_tier``: "column" (Catalyst HOF fold), "arrow" (hashlib over
    Arrow batches, bit-identical — see ``minhash_signatures_arrow``),
    or "auto" (default): ``chooser.text_tier`` sizes ``df`` (parquet
    footers for a scan, no job; else one ``count()``).

    ``max_bucket`` is the degenerate-bucket guard for corpora whose
    duplicate families grow with corpus size (boilerplate, mirrored
    pages): a bucket of b ids otherwise emits b*(b-1)/2 candidates
    from ONE task — quadratic work and the one executor-OOM shape in
    the operator. Buckets larger than the cap fall back to STAR
    candidates (every member paired with the bucket's smallest id,
    b-1 pairs), which keeps candidate volume linear in bucket size.
    Verification still runs on star candidates; the documented trade
    is candidate recall — a pair both of whose members sit only in
    over-cap buckets is seen only through the bucket minimum. The cap
    also bounds executor MEMORY, not just pair count: over-cap buckets
    are never collected into an aggregation buffer at all (see
    ``_bucket_pairs``). Pick the cap above the largest bucket an
    executor should expand (64-256); ``None`` disables the guard.
    """
    from ..sources.tables import ensure_parallelism
    rows_per_band = num_perm // bands
    sig_tier = text_tier(df, sig_tier)
    base = ensure_parallelism(df.select(F.col(id_col).alias("__id"),
                                        F.col(text_col).alias("__text")))
    if sig_tier == "arrow":
        sig = (minhash_signatures_arrow(base, text_col="__text",
                                        id_col="__id", num_perm=num_perm,
                                        shingle_k=shingle_k, sig_col="__sig")
               .select("__id",
                       F.explode(minhash_bands(F.col("__sig"), bands,
                                               rows_per_band)).alias("__band")))
    else:
        sig = base.select(
            "__id",
            F.explode(_bind_once(
                minhash_signature(F.col("__text"), num_perm, shingle_k),
                lambda s: minhash_bands(s, bands, rows_per_band))).alias("__band"))
    # Candidate pairs via groupBy-bucket, not a band self-join: one
    # shuffle of (band, id), the signatures compute exactly once, and
    # there is no sort-merge of two re-derived branches (Catalyst does
    # not reuse the exchange across self-join sides here). Degenerate
    # buckets are _bucket_pairs' business: with max_bucket set they
    # neither expand quadratically nor ever materialize as an array.
    pairs = (_bucket_pairs(sig, "__band", "__id", max_bucket)
             .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
             .distinct())
    if not verify:
        return pairs
    # the verify scan re-derives shingles from text (by design — the
    # arrays never cross a join as the small side); at arrow-tier
    # corpus sizes the Column transform would pay per-position
    # interpretation on this second scan too, so the tier choice made
    # for signatures carries over (membership-identical, set consumer)
    if sig_tier == "arrow":
        sh = word_shingles_arrow(base, text_col="__text", id_col="__id",
                                 shingle_k=shingle_k, sh_col="__sh")
    else:
        sh = base.select("__id", word_shingles(F.col("__text"),
                                               shingle_k).alias("__sh"))
    out = _score_pairs_jaccard(sh, pairs)
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def fingerprints_arrow(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       window: int = 4) -> DataFrame:
    """Arrow twin of the fingerprint pair (``functions.text
    .fingerprint`` + ``rolling_fingerprint``) computed in ONE scan:
    (id, fingerprint, rolling_fp). Bit-identical to the Column tier
    (null text -> null outputs, same normalization, same windowing —
    parity-tested); exists because the rolling fingerprint's Column
    form is a per-window interpreted ``transform`` + md5 (the same
    HOF-interpreter term the simhash/minhash Arrow tiers route
    around; 12.1 s of the 100x ledger)."""
    import hashlib
    import re

    import pandas as pd

    punct = re.compile(PUNCT_CLASS)
    ws = re.compile(_JAVA_WS)
    id_type = dict(df.dtypes)[id_col]

    def one(t):
        if t is None:
            return None, None
        norm = ws.sub(" ", punct.sub("", t.lower())).strip(" ")
        fp = hashlib.md5(norm.encode()).hexdigest()
        toks = norm.split(" ")
        rolled = min(
            hashlib.md5(" ".join(toks[i:i + window]).encode()).hexdigest()
            for i in range(max(len(toks) - window, 0) + 1))
        return fp, rolled

    def gen(batches):
        for pdf in batches:
            pairs = [one(t) for t in pdf[text_col]]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "fingerprint": [p[0] for p in pairs],
                                "rolling_fp": [p[1] for p in pairs]})

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, fingerprint string, rolling_fp string")


def fingerprints_tiered(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", window: int = 4,
                        tier: str = "auto") -> DataFrame:
    """(id, fingerprint, rolling_fp) under the shared corpus-size tier
    rule (``chooser.text_tier``). Bit-identical tiers; the Column
    rolling fingerprint pays per-window interpretation at corpus
    scale (measured >=2x at the 100x derived set)."""
    if text_tier(df, tier) == "arrow":
        return fingerprints_arrow(df, text_col=text_col, id_col=id_col,
                                  window=window)
    from ..functions.text import fingerprint, rolling_fingerprint
    return df.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fingerprint"),
        rolling_fingerprint(F.col(text_col), window).alias("rolling_fp"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text: Column, bits: int = 16, shingle_k: int = 1) -> Column:
    """SimHash over word (or shingle) hashes: for each bit position,
    majority vote across token hashes; near-identical texts land on
    identical (or 1-2 bit distant) values.

    Uses the first 4 hex chars of md5 as the per-token 16-bit hash so
    the DuckDB oracle can reproduce it exactly ('0x'||hex cast)."""
    sh = word_shingles(text, k=shingle_k)
    # One fold: each shingle hashes ONCE (md5+conv), contributing +-1 to
    # every bit counter; a per-bit filter() would recompute all the
    # hashes bits times (measured 20x slower at sf0.1 — HOFs don't CSE).
    init = F.array_repeat(F.lit(0).cast("long"), bits)

    def fold(acc, s):
        h = F.conv(F.substring(F.md5(s), 1, 4), 16, 10).cast("long")
        votes = F.array(*[
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
             .otherwise(F.lit(-1)).cast("long")
            for b in range(bits)])
        return F.zip_with(acc, votes, lambda a, v: a + v)

    counts = F.aggregate(sh, init, fold)
    # majority vote per bit: counter > 0 <=> 2*ones > n
    weights = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    return F.aggregate(
        F.zip_with(counts, weights,
                   lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda s, x: s + x)


def simhash_arrow(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 16,
                  shingle_k: int = 1,
                  out_col: str = "simhash") -> DataFrame:
    """Arrow/bulk twin of the ``simhash`` Column fold: bit-identical
    values (same md5-prefix per-token hash, same majority vote)
    computed with hashlib + NumPy over Arrow batches. Exists for the
    same regime as ``minhash_signatures_arrow``: the Column fold runs
    in Catalyst's interpreter per shingle PER BIT, which scales worse
    than a C md5 loop plus one vectorized vote matrix (measured at the
    100x derived corpus — see ``simhash_tiered``). Map-only: only
    (id, hash) leaves the scan. Output: (id_col, out_col BIGINT)."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    punct = re.compile(PUNCT_CLASS)
    ws = re.compile(_JAVA_WS)
    id_type = dict(df.dtypes)[id_col]
    weights = (1 << np.arange(bits)).astype(np.int64)
    bitpos = np.arange(bits, dtype=np.uint32)

    def gen(batches):
        for pdf in batches:
            out = np.empty(len(pdf), dtype=np.int64)
            for i, t in enumerate(pdf[text_col]):
                shingles = _shingle_set(t, shingle_k, punct, ws)
                hs = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:4], 16)
                     for s in shingles), dtype=np.uint32,
                    count=len(shingles))
                # votes: +1 per set bit, -1 per clear bit, per position
                ones = ((hs[:, None] >> bitpos) & 1).sum(axis=0)
                counts = 2 * ones.astype(np.int64) - len(hs)
                out[i] = int(weights[counts > 0].sum())
            yield pd.DataFrame({id_col: pdf[id_col], out_col: out})

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, {out_col} long")


def simhash_tiered(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", bits: int = 16,
                   shingle_k: int = 1, tier: str = "auto",
                   out_col: str = "simhash") -> DataFrame:
    """(id, simhash) under the same corpus-size tier rule as the
    minhash signatures (``chooser.text_tier``): the Column fold
    below the crossover (JVM-side, no Arrow transfer), the
    hashlib+NumPy twin above it (the interpreted per-shingle-per-bit
    fold was the simhash family's 5.9x/decade term in the 100x
    ledger; the Arrow twin measured >=2x faster there). Bit-identical
    either way (parity test incl. null/empty text), so the oracle SQL
    and every banding consumer are tier-blind."""
    if text_tier(df, tier) == "arrow":
        return simhash_arrow(df, text_col=text_col, id_col=id_col,
                             bits=bits, shingle_k=shingle_k,
                             out_col=out_col)
    return df.select(F.col(id_col),
                     simhash(F.col(text_col), bits,
                             shingle_k).alias(out_col))


def simhash_dup_clusters(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", bits: int = 16,
                         max_ids: int = 64,
                         tier: str = "auto") -> DataFrame:
    """Documents sharing an identical simhash value (cheap near-dup
    tier: one hash shuffle, no pairwise work). Same bounded report
    shape as ``exact_dup_clusters``: exact count/extrema, ``ids``
    capped to the ``max_ids`` smallest (cap: report sample only —
    counts stay exact, work stays linear). Hashes route through
    ``simhash_tiered`` (Column fold vs Arrow twin by corpus size)."""
    keyed = simhash_tiered(df, text_col=text_col, id_col=id_col,
                           bits=bits, tier=tier) \
        .select("simhash", F.col(id_col))
    return _bounded_clusters(keyed, "simhash", id_col, max_ids)


def simhash_hamming_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", bits: int = 16,
                          bands: int = 4,
                          max_hamming: int = 3,
                          max_bucket: int | None = None,
                          tier: str = "auto") -> DataFrame:
    """Near-dup pairs within ``max_hamming`` simhash bits — the scale
    path between exact-simhash grouping (misses 1-bit differences) and
    all-pairs Hamming (quadratic).

    Pigeonhole banding: split the ``bits``-bit hash into ``bands``
    contiguous bands; two hashes within ``max_hamming < bands`` bits
    MUST agree on at least one whole band, so bucketing on (band index,
    band value) generates a candidate superset — same one-shuffle
    groupBy-bucket shape as MinHash-LSH, shuffle carries (id, small
    int) pairs only. Candidates verify with one xor+popcount.
    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.

    ``max_bucket`` is the same degenerate-bucket guard as
    ``minhash_lsh_pairs``: near-empty / boilerplate documents collapse
    to identical simhashes, so a duplicate family that grows with the
    corpus makes one band bucket quadratic. Over-cap buckets fall back
    to star candidates against the bucket's smallest id (the Hamming
    filter still verifies every emitted pair); the documented trade is
    pair recall within oversized families. None disables the guard —
    this variant is the small-candidate-set API
    (``simhash_neighbor_counts`` is the degree-based scale path).
    """
    if not 0 < bands <= bits:
        raise ValueError(f"bands must be in 1..{bits}, got {bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < bands, got "
            f"{max_hamming} >= {bands}")
    width = bits // bands
    from ..sources.tables import ensure_parallelism
    base = ensure_parallelism(df.select(F.col(id_col).alias("__id"),
                                        F.col(text_col).alias("__text")))
    hashed = simhash_tiered(base, text_col="__text", id_col="__id",
                            bits=bits, tier=tier, out_col="__h")

    def band_key(h: Column, b: int) -> Column:
        mask = (1 << width) - 1
        return F.concat(F.lit(f"{b}|"),
                        (F.shiftright(h, b * width)
                         .bitwiseAND(F.lit(mask))).cast("string"))

    banded = hashed.select(
        "__id", "__h",
        F.explode(F.array(*[band_key(F.col("__h"), b)
                            for b in range(bands)])).alias("__band"))
    elems = banded.select(
        "__band", F.struct("__id", "__h").alias("__e"))
    pairs = (_bucket_pairs(elems, "__band", "__e", max_bucket)
             .select(F.col("a.__id").alias("id_a"),
                     F.col("b.__id").alias("id_b"),
                     F.col("a.__h").alias("h_a"),
                     F.col("b.__h").alias("h_b"))
             .distinct())
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("bigint")
    return (pairs.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def _popcount64(v):
    """Vectorized SWAR popcount over uint64 (numpy < 2.0 has no
    bitwise_count)."""
    import numpy as np
    v = v.astype(np.uint64)
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) \
        + ((v >> np.uint64(2)) & np.uint64(0x3333333333333333))
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (v * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _hamming_ball_masks(bits: int, max_hamming: int) -> list[int]:
    """All xor masks within ``max_hamming`` bits (incl. 0)."""
    from itertools import combinations
    masks = []
    for d in range(max_hamming + 1):
        for pos in combinations(range(bits), d):
            m = 0
            for p in pos:
                m |= 1 << p
            masks.append(m)
    return masks


def simhash_neighbor_counts(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", bits: int = 16,
                            max_hamming: int = 3,
                            tier: str = "auto") -> DataFrame:
    """Per-document count of near-duplicates within ``max_hamming``
    simhash bits — the LINEAR-size answer to a question whose pair list
    is quadratic on heavily templated corpora (~3.8M qualifying pairs
    at sf0.1; ~400M at 10x).

    Algorithm: the degree of a document depends only on its HASH VALUE,
    and a ``bits``-bit hash has at most ``2^bits`` distinct values — so
    one count-by-value aggregation (<= 65536 rows at 16 bits) collapses
    the corpus, the driver sums each distinct value's Hamming ball
    (``sum_{{popcount(m)<=d}} count[h^m]`` — 697 masks for 16/3, a
    dictionary-lookup loop over at most 2^bits x |ball| entries), and a
    broadcast join maps degrees back to documents. Zero pairwise work:
    O(N) + O(2^bits * |ball|) regardless of how templated the corpus is
    (a banded NumPy variant measured 117 s at 10x on the mega-bucket
    this replaces; this runs in the simhash fold's time). For wide
    hashes (32+ bits) where the ball/value table outgrows the driver,
    fall back to banding (``simhash_hamming_pairs``'s machinery).
    """
    if bits > 24:
        raise ValueError(
            f"ball enumeration is for narrow hashes (<= 24 bits), got "
            f"{bits}; use the banded pair machinery instead")
    from ..sources.tables import ensure_parallelism
    base = ensure_parallelism(df.select(F.col(id_col).alias("__id"),
                                        F.col(text_col).alias("__text")))
    # localCheckpoint: both the count aggregation and the final mapping
    # join consume the hashes — one fold pass, not two
    hashed = simhash_tiered(base, text_col="__text", id_col="__id",
                            bits=bits, tier=tier,
                            out_col="__h").localCheckpoint()
    spark = df.sparkSession
    counts = {r["__h"]: r["cnt"] for r in
              hashed.groupBy("__h").agg(F.count("*").alias("cnt")).collect()}
    masks = _hamming_ball_masks(bits, max_hamming)
    degrees = [(int(h), int(sum(counts.get(h ^ m, 0) for m in masks) - 1))
               for h in counts]
    deg_df = F.broadcast(spark.createDataFrame(
        degrees, "__h long, n_near long"))
    return hashed.join(deg_df, "__h").select(
        F.col("__id").alias(id_col), F.col("n_near").cast("bigint"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct pair scoring)
# ---------------------------------------------------------------------------


def _score_pairs_jaccard(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact-Jaccard scoring of (id_a, id_b) candidate pairs against a
    (__id, __sh) shingle frame, shaped for scale: one (pair, member-id,
    side) row per pair side — a narrow frame (ids + one char) that is
    the join's hash BUILD side, pinned with a SHUFFLE_HASH hint. The
    hint makes the strategy estimate-independent: candidate volume
    grows linearly with the corpus (that is what the bucket caps
    guarantee), so the membership frame is no more broadcastable at
    real scale than the arrays are — a shuffled hash join with the
    narrow side building is the one shape that is correct at EVERY
    scale. Size estimates must never pick the strategy here: lineage
    drift once flipped a stats-driven plan into broadcasting the
    corpus' shingle arrays (a driver-OOM shape, plan-asserted against
    in test_plans), and broadcasting memb instead merely moves the OOM
    to the driver at 100 TB. The arrays cross the wire once, hash-
    partitioned by __id (AQE splits skewed partitions), then shuffle
    keyed by the pair to meet their partner in a single groupBy.
    first(ignorenulls) is order-insensitive here: every non-null
    candidate within a group is the same doc's shingle array.

    Contract notes: a pair referencing an id ABSENT from ``sh`` is
    dropped (the null-side filter below — same behavior as the old
    two-inner-join shape, where such pairs matched nothing), and
    duplicate input pairs collapse to one output row (the groupBy key
    is the pair)."""
    memb = pairs.select(
        "id_a", "id_b",
        F.explode(F.array(
            F.struct(F.col("id_a").alias("__id"), F.lit("a").alias("__side")),
            F.struct(F.col("id_b").alias("__id"), F.lit("b").alias("__side")),
        )).alias("__m")).select("id_a", "id_b", "__m.__id", "__m.__side")
    return (sh.join(memb.hint("shuffle_hash"), "__id")
            .groupBy("id_a", "id_b")
            .agg(F.first(F.when(F.col("__side") == "a", F.col("__sh")),
                         ignorenulls=True).alias("__sh_a"),
                 F.first(F.when(F.col("__side") == "b", F.col("__sh")),
                         ignorenulls=True).alias("__sh_b"))
            # a side with no shingle row means the id wasn't in sh at
            # all — drop the pair rather than emit a null jaccard
            .filter(F.col("__sh_a").isNotNull()
                    & F.col("__sh_b").isNotNull())
            .select("id_a", "id_b",
                    jaccard(F.col("__sh_a"), F.col("__sh_b")).alias("jaccard")))


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_k: int = 3,
                        tier: str = "auto") -> DataFrame:
    """Score given (id_a, id_b) candidate pairs with exact n-gram
    Jaccard. Use after any candidate generator; one text scan (tiered
    by corpus size — ``shingles_tiered``), and only ids cross the
    candidate join (see ``_score_pairs_jaccard``)."""
    sh = shingles_tiered(df, text_col=text_col, id_col=id_col,
                         k=shingle_k, tier=tier,
                         sh_col="__sh").withColumnRenamed(id_col, "__id")
    return _score_pairs_jaccard(sh, pairs)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_near_dup_blocked(df: DataFrame, block_col: str,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.9,
                            arrow: bool | None = None,
                            allow_quadratic: bool = False,
                            max_block_rows: int | None = None,
                            guard_hint: str | None = None) -> DataFrame:
    """Exact cosine near-dup pairs within blocking-key groups.

    The blocking key (a label, shard, cluster id, ...) turns the global
    O(n^2) self-join into per-group work — the shuffle is hash(block),
    and each executor only cross-pairs its own group. With k balanced
    groups that is n^2/k comparisons — which is still quadratic in N
    when k is a FIXED cardinality (a label column): measured
    27.7x/decade at the 100x derived set. So unless
    ``allow_quadratic=True``, the largest block is counted first (one
    cheap aggregate) and blocks past
    ``chooser.QUADRATIC_BLOCK_MAX_ROWS`` (override via
    ``max_block_rows``) raise, pointing at the scale-safe learned key
    (``semdedup.semantic_dup_pairs``/``semantic_dedup``, blocks sized
    by ``ivf_nlist`` — those stay near the cap by construction; the
    semdedup entry points skip the guard only for the AUTO-sized
    learned key, and keep it when a caller hand-picks n_clusters —
    ADVICE r7). At 100 TB the block key
    would be an IVF/LSH bucket (see ``embedding_near_dup_pairs``),
    which keeps the same plan shape.
    Output: (id_a, id_b, cosine_sim >= threshold).

    Scoring is applyInPandas per block, one chunked BLAS matmul for
    the whole block's similarity matrix (oracle-checked via
    workload.dedup_cosine_blocked). Pairwise folds are Catalyst's
    worst case (element-at-a-time lambda eval x n^2 pairs); the matmul
    is the same flops at memory bandwidth — measured 50x at dim 64 on
    the 10x derived set. A block must fit in one Arrow group — that
    bound is the block-key design contract anyway (IVF bucket sized to
    executor memory); the sim matrix itself is chunked to 1024 rows so
    peak memory is 1024 x block, not block^2. ``arrow=False`` runs the
    Column self-join instead (one zip_with dot fold per pair, per-row
    norms precomputed), the parity reference for the BLAS scoring.
    """
    from .chooser import check_quadratic_block

    if not allow_quadratic:
        largest = (df.groupBy(block_col).count()
                   .agg(F.max("count")).first()[0]) or 0
        check_quadratic_block(int(largest), "cosine_near_dup_blocked",
                              max_block_rows, hint=guard_hint)
    if arrow is not False:
        return _cosine_blocked_arrow(df, block_col, id_col, vec_col,
                                     threshold)
    # Column tier: precompute norms once per row (not once per pair).
    norm = F.sqrt(F.aggregate(F.col(vec_col).cast("array<double>"),
                              F.lit(0.0), lambda s, x: s + x * x))
    base = df.select(F.col(block_col).alias("__blk"), F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__v"),
                     norm.alias("__n"))
    a = base.select("__blk", F.col(id_col).alias("id_a"),
                    F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    b = base.select("__blk", F.col(id_col).alias("id_b"),
                    F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    dot = F.aggregate(F.zip_with("__va", "__vb", lambda x, y: x * y),
                      F.lit(0.0), lambda s, x: s + x)
    sim = F.when((F.col("__na") == 0) | (F.col("__nb") == 0), 0.0) \
        .otherwise(F.least(F.greatest(dot / (F.col("__na") * F.col("__nb")),
                                      F.lit(-1.0)), F.lit(1.0)))
    return (a.join(b, "__blk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim.alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))


def _cosine_blocked_arrow(df: DataFrame, block_col: str, id_col: str,
                          vec_col: str, threshold: float) -> DataFrame:
    """BLAS tier for cosine_near_dup_blocked: one applyInPandas group
    per block, chunked m @ m.T, emit only pairs >= threshold (id_a <
    id_b). The shuffle carries (id, vector) rows grouped by block —
    identical movement to the join tier — and the output is pairs
    only, never the matrix."""
    import numpy as np
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    out_ddl = f"id_a {id_type}, id_b {id_type}, cosine_sim double"

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf[vec_col].map(lambda v: v is not None)]
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        pdf = pdf.sort_values(id_col, kind="stable")
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].map(
            lambda v: np.asarray(v, dtype=np.float64)).values)
        norms = np.linalg.norm(m, axis=1)
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, len(m), 1024):
            i1 = min(i0 + 1024, len(m))
            dots = m[i0:i1] @ m.T                       # (chunk, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.clip(dots / np.outer(norms[i0:i1], norms), -1.0, 1.0)
            sims = np.where(
                (norms[i0:i1, None] == 0) | (norms[None, :] == 0), 0.0, sims)
            # strict upper triangle in id order (ids sorted above)
            rows, cols = np.nonzero(sims >= threshold)
            keep = cols > rows + i0
            rows, cols = rows[keep], cols[keep]
            out_a.append(ids[rows + i0])
            out_b.append(ids[cols])
            out_s.append(sims[rows, cols])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a) if out_a else [],
            "id_b": np.concatenate(out_b) if out_b else [],
            "cosine_sim": np.concatenate(out_s) if out_s else []})

    return (df.select(F.col(block_col).alias("__blk"), F.col(id_col),
                      F.col(vec_col))
            .groupBy("__blk").applyInPandas(pairs, out_ddl))


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.95,
                             n_planes: int = 8,
                             seed: int = 42) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity >= threshold.

    Candidates come from random-hyperplane LSH buckets (identical
    signature => high cosine likelihood), so the pairwise work is
    per-bucket, not global crossJoin. Exact cosine verifies.
    Output: (id_a, id_b, cosine_sim)."""
    from ..functions.distance import cosine
    from .ann import add_lsh_signature, hyperplanes

    planes = hyperplanes(n_planes, _dim_of(df, vec_col), seed)
    sig = add_lsh_signature(df.select(F.col(id_col).alias("__id"),
                                      F.col(vec_col).alias("__vec")),
                            planes, vec_col="__vec")
    left, right = sig.alias("l"), sig.alias("r")
    return (left.join(right, (F.col("l.__sig") == F.col("r.__sig"))
                      & (F.col("l.__id") < F.col("r.__id")))
            .select(F.col("l.__id").alias("id_a"),
                    F.col("r.__id").alias("id_b"),
                    (1.0 - cosine(F.col("l.__vec"), F.col("r.__vec")))
                    .alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))


def _dim_of(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(vec_col)).first()
    if row is None:
        raise ValueError("empty corpus: cannot infer embedding dimension")
    return int(row[0])


def source_overlap_matrix(df: DataFrame, source_col: str = "source",
                          text_col: str = "text") -> DataFrame:
    """Cross-source duplicate leakage: for every source pair (a < b),
    how many DISTINCT normalized fingerprints appear in BOTH — the
    curation report that tells you which feeds are re-crawls /
    mirrors of each other before you weight them independently.

    Plan shape: one fingerprint projection + distinct on
    (fingerprint, source) — the frame shrinks to at most
    |fingerprints| x |sources| — then a self-equi-join ON fingerprint
    with a < b ordering (never a x b per document: per-source
    presence is deduped FIRST, so a fingerprint contributes one row
    per source pair regardless of how many raw docs carry it), and a
    count per pair. Sources are a compact low-cardinality key; the
    join shuffle carries (fingerprint, source) pairs only."""
    fs = (df.select(fingerprint(F.col(text_col)).alias("__fp"),
                    F.col(source_col).alias("__src"))
          .distinct())
    a = fs.select(F.col("__fp"), F.col("__src").alias("source_a"))
    b = fs.select(F.col("__fp"), F.col("__src").alias("source_b"))
    return (a.join(b, "__fp")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_shared_fingerprints")))
