"""Cross-document n-gram overlap statistics.

Within-doc repetition (functions/text.repetition_struct) catches a doc
repeating ITSELF; this module catches content repeated ACROSS the
corpus — boilerplate headers, license blocks, templated spam — the
signal behind substring-level training-data dedup (Lee et al.,
"Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499, which removes repeated 50-token spans corpus-wide).
Doc granularity here: per document, how much of its shingle set also
appears in other documents. Filtering on ``shared_frac`` drops
template-dominated docs that exact/MinHash dedup misses because no
single pair is similar enough.

Scale design (100 TB): shingles are exploded once (one text scan);
the corpus-wide shingle frequency is a partial-aggregated groupBy on
the shingle (map-side combine collapses within-partition repeats —
boilerplate shingles collapse early); the flag join back to the
exploded frame reuses the same hash partitioning on the shingle key,
and AQE broadcasts the frequent-shingle side when it is small. The
per-doc rollup shuffles (doc_id, flag) pairs only — never text.
Heavy-hitter shingles skew the shingle-key shuffle; AQE skew-join
splits those partitions (same mitigation as workload.skew_salted_join
documents for value-skewed keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def exploded_shingles(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                      text_col: str = "text",
                      tier: str = "auto") -> DataFrame:
    """(id, sh): one row per DISTINCT k-word shingle per document
    (word_shingles semantics — short/empty docs contribute their whole
    normalized text as the single shingle, so every doc has >= 1 row).
    The derivation is tiered by corpus size (``dedup.shingles_tiered``
    — the Column transform is interpreter-evaluated per position);
    membership identical either way. Streaming frames take the Column
    tier under "auto" (``chooser.text_tier``)."""
    from .dedup import shingles_tiered
    sh = shingles_tiered(df, text_col=text_col, id_col=id_col, k=k,
                         tier=tier, sh_col="__sh")
    return sh.select(F.col(id_col), F.explode("__sh").alias("sh"))


def shared_shingle_stats(df: DataFrame, k: int = 3, min_docs: int = 2,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         tier: str = "auto") -> DataFrame:
    """Per-document cross-corpus overlap: (id, n_shingles, n_shared,
    shared_frac) where a shingle is "shared" when it occurs in at
    least ``min_docs`` documents (itself included — the count is over
    distinct-per-doc rows, so min_docs=2 means "appears in at least
    one OTHER doc")."""
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    # The exploded frame feeds BOTH join branches (the frequency agg
    # and the per-doc flag join); materialize it once so the text scan
    # + shingle explode doesn't run twice (the tfidf localCheckpoint
    # pattern — blocks are freed when the result frame drops).
    sh = exploded_shingles(df, k, id_col, text_col,
                           tier=tier).localCheckpoint(eager=False)
    freq = sh.groupBy("sh").agg(F.count("*").alias("__nd"))
    shared_flag = (F.col("__nd") >= min_docs).cast("int")
    return (sh.join(freq, "sh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_shingles"),
                 F.sum(shared_flag).alias("n_shared"))
            .select(id_col, "n_shingles", "n_shared",
                    F.round(F.col("n_shared") / F.col("n_shingles"), 4)
                    .alias("shared_frac")))


def filter_boilerplate(df: DataFrame, k: int = 3, min_docs: int = 2,
                       max_shared_frac: float = 0.8,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Drop documents whose shingle set is mostly corpus-repeated
    content (shared_frac > threshold). Join is on the id key only; the
    stats side carries 3 numeric columns per doc."""
    stats = shared_shingle_stats(df, k, min_docs, id_col, text_col)
    keep = stats.filter(F.col("shared_frac") <= max_shared_frac) \
        .select(id_col)
    return df.join(keep, id_col, "left_semi")


def top_shared_shingles(df: DataFrame, k: int = 3, limit: int = 20,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """The corpus's most-repeated shingles (sh, n_docs) — the
    "what IS this boilerplate" debugging view; deterministic total
    order (count desc, shingle asc)."""
    return (exploded_shingles(df, k, id_col, text_col)
            .groupBy("sh").agg(F.count("*").alias("n_docs"))
            .orderBy(F.col("n_docs").desc(), F.col("sh").asc())
            .limit(limit))
