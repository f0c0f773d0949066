"""SemDeDup-style semantic deduplication over an embedding column.

Public recipe (Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): cluster
the embedding space, compare points only WITHIN their cluster, and
keep one representative per group of semantically-near-identical
points. Clustering turns the global O(n^2) pairwise problem into
per-cluster work — the same blocking idea as
``dedup.cosine_near_dup_blocked``, with the block key learned from the
data instead of taken from a label column.

Spark-first composition (no new physical operator needed):

1. cluster assignment — ``IvfIndex`` (map-only nearest-centroid pass;
   ``build_deterministic`` for a bit-reproducible, SQL-checkable
   assignment, ``build`` for Lloyd-trained centroids);
2. within-cluster cosine pairs — ``cosine_near_dup_blocked`` on the
   ``__cluster`` key (Arrow/BLAS tier per cluster);
3. group → representative — ``connected_components`` on the pair
   graph, winner = smallest id per component.

Scale design (100 TB): the only all-to-all movement is the hash
shuffle of (id, vector) rows on cluster id; pair generation is
cluster-local BLAS; components iterate on the (usually tiny) pair
graph. Cluster count is the knob that bounds per-executor work —
``n_clusters=None`` (the default) sizes it by the one shared IVF
rule, ``chooser.ivf_nlist`` (~4*sqrt(n)), so per-cluster occupancy
stays ~sqrt(n)/4 and total pair work is O(n^1.5) instead of the
O(n^2/k) a pinned k degenerates to as the corpus grows (measured:
the pinned-8 form went 38x for the second 10x decade on the derived
set; auto-sized it tracks the suite's sublinear envelope). Pass an
explicit n_clusters only when the block count must match an
external partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import IvfIndex
from .chooser import ivf_nlist, rows
from .components import connected_components
from .dedup import cosine_near_dup_blocked


def semantic_clusters(df: DataFrame, n_clusters: int | None = None,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      deterministic: bool = True) -> DataFrame:
    """Rows of ``df`` plus a ``__cluster`` int column (nearest
    centroid). ``n_clusters=None`` auto-sizes via ``ivf_nlist`` over
    ``chooser.rows`` (footers for a scan, else one count job).
    ``deterministic=True`` uses md5-sampled init-only centroids (any
    SQL engine reproduces them — the value-oracle path); ``False``
    trains KMeans on a bounded sample (better blocking on strongly
    clustered data, not bit-reproducible)."""
    if n_clusters is None:
        n_clusters = ivf_nlist(rows(df))
    if deterministic:
        idx = IvfIndex.build_deterministic(df, n_centroids=n_clusters,
                                           id_col=id_col, vec_col=vec_col)
    else:
        idx = IvfIndex.build(df, n_centroids=n_clusters,
                             id_col=id_col, vec_col=vec_col)
    return idx.table


#: guard text for semdedup's own (learned-key) calls into the blocked
#: scorer — the default message recommends semdedup, which would be
#: circular here
_LEARNED_KEY_HINT = (
    "The blocking key is already LEARNED (ivf_nlist-sized IVF "
    "clusters), so a block this large means the embedding space is "
    "heavily skewed at this n_clusters: raise n_clusters, or accept "
    "the bounded per-cluster quadratic with allow_quadratic=True "
    "(the semdedup default — chunked BLAS, cost ~largest_block^2).")


def semantic_dup_pairs(df: DataFrame, n_clusters: int | None = None,
                       threshold: float = 0.95,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       deterministic: bool = True,
                       allow_quadratic: bool | None = None,
                       max_block_rows: int | None = None) -> DataFrame:
    """Within-cluster cosine near-dup pairs (id_a < id_b, cosine_sim).

    Cross-cluster near-dups are invisible by design — SemDeDup's
    documented recall/cost trade; raise n_clusters for cost, lower it
    for recall.

    ``allow_quadratic=None`` (the default) resolves by how the
    blocking key was sized (ADVICE r7): an AUTO-sized key
    (``n_clusters=None`` → ``ivf_nlist``) skips the block-size guard —
    the learned sqrt-scaled key IS the sanctioned scale path, expected
    occupancy ~sqrt(n)/4 stays far under
    ``chooser.QUADRATIC_BLOCK_MAX_ROWS``, and skipping the guard also
    skips its extra full groupBy-count pass. An EXPLICITLY supplied
    ``n_clusters`` keeps the guard: a hand-picked small cluster count
    on a large corpus is exactly the latent-N² shape the guard exists
    for, and the ivf_nlist rationale does not transfer to it. Pass
    ``allow_quadratic=True``/``False`` to override either way; guard
    failures cite the learned-key hint, not the circular advice to
    use semdedup."""
    if allow_quadratic is None:
        allow_quadratic = n_clusters is None
    clustered = semantic_clusters(df, n_clusters, id_col, vec_col,
                                  deterministic)
    return cosine_near_dup_blocked(clustered, "__cluster", id_col=id_col,
                                   vec_col=vec_col, threshold=threshold,
                                   allow_quadratic=allow_quadratic,
                                   max_block_rows=max_block_rows,
                                   guard_hint=_LEARNED_KEY_HINT)


def semantic_dedup(df: DataFrame, n_clusters: int | None = None,
                   threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   deterministic: bool = True,
                   allow_quadratic: bool | None = None,
                   max_block_rows: int | None = None) -> DataFrame:
    """Survivors after semantic dedup: one representative (smallest
    id) per connected group of within-cluster near-dups; rows with no
    near-dup pass through untouched.

    The anti-join driver is the loser set (nodes whose component
    label — the group minimum — is not themselves), which is at most
    the number of near-dup rows: tiny next to the corpus, so Spark
    broadcasts it and the survivors pass is map-side.

    ``allow_quadratic``/``max_block_rows`` pass through to the blocked
    scorer (see ``semantic_dup_pairs`` for the None default: guard
    skipped only for the auto-sized learned key)."""
    pairs = semantic_dup_pairs(df, n_clusters, threshold, id_col, vec_col,
                               deterministic, allow_quadratic,
                               max_block_rows)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")
