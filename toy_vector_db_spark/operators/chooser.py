"""Cost-based search-tier selection: flat vs LSH / IVF / IVF-PQ.

The reference's planner picks an access path by ranking fixed costs —
id-lookup (1.0) beats vector search (10.0) beats full scan (100.0),
/root/reference/pkg/sql/planner/planner.go:139-182 — and its config
picks ONE index type statically (config.yaml `indexing.type`). This
module generalizes both: given corpus statistics (rows, dimension),
the query (k, metric) and the caller's recall/memory targets, it picks
the cheapest tier that can meet the targets, with the knobs the tiers
already expose (operators/ann.py, operators/pq.py).

The decision table is the public faiss index-selection guidance
re-expressed for our tiers:

- exact (flat) whenever the corpus is small enough that a scan is
  cheaper than an index build/probe cycle, or the caller demands
  recall ~1.0: the Arrow/BLAS scan (``knn.knn_arrow``), which beats
  the Column-expression fold from dim 8 up.
- angular metrics (cosine / dotproduct) route to hyperplane LSH —
  random-hyperplane signatures approximate ANGLE, so they are the
  natural bucketing for those metrics; probe width from the recall
  target.
- euclidean/manhattan route to IVF, nlist ~ 4*sqrt(n) (the classic
  IVF sizing rule), nprobe scaled by the recall target.
- when the raw vectors exceed the caller's memory budget, IVF-PQ
  swaps the scan payload for m-byte codes (~dim*4/m compression) and
  re-ranks exact.

Every decision here is a PURE function of scalars -> plan, so the
policy is unit-testable without a SparkSession; ``rows`` sizes a
DataFrame for it, ``text_tier`` is the text operators' one
Column/Arrow crossover, ``rewrite_on_driver`` the catalog DML's
driver/Spark rewrite crossover, and ``search_auto`` / ``knn_join_auto`` apply
the chosen plan to a DataFrame.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# Below this corpus size an exact scan beats build+probe even at loose
# recall targets: a 200k-row scan is one task wave, while an IVF build
# pays a sampled k-means plus a full-corpus assignment pass before the
# first probe. (At sf0.1 the measured flat scan is <1 s; builds are
# 3-6 s.) Callers amortizing a PERSISTED index over many queries
# should build explicitly rather than route per-query.
# cap: a tier CROSSOVER (exact scan vs index), not a work bound — past
# it the chooser moves to pruned tiers, so nothing degenerates.
EXACT_MAX_ROWS = 200_000
#: recall at-or-above this means "the user wants the true answer"
EXACT_RECALL = 0.999


#: Per-block row cap for quadratic-by-contract blocked scorers
#: (``dedup.cosine_near_dup_blocked``). A fixed low-cardinality
#: blocking key is a latent N^2: k blocks cost N^2/k pairs total
#: (measured 27.7x/decade at the 100x derived set). Capping the
#: LARGEST block at B instead bounds total pair work by N*B — linear
#: in N with a bounded constant; B=16384 is <=2.7e8 sims per block,
#: one chunked BLAS matmul, comfortably inside one executor task.
#: Past the cap the scale-safe path is a LEARNED block key sized by
#: ``ivf_nlist`` (semdedup.semantic_dup_pairs, 5.2x/decade measured).
QUADRATIC_BLOCK_MAX_ROWS = 16_384


#: Edge-count crossover for ``components.connected_components``
#: tier="auto": at or below this the whole (deduped, bidirectional)
#: edge list runs union-find as ONE executor task — linear work, vs
#: O(log diameter) label-propagation rounds at 3-4 Spark jobs each
#: (the measured CC stage was ~17 s at the 100x derived scale on a
#: ~100k-edge graph: round-trip latency, not compute). Above it the
#: iterative propagation tier takes over.
#: cap: a tier CROSSOVER, not a work bound — sized against MEASURED
#: Python-worker RSS, not raw edge bytes (r8's "~128 MB" counted only
#: the Arrow input): at 4M random int edges the union-find dict +
#: output list peak at ~0.94 GB / ~13 s in one worker (64-char string
#: ids: ~1.7 GB — which is why string-id graphs route through the
#: byte estimate in ``cc_local_fits``, not this count alone). Past
#: the crossover the distributed tier handles any size.
CC_LOCAL_MAX_EDGES = 4_000_000

#: Worker-memory budget for the local components tier. Measured
#: per-edge worker cost (peak RSS / edges, includes dict + output
#: tuples + the result pandas frame): ~235 B for int ids, and
#: ~235 + 1.5 x (avg combined id length) for string ids (64+64-char
#: pairs measured 433 B/edge => model 240 + 1.5*128 = 432). 1.6 GB
#: keeps the one task inside a 2 GB-ish Python-worker budget with
#: headroom; int ids at the 4M-edge crossover use ~0.94 GB.
CC_LOCAL_MEM_BUDGET_BYTES = 1_600_000_000

#: measured bytes/edge model constants (see CC_LOCAL_MEM_BUDGET_BYTES)
_CC_BYTES_PER_EDGE_BASE = 240
_CC_BYTES_PER_ID_CHAR = 1.5


def cc_local_fits(n_edges: int, avg_pair_len: float | None = None) -> bool:
    """True when a (deduped, bidirectional) edge list of ``n_edges``
    rows fits the single-task union-find tier. ``avg_pair_len`` is the
    average combined length of the two string ids on an edge (None for
    integral ids, whose footprint is id-length-independent). Pure
    scalar policy — callers pass measured aggregates."""
    if n_edges > CC_LOCAL_MAX_EDGES:
        return False
    if avg_pair_len is None:
        return True
    est = n_edges * (_CC_BYTES_PER_EDGE_BASE
                     + _CC_BYTES_PER_ID_CHAR * avg_pair_len)
    return est <= CC_LOCAL_MEM_BUDGET_BYTES


def check_quadratic_block(largest_block: int, op: str,
                          max_block_rows: int | None = None,
                          hint: str | None = None) -> None:
    """Refuse a blocked quadratic scorer whose largest block exceeds
    the cap — the guard that keeps fixed-key blocking from silently
    becoming the default N^2 path at corpus scale. Pure scalar policy
    (like the rest of this module) so it is unit-testable without a
    session; callers pass their measured largest-block count.
    ``hint`` replaces the default remediation sentence — learned-key
    callers (semdedup) must not be told to use semdedup."""
    cap = QUADRATIC_BLOCK_MAX_ROWS if max_block_rows is None else max_block_rows
    if largest_block > cap:
        if hint is None:
            hint = ("Use a learned blocking key sized by ivf_nlist "
                    "(operators/semdedup.semantic_dup_pairs / "
                    "semantic_dedup), or opt in explicitly with "
                    "allow_quadratic=True.")
        raise ValueError(
            f"{op}: largest block has {largest_block} rows (> {cap}); "
            "a fixed blocking key this coarse is quadratic-by-contract "
            f"at corpus scale. {hint}")


def ivf_nlist(n_rows: int) -> int:
    """The classic IVF sizing rule, nlist ~ 4*sqrt(n) (public faiss
    index-selection guidance): per-cluster occupancy stays ~sqrt(n)/4,
    so a query's probe-candidate volume grows as sqrt(n) instead of
    n/nlist-fixed — the property that keeps all-anchors regimes
    (``hard_negative_join_ivf``, ``knn_join_ivf_arrow``) off the N^2
    cliff: total scored pairs are O(n^1.5), not O(n^2). Every caller
    that sizes an IVF build from a corpus count should route through
    this ONE rule so the scaling discipline can't drift per call site."""
    return max(8, int(4 * math.sqrt(max(1, n_rows))))


def rows(df: DataFrame) -> int:
    """Row count for a sizing decision — the one seam every tier pick
    sizes through. When the optimized plan is a parquet file scan
    under only row-count-preserving nodes (Project, Repartition,
    RepartitionByExpression, RebalancePartitions), the answer is the
    sum of the files' FOOTER row counts, read driver-side: the same
    number as ``count()`` with no Spark job, where a count() pays a
    full job round-trip even though Spark serves it from those same
    footers. Any other plan — a filter, limit, join, union, sample,
    cached or local frame, or files on a non-local file system —
    takes ``df.count()``."""
    files = _parquet_scan_files(df)
    if files is None:
        return df.count()
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


#: plan nodes that never change their child's row count
_ROW_PRESERVING = {"Project", "Repartition", "RepartitionByExpression",
                   "RebalancePartitions"}


def _parquet_scan_files(df: DataFrame) -> list[str] | None:
    """Local paths of the files behind a parquet scan under only
    ``_ROW_PRESERVING`` nodes (partition directories included, hidden
    files excluded — the file index's own listing), or None for any
    other plan."""
    from urllib.parse import unquote, urlparse
    plan = df._jdf.queryExecution().optimizedPlan()
    while plan.getClass().getSimpleName() in _ROW_PRESERVING:
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"):
        return None
    uris = [urlparse(u) for u in rel.location().inputFiles()]
    if any(u.scheme != "file" for u in uris):
        return None
    return [unquote(u.path) for u in uris]


# Crossover for the text tiers' tier="auto" (minhash signatures,
# shingle sets, simhash, rolling fingerprints): below this corpus
# size the Column fold wins (measured sf0.1 / 5k docs: 0.26-0.57 s vs
# 0.69-1.3 s — Arrow transfer costs more than the md5s); above it the
# Arrow tier wins even JIT-warm (measured 500k docs: ~8.5 s vs ~22 s —
# the interpreted HOF fold scales worse than hashlib's C loop). The
# two tiers are bit-identical (parity tests in test_dedup.py), so the
# choice never changes results, only the plan. Re-measured with and
# without the per-task zip re-read (pyworker.py):
# minhash_signatures_tiered over sf0.1 documents (5,000), noop sink,
# best / median of 5, 4-core host: before column 2.25 / 2.36 s, arrow
# 2.30 / 2.47 s; after column 1.74 / 2.20 s, arrow 2.38 / 2.77 s. At
# this size the hashing, not the ~0.2 s worker floor, sets the time;
# the constant is unchanged.
TEXT_ARROW_MIN_DOCS = 50_000


def text_tier(df: DataFrame, tier: str = "auto") -> str:
    """The text operators' Column-fold vs Arrow-twin pick: "column" or
    "arrow" pass through, "auto" sizes ``df`` through ``rows`` against
    ``TEXT_ARROW_MIN_DOCS``. A streaming frame under "auto" takes the
    Column tier (a streaming plan cannot be counted, and real
    micro-batches are small); a caller draining a corpus-sized batch
    through one trigger sizes its batch twin here and passes the
    answer explicitly."""
    if tier == "auto":
        if df.isStreaming:
            return "column"
        return "arrow" if rows(df) >= TEXT_ARROW_MIN_DOCS else "column"
    if tier not in ("column", "arrow"):
        raise ValueError(f"unknown text tier {tier!r} "
                         "(expected 'auto', 'column' or 'arrow')")
    return tier


# Collection size (footer rows) up to which a catalog DELETE / UPDATE
# collects the matched rows' (file, row index[, SET columns]) to the
# driver in one job and rewrites the touched files there with pyarrow;
# above it the grouped match plus a Spark write job rewrites them.
# Probe, dim 128, one OPTIMIZE file plus one 500-row file, local[4],
# 2 GiB driver, 4-core host; point DML = median warm ms of one-id DELETE
# / UPDATE metadata / UPDATE vector (jobs: driver 1, Spark 3); whole =
# UPDATE SET vector of every row, with the Python / JVM peak-RSS growth:
#     rows   driver point    Spark point      driver whole     Spark whole
#     3.5k   165/191/163     453/417/356
#     50k    393/361/389     842/860/815      1.4 s +237/+134  1.1 s +0/+10 MB
#     100k   618/549/648     1506/1487/1447   2.0 s +460/+254  1.7 s +0/+22 MB
#     500k   2151/1937/2407  3093/2994/2912   6.2 s +1566/+466 4.2 s +0/+0 MB
# cap: a tier CROSSOVER that also bounds what the driver holds, since
# the matched rows number at most the collection's rows. Point DML is
# 1.4-2.7x faster on the driver at every size, but the driver's peak
# grows ~3 KB per matched row (the collected SET values plus the row
# groups being rewritten), so the cap holds the worst case, a
# whole-table UPDATE SET vector, near 0.5 GB of Python memory.
DRIVER_REWRITE_MAX_ROWS = 100_000


def rewrite_on_driver(rows: int) -> bool:
    """True when a DELETE / UPDATE over a collection of ``rows`` rows
    rewrites its touched files on the driver: at most
    ``DRIVER_REWRITE_MAX_ROWS``, which bounds the matched rows the
    driver receives."""
    return rows <= DRIVER_REWRITE_MAX_ROWS


@dataclass(frozen=True)
class SearchPlan:
    """A chosen tier plus the parameters to run it with."""
    tier: str                       # flat-arrow | lsh | ivf | ivfpq
    params: dict = field(default_factory=dict)
    reason: str = ""


def choose_search_tier(n_rows: int, dim: int, k: int,
                       metric: str = "euclidean",
                       recall_target: float = 1.0,
                       memory_budget_bytes: int | None = None,
                       exact_max_rows: int = EXACT_MAX_ROWS) -> SearchPlan:
    """Pick the cheapest tier meeting ``recall_target`` (and, if given,
    ``memory_budget_bytes`` for the scanned payload)."""
    if n_rows < 0 or dim < 1 or k < 1:
        raise ValueError(f"invalid stats: n_rows={n_rows} dim={dim} k={k}")
    if not 0.0 < recall_target <= 1.0:
        raise ValueError(f"recall_target must be in (0,1], got {recall_target}")

    raw_bytes = n_rows * dim * 4  # float32 payload
    over_budget = (memory_budget_bytes is not None
                   and raw_bytes > memory_budget_bytes)

    if n_rows <= exact_max_rows or recall_target >= EXACT_RECALL:
        why = ("corpus small enough for an exact scan"
               if n_rows <= exact_max_rows else
               f"recall_target {recall_target} demands the exact answer")
        if over_budget and n_rows > exact_max_rows:
            # exact wins the conflict, but say so — dropping the
            # caller's stated memory constraint silently hides OOM risk
            why += (f"; NOTE: exact scan reads {raw_bytes >> 20} MiB, "
                    f"over the {memory_budget_bytes >> 20} MiB budget")
        return SearchPlan("flat-arrow", {"k": k, "metric": metric}, why)

    nlist = ivf_nlist(n_rows)
    nprobe = max(1, math.ceil(nlist * (0.02 + 0.2 * recall_target)))

    # PQ codes (ADC) support faiss's two metrics — euclidean and inner
    # product (cosine/manhattan have no ADC form) — so the budget-
    # compression route only takes those; it must never hijack other
    # metrics (it would silently return wrong-metric answers)
    if over_budget and metric in ("euclidean", "dotproduct"):
        # compress: m subquantizers of ks=256 centroids -> m bytes/row.
        # m must divide dim; prefer ~dim/4 subspaces, floor at 4.
        m = next((m for m in (max(4, dim // 4), 16, 8, 4, 2, 1)
                  if dim % m == 0), 1)
        return SearchPlan(
            "ivfpq", {"k": k, "metric": metric, "n_centroids": nlist,
                      "nprobe": nprobe, "m": m, "rerank": 4},
            f"raw vectors {raw_bytes >> 20} MiB exceed budget "
            f"{memory_budget_bytes >> 20} MiB -> PQ codes ({m} B/row, "
            f"{metric} ADC)")

    if metric in ("cosine", "dotproduct"):
        # hyperplane signatures approximate angle; bucket occupancy
        # ~ n / 2^planes, aim for ~max(64, 4k) candidates per bucket
        target_bucket = max(64, 4 * k)
        n_planes = max(4, min(24, int(math.log2(max(2, n_rows / target_bucket)))))
        multiprobe = 1 + int(round(3 * recall_target))
        why = f"angular metric {metric} -> hyperplane LSH"
        if over_budget:
            why += (" (memory budget noted: LSH probes scan only the "
                    "matched buckets, not the full payload)")
        return SearchPlan(
            "lsh", {"k": k, "metric": metric, "n_planes": n_planes,
                    "multiprobe": multiprobe}, why)

    why = f"metric {metric} at {n_rows} rows -> IVF partition pruning"
    if over_budget:
        why += (f"; NOTE: {metric} has no compressed tier — probes scan "
                "raw vectors of nprobe clusters")
    return SearchPlan(
        "ivf", {"k": k, "metric": metric, "n_centroids": nlist,
                "nprobe": nprobe}, why)


#: query sides at or below this broadcast cleanly (same order as the
#: autoBroadcastJoinThreshold at typical row widths)
#: cap: a tier crossover — past it choose_join_tier switches to the
#: cogroup tier whose state is executor-side, so bigger query sides
#: get MORE distributed, never a bigger broadcast.
BROADCAST_MAX_QUERIES = 100_000


def choose_join_tier(n_queries: int, n_corpus: int, dim: int | None, k: int,
                     recall_target: float = 1.0,
                     exact_max_pairs: int = 10**9,
                     broadcast_max_queries: int = BROADCAST_MAX_QUERIES
                     ) -> SearchPlan:
    """Pick the batch-similarity-JOIN tier by the two side sizes — the
    join-shaped twin of ``choose_search_tier``:

    - ``exact-broadcast``: queries broadcast, every pair scored, exact
      two-phase top-k. Right while |q| x |c| pairs stay scan-shaped.
    - ``ivf-broadcast``: the queries are broadcast-sized, so their
      probes are picked driver-side and ONE Arrow pass over the corpus
      scores each row only against the queries probing its cluster
      (~nprobe/nlist of the corpus per query, no shuffle before the
      per-query top-k merge).
    - ``ivf-cogroup``: query side is corpus-sized (all-pairs regime) —
      broadcast would not fit, so both sides shuffle ONCE on cluster id
      and each cluster scores as one BLAS matrix op.

    Both IVF tiers run ``knn.knn_join_ivf_arrow`` (its
    ``broadcast_queries`` flag is the tier). ``dim`` is only
    range-checked when given: every tier scores raw vectors, so the
    decision does not depend on it, and ``knn_join_auto`` passes None
    rather than launch a probe job to learn it.
    """
    if (n_queries < 0 or n_corpus < 0 or k < 1
            or (dim is not None and dim < 1)):
        raise ValueError("invalid stats")
    pairs = n_queries * n_corpus
    if pairs <= exact_max_pairs or recall_target >= EXACT_RECALL:
        # exact wins whenever the pair count is scan-shaped (it meets
        # ANY recall target), and — same contract as choose_search_tier
        # — an exact recall target is honored unconditionally: degrading
        # to IVF silently would return approximate answers the caller
        # never opted into
        why = f"{pairs:.0f} pairs, exact"
        if pairs > exact_max_pairs:
            why += (f"; NOTE: over the {exact_max_pairs:.0f}-pair "
                    "comfort cap — pass recall_target < 1 to allow "
                    "the pruned tiers")
        return SearchPlan("exact-broadcast", {"k": k}, why)
    nlist = ivf_nlist(n_corpus)
    nprobe = max(1, math.ceil(nlist * (0.02 + 0.2 * recall_target)))
    params = {"k": k, "n_centroids": nlist, "nprobe": nprobe}
    if n_queries > broadcast_max_queries:
        return SearchPlan("ivf-cogroup", params,
                          f"{n_queries} queries exceed broadcast cap "
                          "-> co-partition on cluster id, BLAS per cluster")
    return SearchPlan("ivf-broadcast", params,
                      f"{pairs:.0f} pairs too many for exact "
                      "-> broadcast queries, cluster-pruned Arrow scan")


def knn_join_auto(queries: DataFrame, corpus: DataFrame, k: int = 10,
                  metric: str = "euclidean",
                  recall_target: float = 1.0,
                  query_id_col: str = "query_id",
                  query_vec_col: str = "query_vec",
                  corpus_id_col: str = "vec_id",
                  corpus_vec_col: str = "embedding",
                  exact_max_pairs: int = 10**9,
                  broadcast_max_queries: int = BROADCAST_MAX_QUERIES):
    """Route a batch similarity join through ``choose_join_tier``.
    Returns ``(plan, DataFrame)`` with (query_id, vec_id, distance).

    Both sides are sized through ``rows``, so parquet scans cost no
    sizing job. The exact tier is ``knn.knn_join``; both IVF tiers
    build one deterministic index (one ``det_sample`` job) and run
    ``knn.knn_join_ivf_arrow``: ``ivf-broadcast`` collects the queries
    (one job) and scores the corpus in one Arrow pass, ``ivf-cogroup``
    shuffles both sides on cluster id."""
    nq = rows(queries)
    nc = rows(corpus)
    plan = choose_join_tier(nq, nc, None, k, recall_target,
                            exact_max_pairs, broadcast_max_queries)
    if plan.tier == "exact-broadcast":
        from .knn import knn_join
        return plan, knn_join(queries, corpus, k=k, metric=metric,
                              query_id_col=query_id_col,
                              query_vec_col=query_vec_col,
                              corpus_id_col=corpus_id_col,
                              corpus_vec_col=corpus_vec_col)
    from .ann import IvfIndex
    from .knn import knn_join_ivf_arrow
    idx = IvfIndex.build_deterministic(
        corpus, n_centroids=min(plan.params["n_centroids"], max(1, nc)),
        id_col=corpus_id_col, vec_col=corpus_vec_col)
    return plan, knn_join_ivf_arrow(
        queries, idx, k=k, nprobe=plan.params["nprobe"], metric=metric,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        broadcast_queries=plan.tier == "ivf-broadcast")


def search_auto(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                metric: str = "euclidean",
                recall_target: float = 1.0,
                memory_budget_bytes: int | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exact_max_rows: int = EXACT_MAX_ROWS,
                tie_col: str | None = None):
    """Route one top-k search through ``choose_search_tier``.

    Returns ``(plan, DataFrame)`` — callers that only want the frame
    drop the plan; tests assert on it. The corpus is sized through
    ``rows``: parquet footers for a scan (no job), else a count()."""
    qvec = list(query_vec)
    n = rows(df)
    plan = choose_search_tier(n, len(qvec), k, metric, recall_target,
                              memory_budget_bytes, exact_max_rows)
    if plan.tier == "flat-arrow":
        from .knn import knn_arrow
        return plan, knn_arrow(df, qvec, k=k, metric=metric, vec_col=vec_col,
                               tie_col=tie_col)
    if plan.tier == "lsh":
        from .ann import LshIndex
        idx = LshIndex.build(df, n_planes=plan.params["n_planes"],
                             id_col=id_col, vec_col=vec_col)
        return plan, idx.search(qvec, k=k, metric=metric,
                                multiprobe=plan.params["multiprobe"])
    if plan.tier == "ivf":
        from .ann import IvfIndex
        idx = IvfIndex.build(df, n_centroids=min(plan.params["n_centroids"],
                                                 max(1, n)),
                             id_col=id_col, vec_col=vec_col)
        return plan, idx.search(qvec, k=k, metric=metric,
                                nprobe=plan.params["nprobe"])
    from .pq import IvfPqIndex
    idx = IvfPqIndex.build_deterministic(
        df, n_centroids=min(plan.params["n_centroids"], max(1, n)),
        m=plan.params["m"], id_col=id_col, vec_col=vec_col)
    return plan, idx.search(qvec, k=k, nprobe=plan.params["nprobe"],
                            rerank=plan.params["rerank"],
                            metric=plan.params.get("metric", "euclidean"))
