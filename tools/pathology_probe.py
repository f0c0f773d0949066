"""Degenerate-duplicate-family pathology probe.

The bounded-buffer work (operators/dedup._bucket_pairs,
_bounded_clusters; operators/components adaptive compression) exists
for a corpus shape the regular testdata does not contain: ONE
duplicate family whose size grows with the corpus — mirrored
boilerplate, a templated error page, an empty document. This probe
builds that shape deliberately (sf0.1 documents + N identical clones
of doc 0) and runs the capped pipeline end-to-end:

  1. exact_dup_clusters     — bounded two-phase report over the family
  2. minhash_lsh_pairs      — capped LSH: star candidates, verified
  3. connected_components   — over the capped pair graph

An UNCAPPED run at family=200k would attempt ~8e10 candidate pairs
from single tasks (4 bands x 2e5^2/2) and buffer the 200k-member
buckets whole; the capped run stays linear in the family. Usage:

    python tools/pathology_probe.py [family_size] [sf_dir]
"""
from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from toy_vector_db_spark.session import get_spark  # noqa: E402


def main() -> None:
    fam = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark()
    from toy_vector_db_spark.operators.components import (
        connected_components,
    )
    from toy_vector_db_spark.operators.dedup import (
        exact_dup_clusters, minhash_lsh_pairs,
    )
    from toy_vector_db_spark.workload import _tp

    d = _tp(spark, sf, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") == 0).select(
        F.col("text").alias("__t"))
    clones = (spark.range(fam)
              .select((F.col("id") + 1_000_000).alias("doc_id"))
              .crossJoin(F.broadcast(seed))
              .select("doc_id", F.col("__t").alias("text")))
    corpus = d.unionByName(clones).repartition(32).localCheckpoint()
    n = corpus.count()
    print(f"corpus: {n} docs, one {fam}-member identical family")

    t0 = time.time()
    rep = exact_dup_clusters(corpus, max_ids=8)
    top = rep.orderBy(F.col("n_docs").desc()).limit(1).collect()[0]
    print(f"exact_dup_clusters: {time.time() - t0:.1f}s — top family "
          f"n_docs={top['n_docs']} id_min={top['id_min']} "
          f"id_max={top['id_max']} sample={list(top['ids'])}")

    t0 = time.time()
    pairs = minhash_lsh_pairs(corpus, num_perm=8, bands=4, shingle_k=3,
                              threshold=0.5,
                              max_bucket=64).localCheckpoint()
    np = pairs.count()
    print(f"minhash_lsh_pairs (cap=64): {time.time() - t0:.1f}s — "
          f"{np} verified pairs (family contributes ~{fam} star pairs, "
          f"not ~{fam * (fam - 1) // 2})")

    t0 = time.time()
    cc = connected_components(pairs)
    ncomp = cc.select("component").distinct().count()
    fam_sz = (cc.groupBy("component").count()
              .agg(F.max("count")).collect()[0][0])
    print(f"connected_components: {time.time() - t0:.1f}s — "
          f"{ncomp} components, largest {fam_sz}")

    # the incremental-store sibling: the whole boilerplate family in
    # the STORE, a batch re-probing it — per-batch-doc candidates are
    # capped at md5-smallest 64, so the check stays batch-sized even
    # though every band bucket the batch touches holds fam members
    import tempfile

    from toy_vector_db_spark.operators.incdedup import MinHashStore
    t0 = time.time()
    st = MinHashStore(tempfile.mkdtemp(prefix="patho_mh_")).build(corpus)
    tb = time.time() - t0
    batch = (spark.range(64)
             .select((F.col("id") + 9_000_000).alias("doc_id"))
             .crossJoin(F.broadcast(seed))
             .select("doc_id", F.col("__t").alias("text")))
    t0 = time.time()
    res = st.dedup_batch(batch, max_candidates=64).localCheckpoint()
    ndup = res.filter("is_dup").count()
    print(f"incdedup store build: {tb:.1f}s; 64-doc batch vs the "
          f"{fam}-member family: {time.time() - t0:.1f}s — "
          f"{ndup}/64 flagged (capped candidates, not {fam}/band)")

    # the r6 intra-batch sweep's own pathology: one micro-batch that
    # IS a duplicate family, all novel to the store — the sweep's
    # minhash_lsh_pairs runs with max_bucket=max_candidates, so the
    # family emits star pairs (linear), one winner reaches the store
    from toy_vector_db_spark.streaming.corpus import read_document_stream
    from toy_vector_db_spark.streaming.incdedup import (
        dedup_stream_against_store,
    )
    ibfam = min(fam, 10_000)
    novel = "a novel boilerplate page never stored before, repeated"
    src_dir = tempfile.mkdtemp(prefix="patho_inb_src_")
    (spark.range(ibfam)
     .select((F.col("id") + 8_000_000).alias("doc_id"),
             F.lit(novel).alias("text"), F.lit("en").alias("lang"),
             F.lit("web").alias("source"),
             F.lit(len(novel)).cast("int").alias("n_chars"))
     .coalesce(4).write.mode("overwrite").parquet(src_dir))
    out = tempfile.mkdtemp(prefix="patho_inb_out_")
    t0 = time.time()
    dedup_stream_against_store(
        read_document_stream(spark, src_dir, max_files_per_trigger=None),
        st, out, tempfile.mkdtemp(prefix="patho_inb_ck_"),
        add_unique=True)
    got = spark.read.parquet(out)
    nwin = got.filter("NOT is_dup").count()
    print(f"intra-batch sweep, one {ibfam}-member novel family in ONE "
          f"micro-batch: {time.time() - t0:.1f}s — {nwin} winner(s), "
          f"{got.filter('is_dup').count()} flagged (star-capped, "
          f"not {ibfam}^2/2 pairs)")

    # the sibling pathology for the journey funnel: one bot user whose
    # event history (fam rows) would previously sit in ONE collect_list
    # buffer; the window rewrite streams it through spillable buffers
    from toy_vector_db_spark.operators.journey import event_funnel
    ev = _tp(spark, sf, "events").select("user_id", "event_type", "ts")
    steps = ["view", "cart", "purchase"]
    bot = (spark.range(fam * 10)
           .select(F.lit(999_999_999).alias("user_id"),
                   F.element_at(
                       F.array(*[F.lit(s) for s in steps]),
                       (F.col("id") % 3 + 1).cast("int"))
                   .alias("event_type"),
                   F.timestamp_seconds(1_700_000_000 + F.col("id"))
                   .alias("ts")))
    evc = ev.unionByName(bot).repartition(32).localCheckpoint()
    ne = evc.count()
    t0 = time.time()
    out = event_funnel(evc, steps)
    nu = out.count()
    brow = out.filter(F.col("user_id") == 999_999_999).collect()[0]
    print(f"event_funnel ({ne} events, bot user with {fam * 10}): "
          f"{time.time() - t0:.1f}s — {nu} users, bot completed "
          f"{brow['steps_completed']} steps")

    # the greedy sweep's adversarial shape: a DEEP near-dup chain in
    # one micro-batch (adjacent word-jaccard 0.5, skip-one 0.2 — a
    # path graph). The r7 round-form sweep hit its 30-round cap here
    # (37.7 s, tail over-accepted); the r8 component form is one CC
    # pass + one applyInPandas, exact at any depth. Invariants
    # checked: every dup_of stored, every accepted doc stored.
    chain_n = 200
    docs = [(i, " ".join(f"w{j}" for j in range(2 * i, 2 * i + 6)),
             "en", "web", 30) for i in range(chain_n)]
    csrc = tempfile.mkdtemp(prefix="patho_chain_src_")
    (spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
              " n_chars int")
     .coalesce(1).write.mode("overwrite").parquet(csrc))
    cst = MinHashStore(tempfile.mkdtemp(prefix="patho_chain_store_"),
                       shingle_k=1)
    cst.build(spark.createDataFrame(
        [(10_000_000, "completely unrelated seed document text",
          "en", "web", 30)],
        "doc_id long, text string, lang string, source string,"
        " n_chars int"))
    cout = tempfile.mkdtemp(prefix="patho_chain_out_")
    t0 = time.time()
    dedup_stream_against_store(
        read_document_stream(spark, csrc, max_files_per_trigger=None),
        cst, cout, tempfile.mkdtemp(prefix="patho_chain_ck_"),
        add_unique=True)
    wall = time.time() - t0
    cres = spark.read.parquet(cout)
    cflag = {r["doc_id"]: r["dup_of"]
             for r in cres.filter("is_dup").collect()}
    cacc = {r["doc_id"] for r in cres.filter("NOT is_dup").collect()}
    cstored = {r["doc_id"]
               for r in spark.read.parquet(cst._data_path()).collect()}
    print(f"{chain_n}-deep chain, one micro-batch: {wall:.1f}s — "
          f"{len(cflag)} flagged / {len(cacc)} accepted; "
          f"dup_of all stored: {all(d in cstored for d in cflag.values())}; "
          f"accepted all stored: {all(a in cstored for a in cacc)}")

    # r9: the local components tier with LONG STRING ids — the
    # union-find dict holds the id objects, so a 64-char-id graph
    # costs ~1.8x an int graph per edge (measured: 433 vs 235 B/edge).
    # The auto route must still take the local tier while the byte
    # estimate (chooser.cc_local_fits) fits the budget, and the one
    # task must finish in seconds, not minutes.
    from toy_vector_db_spark.operators.chooser import cc_local_fits
    n_str = 1_000_000
    sedges = (spark.range(n_str).select(
        F.concat(F.lit("doc-"),
                 F.lpad(F.col("id").cast("string"), 60, "0")).alias("id_a"),
        F.concat(F.lit("doc-"),
                 F.lpad((F.col("id") + 1).cast("string"), 60, "0"))
        .alias("id_b")))
    t0 = time.time()
    scc = connected_components(sedges)      # tier="auto"
    nodes = scc.count()
    ncomp2 = scc.select("component").distinct().count()
    print(f"string-id chain ({n_str} edges x 64-char ids, auto tier): "
          f"{time.time() - t0:.1f}s — {nodes} nodes, {ncomp2} component(s); "
          f"cc_local_fits({2 * n_str}, 128) = {cc_local_fits(2 * n_str, 128.0)}")

    # r9: the PERCEPTUAL image-dedup family with a degenerate
    # duplicate family. 200k real binary-PPM payloads, id_mod=48
    # (lcm of the dim cycles, so residue-mates are byte-identical):
    # ~48 distinct images x ~4.2k copies each. Every copy shares a
    # dHash, so each band bucket IS a 4.2k-member family — the
    # max_bucket=64 star cap must keep candidates linear (~4 x 200k
    # star pairs, not 48 x 4.2k^2/2 ~ 420M), and the Hamming-ball
    # closure must still produce <= 48-ish groups covering all 200k.
    from toy_vector_db_spark.operators.imagedup import (
        dhash_hamming_pairs, dhash_media, image_dup_groups,
    )
    from toy_vector_db_spark.operators.media import synth_ppm
    n_img = min(fam, 200_000)
    imgs = synth_ppm(spark, n=n_img, id_mod=48) \
        .repartition(32).localCheckpoint()
    t0 = time.time()
    hashed = dhash_media(imgs).localCheckpoint()
    t_hash = time.time() - t0
    t0 = time.time()
    ipairs = dhash_hamming_pairs(hashed).localCheckpoint()
    nip = ipairs.count()
    t_pairs = time.time() - t0
    # the grouping operator itself bands CLASS REPRESENTATIVES (48
    # rows here, not 200k), so it must cover EVERY image — raw-image
    # banding lost whole families to the star cap when a far family
    # held the bucket min on every band (the r9 probe caught this)
    t0 = time.time()
    grp = image_dup_groups(imgs).localCheckpoint()
    ngroups = grp.select("group_id").distinct().count()
    ncovered = grp.count()
    t_grp = time.time() - t0
    print(f"image dhash x {n_img} (48 exact-dup families): decode+hash "
          f"{t_hash:.1f}s; raw banded pairs {t_pairs:.1f}s — {nip} "
          f"(star-capped, not ~4e8); class-level grouping {t_grp:.1f}s "
          f"— {ngroups} groups covering {ncovered}/{n_img} images")
    assert ncovered == n_img, "image grouping must cover every image"


if __name__ == "__main__":
    main()
