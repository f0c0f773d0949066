"""Incremental dedup store (operators/incdedup.MinHashStore):
build/add/check lifecycle, determinism of the candidate cap, the
meta guard, and the no-store-shuffle plan shape. End-to-end value
parity is oracle-checked in workload.dedup_incremental_batch."""

from __future__ import annotations

import pytest

from toy_vector_db_spark.operators.incdedup import MinHashStore


def _corpus(spark):
    rows = [(i, f"unique document number {i} with distinct content "
                f"token{i} token{i + 1} token{i + 2}") for i in range(40)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mh_store"))
    return MinHashStore(path).build(_corpus(spark))


def test_dedup_batch_flags_known_dup(spark, store):
    corpus_text = ("unique document number 7 with distinct content "
                   "token7 token8 token9")
    batch = spark.createDataFrame(
        [(100, corpus_text),                       # exact dup of doc 7
         (101, "completely different subject matter entirely new")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in store.dedup_batch(batch).collect()}
    assert out[100]["is_dup"] and out[100]["dup_of"] == 7
    assert out[100]["sim"] == 1.0
    assert not out[101]["is_dup"] and out[101]["dup_of"] is None


def test_add_extends_the_store(spark, tmp_path):
    st = MinHashStore(str(tmp_path / "s")).build(_corpus(spark))
    novel = "brand new accepted text about harbor lights and tides"
    probe = spark.createDataFrame([(300, novel)], ["doc_id", "text"])
    assert not st.dedup_batch(probe).first()["is_dup"]
    st.add(spark.createDataFrame([(200, novel)], ["doc_id", "text"]))
    hit = st.dedup_batch(probe).first()
    assert hit["is_dup"] and hit["dup_of"] == 200


def test_candidate_cap_is_deterministic(spark, tmp_path):
    # 10 identical stored docs; cap=1 keeps exactly the md5-smallest id
    same = "mirrored boilerplate page body repeated verbatim everywhere"
    st = MinHashStore(str(tmp_path / "s")).build(spark.createDataFrame(
        [(i, same) for i in range(10)], ["doc_id", "text"]))
    batch = spark.createDataFrame([(99, same)], ["doc_id", "text"])
    a = st.dedup_batch(batch, max_candidates=1).first()
    b = st.dedup_batch(batch, max_candidates=1).first()
    assert a["is_dup"] and a["dup_of"] == b["dup_of"]
    import hashlib
    md5_min = min(range(10), key=lambda i: (hashlib.md5(
        str(i).encode()).hexdigest(), i))
    assert a["dup_of"] == md5_min


def test_compact_merges_append_files(spark, tmp_path):
    st = MinHashStore(str(tmp_path / "s")).build(_corpus(spark))
    for i in range(3):   # each add appends >= 1 small file
        st.add(spark.createDataFrame(
            [(1000 + i, f"appended novel doc {i} about item {i}")],
            ["doc_id", "text"]))
    probe = spark.createDataFrame(
        [(2000, "appended novel doc 1 about item 1")], ["doc_id", "text"])
    pre = st.dedup_batch(probe).first()
    before, after = st.compact(spark, target_files=1)
    assert before > 1 and after == 1
    post = st.dedup_batch(probe).first()   # results unchanged by layout
    assert (pre["is_dup"], pre["dup_of"], pre["sim"]) == \
           (post["is_dup"], post["dup_of"], post["sim"])


def test_sig_tier_parity_on_store_and_check(spark, tmp_path):
    # column vs arrow store builds: signatures byte-identical, shingle
    # sets member-identical (order is NOT contract), dedup_batch
    # results equal row-for-row
    corpus = _corpus(spark)
    a = MinHashStore(str(tmp_path / "a"), sig_tier="column").build(corpus)
    b = MinHashStore(str(tmp_path / "b"), sig_tier="arrow").build(corpus)
    sa = {r["doc_id"]: (tuple(r["sig"]), frozenset(r["sh"]))
          for r in spark.read.parquet(a._data_path()).collect()}
    sb = {r["doc_id"]: (tuple(r["sig"]), frozenset(r["sh"]))
          for r in spark.read.parquet(b._data_path()).collect()}
    assert sa == sb
    batch = spark.createDataFrame(
        [(100, "unique document number 3 with distinct content "
               "token3 token4 token5"),
         (101, "entirely novel probe text")], ["doc_id", "text"])
    ra = sorted(map(tuple, a.dedup_batch(batch).collect()))
    rb = sorted(map(tuple, b.dedup_batch(batch).collect()))
    assert ra == rb


def test_misspelled_sig_tier_raises_instead_of_building(spark, tmp_path):
    # a typo'd tier name must not silently build with the Column tier
    st = MinHashStore(str(tmp_path / "s"), sig_tier="arow")
    with pytest.raises(ValueError, match="unknown text tier 'arow'"):
        st.build(_corpus(spark))
    assert not (tmp_path / "s" / "store").exists()


def test_meta_guard_rejects_mismatched_params(spark, store):
    batch = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    probe = MinHashStore(store.path, num_perm=16, bands=4)
    with pytest.raises(ValueError, match="built with"):
        probe.dedup_batch(batch)


def test_streaming_ingest_evolving_store(spark, tmp_path):
    # two sequenced drains with add_unique: the first drain ADMITS a
    # novel doc into the store, the second drain's copy of that doc is
    # flagged against it — the order-dependent ingest-loop semantics
    # the batch oracle can't cover
    from toy_vector_db_spark.streaming.corpus import read_document_stream
    from toy_vector_db_spark.streaming.incdedup import (
        dedup_stream_against_store,
    )
    ddl_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    novel = "a wholly new paragraph about glass harbors and slow tides"
    st = MinHashStore(str(tmp_path / "store")).build(_corpus(spark))
    out, ckpt = str(tmp_path / "out"), tmp_path / "ckpt"

    def drain(n, rows):
        src_dir = tmp_path / f"in{n}"
        spark.createDataFrame(rows, ddl_cols).coalesce(1) \
            .write.parquet(str(src_dir))
        dedup_stream_against_store(
            read_document_stream(spark, str(src_dir),
                                 max_files_per_trigger=None),
            st, out, str(ckpt / str(n)), add_unique=True)

    drain(1, [(900, novel, "en", "web", len(novel))])
    drain(2, [(901, novel, "en", "web", len(novel))])
    res = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert not res[900]["is_dup"]            # novel at drain 1, admitted
    assert res[901]["is_dup"] and res[901]["dup_of"] == 900


def test_streaming_ingest_intra_batch_first_copy_wins(spark, tmp_path):
    # two copies of a NOVEL doc in the SAME micro-batch: without the
    # intra-batch sweep both pass the store check and both are
    # appended permanently; with it the smallest id wins, the other is
    # flagged against it, and only the winner reaches the store
    from toy_vector_db_spark.streaming.corpus import read_document_stream
    from toy_vector_db_spark.streaming.incdedup import (
        dedup_stream_against_store,
    )
    ddl_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    novel = "an unseen essay on copper kites over the winter estuary"
    other = "entirely separate note cataloguing moths of the high veld"
    st = MinHashStore(str(tmp_path / "store")).build(_corpus(spark))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src_dir = tmp_path / "in"
    spark.createDataFrame(
        [(910, novel, "en", "web", len(novel)),
         (911, novel, "en", "web", len(novel)),
         (912, other, "en", "web", len(other))],
        ddl_cols).coalesce(1).write.parquet(str(src_dir))
    dedup_stream_against_store(
        read_document_stream(spark, str(src_dir),
                             max_files_per_trigger=None),
        st, out, ckpt, add_unique=True)
    res = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert not res[910]["is_dup"] and res[910]["dup_of"] is None
    assert res[911]["is_dup"] and res[911]["dup_of"] == 910
    assert res[911]["sim"] == 1.0
    assert not res[912]["is_dup"]
    stored = {r["doc_id"] for r in
              spark.read.parquet(st._data_path()).collect()}
    assert 910 in stored and 912 in stored
    assert 911 not in stored                 # loser never appended


def test_intra_batch_greedy_chain_and_best_partner(spark):
    # exact id-ordered greedy over the pair graph: in a transitive
    # chain (1~2, 2~3, 1!~3) doc 3 is ACCEPTED (its only near doc 2 is
    # flagged), and a flagged doc's dup_of is its best ACCEPTED
    # partner even when a flagged doc scored higher
    from toy_vector_db_spark.streaming.incdedup import _intra_batch_greedy
    chain = spark.createDataFrame(
        [(1, 2, 0.8), (2, 3, 0.7)], "id_a long, id_b long, jaccard double")
    got = {r["__flag_id"]: r for r in _intra_batch_greedy(chain).collect()}
    assert set(got) == {2} and got[2]["__dup_of"] == 1

    clique = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (2, 3, 0.95)],
        "id_a long, id_b long, jaccard double")
    got = {r["__flag_id"]: r["__dup_of"]
           for r in _intra_batch_greedy(clique).collect()}
    assert got == {2: 1, 3: 1}   # both flag against the one winner

    # 4 is near winner 1 (0.6) and near flagged 2 (0.9): greedy flags
    # it against the accepted doc, never the higher-scoring flagged one
    best = spark.createDataFrame(
        [(1, 2, 0.8), (1, 4, 0.6), (2, 4, 0.9)],
        "id_a long, id_b long, jaccard double")
    got = {r["__flag_id"]: r for r in _intra_batch_greedy(best).collect()}
    assert got[4]["__dup_of"] == 1 and got[4]["__sim"] == 0.6
    # sim carries dedup_batch's ROUND(.., 4) output contract
    third = spark.createDataFrame(
        [(7, 9, 1.0 / 3.0)], "id_a long, id_b long, jaccard double")
    assert _intra_batch_greedy(third).first()["__sim"] == 0.3333


def test_greedy_component_form_equals_round_form(spark):
    """r8: the default sweep is connected-components + per-component
    sequential greedy in one applyInPandas; the pre-r8 round form
    stays as the fallback. Both must produce identical flag sets on
    every fixture shape — chain, clique, star, best-partner, and a
    40-deep chain (sub-cap for the round form, so the round form is
    exact there and serves as the oracle)."""
    from toy_vector_db_spark.streaming.incdedup import (
        _intra_batch_greedy, _intra_batch_greedy_rounds)
    fixtures = {
        "chain": [(1, 2, 0.8), (2, 3, 0.7)],
        "clique": [(1, 2, 0.9), (1, 3, 0.8), (2, 3, 0.95)],
        "best": [(1, 2, 0.8), (1, 4, 0.6), (2, 4, 0.9)],
        "star": [(5, 6, 0.9), (5, 7, 0.8), (5, 8, 0.7)],
        "two-components": [(1, 2, 0.9), (10, 11, 0.8), (11, 12, 0.7)],
        "chain40": [(i, i + 1, 0.5 + 0.001 * i) for i in range(1, 40)],
    }
    for name, rows in fixtures.items():
        df = spark.createDataFrame(
            rows, "id_a long, id_b long, jaccard double")
        a = sorted(tuple(r) for r in _intra_batch_greedy(df).collect())
        b = sorted(tuple(r)
                   for r in _intra_batch_greedy_rounds(df).collect())
        assert a == b, (name, a, b)


def test_greedy_deep_chain_is_exact_past_the_old_cap(spark):
    """A 64-deep chain exceeds nothing in the component form (the
    round form would need 32 rounds — past _SWEEP_MAX_ROUNDS=30 it
    over-accepts the tail). Exact greedy on a path graph: evens
    flagged against their odd predecessor, odds accepted."""
    from toy_vector_db_spark.streaming.incdedup import _intra_batch_greedy
    chain = spark.createDataFrame(
        [(i, i + 1, 0.5) for i in range(1, 65)],
        "id_a long, id_b long, jaccard double")
    got = {r["__flag_id"]: r["__dup_of"]
           for r in _intra_batch_greedy(chain).collect()}
    assert got == {v: v - 1 for v in range(2, 66, 2)}


def test_greedy_empty_pairs_fast_path(spark):
    from toy_vector_db_spark.streaming.incdedup import _intra_batch_greedy
    empty = spark.createDataFrame(
        [], "id_a long, id_b long, jaccard double")
    out = _intra_batch_greedy(empty)
    assert out.columns == ["__flag_id", "__dup_of", "__sim"]
    assert out.count() == 0


def test_streaming_ingest_chain_member_reaches_store(spark, tmp_path):
    # transitive intra-batch chain x~y, y~z, x!~z (word-level jaccard:
    # x,y and y,z share 4/8 = 0.5; x,z share 2/10 = 0.2): the greedy
    # sweep accepts AND stores z, so a later copy of z is flagged —
    # the store-coverage hole the one-shot sweep had (z flagged
    # against flagged y, then a later copy accepted as novel)
    from toy_vector_db_spark.streaming.corpus import read_document_stream
    from toy_vector_db_spark.streaming.incdedup import (
        dedup_stream_against_store,
    )
    ddl_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    x = "alpha beta gamma delta epsilon foxtrot"
    y = "gamma delta epsilon foxtrot golf hotel"
    z = "epsilon foxtrot golf hotel india juliet"
    st = MinHashStore(str(tmp_path / "store"), num_perm=8, bands=8,
                      shingle_k=1).build(_corpus(spark))
    out, ckpt = str(tmp_path / "out"), tmp_path / "ckpt"

    def drain(n, rows):
        src_dir = tmp_path / f"in{n}"
        spark.createDataFrame(rows, ddl_cols).coalesce(1) \
            .write.parquet(str(src_dir))
        dedup_stream_against_store(
            read_document_stream(spark, str(src_dir),
                                 max_files_per_trigger=None),
            st, out, str(ckpt / str(n)), threshold=0.5, add_unique=True)

    drain(1, [(920, x, "en", "web", len(x)),
              (921, y, "en", "web", len(y)),
              (922, z, "en", "web", len(z))])
    res = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert not res[920]["is_dup"]
    assert res[921]["is_dup"] and res[921]["dup_of"] == 920
    assert res[921]["sim"] == 0.5
    assert not res[922]["is_dup"]            # chain end accepted
    stored = {r["doc_id"] for r in
              spark.read.parquet(st._data_path()).collect()}
    assert 922 in stored and 921 not in stored
    drain(2, [(923, z, "en", "web", len(z))])
    res = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert res[923]["is_dup"] and res[923]["dup_of"] == 922


def test_consistency_with_batch_pair_pipeline(spark, tmp_path):
    # cross-tier contract: with no cap pressure, a batch doc is flagged
    # by the STORE check iff the BATCH pipeline finds a verified
    # cross pair for it over (corpus UNION batch) — same bands, same
    # jaccard, same threshold, so the incremental tier is exactly the
    # batch pipeline restricted to corpus-x-batch pairs
    from toy_vector_db_spark.operators.dedup import minhash_lsh_pairs
    texts = [
        "alpha beta gamma delta epsilon zeta", "one two three four five six",
        "alpha beta gamma delta epsilon eta",  # near-dup of 0
        "seven eight nine ten eleven twelve", "the quick brown fox jumps over",
        "one two three four five seven",       # near-dup of 1
        "completely unrelated text body here", "the quick brown fox jumps high",
    ]
    corpus_rows = [(i, t) for i, t in enumerate(texts[:4])]
    batch_rows = [(100 + i, t) for i, t in enumerate(texts[4:])]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])

    st = MinHashStore(str(tmp_path / "s")).build(corpus)
    flagged = {r["doc_id"] for r in st.dedup_batch(batch).collect()
               if r["is_dup"]}

    both = corpus.unionByName(batch)
    pairs = minhash_lsh_pairs(both, threshold=0.5).collect()
    cross = {max(r["id_a"], r["id_b"]) for r in pairs
             if (r["id_a"] < 100) != (r["id_b"] < 100)}
    assert flagged == cross


def test_final_plan_never_shuffles_or_broadcasts_the_store(spark, store):
    batch = spark.createDataFrame(
        [(500, "some probe text for the plan audit")], ["doc_id", "text"])
    plan = store.dedup_batch(batch)._jdf.queryExecution() \
        .executedPlan().toString()
    # every join in the returned plan is broadcast-hash with the
    # SMALL frame (batch bands / capped candidates / best matches) as
    # the build side; the store parquet scan is always the streamed
    # side, so it is neither exchanged nor broadcast
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
