from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.operators.dedup import (
    embedding_near_dup_pairs, exact_dedup, exact_dup_clusters, jaccard,
    minhash_lsh_pairs, minhash_signature, minhash_signatures_arrow,
    ngram_jaccard_pairs, simhash, simhash_dup_clusters,
)

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog."),   # exact dup of 1 (normalized)
    (3, "The quick brown fox jumps over the lazy cat"),    # near dup of 1
    (4, "Completely unrelated text about database engines"),
    (5, "Completely unrelated text about database engines"),  # exact dup of 4
    (6, "lorem ipsum dolor sit amet consectetur adipiscing"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dup_clusters(docs):
    rows = exact_dup_clusters(docs).collect()
    clusters = sorted(tuple(r["ids"]) for r in rows)
    assert clusters == [(1, 2), (4, 5)]


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 6]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got            # exact dups always pass
    assert (4, 5) in got
    assert (1, 3) in got or (2, 3) in got  # near dup shares most shingles
    for r in pairs:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_minhash_arrow_tier_bit_identical(spark, docs):
    """The hashlib/Arrow signature tier must produce byte-identical
    signatures to the Catalyst HOF tier — same normalization (Java \\s
    semantics, space-only trim), same salted md5 hex minima — including
    the edge rows the normalizer can produce (empty, whitespace-only,
    shorter than k words, unicode whitespace that Java \\s must NOT
    eat)."""
    edge = spark.createDataFrame(
        [(100, ""), (101, "   "), (102, "one"), (103, "two words"),
         (104, "nbsp stays attached"), (105, "Tabs\tand\nnewlines")],
        ["doc_id", "text"])
    both = docs.unionByName(edge)
    col_tier = {r["doc_id"]: r["sig"] for r in both.select(
        "doc_id", minhash_signature(F.col("text"), 8, 3).alias("sig"))
        .collect()}
    arrow_tier = {r["doc_id"]: r["sig"] for r in
                  minhash_signatures_arrow(both, num_perm=8, shingle_k=3)
                  .collect()}
    assert col_tier == arrow_tier


def test_minhash_lsh_arrow_tier_same_pairs(docs):
    """The full LSH pipeline routed through the Arrow signature tier
    must produce exactly the Column tier's verified pairs (signatures
    are bit-identical, so bands/buckets/jaccard are too)."""
    col = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
           for r in minhash_lsh_pairs(docs, threshold=0.3,
                                      sig_tier="column").collect()}
    arr = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
           for r in minhash_lsh_pairs(docs, threshold=0.3,
                                      sig_tier="arrow").collect()}
    assert col == arr and col


def test_minhash_signatures_tiered_routing(docs, monkeypatch):
    """The standalone tiered entry point: both explicit tiers are
    bit-identical, auto routes by corpus size across the crossover,
    and an unknown tier name raises."""
    import pytest
    from toy_vector_db_spark.operators import chooser
    from toy_vector_db_spark.operators.dedup import minhash_signatures_tiered
    sig = lambda **kw: {r["doc_id"]: r["sig"] for r in
                        minhash_signatures_tiered(docs, **kw).collect()}
    col, arr = sig(tier="column"), sig(tier="arrow")
    assert col == arr and col
    # auto: small corpus -> column plan (no mapInPandas); with the
    # crossover lowered under it -> arrow plan (mapInPandas present)
    small = minhash_signatures_tiered(docs)
    assert sig() == col
    monkeypatch.setattr(chooser, "TEXT_ARROW_MIN_DOCS", 1)
    big = minhash_signatures_tiered(docs)
    assert "MapInPandas" not in small._jdf.queryExecution().toString()
    assert "MapInPandas" in big._jdf.queryExecution().toString()
    with pytest.raises(ValueError, match="unknown text tier"):
        minhash_signatures_tiered(docs, tier="bogus")


def test_word_shingles_arrow_membership_parity(spark):
    """The Python shingle twin must agree with the Column tier on
    MEMBERSHIP (order is not contract) including the edge texts the
    tokenizer normalizes: None, empty, punctuation-only, unicode
    whitespace (\\xa0 is NOT JVM \\s), short-of-k texts."""
    from toy_vector_db_spark.functions.text import word_shingles
    from toy_vector_db_spark.operators.dedup import word_shingles_arrow
    texts = [None, "", "  ", "!!! ...", "one", "one two",
             "one two three four", "A\xa0B c d", "a  b\t\nc d e",
             "Mixed CASE, with punct! and more words here"]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    col = {r["doc_id"]: frozenset(r["sh"]) for r in df.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("sh")).collect()}
    arr = {r["doc_id"]: frozenset(r["sh"])
           for r in word_shingles_arrow(df, shingle_k=3).collect()}
    # strict equality on EVERY row: both tiers normalize null text to
    # the empty-text shingle [''] (the late-r5 carve-out is closed)
    assert col == arr
    assert col[0] == frozenset([""])


def test_sig_tier_parity_null_and_empty_text(spark):
    """The Column/Arrow signature tier contract on null + empty text:
    bit-identical signatures (null == empty == blank), identical LSH
    pairs, and the DuckDB oracle shingle fragment reproduces the same
    normalization — so sig_tier='auto' can never flip a null row's
    fate with corpus size (the one r6 tier-contract carve-out)."""
    import duckdb

    from toy_vector_db_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signature, minhash_signatures_arrow)
    from toy_vector_db_spark.workload import _dd_shingles
    rows = [(0, None), (1, ""), (2, "   "), (3, "real text body here"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col = {r["doc_id"]: tuple(r["sig"]) for r in df.select(
        "doc_id", minhash_signature(F.col("text"), 8, 3).alias("sig"))
        .collect()}
    arr = {r["doc_id"]: tuple(r["sig"]) for r in
           minhash_signatures_arrow(df, num_perm=8, shingle_k=3).collect()}
    assert col == arr
    assert col[0] == col[1] == col[2]        # null == empty == blank
    pairs = lambda t: {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
                       for r in minhash_lsh_pairs(df, threshold=0.3,
                                                  sig_tier=t).collect()}
    pc, pa = pairs("column"), pairs("arrow")
    assert pc == pa
    assert (0, 1, 1.0) in pc and (0, 4, 1.0) in pc   # null rows band
    # the oracle twin: DuckDB's shingle fragment on the same rows
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, {repr(t) if t is not None else 'NULL'})"
                            for i, t in rows)
                + ") AS t(doc_id, text)")
    got = {i: frozenset(sh) for i, sh in con.execute(
        f"SELECT doc_id, {_dd_shingles(3)} FROM documents").fetchall()}
    from toy_vector_db_spark.functions.text import word_shingles
    spark_sh = {r["doc_id"]: frozenset(r["sh"]) for r in df.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("sh")).collect()}
    assert got == spark_sh and got[0] == frozenset([""])


def test_simhash_tier_parity_and_routing(spark, docs, monkeypatch):
    """simhash Column fold vs Arrow twin: bit-identical values on the
    corpus AND the tokenizer edge texts (null, empty, punct-only,
    unicode non-JVM whitespace, short, mixed case); auto routes by
    corpus size without changing values; unknown tier raises."""
    import pytest

    from toy_vector_db_spark.operators import chooser
    from toy_vector_db_spark.operators.dedup import simhash, simhash_tiered
    edge = [None, "", "  ", "!!! ...", "one", "A\xa0B c d",
            "Mixed CASE, with punct! and words", "a  b\t\nc d e"]
    both = docs.select("doc_id", "text").union(
        spark.createDataFrame(
            [(1000 + i, t) for i, t in enumerate(edge)],
            "doc_id long, text string"))
    for bits, k in ((16, 1), (16, 3), (8, 1)):
        col = {r["doc_id"]: r["simhash"] for r in
               simhash_tiered(both, bits=bits, shingle_k=k,
                              tier="column").collect()}
        arr = {r["doc_id"]: r["simhash"] for r in
               simhash_tiered(both, bits=bits, shingle_k=k,
                              tier="arrow").collect()}
        assert col == arr and col
    assert col[1000] == col[1001]            # null == empty
    small = simhash_tiered(docs)
    monkeypatch.setattr(chooser, "TEXT_ARROW_MIN_DOCS", 1)
    big = simhash_tiered(docs)
    assert "MapInPandas" not in small._jdf.queryExecution().toString()
    assert "MapInPandas" in big._jdf.queryExecution().toString()
    direct = {r["doc_id"]: r["h"] for r in docs.select(
        "doc_id", simhash(F.col("text"), 16).alias("h")).collect()}
    got16 = {r["doc_id"]: r["simhash"] for r in
             simhash_tiered(docs, bits=16, tier="arrow").collect()}
    assert {k: v for k, v in got16.items() if k in direct} == direct
    with pytest.raises(ValueError, match="unknown text tier"):
        simhash_tiered(docs, tier="bogus")


def test_fingerprints_tier_parity_and_routing(spark, docs, monkeypatch):
    """fingerprint + rolling_fp Column vs Arrow: bit-identical on the
    corpus and the tokenizer edge texts (null stays NULL in both —
    the fingerprint family's documented null semantics, unlike the
    shingle family's null->empty); auto routes by corpus size."""
    import pytest

    from toy_vector_db_spark.operators import chooser
    from toy_vector_db_spark.operators.dedup import fingerprints_tiered
    edge = [None, "", "  ", "!!! ...", "one", "one two three",
            "A\xa0B c d", "Mixed CASE, with punct! and words here"]
    both = docs.select("doc_id", "text").union(
        spark.createDataFrame([(1000 + i, t) for i, t in enumerate(edge)],
                              "doc_id long, text string"))
    key = lambda r: (r["doc_id"], r["fingerprint"], r["rolling_fp"])
    col = sorted(map(key, fingerprints_tiered(both, tier="column").collect()))
    arr = sorted(map(key, fingerprints_tiered(both, tier="arrow").collect()))
    assert col == arr
    by_id = dict((r[0], r[1:]) for r in col)
    assert by_id[1000] == (None, None)       # null propagates (family rule)
    small = fingerprints_tiered(docs)
    monkeypatch.setattr(chooser, "TEXT_ARROW_MIN_DOCS", 1)
    big = fingerprints_tiered(docs)
    assert "MapInPandas" not in small._jdf.queryExecution().toString()
    assert "MapInPandas" in big._jdf.queryExecution().toString()
    with pytest.raises(ValueError, match="unknown text tier"):
        fingerprints_tiered(docs, tier="bogus")


def test_all_tier_families_parity_on_random_unicode(spark):
    """One seeded fuzz corpus (ASCII + Latin-1 + CJK + emoji + RTL +
    combining marks + the casing traps: Turkish I, sharp s, final
    sigma, ligatures, fullwidth, Kelvin sign) pushed through EVERY
    Column/Arrow tier pair — signatures, shingles, simhash,
    fingerprints. The tier contract is bit-parity on ANY input, which
    rests on Java and Python lowercasing/tokenizing identically; this
    is the test that would catch a divergence before a corpus does."""
    import random

    from toy_vector_db_spark.operators.dedup import (
        fingerprints_tiered, minhash_signatures_arrow, minhash_signature,
        shingles_tiered, simhash_tiered)
    rng = random.Random(42)
    pools = [
        "abcdefghij XYZ .,!?;: 0123456789",
        "İıßẞΣσςΟΔ ﬁﬂ ＡＢＣ K",            # casing traps
        "середина текста кириллицей",
        "中文字符串 漢字 かな カナ",
        "🎉🚀😀 ́̈ ◌",              # emoji + combining
        "مرحبا بالعالم עברית",               # RTL
        " \t\n\x0b\f\r\xa0 ",           # JVM vs unicode whitespace
    ]
    texts = [None, ""]
    for _ in range(58):
        pool = rng.choice(pools)
        texts.append("".join(rng.choice(pool)
                             for _ in range(rng.randint(1, 60))))
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    sig_c = {r[0]: tuple(r[1]) for r in df.select(
        "doc_id", minhash_signature(F.col("text"), 8, 3)).collect()}
    sig_a = {r[0]: tuple(r[1]) for r in
             minhash_signatures_arrow(df, num_perm=8, shingle_k=3)
             .select("doc_id", "sig").collect()}
    assert sig_c == sig_a
    sh_c = {r[0]: frozenset(r[1]) for r in
            shingles_tiered(df, k=3, tier="column").collect()}
    sh_a = {r[0]: frozenset(r[1]) for r in
            shingles_tiered(df, k=3, tier="arrow").collect()}
    assert sh_c == sh_a
    sim_c = {r[0]: r[1] for r in
             simhash_tiered(df, bits=16, tier="column").collect()}
    sim_a = {r[0]: r[1] for r in
             simhash_tiered(df, bits=16, tier="arrow").collect()}
    assert sim_c == sim_a
    fp_c = {r[0]: (r[1], r[2]) for r in
            fingerprints_tiered(df, tier="column").collect()}
    fp_a = {r[0]: (r[1], r[2]) for r in
            fingerprints_tiered(df, tier="arrow").collect()}
    assert fp_c == fp_a


def test_minhash_auto_tier_thresholds(docs, monkeypatch):
    """auto routes by corpus size: below the crossover it must build
    the Column-fold plan (no mapInPandas/ArrowEval), at or above it
    the Arrow plan."""
    from toy_vector_db_spark.operators import chooser
    small = minhash_lsh_pairs(docs, verify=False)
    monkeypatch.setattr(chooser, "TEXT_ARROW_MIN_DOCS", 1)
    big = minhash_lsh_pairs(docs, verify=False)
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    big_plan = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in small_plan
    assert "MapInPandas" in big_plan
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, sig_tier="nope")


def test_minhash_no_verify_returns_candidates(docs):
    cands = minhash_lsh_pairs(docs, verify=False)
    assert cands.columns == ["id_a", "id_b"]
    assert cands.count() >= 2


def test_minhash_bucket_cap_star_fallback(spark):
    """Degenerate-bucket guard: identical texts all share every band
    bucket, so an over-cap family must emit STAR candidates (every
    member vs the smallest id — linear) instead of all pairs
    (quadratic); under-cap behavior is unchanged (cap is a no-op)."""
    fam = spark.createDataFrame(
        [(i, "the same exact boilerplate text repeated verbatim here")
         for i in range(10)], ["doc_id", "text"])
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_pairs(fam, verify=False,
                                         max_bucket=4).collect()}
    # star: 9 pairs, all anchored at doc 0
    assert capped == {(0, i) for i in range(1, 10)}
    uncapped = {(r["id_a"], r["id_b"])
                for r in minhash_lsh_pairs(fam, verify=False).collect()}
    assert len(uncapped) == 45      # 10*9/2 — the quadratic shape
    big_cap = {(r["id_a"], r["id_b"])
               for r in minhash_lsh_pairs(fam, verify=False,
                                          max_bucket=64).collect()}
    assert big_cap == uncapped      # cap above bucket size: no-op
    # verification still runs on star candidates (identical texts ->
    # jaccard 1.0 on every surviving pair)
    verified = minhash_lsh_pairs(fam, threshold=0.5, max_bucket=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} == capped
    assert all(r["jaccard"] == 1.0 for r in verified)


def test_exact_clusters_bounded_report(spark):
    """A duplicate family larger than max_ids: the count and extrema
    stay EXACT while the ids column is the max_ids smallest members —
    the bounded-buffer report shape (no task ever aggregates the whole
    family; see _bounded_clusters)."""
    fam = spark.createDataFrame(
        [(i, "identical boilerplate page body") for i in range(50)]
        + [(100, "a unique document")], ["doc_id", "text"])
    rows = exact_dup_clusters(fam, max_ids=8).collect()
    assert len(rows) == 1            # the singleton never reports
    r = rows[0]
    assert r["n_docs"] == 50
    assert r["id_min"] == 0 and r["id_max"] == 49
    assert list(r["ids"]) == list(range(8))


def test_simhash_hamming_bucket_cap_star_fallback(spark):
    """simhash_hamming_pairs' degenerate-bucket guard: an identical
    family over the cap emits star pairs (anchored at the smallest
    id), each still Hamming-verified; without the cap the same family
    is quadratic."""
    from toy_vector_db_spark.operators.dedup import simhash_hamming_pairs
    fam = spark.createDataFrame(
        [(i, "the same exact boilerplate text repeated verbatim here")
         for i in range(10)], ["doc_id", "text"])
    capped = {(r["id_a"], r["id_b"]): r["hamming"]
              for r in simhash_hamming_pairs(fam, bits=16, bands=4,
                                             max_hamming=3,
                                             max_bucket=4).collect()}
    assert set(capped) == {(0, i) for i in range(1, 10)}
    assert all(h == 0 for h in capped.values())
    uncapped = simhash_hamming_pairs(fam, bits=16, bands=4,
                                     max_hamming=3).collect()
    assert len(uncapped) == 45


def test_simhash_identical_for_same_text(spark, docs):
    rows = docs.select("doc_id", simhash(F.col("text")).alias("s")).collect()
    by_id = {r["doc_id"]: r["s"] for r in rows}
    assert by_id[1] == by_id[2]
    assert by_id[4] == by_id[5]
    assert by_id[1] != by_id[6]
    assert all(0 <= v < (1 << 16) for v in by_id.values())


def test_simhash_clusters(docs):
    rows = simhash_dup_clusters(docs).collect()
    clusters = sorted(tuple(r["ids"]) for r in rows)
    assert (1, 2) in clusters and (4, 5) in clusters


def test_ngram_jaccard_pairs(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"])
    rows = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, pairs).collect()}
    assert rows[(1, 2)] == pytest.approx(1.0)     # normalized-identical
    assert 0.0 < rows[(1, 3)] < 1.0               # near dup
    assert rows[(1, 4)] == 0.0                    # unrelated


def test_ngram_jaccard_pairs_absent_ids_and_dup_pairs(spark, docs):
    """Contract: a pair referencing an id not in df is DROPPED (never
    a null-jaccard row — raw consumers don't threshold-filter), and a
    duplicate input pair collapses to one output row."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 999), (998, 999)], ["id_a", "id_b"])
    rows = [(r["id_a"], r["id_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, pairs).collect()]
    assert len(rows) == 1                          # deduped, absents gone
    assert rows[0][:2] == (1, 2)
    assert rows[0][2] == pytest.approx(1.0)


def test_jaccard_empty_arrays(spark):
    df = spark.createDataFrame([([], [])], "a: array<string>, b: array<string>")
    assert df.select(jaccard(F.col("a"), F.col("b")).alias("j")).first()["j"] == 1.0


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    pairs = embedding_near_dup_pairs(df, threshold=0.99, n_planes=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1, 2)}
    sim = pairs[0]["cosine_sim"]
    assert sim == pytest.approx(1.0, abs=1e-3)


def test_cosine_blocked_tiers_agree(spark):
    """Column-join tier and Arrow/BLAS applyInPandas tier return the
    same pair set and similarities (1e-9) on a mixed fixture with a
    zero vector and a singleton block; chunking is exercised via an
    explicit arrow=True run."""
    from toy_vector_db_spark.operators.dedup import cosine_near_dup_blocked

    rows = [
        (1, "a", [1.0, 0.0, 0.0]),
        (2, "a", [0.999, 0.01, 0.0]),
        (3, "a", [0.0, 0.0, 0.0]),      # zero norm -> sim 0.0 to all
        (4, "a", [-1.0, 0.0, 0.0]),     # sim -1 with 1 (clip path)
        (5, "b", [0.0, 1.0, 0.0]),
        (6, "b", [0.0, 0.99, 0.14]),
        (7, "c", [1.0, 1.0, 1.0]),      # singleton block -> no pairs
    ]
    df = spark.createDataFrame(rows, "vec_id: long, blk: string, embedding: array<float>")

    def norm(res):
        return sorted((r["id_a"], r["id_b"], round(r["cosine_sim"], 9))
                      for r in res.collect())

    col_tier = norm(cosine_near_dup_blocked(df, "blk", threshold=-1.0, arrow=False))
    arrow_tier = norm(cosine_near_dup_blocked(df, "blk", threshold=-1.0, arrow=True))
    assert col_tier == arrow_tier
    assert len(col_tier) == 6 + 1  # C(4,2) in block a + 1 pair in b
    # cross-block pairs never appear
    assert all(a < b for a, b, _ in col_tier)
    thr = norm(cosine_near_dup_blocked(df, "blk", threshold=0.9, arrow=True))
    assert {(a, b) for a, b, _ in thr} == {(1, 2), (5, 6)}


def test_cosine_blocked_empty_frame_has_no_pairs(spark):
    """An empty corpus has no pairs on either scoring path — there is
    no dimension to read, and none is needed."""
    from toy_vector_db_spark.operators.dedup import cosine_near_dup_blocked

    df = spark.createDataFrame(
        [], "vec_id: long, blk: string, embedding: array<float>")
    for arrow in (None, False):
        assert cosine_near_dup_blocked(df, "blk", arrow=arrow).collect() == []


def test_cosine_blocked_refuses_quadratic_blocks(spark):
    """The quadratic shape is unreachable without explicit opt-in: a
    block past the cap raises (pointing at the learned-key path), the
    same frame passes with allow_quadratic=True, and the pure policy
    rule is exercised at its default cap without a session."""
    import pytest
    from toy_vector_db_spark.operators.chooser import (
        QUADRATIC_BLOCK_MAX_ROWS, check_quadratic_block)
    from toy_vector_db_spark.operators.dedup import cosine_near_dup_blocked

    rows = [(i, "big" if i < 6 else "ok", [float(i), 1.0])
            for i in range(8)]
    df = spark.createDataFrame(rows,
                               "vec_id: long, blk: string, embedding: array<float>")
    with pytest.raises(ValueError, match="allow_quadratic"):
        cosine_near_dup_blocked(df, "blk", max_block_rows=4)
    got = cosine_near_dup_blocked(df, "blk", threshold=-1.0,
                                  allow_quadratic=True,
                                  max_block_rows=4).collect()
    assert len(got) == 15 + 1  # C(6,2) + C(2,2)
    # pure policy: fine at the cap, refuses one past it
    check_quadratic_block(QUADRATIC_BLOCK_MAX_ROWS, "op")
    with pytest.raises(ValueError, match="quadratic-by-contract"):
        check_quadratic_block(QUADRATIC_BLOCK_MAX_ROWS + 1, "op")


def test_simhash_hamming_pairs_and_neighbor_counts(spark, docs):
    """Both Hamming-ball APIs against brute force on the fixture:
    the banded pair list equals the exact all-pairs filter (pigeonhole
    completeness), and per-doc degrees match with zero-neighbor docs
    present. Also the parameter guards."""
    from toy_vector_db_spark.operators.dedup import (
        simhash, simhash_hamming_pairs, simhash_neighbor_counts)
    hashes = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", simhash(F.col("text"), 16).alias("sh")).collect()}
    ids = sorted(hashes)
    brute = {(a, b): bin(hashes[a] ^ hashes[b]).count("1")
             for i, a in enumerate(ids) for b in ids[i + 1:]
             if bin(hashes[a] ^ hashes[b]).count("1") <= 3}
    got_pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 simhash_hamming_pairs(docs, bits=16, bands=4,
                                       max_hamming=3).collect()}
    assert got_pairs == brute
    deg = {i: 0 for i in ids}
    for (a, b) in brute:
        deg[a] += 1
        deg[b] += 1
    got_deg = {r["doc_id"]: r["n_near"] for r in
               simhash_neighbor_counts(docs, bits=16, max_hamming=3).collect()}
    assert got_deg == deg
    assert 0 in set(deg.values()) or len(brute) > 0  # fixture sanity
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(docs, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="narrow hashes"):
        simhash_neighbor_counts(docs, bits=32)


def test_source_overlap_matrix(spark):
    from toy_vector_db_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [(1, "A", "shared one"), (2, "B", "Shared  one!"),  # same fp
         (3, "A", "shared one"),   # dup within A: still ONE presence
         (4, "B", "only in b"), (5, "C", "shared one"),
         (6, "C", "unique c")],
        ["doc_id", "source", "text"])
    got = {(r["source_a"], r["source_b"]): r["n_shared_fingerprints"]
           for r in source_overlap_matrix(docs).collect()}
    # 'shared one' (normalization folds case/punct/space) lives in
    # A, B, C -> all three pairs, one DISTINCT fingerprint each
    assert got == {("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 1}


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_bucket_pairs_matches_reference(spark, seed):
    """_bucket_pairs against an independently computed reference on
    random memberships: uncapped = all within-bucket combos; capped =
    combos for buckets <= cap, star (min x others) past it. Random
    bucket sizes straddle the cap so both branches execute."""
    import random

    from toy_vector_db_spark.operators.dedup import _bucket_pairs

    rng = random.Random(seed)
    rows = [(f"b{rng.randrange(6)}", rng.randrange(40))
            for _ in range(120)]
    rows = list({(k, i) for k, i in rows})    # distinct membership
    cap = 5

    def ref(capped):
        by_key = {}
        for k, i in rows:
            by_key.setdefault(k, []).append(i)
        out = set()
        for ids in by_key.values():
            ids = sorted(ids)
            if capped and len(ids) > cap:
                out.update((ids[0], y) for y in ids[1:])
            else:
                out.update((x, y) for n, x in enumerate(ids)
                           for y in ids[n + 1:])
        return out

    keyed = spark.createDataFrame(rows, ["__band", "__id"])
    for max_bucket, expect in ((None, ref(False)), (cap, ref(True))):
        got = {(r["a"], r["b"]) for r in
               _bucket_pairs(keyed, "__band", "__id", max_bucket)
               .distinct().collect()}
        assert got == expect
