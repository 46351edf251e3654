"""Tests for the dedup family: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

import os

import pytest
from pyspark.sql import functions as F

from tech_ml_dataset_spark.functions import dedup as dd


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to hide from every hunter")
    near = base.replace("green", "dark")          # near-duplicate
    exact2 = "  The  quick brown fox jumps over the lazy dog and then runs far " \
             "away into the deep green forest to hide from every hunter "  # ws+case
    other = ("completely different text about spark dataframes and shuffles "
             "with no overlap whatsoever in any shingle of meaningful size")
    return spark.createDataFrame(
        [(1, base), (2, near), (3, exact2), (4, other)], ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = dd.exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2, 4]  # 3 is an exact dup of 1 after normalization


def test_shingles_char_and_word(spark):
    df = spark.createDataFrame([("abc def",)], ["t"])
    ch = df.select(dd.shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert "abc" in ch and "c d" in ch
    w = df.select(dd.shingles(F.col("t"), 2, mode="word").alias("s")).collect()[0]["s"]
    assert w == ["abc def"]


def test_minhash_pairs_find_near_dup(spark, docs):
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.5, n_hashes=64, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got  # near + exact dup found
    assert not any(4 in p for p in got)     # unrelated doc not matched


def test_minhash_md5_hash_fn_portable(spark, docs):
    """hash_fn="md5" (the engine-portable oracle path) obeys the same
    banding law: finds the planted near+exact dups, rejects the unrelated
    doc, and agrees with the xxhash64 path's Jaccard values EXACTLY on
    shared pairs (the verify stage hashes nothing — only candidate
    generation depends on hash_fn)."""
    md5_pairs = dd.minhash_dedup_pairs(docs, threshold=0.5, n_hashes=64,
                                       bands=16, hash_fn="md5")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in md5_pairs.collect()}
    assert (1, 2) in got and (1, 3) in got
    assert not any(4 in p for p in got)
    xx = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in dd.minhash_dedup_pairs(docs, threshold=0.5, n_hashes=64,
                                          bands=16).collect()}
    for p in got.keys() & xx.keys():
        assert got[p] == xx[p]
    assert got[(1, 3)] == 1.0  # exact dup after normalization


def test_shingle_hashes_md5_known_value(spark):
    """The md5 token hash is pinned to its definition — first 15 hex chars
    of md5 parsed base-16, mod the Mersenne prime — so any engine with
    md5 reproduces it (int('648541476951500027') % (2**31-1))."""
    df = spark.createDataFrame([(["abc"],)], ["s"])
    got = df.select(dd.shingle_hashes(F.col("s"), hash_fn="md5")
                      .alias("h")).collect()[0]["h"]
    assert got == [648541476951500027 % (2 ** 31 - 1)]
    with pytest.raises(ValueError, match="hash_fn"):
        dd.shingle_hashes(F.col("s"), hash_fn="sha1")


def test_minhash_pairs_between_cross_corpus(spark, docs):
    """Cross-corpus near-dup pairs: the new batch's near/exact dups of
    historical docs are reported as (new_id, hist_id); unrelated docs are
    not; within-batch duplicates are NOT reported (documented contract)."""
    hist = docs.filter(F.col("doc_id") == 1)          # base
    new = docs.filter(F.col("doc_id").isin(2, 3, 4))  # near, exact, other
    pairs = dd.minhash_pairs_between(new, hist, threshold=0.5,
                                     n_hashes=64, bands=16)
    got = {(r["new_id"], r["hist_id"]): r["jaccard"] for r in pairs.collect()}
    assert set(got) == {(2, 1), (3, 1)}
    assert got[(3, 1)] == 1.0
    # within-batch: 2 and 3 are near-dups of each other but both are in
    # the NEW side — not reported
    assert not any(a in (2, 3) and b in (2, 3) for a, b in got)


def test_minhash_dedup_incremental(spark, docs):
    """Incremental near-dup filter: new-batch rows with a historical
    near-dup are dropped; genuinely-new rows survive with all columns."""
    hist = docs.filter(F.col("doc_id") == 1)
    new = docs.filter(F.col("doc_id").isin(2, 3, 4))
    out = dd.minhash_dedup_incremental(new, hist, threshold=0.5,
                                       n_hashes=64, bands=16)
    assert sorted(r["doc_id"] for r in out.collect()) == [4]
    assert out.columns == new.columns


def test_minhash_index_write_probe_roundtrip(spark, docs, tmp_path):
    """Persisted LSH index: probe finds the same pairs as the direct
    cross-corpus join; a second batch grows the index and rewriting it
    replaces it; mismatched banding parameters and a remote path raise
    instead of silently finding nothing."""
    path = str(tmp_path / "lsh_index")
    hist = docs.filter(F.col("doc_id") == 1)
    dd.minhash_index_write(hist, path, n_hashes=64, bands=16)
    new = docs.filter(F.col("doc_id").isin(2, 3, 4))
    got = {(r["new_id"], r["hist_id"])
           for r in dd.minhash_index_probe(new, path, threshold=0.5,
                                           n_hashes=64, bands=16).collect()}
    assert got == {(2, 1), (3, 1)}
    # write the rest of the corpus as batch 1, twice (a rerun after a
    # failed write), re-probe: doc 4 now matches itself, once
    for _ in range(2):
        dd.minhash_index_write(docs.filter(F.col("doc_id") == 4), path,
                               n_hashes=64, bands=16, batch_id=1)
    got2 = [(r["new_id"], r["hist_id"])
            for r in dd.minhash_index_probe(new, path, threshold=0.5,
                                            n_hashes=64, bands=16).collect()]
    assert sorted(got2) == [(2, 1), (3, 1), (4, 4)]
    with pytest.raises(ValueError, match="different parameters"):
        dd.minhash_index_probe(new, path, threshold=0.5,
                               n_hashes=32, bands=8)
    with pytest.raises(ValueError, match="different parameters"):
        dd.minhash_index_write(hist, path, n_hashes=32, bands=8,
                               batch_id=2)
    assert sorted(f for f in os.listdir(path + "/bands")
                  if f.startswith("batch_id=")) == ["batch_id=0", "batch_id=1"]
    with pytest.raises(ValueError, match="s3a"):
        dd.minhash_index_write(hist, "s3a://bucket/lsh_index")


def test_simhash_md5_hash_fn(spark, docs):
    """hash_fn="md5" simhash: bits 60-63 are always clear (60-bit hash),
    near-dup docs stay within small Hamming distance, and empty docs
    fingerprint to 0 — same laws as the xxhash64 path."""
    sh = dd.simhash_df(docs, ["doc_id"], "text", hash_fn="md5")
    vals = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert all(v >> 60 == 0 for v in vals.values())
    near = bin(vals[1] ^ vals[2]).count("1")
    far = bin(vals[1] ^ vals[4]).count("1")
    # one changed word out of ~22 → a handful of flipped bits (measured
    # 11/60 with this hash); unrelated text sits near the random-pair
    # expectation of ~30
    assert near < 20 < far
    assert vals[1] == vals[3]  # exact dup after normalization
    empty = spark.createDataFrame([(9, " ")], ["doc_id", "text"])
    assert dd.simhash_df(empty, ["doc_id"], "text",
                         hash_fn="md5").collect()[0]["simhash"] == 0


def test_minhash_dedup_drops_losers(spark, docs):
    out = dd.minhash_dedup(docs, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 4]


def test_simhash_near_dup(spark, docs):
    pairs = dd.simhash_dedup_pairs(docs, max_distance=8)
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in pairs.collect()}
    assert (1, 3) in got and got[(1, 3)] == 0  # exact dup -> distance 0
    assert (1, 2) in got                       # near dup within distance
    assert not any(4 in p for p in got)


def test_ngram_jaccard(spark, docs):
    pairs = dd.ngram_jaccard_pairs(docs, k=3, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 3)] == 1.0
    assert 0.5 < got[(1, 2)] < 1.0


def test_simhash_df_matches_column_impl(spark, docs):
    col_ver = docs.select("doc_id", dd.simhash(F.col("text")).alias("simhash"))
    df_ver = dd.simhash_df(docs, "doc_id", "text")
    joined = col_ver.join(df_ver.withColumnRenamed("simhash", "s2"), "doc_id")
    assert joined.filter(F.col("simhash") != F.col("s2")).count() == 0
    assert df_ver.count() == docs.count()


def test_simhash_df_empty_text(spark):
    df = spark.createDataFrame([(1, ""), (2, "hello world foo")], ["doc_id", "text"])
    rows = {r["doc_id"]: r["simhash"] for r in dd.simhash_df(df, "doc_id").collect()}
    assert rows[1] == 0 and rows[2] != 0


def test_hamming(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], "a bigint, b bigint")
    assert df.select(dd.hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0]["h"] == 1


def test_dedup_clusters_transitive(spark):
    """a~b, b~c (no direct a~c) must land in ONE cluster; isolated nodes
    keep their own label."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    # both the driver union-find fast path and the distributed
    # label-propagation path must agree
    for thr in (500_000, 0):
        out = {r["doc_id"]: r["cluster"]
               for r in dd.dedup_clusters(pairs, nodes,
                                          driver_threshold=thr).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_dedup_clusters_chain_diameter(spark):
    """A 12-node path graph needs >1 propagation rounds — exercises the
    iterative fixpoint, not just one hop."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(11)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    for thr in (500_000, 0):
        out = {r["doc_id"]: r["cluster"]
               for r in dd.dedup_clusters(pairs, nodes,
                                          driver_threshold=thr).collect()}
        assert set(out.values()) == {0} and len(out) == 12


def test_dedup_clusters_warns_on_nonconvergence(spark):
    """Exhausting max_iter used to return silently wrong (non-converged)
    labels; now it warns so callers can raise max_iter."""
    import warnings
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dd.dedup_clusters(pairs, nodes, max_iter=2, driver_threshold=0).collect()
    assert any("did NOT converge" in str(x.message) for x in w)


def test_minhash_dedup_transitive_chain(spark):
    """a~b~c chain: representative rule keeps the chain's min only if every
    link reaches it; transitive clustering must always keep exactly one."""
    base = "the quick brown fox jumps over the lazy dog and runs far away " \
           "into the deep green forest to hide from every hunter tonight"
    v2 = base.replace("green", "dark")
    v3 = v2.replace("quick", "swift")   # near v2, farther from base
    df = spark.createDataFrame([(1, base), (2, v2), (3, v3)],
                               ["doc_id", "text"])
    out = dd.minhash_dedup(df, threshold=0.5, transitive=True)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1]


def test_decontaminate_flags_ngram_overlap(spark):
    """GPT-3 appx-C style decontamination: corpus docs sharing a k-gram
    with the benchmark are flagged; clean docs keep contam_hits=0."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"])
    corpus = spark.createDataFrame([
        (1, "something the quick brown fox saw"),   # shares 'the quick brown'
        (2, "totally unrelated words here now"),
        (3, "quick brown fox jumps again today"),   # two shared 3-grams
    ], ["doc_id", "text"])
    out = {r["doc_id"]: (r["contam_hits"], r["contaminated"])
           for r in dd.decontaminate(corpus, bench, k=3).collect()}
    assert out[1][1] and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3][1] and out[3][0] >= 2


def test_decontaminate_shuffle_fallback_matches(spark):
    bench = spark.createDataFrame([(9, "a b c d e")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "x a b c y"), (2, "no overlap at all")], ["doc_id", "text"])
    a = sorted(map(tuple, dd.decontaminate(corpus, bench, k=3).select(
        "doc_id", "contam_hits").collect()))
    b = sorted(map(tuple, dd.decontaminate(
        corpus, bench, k=3, broadcast_benchmark=False).select(
        "doc_id", "contam_hits").collect()))
    assert a == b


def test_similarity_join_finds_cross_table_match(spark, docs):
    left = docs.filter(F.col("doc_id") <= 2)
    right = docs.filter(F.col("doc_id") >= 3)
    out = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in dd.similarity_join(left, right, k=2,
                                       threshold=0.5).collect()}
    # doc 3 is a whitespace/case variant of doc 1 -> jaccard 1.0
    assert out[(1, 3)] == 1.0
    # near-dup of doc 1 -> high but < 1; unrelated doc 4 never matches
    assert (2, 3) in out and out[(2, 3)] < 1.0
    assert not any(rid == 4 for (_, rid) in out)


def test_similarity_join_prefix_filter_is_lossless(spark, sf_dir):
    """The PPJoin prefix filter must return EXACTLY the share-all-tokens
    result: verified on a real corpus slice at several thresholds."""
    from tech_ml_dataset_spark.sources.io import read_parquet
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    left = docs.filter(F.col("doc_id") < 20)
    right = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 80))
    for t in (0.05, 0.1):
        fast = sorted(map(tuple, dd.similarity_join(
            left, right, k=2, threshold=t).collect()))
        slow = sorted(map(tuple, dd.similarity_join(
            left, right, k=2, threshold=t, prefix_filter=False).collect()))
        assert fast == slow and len(fast) > 0


def test_similarity_join_max_df_bounds_index(spark, docs):
    # with max_df=1 no shared gram is admitted -> no candidates at all
    left = docs.filter(F.col("doc_id") <= 2)
    right = docs.filter(F.col("doc_id") >= 3)
    out = dd.similarity_join(left, right, k=2, threshold=0.1, max_df=1)
    assert out.count() == 0


def test_similarity_join_max_df_keeps_full_prefix_length(spark):
    """With max_df set, __n__ used to count only tokens
    SURVIVING the max_df filter, shrinking prefixes and losing candidate
    pairs beyond the documented index-truncation effect. Construction:
    A = w1..w9 a0, B = w1..w9 b0 (J = 9/11 ≈ 0.818 ≥ t=0.8); three filler
    docs pump df(w3..w9) past max_df=3 so 7 of A's 10 tokens leave the
    index. Correct law: prefix = 10 - ceil(8) + 1 = 3 → A and B both keep
    {rare, w1, w2} and meet on w1. Buggy law: __n__=3 survivors → prefix
    1 → A offers only a0, B only b0 → the pair is silently missed."""
    w = " ".join(f"w{i}" for i in range(1, 10))
    filler = " ".join(f"w{i}" for i in range(3, 10))
    left = spark.createDataFrame(
        [(1, f"{w} a0"), (10, filler), (11, filler), (12, filler)],
        ["doc_id", "text"])
    right = spark.createDataFrame([(2, f"{w} b0")], ["doc_id", "text"])
    out = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in dd.similarity_join(left, right, k=1, threshold=0.8,
                                       max_df=3).collect()}
    assert out == {(1, 2): round(9 / 11, 4)}


def test_similarity_join_prefix_ceil_is_exact_arithmetic(spark):
    """Ceil over binary floats over-ceils at exact products
    (0.07*100 = 7.000000000000001 -> ceil 8), shortening the prefix by one
    and silently losing qualifying pairs. Construction: left doc A holds
    100 distinct words, 7 of them shared with right doc B (J = 7/100 =
    0.07 >= t=0.07 exactly). The 93 unshared words appear only in A
    (df=1), the shared 7 in both (df=2), so ascending-df order puts the
    shared block at ranks 94..100. Exact law: prefix = 100 - 7 + 1 = 94
    -> rank 94 (the first shared token) is offered and the pair is found.
    Buggy law: ceil(7.000000000000001) = 8 -> prefix 93 -> A offers only
    unshared tokens and the pair is silently missed."""
    unshared = " ".join(f"u{i:03d}" for i in range(93))
    shared = " ".join(f"s{i}" for i in range(7))
    left = spark.createDataFrame([(1, f"{unshared} {shared}")],
                                 ["doc_id", "text"])
    right = spark.createDataFrame([(2, shared)], ["doc_id", "text"])
    got = dd.similarity_join(left, right, k=1, threshold=0.07).collect()
    assert [(r["left_id"], r["right_id"], r["jaccard"]) for r in got] \
        == [(1, 2, 0.07)]
    # and the filter stays a no-loss optimization vs brute force
    brute = dd.similarity_join(left, right, k=1, threshold=0.07,
                               prefix_filter=False).collect()
    assert len(brute) == 1


def test_winnow_dedup_pairs_substring_level(spark):
    """winnow_dedup_pairs catches a long VERBATIM block shared between
    otherwise-different documents — the case token-set Jaccard misses —
    and ignores unrelated docs. Winnowing guarantee: a shared substring of
    >= k+w-1 chars shares a fingerprint."""
    block = ("the quick brown fox jumps over the lazy dog while the "
             "band plays on and the crowd cheers loudly in the rain")
    rows = [
        (1, f"intro text alpha beta. {block} outro gamma delta."),
        (2, f"completely different framing here; {block} and more words."),
        (3, "nothing in common with the others at all, truly disjoint "
            "content about quantum chromodynamics and lattice gauge theory"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]): r for r in
           dd.winnow_dedup_pairs(df, min_shared=1, max_df=None).collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["shared_fps"] >= 1
    assert 0 < got[(1, 2)]["containment"] <= 1.0
    assert not any(3 in p for p in got)
    # max_df=1 kills every shared fingerprint (each appears in 2 docs)
    assert dd.winnow_dedup_pairs(df, min_shared=1, max_df=1).count() == 0


def test_incremental_dedup_exact(spark):
    hist = spark.createDataFrame(
        [(i, f"historical document number {i} about topic {i % 7}")
         for i in range(100)], ["doc_id", "text"])
    # 40 rows overlap historical exactly (mod whitespace/case), 20 are new
    new = spark.createDataFrame(
        [(1000 + i, f"  Historical  document number {i} about topic {i % 7}")
         for i in range(40)]
        + [(2000 + i, f"fresh never-seen article {i}") for i in range(20)],
        ["doc_id", "text"])
    out = dd.incremental_dedup(new, hist)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [2000 + i for i in range(20)]
    assert out.columns == ["doc_id", "text"]  # helper columns dropped


def test_null_text_is_never_a_duplicate(spark):
    """Missing content routes around dedup untouched: NULL text rows all
    survive exact_dedup AND incremental_dedup (a NULL fingerprint never
    matches a join's equality, so both route those rows around the
    dedup rather than dropping them or pairing them with each other)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text"), (4, "real text")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dd.exact_dedup(df).collect())
    assert kept == [1, 2, 3]        # both nulls kept; 4 dups 3

    hist = spark.createDataFrame([(9, None), (10, "seen")],
                                 "doc_id long, text string")
    new = spark.createDataFrame([(1, None), (2, "seen"), (3, "fresh")],
                                "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  dd.incremental_dedup(new, hist).collect())
    assert kept == [1, 3]


def test_semdedup_min_id_and_far_rules(spark):
    """SemDeDup with frozen centroids: within-cell dup groups resolve to
    one survivor; min_id keeps the smallest id, far_from_centroid keeps
    the member least similar to its cell centroid."""
    from tech_ml_dataset_spark.functions import similarity as sim

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame([
        (1, [1.0, 0.01]),    # cell 0
        (2, [1.0, 0.3]),     # cell 0, cos(1,2) ~ 0.9606 -> dup of 1
        (3, [0.7, -0.7]),    # cell 0, cos to 1 ~ 0.70 -> distinct
        (4, [0.0, 1.0]),     # cell 1
        (5, [0.005, 1.0]),   # cell 1, dup of 4
    ], ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in
           sim.semdedup(df, centroids=cents, threshold=0.95).collect()}
    assert [out[i]["cell"] for i in (1, 2, 3, 4, 5)] == [0, 0, 0, 1, 1]
    assert out[1]["group"] == 1 and out[2]["group"] == 1
    assert out[4]["group"] == 4 and out[5]["group"] == 4
    assert [out[i]["semdedup_keep"] for i in (1, 2, 3, 4, 5)] == \
        [True, False, True, True, False]

    far = {r["vec_id"]: r for r in
           sim.semdedup(df, centroids=cents, threshold=0.95,
                        keep="far_from_centroid").collect()}
    # id2 ([1, .3]) is farther from centroid [1,0] than id1 -> id2 survives
    assert not far[1]["semdedup_keep"] and far[2]["semdedup_keep"]
    assert far[3]["semdedup_keep"]

    # cross-cell near-identical vectors are NOT compared (the SemDeDup
    # approximation): a dup straddling the cell boundary survives
    df2 = spark.createDataFrame(
        [(1, [0.71, 0.70]), (2, [0.70, 0.71])], ["vec_id", "embedding"])
    out2 = sim.semdedup(df2, centroids=cents, threshold=0.9).collect()
    assert all(r["semdedup_keep"] for r in out2)


def test_semdedup_max_cluster_size_sub_buckets(spark):
    from tech_ml_dataset_spark.functions import similarity as sim

    # 40 near-identical vectors in one cell: sub-bucketing still finds
    # within-bucket dups, keeps exactly one survivor per group, and every
    # row keeps a group label
    rows = [(i, [1.0, 0.0001 * i]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.semdedup(df, centroids=[[1.0, 0.0], [0.0, 1.0]],
                       threshold=0.999, max_cluster_size=10).collect()
    assert len(out) == 40
    kept = [r["vec_id"] for r in out if r["semdedup_keep"]]
    # with the cap, cross-bucket pairs are missed, so >1 survivor is
    # expected — but far fewer than 40, and each group's min id survives
    assert 1 <= len(kept) < 40
    groups = {}
    for r in out:
        groups.setdefault(r["group"], []).append(r["vec_id"])
    for g, members in groups.items():
        assert g == min(members)


def test_shingles_short_docs_emit_partial_gram(spark):
    """The zip_with shingle rewrite returned an EMPTY array for
    docs with fewer than k tokens, where the original law (and every
    DuckDB oracle, via the clamping slice over greatest(n-k+1, 1)) emits
    ONE partial gram — all tokens joined. Consequences of the empty law:
    identical sub-k-word docs could never match in the Jaccard family,
    and simhash collapsed every short doc to 0, pairing unrelated docs
    at distance 0."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, "goodbye"), (3, "a b"), (4, "a b"),
         (5, ""), (6, None)],
        "doc_id int, text string")
    sh = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", dd.shingles(F.col("text"), 3, mode="word").alias("sh")
    ).collect()}
    assert sh[1] == ["hello"] and sh[2] == ["goodbye"]
    assert sh[3] == ["a b"] == sh[4]
    assert sh[5] == [] and sh[6] is None

    # unrelated one-word docs must NOT pair; identical two-word docs must
    exact = dd.simhash_dedup_pairs(df, max_distance=0)
    got = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert got == {(3, 4)}

    jac = dd.ngram_jaccard_pairs(df, k=3, threshold=0.5)
    jgot = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac.collect()}
    assert jgot == {(3, 4): 1.0}


def test_simhash_pairs_route_around_contentless_docs(spark):
    """Empty/NULL text docs all hash to simhash 0; without the content
    filter every contentless doc pairs with every other at distance 0 and
    a dedup pipeline deletes missing-text rows as 'duplicates'."""
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "real content here")],
        "doc_id int, text string")
    assert dd.simhash_dedup_pairs(df, max_distance=3).count() == 0


def test_exact_dedup_keep_by_best_copy(spark):
    """keep_by picks the best-scoring copy of each duplicate group (the
    curation law: keep the highest-quality duplicate, not the smallest
    id), ties broken by the keep= id law; NULL scores lose to non-NULL;
    NULL text still routes around the dedup."""
    df = spark.createDataFrame(
        [(1, "same doc", 0.2), (2, "same doc", 0.9), (3, "same doc", 0.9),
         (4, "other", None), (5, None, 1.0)],
        "doc_id int, text string, quality double")
    kept = sorted(r["doc_id"] for r in
                  dd.exact_dedup(df, keep_by="quality").collect())
    assert kept == [2, 4, 5]  # best 0.9, tie -> min id 2
    kept_max = sorted(
        r["doc_id"] for r in
        dd.exact_dedup(df, keep="max", keep_by="quality").collect())
    assert kept_max == [3, 4, 5]  # tie -> max id 3
    # all-NULL scores: still exactly one survivor, by the id law
    df2 = spark.createDataFrame([(1, "x", None), (2, "x", None)],
                                "doc_id int, text string, q double")
    assert sorted(r["doc_id"] for r in
                  dd.exact_dedup(df2, keep_by="q").collect()) == [1]


def test_minhash_dedup_keep_by_cluster_best(spark):
    """transitive + keep_by keeps each near-dup cluster's best-scoring
    doc (not the min id); singletons survive untouched; keep_by without
    transitive raises (pairwise better-of is chain-ambiguous)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base, 0.1), (2, base + " extra", 0.9),
         (3, base + " extra word", 0.5), (4, "completely different text "
          "about databases and query engines at scale", 0.0)],
        "doc_id int, text string, quality double")
    kept_min = sorted(r["doc_id"] for r in dd.minhash_dedup(
        df, transitive=True, threshold=0.5).collect())
    assert kept_min == [1, 4]
    kept_best = sorted(r["doc_id"] for r in dd.minhash_dedup(
        df, transitive=True, keep_by="quality", threshold=0.5).collect())
    assert kept_best == [2, 4]
    with pytest.raises(ValueError, match="transitive=True"):
        dd.minhash_dedup(df, keep_by="quality")


def test_fuzzy_join_matches_bruteforce(spark):
    """Edit-distance join: q-gram count-filter candidates + levenshtein
    verify equal the brute-force law, including the multiset-gram case
    (repeated grams), the short-string length-band path, and empty
    strings."""
    import itertools

    def ed(a, b):  # classic Wagner-Fischer
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    names = ["Customer#000000001", "Customer#000000002",
             "Customer#000000011", "aaaaaaaaaa", "aaaaaaaaab",
             "ab", "ba", "b", "", "xy", "completely different"]
    rows = [(i, s) for i, s in enumerate(names)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (0, 1, 2):
        got = {(r["id_a"], r["id_b"]): r["dist"]
               for r in dd.fuzzy_dedup_pairs(df, max_dist=k).collect()}
        want = {(i, j): ed(a, b)
                for (i, a), (j, b) in itertools.combinations(rows, 2)
                if ed(a, b) <= k}
        assert got == want, f"k={k}"
    # cross-corpus face: output naming + completeness both ways
    left = df.filter(F.col("doc_id") < 5)
    right = df.filter(F.col("doc_id") >= 5)
    got = {(r["left_id"], r["right_id"]) for r in
           dd.fuzzy_join(left, right, max_dist=2).collect()}
    want = {(i, j) for (i, a) in rows[:5] for (j, b) in rows[5:]
            if ed(a, b) <= 2}
    assert got == want


def test_exact_substring_dedup_maximal_spans(spark):
    """Lee et al. 2022 ExactSubstr: a duplicated run LONGER than k
    is removed in its ENTIRETY from every non-canonical occurrence
    (overlapping k-windows union to the maximal span), the canonical
    (lowest id, pos) occurrence survives intact, unique text is
    untouched, and within-doc repeats dedup too."""
    from tech_ml_dataset_spark.functions import dedup as dd

    shared = " ".join(f"s{i}" for i in range(7))        # 7-token run
    rows = [
        (1, f"alpha beta {shared} gamma"),              # canonical
        (2, f"delta {shared} epsilon"),                 # loses the run
        (3, "unique tokens only here"),                 # untouched
        (4, f"x0 {shared} mid {shared} tail"),          # both copies go
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["text"]
           for r in dd.exact_substring_dedup(df, k=5).collect()}
    assert out[1] == rows[0][1]                          # intact
    assert out[2] == "delta epsilon"
    assert out[3] == "unique tokens only here"
    assert out[4] == "x0 mid tail"
    # k larger than any shared run: nothing removed anywhere
    out2 = {r["doc_id"]: r["text"]
            for r in dd.exact_substring_dedup(df, k=8).collect()}
    assert out2 == dict((i, t) for i, t in rows)
    # within-doc repetition at exactly k: second copy removed
    rep = spark.createDataFrame(
        [(9, "a b c d e a b c d e tail")], "doc_id int, text string")
    got = dd.exact_substring_dedup(rep, k=5).collect()[0]["text"]
    assert got == "a b c d e tail"


def test_survivor_election_plans_are_window_free(spark):
    """Skew hardening pinned at the PLAN level: the keep_by argmax
    paths and the span-dedup canonical elections compile to partial-
    aggregable HashAggregates + joins — no Window operator (whose
    per-fingerprint partition funnels hot keys through one reducer)."""
    from tech_ml_dataset_spark.functions import dedup as dd, webtext as wt

    df = spark.createDataFrame(
        [(i, f"t{i % 3}", float(i % 5)) for i in range(20)],
        "doc_id int, text string, q double")
    for out in (dd.exact_dedup(df, keep_by="q"),
                dd.fingerprint_dedup(
                    df.withColumn("fp", F.xxhash64("text")), "fp",
                    keep_by="q"),
                dd.exact_substring_dedup(df, k=2),
                wt.c4_span_dedup(df.drop("q"))):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan[:800]
