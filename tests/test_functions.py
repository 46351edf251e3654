"""Tests for the LLM-pipeline function surface (text stats, fingerprints,
similarity search) and io dispatch."""

import math

import pytest
from pyspark.sql import functions as F

from tech_ml_dataset_spark.functions import similarity as sim
from tech_ml_dataset_spark.functions import text as txt
from tech_ml_dataset_spark.sources import io as sio


def test_token_and_char_counts(spark):
    df = spark.createDataFrame([("hello world",), ("  a  b   c ",), ("",)], ["t"])
    out = df.select(txt.token_count(F.col("t")).alias("n"),
                    txt.char_count(F.col("t")).alias("c")).collect()
    assert [r["n"] for r in out] == [2, 3, 0]


def test_quality_and_ratios(spark):
    df = spark.createDataFrame([("clean readable text with several words here",),
                                ("!!! ??? ... ###",)], ["t"])
    out = df.select(txt.punct_ratio(F.col("t")).alias("p"),
                    txt.quality_score(F.col("t")).alias("q")).collect()
    assert out[0]["p"] < 0.05 and out[1]["p"] > 0.5
    assert out[0]["q"] > out[1]["q"]


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame([
        ("the cat and the dog is here",),
        ("der hund und die katze nicht",),
        ("你好 世界",),
    ], ["t"])
    got = [r[0] for r in df.select(txt.lang_id(F.col("t"))).collect()]
    assert got == ["en", "de", "zh"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello   World",), ("hello world",)], ["t"])
    fps = [r[0] for r in df.select(txt.md5_fingerprint(F.col("t"))).collect()]
    assert fps[0] == fps[1]  # case + whitespace normalized


def test_cosine_identical_and_orthogonal(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [2.0, 0.0])],
                               ["vec_id", "embedding"])
    out = sim.cosine_topk(df, "embedding", [1.0, 0.0], k=3)
    got = [(r["vec_id"], round(r["cos"], 6)) for r in out.collect()]
    assert got[0][1] == 1.0 and got[1][1] == 1.0  # ids 1 and 3 both cos=1
    assert got[2] == (2, 0.0)


def test_cosine_join_topk(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
                               ["vec_id", "embedding"])
    out = sim.cosine_join_topk(df, df, "embedding", k=1)
    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    assert got[1] == 2 and got[2] == 1


def test_lsh_bucketed_recall_on_exact_dup(spark):
    # identical vectors always share a bucket -> exact dups found at any n_planes
    df = spark.createDataFrame([(i, [float(i % 3 == 0), float(i % 3 == 1), 0.5])
                                for i in range(9)], ["vec_id", "embedding"])
    out = sim.lsh_bucketed_topk(df, df, "embedding", k=2, n_planes=4, dim=3)
    pairs = {(r["vec_id"], r["neighbor_id"]) for r in out.collect()}
    assert (0, 3) in pairs or (3, 0) in pairs  # identical vectors matched


def test_sniff_format():
    assert sio.sniff_format("x.parquet")[0] == "parquet"
    assert sio.sniff_format("x.csv.gz")[0] == "csv"
    assert sio.sniff_format("x.csv.bz2")[0] == "csv"
    assert sio.sniff_format("x.tsv")[1]["sep"] == "\t"
    with pytest.raises(ValueError):
        sio.sniff_format("x.unknown")


def test_csv_comment_char_default(spark, tmp_path):
    """Reference default comment law (parse_test.clj:481-485 on
    csv-comment.csv): lines STARTING with '#' are skipped, mid-line '#'
    is data; comment='' opts out."""
    p = tmp_path / "c.csv"
    p.write_text("# program header line\n"
                 "id,name\n"
                 "1,alpha\n"
                 "2,has#hash\n"
                 "#3,commented-out\n"
                 "4,last\n")
    df = sio.to_dataset(spark, str(p))
    rows = {r["id"]: r["name"] for r in df.collect()}
    assert rows == {1: "alpha", 2: "has#hash", 4: "last"}
    # opt-out: every line parses (the '#' lines become data/garbage rows)
    df2 = sio.to_dataset(spark, str(p), comment="", inferSchema=False)
    assert df2.count() == 5


def test_csv_empty_header_cell_names_column_n(spark, tmp_path):
    """Empty header cells get positional 'column-N' names, not Spark's
    '_cN' (reference parse_test.clj:311-315 on rcsv.csv)."""
    p = tmp_path / "r.csv"
    p.write_text(",Urban Female,Urban Male\nx,1,2\n")
    df = sio.to_dataset(spark, str(p))
    assert df.columns == ["column-0", "Urban Female", "Urban Male"]


def test_csv_quote_all_write(spark, tmp_path):
    """write(..., quoteAll=True) quotes every field (reference
    parse_test.clj:363-371 ':quote? true' law)."""
    out = str(tmp_path / "q.csv")
    sio.write(spark.createDataFrame([("onelongstring",)], ["a"]).coalesce(1),
              out, quoteAll=True)
    import os as _os
    parts = [f for f in _os.listdir(out) if f.endswith(".csv")]
    content = "".join(open(_os.path.join(out, p)).read() for p in parts)
    assert content == '"a"\n"onelongstring"\n'


def test_bz2_csv_round_trip(spark, tmp_path):
    """bzip2 single-file read + double-suffix write dispatch (reference
    bzip2.clj:48-62): a foreign .csv.bz2 reads transparently (Hadoop codec,
    block-splittable), and write(df, '*.csv.bz2') emits bzip2 part files
    that read back equal."""
    import bz2

    src = tmp_path / "stocks.csv.bz2"
    src.write_bytes(bz2.compress(b"symbol,price\nMSFT,39.81\nAAPL,25.45\n"))
    df = sio.to_dataset(spark, str(src))
    rows = {r["symbol"]: r["price"] for r in df.collect()}
    assert rows == {"MSFT": 39.81, "AAPL": 25.45}

    out = str(tmp_path / "out.csv.bz2")
    sio.write(df, out)
    import os as _os
    parts = [f for f in _os.listdir(out) if f.endswith(".csv.bz2")]
    assert parts, "expected bzip2-compressed part files"
    back = sio.to_dataset(spark, out, file_type="csv", header=True,
                          inferSchema=True)
    assert {r["symbol"]: r["price"] for r in back.collect()} == rows


def test_to_dataset_mapseq_and_colmap(spark):
    ds = sio.to_dataset(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert ds.count() == 2
    ds2 = sio.to_dataset(spark, {"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert ds2.count() == 3 and set(ds2.columns) == {"a", "b"}


def test_to_dataset_object_columns_and_date_missing(spark):
    """Reference object-column + datetime-missing ingest laws
    (object_columns_test.clj:9-29, mapseq_test.clj:200-222): nested maps
    become map columns (ragged -> NULL, the :persistent-map analog),
    nested sequences become array columns (the :tensor analog), and a
    :local-date parser-fn keeps nils as missing while parsing extreme
    dates (year 1)."""
    import datetime as dt
    ds = sio.to_dataset(spark, [{"a": 1, "b": {"x": 1, "y": 2}}, {"a": 2}])
    assert dict(ds.dtypes)["b"] == "map<string,bigint>"
    got = {r["a"]: r["b"] for r in ds.collect()}
    assert got[1] == {"x": 1, "y": 2} and got[2] is None
    ds2 = sio.to_dataset(spark, [{"a": [[0, 1], [2, 3]], "b": "hello"}])
    assert dict(ds2.dtypes)["a"] == "array<array<bigint>>"
    ds3 = sio.to_dataset(
        spark, [{"d": "1971-01-01"}, {"d": None}, {"d": "0001-01-01"}],
        parser_fn={"d": "date"})
    assert dict(ds3.dtypes)["d"] == "date"
    assert ds3.filter("d is null").count() == 1
    assert min(r["d"] for r in ds3.collect() if r["d"]) == dt.date(1, 1, 1)


def test_to_dataset_csv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    sio.write(sio.to_dataset(spark, {"a": [1, 2], "b": ["x", "y"]}), p, file_type="csv")
    back = sio.to_dataset(spark, p)
    assert back.count() == 2 and set(back.columns) == {"a", "b"}


def test_read_parquet_ns_timestamps(spark, sf_dir):
    ev = sio.read_parquet(spark, f"{sf_dir}/events.parquet")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


def test_dataset_wrapper_roundtrip(spark):
    from tech_ml_dataset_spark import dataset
    ds = dataset(spark, {"k": ["a", "a", "b"], "v": [1.0, 3.0, 5.0]})
    out = (ds.filter(F.col("v") > 0)
             .group_by_column_agg("k", {"s": ("sum", "v")})
             .sort_by_column("k"))
    assert out.rowvecs() == [("a", 4.0), ("b", 5.0)]


def test_ivf_topk_finds_exact_match(spark):
    import random
    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[7][1]
    cents = sim.ivf_centroids(df, "embedding", 4, seed=1)
    got = sim.ivf_topk(df, "embedding", q, 3, cents, n_probe=4).collect()
    # with n_probe = n_cells IVF degrades to exact: vec 7 (cos=1) must be #1
    assert got[0]["vec_id"] == 7 and abs(got[0]["cos"] - 1.0) < 1e-9


def test_ivf_assign_cell_bounds(spark):
    df = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(10)],
                               ["vec_id", "embedding"])
    cents = [[1.0, 0.0], [0.0, 1.0]]
    cells = {r["ivf_cell"] for r in sim.ivf_assign(df, "embedding", cents).collect()}
    assert cells <= {0, 1} and len(cells) == 2


def test_token_count_bpe_edges(spark):
    df = spark.createDataFrame(
        [(1, "isn't it 42x faster!"), (2, ""), (3, None), (4, "   ")],
        ["id", "t"])
    got = {r["id"]: r["n"] for r in
           df.select("id", txt.token_count_bpe(F.col("t")).alias("n")).collect()}
    assert got[1] > 0 and got[2] == 0 and got[4] == 1  # ws run counts once
    assert got[3] is None  # null text -> null count (SQL semantics)


def test_winnow_fingerprints_shared_substring(spark):
    a = "the quick brown fox jumps over the lazy dog today"
    df = spark.createDataFrame(
        [(1, a), (2, "XX " + a + " YY"), (3, "completely different content here"),
         (4, ""), (5, "ab")], ["id", "t"])
    fp = txt.winnow_fingerprints(F.col("t"), k=8, w=4)
    got = {r["id"]: set(r["fp"]) for r in df.select("id", fp.alias("fp")).collect()}
    assert got[1] & got[2]                # shared substring -> shared prints
    assert not (got[1] & got[3])          # disjoint text -> disjoint prints
    assert got[4] == set() and got[5] == set()  # shorter than k -> empty


def test_bad_row_policy_csv(spark, tmp_path):
    p = str(tmp_path / "bad.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\nnotanint,y\n3,z\n")
    schema = "a int, b string"
    keep = sio.to_dataset(spark, p, schema=schema, header=True,
                          bad_row_policy="keep").collect()
    assert len(keep) == 3 and any(r["a"] is None for r in keep)
    skip = sio.to_dataset(spark, p, schema=schema, header=True,
                          bad_row_policy="skip").collect()
    assert len(skip) == 2 and all(r["a"] is not None for r in skip)
    with pytest.raises(Exception):
        sio.to_dataset(spark, p, schema=schema, header=True,
                       bad_row_policy="error").collect()


def test_remove_boilerplate_lines(spark):
    """Corpus-frequent lines vanish, unique lines survive in order, and a
    doc that was pure boilerplate comes back empty."""
    from tech_ml_dataset_spark.functions import text as txt

    docs = [(i, f"unique head {i}\nShared Footer\nunique tail {i}")
            for i in range(10)] + [(99, "Shared Footer")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r["text"]
           for r in txt.remove_boilerplate_lines(
               df, max_doc_frac=0.5, min_docs=2).collect()}
    assert out[3] == "unique head 3\nunique tail 3"
    assert out[99] == ""
    # raising the threshold past the footer's df keeps everything
    keep = {r["doc_id"]: r["text"]
            for r in txt.remove_boilerplate_lines(
                df, max_doc_frac=1.0).collect()}
    assert keep[3] == docs[3][1]


def test_temperature_weights(spark):
    from tech_ml_dataset_spark.functions import text as txt

    counts = {"en": 1_000_000, "sw": 1_000}
    nat = txt.temperature_weights(counts, alpha=1.0)
    assert abs(nat["en"] / nat["sw"] - 1000) < 1e-9  # natural proportions
    t = txt.temperature_weights(counts, alpha=0.3)
    assert t["en"] / t["sw"] < 10          # low-resource boosted
    assert abs(sum(t.values()) - 1.0) < 1e-12
    uni = txt.temperature_weights(counts, alpha=0.0)
    assert abs(uni["en"] - uni["sw"]) < 1e-12


def test_kmeans_lloyd_matches_numpy(spark):
    """Distributed Lloyd's vs a numpy reference over several rounds,
    including the deterministic init and lower-cluster tie-break."""
    import numpy as np
    from tech_ml_dataset_spark.functions import similarity as sim

    rng = np.random.default_rng(3)
    centers = np.array([[0.0, 0.0], [5.0, 5.0], [0.0, 5.0]])
    pts = np.vstack([c + rng.normal(0, 0.4, (30, 2)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in enumerate(pts)],
        "vec_id int, embedding array<double>")

    # numpy Lloyd's with identical init (ids 0..2) and 4 rounds
    cents = pts[[0, 1, 2]].copy()
    for _ in range(4):
        d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(3):
            if (assign == j).any():
                cents[j] = pts[assign == j].mean(axis=0)
    d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want_assign, want_d2 = d.argmin(axis=1), d.min(axis=1)

    out, got_cents = sim.kmeans_lloyd(df, k=3, max_iter=4,
                                      init_ids=(0, 1, 2))
    rows = {r["vec_id"]: r for r in out.collect()}
    assert np.allclose(np.array(got_cents), cents)
    for i in range(len(pts)):
        assert rows[i]["cluster"] == want_assign[i]
        assert abs(rows[i]["dist2"] - want_d2[i]) < 1e-9


def test_kmeans_lloyd_empty_cluster_keeps_centroid(spark):
    from tech_ml_dataset_spark.functions import similarity as sim
    # centroid 2 initialized far away captures nothing after round 1
    df = spark.createDataFrame(
        [(0, [0.0]), (1, [1.0]), (2, [100.0]), (3, [0.5])],
        "vec_id int, embedding array<double>")
    out, cents = sim.kmeans_lloyd(df, k=2, max_iter=3, init_ids=(0, 2))
    rows = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert rows[2] == 1 and rows[0] == 0 and rows[1] == 0


def test_pq_encode_matches_numpy_and_adc_ranks(spark):
    """PQ codes equal the numpy argmin per subspace; ADC distance equals
    the table-sum closed form; an exact duplicate of the query ranks
    first in pq_topk."""
    import numpy as np
    from tech_ml_dataset_spark.functions import similarity as sim

    rng = np.random.default_rng(7)
    vecs = rng.normal(0, 1, (60, 8)).round(3)
    vecs[17] = vecs[3]  # exact dup pair
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>")
    books = sim.pq_train(df, dim=8, m=2, k=4, max_iter=2)
    assert len(books) == 2 and len(books[0]) == 4 and len(books[0][0]) == 4

    enc = {r["vec_id"]: list(r["pq_code"])
           for r in sim.pq_encode(df, books).collect()}
    for i, v in enumerate(vecs):
        for s in range(2):
            sv = v[s * 4:(s + 1) * 4]
            d = [((sv - np.asarray(c)) ** 2).sum() for c in books[s]]
            assert enc[i][s] == int(np.argmin(d)), (i, s)
    assert enc[17] == enc[3]  # identical vectors -> identical codes

    q = [float(x) for x in vecs[3]]
    top = sim.pq_topk(df, books, q, k=5).collect()
    ids = [r["vec_id"] for r in top]
    assert set(ids[:2]) == {3, 17}  # the query's duplicates lead
    # ADC distance closed form for row 3
    want = sum(((np.asarray(q[s*4:(s+1)*4])
                 - np.asarray(books[s][enc[3][s]])) ** 2).sum()
               for s in range(2))
    got = [r["pq_dist2"] for r in top if r["vec_id"] == 3][0]
    assert abs(got - want) < 1e-9


def test_embedding_dedup_pairs_lsh_recall(spark):
    """Banded sign-LSH near-dup detection: near-identical vectors (cosine
    ~0.999) must be caught with recall 1.0 at default banding; unrelated
    (orthogonal-ish) vectors must not appear."""
    import random
    from tech_ml_dataset_spark.functions import similarity as sim

    rng = random.Random(7)
    dim = 16
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        # near-duplicate: tiny perturbation
        rows.append((2 * i + 1, [float(x + rng.gauss(0, 0.01)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    got = sim.embedding_dedup_pairs(df, threshold=0.99, method="lsh")
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    expected = {(2 * i, 2 * i + 1) for i in range(10)}
    assert expected <= pairs              # full recall on true near-dups
    exact = sim.embedding_dedup_pairs(df, threshold=0.99, method="exact")
    assert pairs <= {(r["id_a"], r["id_b"]) for r in exact.collect()}  # no false positives vs exact


def test_embedding_pairs_between_cross_corpus(spark):
    """Cross-corpus embedding near-dup: new-batch near-copies of historical
    vectors surface as (new_id, hist_id); within-batch pairs are NOT
    reported; LSH path agrees with exact on true near-dups; the
    incremental filter drops exactly the matched new rows."""
    import random
    from tech_ml_dataset_spark.functions import similarity as sim

    rng = random.Random(11)
    dim = 16
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(6)]
    hist = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id bigint, embedding array<float>")
    # new batch: near-copies of hist 0..2 (ids 100..102), one fresh (103),
    # plus 104 = near-copy of 103 (within-batch only — must NOT pair)
    fresh = [rng.gauss(0, 1) for _ in range(dim)]
    new_rows = [(100 + i,
                 [float(x + rng.gauss(0, 0.01)) for x in base[i]])
                for i in range(3)]
    new_rows.append((103, [float(x) for x in fresh]))
    new_rows.append((104, [float(x + rng.gauss(0, 0.01)) for x in fresh]))
    new = spark.createDataFrame(new_rows,
                                "vec_id bigint, embedding array<float>")

    exact = sim.embedding_pairs_between(new, hist, threshold=0.99,
                                        method="exact")
    epairs = {(r["new_id"], r["hist_id"]) for r in exact.collect()}
    assert epairs == {(100, 0), (101, 1), (102, 2)}
    lsh = sim.embedding_pairs_between(new, hist, threshold=0.99)
    lpairs = {(r["new_id"], r["hist_id"]) for r in lsh.collect()}
    assert {(100, 0), (101, 1), (102, 2)} <= lpairs  # full recall
    assert lpairs <= epairs                           # no false positives

    kept = sim.embedding_dedup_incremental(new, hist, threshold=0.99,
                                           method="exact")
    assert sorted(r["vec_id"] for r in kept.collect()) == [103, 104]
    assert kept.columns == new.columns


def test_chunk_documents_overlap(spark):
    from tech_ml_dataset_spark.functions import text as txt

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, ""), (3, "solo")],
                               ["doc_id", "text"])
    out = txt.chunk_documents(df, chunk_size=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"], r["n_tokens"]))
    # step=3: starts 0,3,6 — start 9 is skipped because 9+overlap >= 10
    # would emit "w9", fully contained in the previous chunk (ADVICE r2)
    assert [c for _, c, _ in sorted(by_doc[1])] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"]
    assert [n for *_, n in sorted(by_doc[1])] == [4, 4, 4]
    assert 2 not in by_doc           # empty doc -> no chunks
    assert by_doc[3] == [(0, "solo", 1)]


def test_gopher_quality_rules(spark):
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame([
        (1, " ".join(f"word{i} with the usual and of mix here" for i in range(8))),
        (2, "too short"),
        (3, " ".join(["123 456 789 000 111"] * 10)),        # digits only
        (4, " ".join(["spam ham"] * 30)),                   # one repeated bigram
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in txt.gopher_quality(df, min_words=10).collect()}
    assert out[1]["rule_word_count"] and out[1]["rule_stopwords"]
    assert not out[2]["rule_word_count"]
    assert not out[3]["rule_alpha_words"] and not out[3]["rule_stopwords"]
    assert not out[4]["rule_repetition"] and out[4]["top_bigram_frac"] > 0.5
    assert not out[4]["quality_pass"]


def test_ccnet_buckets(spark):
    """Per-group tiering: most corpus-typical docs -> head; unscored ->
    NULL; unpartitioned use warns."""
    import warnings

    from tech_ml_dataset_spark.functions import text as txt

    # 'common' appears everywhere -> docs of only-common words score low
    df = spark.createDataFrame(
        [(1, "common common common", "en"),
         (2, "common common rare1", "en"),
         (3, "rare2 rare3 rare4", "en"),
         (4, "", "en")],
        "doc_id int, text string, lang string")
    out = {r["doc_id"]: r for r in
           txt.ccnet_buckets(df, by="lang").collect()}
    # 4 rows -> ntile sizes 2,1,1; the unscored doc sorts last and absorbs
    # the tail slot (it still counts in the tiling, label nulled)
    assert out[1]["ppl_bucket"] == "head" and out[2]["ppl_bucket"] == "head"
    assert out[3]["ppl_bucket"] == "middle"
    assert out[4]["ppl_bucket"] is None
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        txt.ccnet_buckets(df)
        assert any("ccnet_buckets" in str(x.message) for x in w)


def test_dataset_card(spark):
    from tech_ml_dataset_spark.functions import text as txt

    # doc 2 is a WHITESPACE-VARIANT duplicate of doc 1: the card's
    # fingerprint follows the shared md5_fingerprint law (whitespace
    # collapsed), so exact_dup_frac reports what exact_dedup would remove
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "a  b   c", "en"), (3, "x", "de"),
         (4, None, "de")],
        "doc_id int, text string, lang string")
    card = {(r["group"], r["metric"]): r["value"]
            for r in txt.dataset_card(df, by="lang").collect()}
    assert card[("all", "n_docs")] == 4.0
    assert abs(card[("all", "null_text_frac")] - 0.25) < 1e-12
    assert card[("all", "total_tokens")] == 7.0
    # 3 non-null docs, 2 distinct fingerprints -> 1/3 dup mass
    assert abs(card[("all", "exact_dup_frac")] - 1 / 3) < 1e-12
    assert card[("en", "n_docs")] == 2.0
    assert abs(card[("en", "exact_dup_frac")] - 0.5) < 1e-12
    assert card[("de", "exact_dup_frac")] == 0.0


def test_filter_funnel(spark):
    """Sequential drop accounting: each stage counts drops GIVEN prior
    stages passed; NULL verdicts drop; one aggregate for the whole
    funnel."""
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame(
        [(1, 10, True), (2, 3, True), (3, 10, None),
         (4, 10, False), (5, 2, False)],
        "doc_id int, n int, ok boolean")
    out, rep = txt.filter_funnel(df, {
        "long_enough": F.col("n") >= 5,     # drops 2, 5
        "flag_ok": F.col("ok"),             # of survivors {1,3,4}: drops 3 (NULL), 4
    })
    assert sorted(r["doc_id"] for r in out.collect()) == [1]
    r = {x["rule"]: x for x in rep.collect()}
    assert (r["long_enough"]["n_in"], r["long_enough"]["n_dropped"],
            r["long_enough"]["n_out"]) == (5, 2, 3)
    assert (r["flag_ok"]["n_in"], r["flag_ok"]["n_dropped"],
            r["flag_ok"]["n_out"]) == (3, 2, 1)
    assert abs(r["flag_ok"]["retention"] - 0.2) < 1e-12
    assert [x["stage"] for x in rep.orderBy("stage").collect()] == [0, 1]


def test_bpe_train_and_encode(spark):
    """Sennrich BPE: hand-computed merge sequence and greedy encode."""
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame([(1, "ab ab ab ac")], ["doc_id", "text"])
    merges = txt.bpe_train(df, n_merges=10)
    # pairs: (a,b)=3 ties (b,</w>)=3 -> lexicographic; then (ab,</w>)=3;
    # then the ac word resolves the same way; no pairs left after 4
    assert merges == [("a", "b"), ("ab", "</w>"),
                      ("a", "c"), ("ac", "</w>")]

    enc = spark.createDataFrame([(1, "ab ac ad"), (2, None)],
                                ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           txt.bpe_encode(enc, merges,
                          vocab={"ab</w>": 0, "ac</w>": 1, "a": 2}).collect()}
    assert out[1]["bpe_tokens"] == ["ab</w>", "ac</w>", "a", "d", "</w>"]
    assert out[1]["bpe_tokens_n"] == 5
    assert out[1]["bpe_tokens_ids"] == [0, 1, 2, -1, -1]
    assert out[2]["bpe_tokens"] is None and out[2]["bpe_tokens_n"] is None

    # lossless segmentation: joining subwords and restoring spaces at </w>
    # boundaries reconstructs the whitespace-normalized text
    rec = spark.createDataFrame([(1, "ab ac ab")], ["doc_id", "text"])
    toks = txt.bpe_encode(rec, merges).collect()[0]["bpe_tokens"]
    assert "".join(toks).replace("</w>", " ").strip() == "ab ac ab"


def test_bpe_train_max_words_cap_and_determinism(spark):
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame(
        [(i, "common common rare%d" % i) for i in range(20)],
        ["doc_id", "text"])
    # cap keeps only the most frequent word; merges derive from it alone
    m_capped = txt.bpe_train(df, n_merges=50, max_words=1)
    flat = {s for pair in m_capped for s in pair}
    assert all(set(tok) <= set("common</w>") for tok in flat)
    # same input -> identical merge sequence (tie-break determinism)
    assert m_capped == txt.bpe_train(df, n_merges=50, max_words=1)


def test_repetition_signals(spark):
    """Hand-computed Gopher repetition battery on a structured doc."""
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame([
        (1, "aaa bbb\naaa bbb\nccc ddd\n\nxyz"),
        (2, None),
        (3, ""),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           txt.repetition_signals(df, top_ngram_ns=(2,),
                                  dup_ngram_ns=(2, 5)).collect()}
    r1 = out[1]
    # lines: [aaa bbb, aaa bbb, ccc ddd, xyz] -> 1 repeat of 4 slots
    assert r1["n_lines"] == 4
    assert abs(r1["dup_line_frac"] - 0.25) < 1e-12
    # char view: 24 line chars, 17 distinct -> 7/24
    assert abs(r1["dup_line_char_frac"] - 7 / 24) < 1e-12
    # paragraphs: two distinct blocks -> no repetition
    assert r1["n_paras"] == 2 and r1["dup_para_frac"] == 0.0
    # tokens: aaa bbb aaa bbb ccc ddd xyz -> norm_chars 27;
    # top 2-gram "aaa bbb" occurs 2x (len 7) -> 14/27
    assert abs(r1["top_2gram_char_frac"] - 14 / 27) < 1e-12
    assert abs(r1["dup_2gram_char_frac"] - 14 / 27) < 1e-12
    # all three 5-grams are unique
    assert r1["dup_5gram_char_frac"] == 0.0
    # NULL text propagates NULL; empty text yields zeros
    assert out[2]["dup_line_frac"] is None
    assert out[2]["top_2gram_char_frac"] is None
    assert out[3]["dup_line_frac"] == 0.0 and out[3]["n_lines"] == 0
    assert out[3]["top_2gram_char_frac"] == 0.0


def test_repetition_signals_cap_and_tiebreak(spark):
    from tech_ml_dataset_spark.functions import text as txt

    # "a a a a": 2-gram "a a" count 3, len 3, norm 7 -> 9/7 capped at 1.0
    # tiebreak doc: "b c b c d": grams (b c)x2,(c b)x1,(c d)x1 -> top is b c;
    # with equal counts everywhere ties go to the smallest gram
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "z y z y x")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           txt.repetition_signals(df, top_ngram_ns=(2,),
                                  dup_ngram_ns=(5,)).collect()}
    assert out[1]["top_2gram_char_frac"] == 1.0
    # "z y" count 2 (len 3), "y z" count 1, "y x" count 1 -> 6/9
    assert abs(out[2]["top_2gram_char_frac"] - 6 / 9) < 1e-12


def test_unigram_logprob_score(spark):
    """Rarer tokens -> higher bits/token; common-token doc scores lower."""
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame(
        [(1, "common common common common"),
         (2, "common rareword"),
         (3, "")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in txt.unigram_logprob_score(df).collect()}
    assert out[1]["bits_per_token"] < out[2]["bits_per_token"]
    assert out[3]["bits_per_token"] is None          # empty doc unscored
    assert out[1]["n_scored_tokens"] == 4


def test_tfidf_top_terms(spark):
    """Doc-characteristic (rare) terms outrank corpus-wide (common) ones;
    tf/idf values match the closed form."""
    import math

    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame(
        [(1, "shared apple apple"),
         (2, "shared banana"),
         (3, "shared shared cherry")],
        ["doc_id", "text"])
    out = txt.tfidf_top_terms(df, top_k=2)
    rows = {(r["doc_id"], r["term"]): r for r in out.collect()}
    # doc 1: 'apple' (df=1) must beat 'shared' (df=3)
    assert rows[(1, "apple")]["term_rank"] == 1
    assert rows[(1, "apple")]["tf"] == 2 / 3
    assert abs(rows[(1, "apple")]["idf"] - (math.log(4 / 2) + 1)) < 1e-12
    assert rows[(1, "shared")]["term_rank"] == 2
    assert abs(rows[(1, "shared")]["idf"] - (math.log(4 / 4) + 1)) < 1e-12
    # min_df pruning removes singletons entirely
    pruned = txt.tfidf_top_terms(df, top_k=2, min_df=2)
    assert {r["term"] for r in pruned.collect()} == {"shared"}
    # max_df_ratio prunes corpus-wide terms
    nomax = txt.tfidf_top_terms(df, top_k=2, max_df_ratio=0.67)
    assert "shared" not in {r["term"] for r in nomax.collect()}


def test_bm25_search_closed_form(spark):
    """BM25 scores match the Okapi closed form; docs without any query
    term are excluded; NULL/empty text scores 0 (excluded) but still
    counts toward N; top_k truncates after the deterministic ordering."""
    import math

    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame(
        [(1, "apple banana apple"),
         (2, "banana cherry"),
         (3, "cherry cherry cherry durian"),
         (4, None),
         (5, "")],
        "doc_id long, text string")
    out = txt.bm25_search(df, "apple cherry", k1=1.2, b=0.75)
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    assert set(rows) == {1, 2, 3}

    def ref(tf, dl, dfreq, n=5, avgdl=3.0, k1=1.2, b=0.75):
        idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
        return idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))

    # doc 1: apple tf=2 dl=3; df(apple)=1, df(cherry)=2; avgdl=(3+2+4)/3
    assert abs(rows[1] - ref(2, 3, 1)) < 1e-12
    assert abs(rows[2] - ref(1, 2, 2)) < 1e-12
    assert abs(rows[3] - ref(3, 4, 2)) < 1e-12
    # scoring order: doc 1 (rare term, high tf) first
    ordered = [r["doc_id"] for r in out.collect()]
    assert ordered == sorted(rows, key=lambda d: (-rows[d], d))
    top = txt.bm25_search(df, "apple cherry", top_k=2).collect()
    assert [r["doc_id"] for r in top] == ordered[:2]
    with pytest.raises(ValueError, match="no tokens"):
        txt.bm25_search(df, "   ")


def test_sample_mixture_hits_token_budget(spark):
    from tech_ml_dataset_spark.functions import text as txt

    rows = [(i, "en" if i % 2 == 0 else "de", 100) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens int")
    out = txt.sample_mixture(df, {"en": 0.8, "de": 0.2},
                             total_tokens=50_000, seed=7)
    got = {r["lang"]: r["t"] for r in
           out.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()}
    # expected 40k en / 10k de; Bernoulli sampling -> allow 25% slack
    assert abs(got["en"] - 40_000) < 10_000
    assert abs(got["de"] - 10_000) < 5_000
    # unknown bucket dropped entirely
    out2 = txt.sample_mixture(df, {"en": 1.0}, total_tokens=10_000, seed=7)
    assert out2.filter(F.col("lang") == "de").count() == 0
    # bucket smaller than its budget is taken whole
    out3 = txt.sample_mixture(df, {"de": 1.0}, total_tokens=10**9, seed=7)
    assert out3.count() == 1000


def test_pii_counts_and_redact(spark):
    from pyspark.sql import functions as F
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame([
        (1, "mail me at jo.doe+x@sub.example.org or call +14155551234"),
        (2, "server 192.168.1.100 and 10.0.0.1 are internal"),
        (3, "no pii here"),
    ], ["id", "t"])
    c = txt.pii_counts(F.col("t"))
    out = {r["id"]: r for r in df.select(
        "id", c["email"].alias("e"), c["ipv4"].alias("i"),
        c["phone"].alias("p"),
        txt.redact_pii(F.col("t")).alias("red")).collect()}
    assert (out[1]["e"], out[1]["p"]) == (1, 1)
    assert out[1]["red"] == "mail me at [EMAIL] or call [PHONE]"
    assert out[2]["i"] == 2
    assert out[2]["red"] == "server [IPV4] and [IPV4] are internal"
    assert (out[3]["e"], out[3]["i"], out[3]["p"]) == (0, 0, 0)
    assert out[3]["red"] == "no pii here"


def test_pii_counts_sequential_matches_redaction(spark):
    """Review r3: a phone-shaped run INSIDE an email local part must count
    as part of the email only — counts are taken sequentially on the
    progressively-redacted text, so they always equal the redactions."""
    from pyspark.sql import functions as F
    from tech_ml_dataset_spark.functions import text as txt

    df = spark.createDataFrame([(1, "write a+14155551234@x.com now")],
                               ["id", "t"])
    c = txt.pii_counts(F.col("t"))
    r = df.select(c["email"].alias("e"), c["phone"].alias("p"),
                  txt.redact_pii(F.col("t")).alias("red")).collect()[0]
    assert r["e"] == 1 and r["p"] == 0       # not double-counted
    assert r["red"] == "write [EMAIL] now"


def test_heavy_hitters_exact_and_mg(spark):
    # skewed stream: value i appears (41-i)*10 times, i in 0..40
    rows = [(f"v{i:02d}",) for i in range(41) for _ in range((41 - i) * 10)]
    df = spark.createDataFrame(rows, ["tok"]).repartition(8)
    exact = txt.heavy_hitters(df, "tok", k=5, method="exact").collect()
    assert [r["value"] for r in exact] == ["v00", "v01", "v02", "v03", "v04"]
    assert exact[0]["count"] == 410 and exact[0]["rank"] == 1

    n = len(rows)
    m = 64
    mg = txt.heavy_hitters(df, "tok", k=5, method="mg", counters=m).collect()
    exact_counts = {f"v{i:02d}": (41 - i) * 10 for i in range(41)}
    # mergeable-summaries guarantee: reported counts are lower bounds and
    # understate by at most n/m; the true heavy head must survive
    got = {r["value"]: r["count"] for r in mg}
    for v, c in got.items():
        assert c <= exact_counts[v]
        assert exact_counts[v] - c <= n // m + 1
    assert "v00" in got and "v01" in got


def test_heavy_hitters_mg_small_domain_is_exact(spark):
    # domain smaller than the counter budget -> MG == exact
    rows = [("a",)] * 7 + [("b",)] * 5 + [("c",)] * 2
    df = spark.createDataFrame(rows, ["tok"])
    mg = txt.heavy_hitters(df, "tok", k=3, method="mg", counters=100).collect()
    assert [(r["value"], r["count"]) for r in mg] == [("a", 7), ("b", 5), ("c", 2)]


def test_pack_sequences_greedy_next_fit(spark):
    from tech_ml_dataset_spark.functions import text as txt
    rows = [  # (id, grp, tokens) — budget 100
        (1, "a", 60), (2, "a", 50),   # 60 | 50.. (60+50>100 -> new pack)
        (3, "a", 40), (4, "a", 10),   # pack1: 50+40+10 = 100 exactly
        (5, "a", 250),                # oversized -> own pack
        (6, "a", 5),                  # after oversized -> new pack
        (7, "b", 100), (8, "b", 1),   # full pack, then new
    ]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "n_tokens"])
    out = txt.pack_sequences(df, 100, by="grp", order_by="doc_id")
    got = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 1, 5: 2, 6: 3, 7: 0, 8: 1}


def test_pack_sequences_zero_and_null_tokens(spark):
    from tech_ml_dataset_spark.functions import text as txt
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "a", None), (3, "a", 7)],
        "doc_id long, grp string, n_tokens long")
    out = txt.pack_sequences(df, 5, by="grp", order_by="doc_id")
    got = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    # 0 and null contribute nothing; the oversized row lands in the still-
    # empty pack 0 (a new pack only opens when the current one is non-empty)
    assert got == {1: 0, 2: 0, 3: 0}


def test_dsir_logweights_favor_target_domain(spark):
    from tech_ml_dataset_spark.functions import text as txt
    en = [(i, f"the quick brown fox number {i} jumps over the lazy dog")
          for i in range(10)]
    de = [(100 + i, f"der schnelle braune fuchs nummer {i} springt hoch")
          for i in range(10)]
    corpus = spark.createDataFrame(en + de, ["doc_id", "text"])
    target = corpus.filter(F.col("doc_id") < 100)     # English target
    out = txt.dsir_logweights(corpus, target, k=2)
    w = {r["doc_id"]: r["dsir_logweight"] for r in out.collect()}
    avg_en = sum(w[i] for i in range(10)) / 10
    avg_de = sum(w[100 + i] for i in range(10)) / 10
    assert avg_en > avg_de            # target-domain docs weigh more
    assert out.columns[-2:] == ["dsir_logweight", "n_grams"]


def test_dsir_logweights_short_doc_zero(spark):
    from tech_ml_dataset_spark.functions import text as txt
    corpus = spark.createDataFrame(
        [(1, "one"), (2, "two words here")], ["doc_id", "text"])
    out = txt.dsir_logweights(corpus, corpus, k=2)
    rows = {r["doc_id"]: (r["dsir_logweight"], r["n_grams"])
            for r in out.collect()}
    assert rows[1] == (0.0, 0)        # < k tokens -> no grams, weight 0
    assert rows[2][1] == 2


def test_weighted_sample_topk_gumbel(spark):
    from tech_ml_dataset_spark.functions import text as txt
    import math
    # two weight classes: logw 3.0 vs 0.0 (~20x likelier); 40 docs each
    rows = [(i, 3.0) for i in range(40)] + [(100 + i, 0.0) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "lw"]).repartition(4)
    out = txt.weighted_sample_topk(df, "lw", 20, seed=7)
    got = [r["doc_id"] for r in out.collect()]
    assert len(got) == len(set(got)) == 20          # without replacement
    heavy = sum(1 for i in got if i < 100)
    assert heavy >= 15                               # ~20x likelier class
    # deterministic under fixed seed + partitioning
    again = [r["doc_id"] for r in txt.weighted_sample_topk(
        df, "lw", 20, seed=7).collect()]
    assert sorted(got) == sorted(again)


def test_wav_roundtrip_and_features(spark):
    from tech_ml_dataset_spark.functions import multimodal as mm
    df = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    wav = mm.synthesize_wav(df, "doc_id", n_samples=100, sample_rate=50)
    out = mm.audio_features(wav, "wav").collect()
    by_id = {r["doc_id"]: r["audio"] for r in out}
    a = by_id[1]
    assert (a["sample_rate"], a["n_samples"], a["channels"]) == (50, 100, 1)
    assert abs(a["duration_s"] - 2.0) < 1e-12
    assert 0.0 < a["rms"] < 1.0 and a["zero_crossings"] > 0
    assert by_id[1]["rms"] != by_id[2]["rms"]   # law depends on id


def test_audio_features_bad_bytes_null(spark):
    """Undecodable bytes and WAVs that are not 16-bit PCM yield NULL: an
    8-bit WAV opens fine, but reading it as int16 gives garbage
    features."""
    import io
    import wave

    from tech_ml_dataset_spark.functions import multimodal as mm
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(range(256)) * 2)       # 512 8-bit samples
    df = spark.createDataFrame([(1, bytearray(b"not a wav")),
                                (2, bytearray(buf.getvalue()))],
                               ["doc_id", "wav"])
    rows = {r["doc_id"]: r["audio"]
            for r in mm.audio_features(df, "wav").collect()}
    assert rows == {1: None, 2: None}


def test_text_stats_null_semantics(spark):
    """NULL text yields NULL stats in EVERY session mode (non-ANSI
    size(NULL) is -1, which used to leak out as token_count=-1 and
    stopword_ratio=1.0)."""
    df = spark.createDataFrame([(1, None), (2, "the cat sat on a mat ok")],
                               "id long, t string")
    r = {x["id"]: x for x in df.select(
        "id",
        txt.token_count(F.col("t")).alias("tc"),
        txt.stopword_ratio(F.col("t")).alias("sw"),
        txt.quality_score(F.col("t")).alias("q")).collect()}
    assert r[1]["tc"] is None and r[1]["sw"] is None and r[1]["q"] is None
    assert r[2]["tc"] == 7 and r[2]["q"] > 0.5 and 0 < r[2]["sw"] < 1


def test_fused_text_features_match_the_column_functions(spark):
    """with_quality_lang gives what lang_id, quality_score and
    token_count give, NULL text included (the fused path scored a NULL
    text 0.5 with -1 tokens)."""
    df = spark.createDataFrame(
        [(1, None), (2, "the cat sat on a mat ok"), (3, ""),
         (4, "你好 世界"), (5, "!!! ??? ...")], "doc_id long, text string")
    fused = {r["doc_id"]: (r["lang_pred"], r["quality"], r["n_tokens"])
             for r in txt.with_quality_lang(df).collect()}
    t = F.col("text")
    cols = {r[0]: tuple(r[1:]) for r in df.select(
        "doc_id", txt.lang_id(t), txt.quality_score(t),
        txt.token_count(t)).collect()}
    assert fused == cols
    assert fused[1][1:] == (None, None)


def test_quality_classifier_separates_good_from_garbage(spark):
    from tech_ml_dataset_spark.functions import text as txt
    good = [(i, f"a clear readable sentence about topic {i} with "
                f"several normal words and reasonable structure", 1.0)
            for i in range(25)]
    bad = [(100 + i, "#@!$ 0101 ##" * (2 + i % 3), 0.0)
           for i in range(25)]
    labeled = spark.createDataFrame(good + bad, ["doc_id", "text", "label"])
    model = txt.train_quality_classifier(labeled)
    test = spark.createDataFrame(
        [(1, "another perfectly ordinary readable document with words"),
         (2, "$$$ ### 123 !!! ###"), (3, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["quality_pred"]
           for r in txt.score_quality(test, model).collect()}
    assert got[1] == 1.0 and got[2] == 0.0
    assert 3 in got                       # NULL text scores (coalesced), kept
    # feature helper columns must not leak into the output
    assert not any(c.startswith("f_") for c in
                   txt.score_quality(test, model).columns)


def test_canonical_url_and_dedup(spark):
    from tech_ml_dataset_spark.functions import text as txt
    urls = [
        (0, "https://WWW.Example.com/Path/Page/?utm_source=x&id=5#frag"),
        (1, "https://example.com/Path/Page?id=5"),      # alias of 0
        (2, "http://site.org/a?utm_campaign=z&ref=nav"),
        (3, "http://site.org/a"),                       # alias of 2
        (4, "https://example.com/"),
        (5, None),
        # mid-position tracking param between two kept params (the r3
        # separator bug: '?a=1&utm_x=2&b=3' used to canonicalize to the
        # malformed '?a=1?b=3' and never matched its clean alias)
        (6, "https://m.example.com/p?a=1&utm_x=2&b=3"),
        (7, "https://m.example.com/p?a=1&b=3"),         # alias of 6
        # consecutive mid tracking params + leading tracking param
        (8, "http://x.io/q?utm_a=1&k=2&fbclid=z&gclid=w&v=3"),
        (9, "http://x.io/q?k=2&v=3"),                   # alias of 8
        # all-tracking query -> bare path
        (10, "http://x.io/r?utm_a=1&utm_b=2"),
        (11, "http://x.io/r"),                          # alias of 10
    ]
    df = spark.createDataFrame(urls, "id long, url string")
    canon = {r["id"]: r["c"] for r in df.select(
        "id", txt.canonical_url(F.col("url")).alias("c")).collect()}
    assert canon[0] == canon[1] == "https://example.com/Path/Page?id=5"
    assert canon[2] == canon[3] == "http://site.org/a"
    assert canon[4] == "https://example.com"
    assert canon[5] is None
    assert canon[6] == canon[7] == "https://m.example.com/p?a=1&b=3"
    assert canon[8] == canon[9] == "http://x.io/q?k=2&v=3"
    assert canon[10] == canon[11] == "http://x.io/r"
    kept = sorted(r["id"] for r in txt.url_dedup(df, "url", "id").collect())
    assert kept == [0, 2, 4, 5, 6, 8, 10]  # min-id survivor; NULL kept


def test_read_fwf(spark, tmp_path):
    """Fixed-width reader: substring projection, trim, try_cast schema,
    header skip."""
    p = tmp_path / "fw.txt"
    p.write_text("HEADER LINE IGNORED\n"
                 "001  alpha   12.5\n"
                 "002  beta      bad\n")
    df = sio.read_fwf(spark, str(p), [(0, 3), (5, 12), (12, 17)],
                      ["id", "name", "v"], schema="id int, v double",
                      n_initial_skip_rows=1)
    rows = {r["id"]: (r["name"], r["v"]) for r in df.collect()}
    assert rows == {1: ("alpha", 12.5), 2: ("beta", None)}
    # no names -> positional column-N, untrimmed widths preserved
    df2 = sio.read_fwf(spark, str(p), [(0, 3)], n_initial_skip_rows=1,
                       trim=False)
    assert df2.columns == ["column-0"]
    assert sorted(r["column-0"] for r in df2.collect()) == ["001", "002"]
    # colspecs/names length mismatch raises instead of zip-truncating
    with pytest.raises(ValueError, match="colspecs but 2 names"):
        sio.read_fwf(spark, str(p), [(0, 3), (5, 12), (12, 17)],
                     ["id", "name"])


def test_to_dataset_reads_http_urls(spark, tmp_path):
    """URL ingest (reference ->dataset accepts URLs, github_test.clj):
    driver-side fetch keeping the suffix, then the normal sniffed read."""
    import http.server
    import threading

    (tmp_path / "stocks.csv").write_text("sym,price\nMSFT,39.81\n")
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
        *a, directory=str(tmp_path), **kw)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/stocks.csv"
        df = sio.to_dataset(spark, url)
        assert df.collect()[0]["sym"] == "MSFT"
        assert dict(df.dtypes)["price"] == "double"
    finally:
        srv.shutdown()


def test_normalize_unicode_forms(spark):
    """UAX #15 forms: combining sequence 'a'+U+0301 NFC-composes to 'á';
    NFD decomposes back; NFKC folds compatibility chars (ﬁ ligature);
    NULL passes through; strip_control removes C0/C1 but keeps tab/LF."""
    from tech_ml_dataset_spark.functions import text as txt

    rows = [(1, "ábc"), (2, "ﬁle"), (3, None),
            (4, "x\x00y\tz\n\x9fw")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {r["doc_id"]: r["text"]
           for r in txt.normalize_unicode(df, form="NFC").collect()}
    assert nfc[1] == "ábc" and nfc[2] == "ﬁle" and nfc[3] is None
    nfkc = {r["doc_id"]: r["text"]
            for r in txt.normalize_unicode(df, form="NFKC").collect()}
    assert nfkc[2] == "file"
    nfd = {r["doc_id"]: r["text"] for r in txt.normalize_unicode(
        spark.createDataFrame([(1, "á")], "doc_id long, text string"),
        form="NFD").collect()}
    assert nfd[1] == "á"
    ctl = {r["doc_id"]: r["text"] for r in txt.normalize_unicode(
        df, form="NFC", strip_control=True).collect()}
    assert ctl[4] == "xy\tz\nw"
    # CR is a C0 control too: CRLF text must strip to its LF twin
    crlf = txt.normalize_unicode(
        spark.createDataFrame([(1, "a\r\nb")], "doc_id long, text string"),
        strip_control=True).collect()[0]["text"]
    assert crlf == "a\nb"
    import pytest as _pt
    with _pt.raises(ValueError, match="normalization form"):
        txt.normalize_unicode(df, form="NFX")


def test_bigram_lm_interpolated_law(spark):
    """bigram_logprob_score: Jelinek-Mercer arithmetic on a corpus small
    enough to check by hand, short docs (<2 tokens) score NULL with
    n_bigrams=0, and repeated bigrams score as more typical."""
    import math

    from tech_ml_dataset_spark.functions import text as txt
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "x"), (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["bits_per_bigram"], r["n_bigrams"])
           for r in txt.bigram_logprob_score(docs).collect()}
    assert out[2] == (None, 0) and out[3] == (None, 0)
    # corpus: tokens a,b,a,b,a,b ; x -> N=7, V=3
    # bigrams: (a,b) x3, (b,a) x1
    N, V, lam, a = 7.0, 3.0, 0.75, 0.5
    def p(c12, c1, c2):
        return lam * c12 / c1 + (1 - lam) * (c2 + a) / (N + a * V)
    exp_ab = -math.log2(p(3, 3, 3))          # C(a)=3, C(b)=3
    exp_ba = -math.log2(p(1, 3, 3))
    exp0 = (2 * exp_ab + exp_ba) / 3
    assert abs(out[0][0] - exp0) < 1e-9 and out[0][1] == 3
    assert abs(out[1][0] - exp_ab) < 1e-9 and out[1][1] == 1
    # doc 0's repeated (a,b) makes it more corpus-typical than doc 1? no:
    # doc1 is pure (a,b); doc0 mixes in the rarer (b,a) -> higher bits
    assert out[0][0] > out[1][0]


def test_winnow_chunk_invariance(spark):
    """winnow_fingerprints' memory-bounding chunker must be invisible:
    a tiny chunk budget (forcing one-doc chunks) yields bit-identical
    fingerprints to the default single-chunk path."""
    rows = [(i, f"document number {i} shares a common tail of words "
                "the quick brown fox jumps over the lazy dog " * 3)
            for i in range(20)] + [(20, None), (21, ""), (22, "short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", txt.winnow_fingerprints(F.col("text")).alias("fp")).collect()}
    b = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", txt.winnow_fingerprints(F.col("text"),
                                          chunk_bytes=1).alias("fp")).collect()}
    assert a == b and len(a[0]) > 0


def test_bpe_encode_fixed_table_priority_and_chaining(spark):
    """The oracle-twin merge table's laws: rank priority ((r,o) beats
    (o,w) inside 'row'), chained merges (d->da->dat->data->data</w>),
    EOW rules, and the greedy==rank-order-fixpoint equivalence the
    oracle relies on (well-ordered table)."""
    from registry.text import _BPE_FIXED_MERGES
    from tech_ml_dataset_spark.functions import text as txt
    df = spark.createDataFrame(
        [(1, "the data row window slow a")], "doc_id int, text string")
    out = txt.bpe_encode(df, _BPE_FIXED_MERGES, lowercase=True).collect()[0]
    toks = out["bpe_tokens"]
    assert toks[:2] == ["the</w>", "data</w>"]
    assert "row" in toks and "</w>" in toks          # row + bare EOW
    assert "ow" in toks and "slow" in toks           # window's ow; slow chain
    assert toks[-1] == "a</w>"
    # rank-order-fixpoint replay (the oracle's law) gives the same stream
    def replay(word):
        syms = " " + " ".join(list(word) + ["</w>"]) + " "
        for l, r in _BPE_FIXED_MERGES:
            for _ in range(6):
                syms = syms.replace(f" {l} {r} ", f" {l}{r} ")
        return syms.split()
    want = [t for w in "the data row window slow a".split() for t in replay(w)]
    assert toks == want


def test_kneser_ney_bigram_score_law(spark):
    """Hand-computed KN on a 3-doc micro corpus: continuation probability
    uses distinct-context counts, absolute discount floors at 0."""
    import math

    from tech_ml_dataset_spark.functions import text as txt
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c b"), (4, "x")],
        "doc_id int, text string")
    out = {r["doc_id"]: (r["kn_bits_per_bigram"], r["n_bigrams"])
           for r in txt.kneser_ney_bigram_score(df).collect()}
    # corpus bigrams: (a,b) x2, (c,b) x1 -> B=2 types
    # P(b|a) = (2-.75)/2 + .75*(1/2)*(2/2) = 0.625 + 0.375 = 1.0
    assert out[1][0] == out[2][0]
    assert math.isclose(out[1][0], -math.log2(1.0), abs_tol=1e-9)
    # P(b|c) = (1-.75)/1 + .75*(1/1)*(2/2) = 0.25 + 0.75 = 1.0
    assert math.isclose(out[3][0], 0.0, abs_tol=1e-9)
    # single-token doc: NULL score, 0 bigrams
    assert out[4] == (None, 0)


def test_kneser_ney_nondegenerate_vector(spark):
    """Non-trivial KN vector: corpus 'a b' + 'a c' (B=2 types;
    C(a)=2, N1+(a,*)=2, N1+(*,b)=N1+(*,c)=1) ->
    P(b|a) = max(1-.75,0)/2 + .75*(2/2)*(1/2) = 0.125 + 0.375 = 0.5."""
    import math

    from tech_ml_dataset_spark.functions import text as txt
    df = spark.createDataFrame([(1, "a b"), (2, "a c")],
                               "doc_id int, text string")
    out = {r["doc_id"]: r["kn_bits_per_bigram"]
           for r in txt.kneser_ney_bigram_score(df).collect()}
    assert math.isclose(out[1], -math.log2(0.5), abs_tol=1e-9)
    assert math.isclose(out[2], -math.log2(0.5), abs_tol=1e-9)


@pytest.mark.parametrize("score", [
    lambda df, **kw: txt.unigram_logprob_score(df, **kw),
    lambda df, **kw: txt.bigram_logprob_score(df, **kw),
    lambda df, **kw: txt.kneser_ney_bigram_score(df, **kw),
    lambda df, **kw: txt.dsir_logweights(df, df.filter(F.col("doc_id") < 3),
                                         k=2, **kw),
], ids=["unigram", "bigram", "kneser_ney", "dsir"])
def test_lm_scorer_shuffled_fallback_matches_broadcast(spark, score):
    """Above ``broadcast_vocab_max`` a corpus LM scorer warns and joins its
    vocab tables shuffled; the scores equal the broadcast run's."""
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the log"),
         (3, "a cat and a dog"), (4, "x"), (5, None)],
        "doc_id int, text string")

    def rows(out):
        return sorted(tuple(round(v, 9) if isinstance(v, float) else v
                            for v in r) for r in out.collect())

    want = rows(score(df))
    with pytest.warns(RuntimeWarning, match="broadcast_vocab_max=0"):
        got = score(df, broadcast_vocab_max=0)
    assert "BroadcastHashJoin" not in got._jdf.queryExecution() \
        .executedPlan().toString()
    assert rows(got) == want


def test_token_budget_mix(spark):
    """r10: token-budget source mixing — per source, the md5-priority
    prefix whose inclusive running token sum fits the budget
    (total * weight / sum(weights)); sources without a weight drop;
    the two-phase bucket cut is bit-identical to the naive
    window-cumsum law (replayed here in pure Python); edge cases:
    zero budget keeps nothing, oversized budget keeps everything."""
    import hashlib

    from tech_ml_dataset_spark.functions import text as txt

    rows = [(i, "s%d" % (i % 3), (i * 7) % 13 + 1) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    weights = {"s0": 2.0, "s1": 1.0}          # s2 unweighted -> dropped
    total = 300                                # s0: 200, s1: 100

    out = txt.token_budget_mix(df, weights, total_tokens=total)
    got = sorted(r["doc_id"] for r in out.collect())

    # pure-python replay of the law
    want = []
    for s, w in weights.items():
        bud = total * w / sum(weights.values())
        docs = sorted((hashlib.md5(f"{i}:0".encode()).hexdigest(), i, tk)
                      for i, src, tk in rows if src == s)
        cum = 0
        for _, i, tk in docs:
            cum += tk
            if cum > bud:
                break
            want.append(i)
    assert got == sorted(want)
    assert got                                 # something kept
    srcs = {r["source"] for r in out.collect()}
    assert srcs <= {"s0", "s1"}
    # budgets actually bind: each source's kept tokens <= its budget
    kept = {(r["doc_id"]): r["n_tokens"] for r in out.collect()}
    per = {"s0": 0, "s1": 0}
    for i, src, tk in rows:
        if i in kept and src in per:
            per[src] += tk
    assert per["s0"] <= 200 and per["s1"] <= 100
    # oversized budget keeps every weighted-source doc
    all_out = txt.token_budget_mix(df, weights, total_tokens=10**9)
    assert all_out.count() == sum(1 for _, s, _ in rows if s != "s2")
    # zero total keeps nothing
    assert txt.token_budget_mix(df, weights, total_tokens=0).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="weights"):
        txt.token_budget_mix(df, {}, total_tokens=10)


def test_hashed_ngram_score(spark):
    """r10: fastText-style hashing-trick linear scorer — score =
    sigmoid(bias + sum over grams of W[int(md5(gram ':' seed)[:8],16)
    mod D]); word bigrams join consecutive tokens (wordNgrams
    convention); the scan-fused literal path and the broadcast-join
    scale path produce IDENTICAL scores; empty text scores
    sigmoid(bias)."""
    import hashlib
    import math

    from tech_ml_dataset_spark.functions import text as txt

    W = [((i * 37) % 211 - 105) / 211.0 for i in range(64)]
    rows = [(0, "the quick brown fox"), (1, "fox the fox"),
            (2, ""), (3, "   "), (4, "single")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def law(text, ngrams):
        toks = text.split()
        grams = list(toks)
        for n in range(2, ngrams + 1):
            grams += [" ".join(toks[i:i + n])
                      for i in range(len(toks) - n + 1)]
        raw = 0.25 + sum(
            W[int(hashlib.md5(f"{g}:7".encode()).hexdigest()[:8], 16)
              % len(W)] for g in grams)
        return 1.0 / (1.0 + math.exp(-raw))

    for ngrams in (1, 2):
        out = {r["doc_id"]: r["quality_score"]
               for r in txt.hashed_ngram_score(
                   df, W, bias=0.25, ngrams=ngrams, seed=7).collect()}
        for i, text in rows:
            assert abs(out[i] - law(text, ngrams)) < 1e-12, (i, ngrams)
        # broadcast-join scale path: identical scores
        out2 = {r["doc_id"]: r["quality_score"]
                for r in txt.hashed_ngram_score(
                    df, W, bias=0.25, ngrams=ngrams, seed=7,
                    id_col="doc_id", literal_limit=4).collect()}
        assert all(abs(out[i] - out2[i]) < 1e-12 for i, _ in rows)
    # the scale path demands an id
    import pytest as _pytest
    with _pytest.raises(ValueError, match="id_col"):
        txt.hashed_ngram_score(df, W, literal_limit=4)
    with _pytest.raises(ValueError, match="empty"):
        txt.hashed_ngram_score(df, [])
