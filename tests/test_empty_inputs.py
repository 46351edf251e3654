"""Empty-input hardening: at 100 TB an upstream filter routinely yields an
empty frame (an empty ingest batch, a partition with no matches). Every
operator must degrade to an empty/identity result — not throw. The
reference pins several of these (dataset_test.clj empty-dataset cases)."""

import pytest
from pyspark.sql import functions as F

from tech_ml_dataset_spark.functions import dedup as dd
from tech_ml_dataset_spark.functions import text as txt
from tech_ml_dataset_spark.operators import aggregate as agg
from tech_ml_dataset_spark.operators import missing as ms
from tech_ml_dataset_spark.operators import selection as sel
from tech_ml_dataset_spark.operators import setops as st
from tech_ml_dataset_spark.operators import window as win


@pytest.fixture(scope="module")
def empty_li(spark):
    return spark.createDataFrame(
        [], "k string, v double, ts timestamp, doc_id long, text string")


def test_empty_group_agg_and_whole_table(spark, empty_li):
    out = agg.group_by_column_agg(empty_li, "k", {"s": ("sum", "v")})
    assert out.count() == 0
    row = agg.aggregate(empty_li, {"s": ("sum", "v"),
                                   "n": ("row-count", None)}).collect()[0]
    assert row["n"] == 0 and row["s"] is None


def test_empty_descriptive_stats(spark, empty_li):
    out = agg.descriptive_stats(empty_li.select("v")).collect()
    assert len(out) == 1           # one row per column, n-valid 0
    assert out[0]["n-valid"] == 0


def test_empty_rolling_and_missing(spark, empty_li):
    assert win.rolling(empty_li, "ts", {"m": ("mean", "v")},
                       window_size=3, by="k").count() == 0
    assert ms.replace_missing(empty_li, ["v"], strategy="down",
                              by="k", order_by="ts").count() == 0
    assert ms.replace_missing(empty_li, ["v"],
                              strategy="mean").count() == 0


def test_empty_setops_and_selection(spark, empty_li):
    assert st.concat(empty_li, empty_li).count() == 0
    assert st.unique_by_column(empty_li, "k").count() == 0
    assert sel.head(empty_li, 5).count() == 0
    assert sel.take_nth(empty_li, 3, order_by="doc_id").count() == 0
    assert sel.select_rows(empty_li, [0, 1], order_by="doc_id").count() == 0


def test_empty_dedup_family(spark, empty_li):
    docs = empty_li.select("doc_id", "text")
    assert dd.exact_dedup(docs).count() == 0
    assert dd.minhash_dedup_pairs(docs, k=3, n_hashes=8,
                                  bands=4).count() == 0
    assert dd.ngram_jaccard_pairs(docs, k=2).count() == 0


def test_empty_incremental_dedup_both_ways(spark, empty_li):
    docs = empty_li.select("doc_id", "text")
    full = spark.createDataFrame([(1, "some text here")],
                                 ["doc_id", "text"])
    # empty NEW batch vs non-empty historical
    assert dd.incremental_dedup(docs, full).count() == 0
    # non-empty new batch vs EMPTY historical: everything is fresh
    assert dd.incremental_dedup(full, docs).count() == 1


def test_empty_text_pipeline(spark, empty_li):
    docs = empty_li.select("doc_id", "text")
    assert txt.heavy_hitters(
        docs.select(F.col("text").alias("tok")), "tok", k=5).count() == 0
    assert txt.pack_sequences(
        empty_li.select("doc_id", "k",
                        F.col("doc_id").alias("n_tokens")),
        10, by="k", order_by="doc_id").count() == 0
    out = txt.dsir_logweights(docs, docs, k=2)
    assert out.count() == 0
    full = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    # empty TARGET: every gram is OOV in the target LM — finite weights
    w = txt.dsir_logweights(full, docs, k=2).collect()[0]
    assert w["dsir_logweight"] is not None


def test_empty_r4_operators(spark, empty_li, tmp_path):
    """r4 additions degrade on empty input: similarity_join (both sides),
    datetime lerp fill, negative-index selection, ragged/skip csv on an
    empty file, xls round-trip of an empty table."""
    # similarity_join: empty left, empty right, empty both
    some = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    empty = empty_li.select("doc_id", "text")
    assert dd.similarity_join(empty, some, "text", k=1).count() == 0
    assert dd.similarity_join(some, empty, "text", k=1).count() == 0
    assert dd.similarity_join(empty, empty, "text", k=1).count() == 0
    # datetime lerp on empty frame
    out = ms.replace_missing(empty_li.select("k", "ts"), "ts", "lerp",
                             order_by="k")
    assert out.count() == 0
    # negative index on empty frame resolves via count() -> still empty
    assert sel.select_rows(empty_li, [-1], order_by="doc_id").count() == 0
    # ragged + skip csv over a header-only file
    p = tmp_path / "empty.csv"
    p.write_text("a,b\n")
    from tech_ml_dataset_spark.sources.io import read_excel, to_dataset, write_excel
    df = to_dataset(spark, str(p), header=True, inferSchema=True, ragged=True)
    assert df.count() == 0
    df2 = to_dataset(spark, str(p), header=True, n_initial_skip_rows=1)
    assert df2.count() == 0
    # xls round-trip of a zero-row table
    xp = str(tmp_path / "e.xls")
    write_excel(spark.createDataFrame([], "a int, b string"), xp)
    back = read_excel(spark, xp)
    assert back.columns == ["a", "b"] and back.count() == 0
    # repetition battery over an empty corpus
    assert txt.repetition_signals(empty).count() == 0


def test_empty_r4b_operators(spark, empty_li):
    """Late-r4 additions degrade on empty input: repetition battery,
    funnel, card, ccnet buckets, stratified sample, BPE, semdedup."""
    docs = empty_li.select("doc_id", "text")
    from tech_ml_dataset_spark.functions import similarity as sim
    from tech_ml_dataset_spark.operators import selection as osel

    out, rep = txt.filter_funnel(docs, {"any": F.col("text").isNotNull()})
    assert out.count() == 0
    r = rep.collect()[0]
    assert (r["n_in"], r["n_dropped"], r["n_out"]) == (0, 0, 0)
    assert txt.dataset_card(docs).filter("metric = 'n_docs'") \
              .collect()[0]["value"] == 0.0
    assert txt.ccnet_buckets(docs, by="doc_id").count() == 0
    assert osel.sample_stratified_exact(docs, "doc_id", 5,
                                        key_col="doc_id").count() == 0
    assert txt.bpe_train(docs, n_merges=5) == []
    assert txt.bpe_encode(docs, []).count() == 0
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.semdedup(emb, centroids=[[1.0, 0.0]]).count() == 0


def test_empty_r4c_operators(spark, empty_li):
    """Latest r4 additions degrade on empty/degenerate input: BM25
    (empty corpus and all-NULL text), cross-corpus minhash and embedding
    near-dup with either side empty."""
    docs = empty_li.select("doc_id", "text")
    from tech_ml_dataset_spark.functions import similarity as sim

    assert txt.bm25_search(docs, "anything").count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)],
                                  "doc_id long, text string")
    # all-NULL corpus: avgdl is NULL -> every score NULL -> filtered
    assert txt.bm25_search(nulls, "anything").count() == 0

    some = spark.createDataFrame([(1, "a b"), (2, "c d")],
                                 "doc_id long, text string")
    assert dd.minhash_pairs_between(some, docs, threshold=0.1).count() == 0
    assert dd.minhash_pairs_between(docs, some, threshold=0.1).count() == 0
    assert dd.minhash_dedup_incremental(some, docs).count() == 2

    emb = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id long, embedding array<double>")
    eempty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.embedding_pairs_between(emb, eempty, dim=2).count() == 0
    assert sim.embedding_pairs_between(eempty, emb, dim=2).count() == 0
    assert sim.embedding_dedup_incremental(emb, eempty, dim=2).count() == 1
    # dim INFERENCE on an empty/all-NULL side degrades to empty instead of
    # TypeError (r4 review) — the continuous-ingest zero-row micro-batch
    assert sim.embedding_pairs_between(eempty, emb).count() == 0
    assert sim.embedding_dedup_incremental(eempty, emb).count() == 0
    nullv = spark.createDataFrame([(9, None)],
                                  "vec_id long, embedding array<double>")
    assert sim.embedding_pairs_between(nullv, emb).count() == 0
    assert sim.embedding_dedup_pairs(eempty).count() == 0
    assert sim.lsh_bucketed_topk(eempty, emb, "embedding", k=3).count() == 0


def test_bigram_lm_degenerate_corpora(spark):
    """bigram_logprob_score on corpora with no bigrams at all (empty /
    single-token / NULL docs) returns every row with NULL score and
    n_bigrams=0 instead of dividing by an empty vocabulary."""
    from tech_ml_dataset_spark.functions import text as txt
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert txt.bigram_logprob_score(empty).count() == 0
    short = spark.createDataFrame([(0, "one"), (1, None), (2, "")],
                                  "doc_id long, text string")
    rows = {r["doc_id"]: (r["bits_per_bigram"], r["n_bigrams"])
            for r in txt.bigram_logprob_score(short).collect()}
    assert rows == {0: (None, 0), 1: (None, 0), 2: (None, 0)}


def test_abb_key_cols_empty_pool(spark):
    """replace_missing :abb deterministic arm with an all-null column:
    the donor pool is empty, so nulls stay (same contract as the rand
    arm), and a non-null column still fills."""
    from tech_ml_dataset_spark.operators import missing as ms
    df = spark.createDataFrame([(1, None, None), (2, None, 5.0)],
                               "id long, a double, b double")
    out = ms.replace_missing(df, ["a", "b"], "abb", seed=1, key_cols="id")
    got = {r["id"]: (r["a"], r["b"]) for r in out.collect()}
    assert got[1][0] is None and got[2][0] is None  # empty pool -> stays
    assert got[1][1] == 5.0 and got[2][1] == 5.0    # single donor fills


def test_abb_key_cols_nan_values_stay_donors(spark):
    """r5 review: pandas folds NULL and float NaN together, but the abb
    pool law (like the SQL IS NOT NULL oracle) keeps NaN VALUES as
    donors — only genuine NULLs are excluded. With a donor pool of
    exactly {NaN}, every fill must be NaN, and composite ':'-ambiguous
    keys stay deterministic (hash+keystring order)."""
    import math

    from tech_ml_dataset_spark.operators import missing as ms
    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, None)], "id long, v double")
    out = {r["id"]: r["v"] for r in
           ms.replace_missing(df, "v", "abb", seed=3,
                              key_cols="id").collect()}
    assert all(v is not None and math.isnan(v) for v in out.values())


def test_empty_r8_operators(spark, tmp_path):
    """r8 surfaces under empty inputs: ExactSubstr dedup on an empty /
    all-short corpus, span dedup after the argmax hardening, PDF
    fixtures with zero lines under every filter flavor, and a
    zero-record WARC archive through the streamed + record-split +
    CDX reads."""
    import os

    from tech_ml_dataset_spark.functions import dedup as dd, pdf
    from tech_ml_dataset_spark.functions import webtext as wt
    from tech_ml_dataset_spark.sources import warc

    empty = spark.createDataFrame([], "doc_id int, text string")
    assert dd.exact_substring_dedup(empty, k=5).count() == 0
    assert wt.c4_span_dedup(empty).count() == 0
    # every doc shorter than k: untouched, not dropped
    short = spark.createDataFrame([(1, "a b"), (2, "a b")],
                                  "doc_id int, text string")
    got = {r["doc_id"]: r["text"]
           for r in dd.exact_substring_dedup(short, k=5).collect()}
    assert got == {1: "a b", 2: "a b"}

    # zero-line PDFs round-trip to "" under every encoding arm
    for mode in ("flate", "lzw", "a85", "a85+flate", "none"):
        assert pdf.extract_text(pdf.build_pdf([], compress=mode)) == ""
    assert pdf.extract_text(pdf.build_pdf_unicode([], objstm=True)) == ""

    # empty .warc.gz (zero members): all read paths yield zero rows
    arc_dir = tmp_path / "crawl"
    arc_dir.mkdir()
    f = arc_dir / "part-00000.warc.gz"
    f.write_bytes(b"")
    assert list(warc.read_warc_file(str(f))) == []
    assert warc.read_warc_dataset(spark, str(arc_dir)).count() == 0
    assert warc.warc_member_index(str(f)) == []
    assert warc.read_warc_dataset(spark, str(arc_dir),
                                  record_splits=True).count() == 0
    # empty CDX index: loud, never silently zero captures
    idx = tmp_path / "empty.cdx"
    idx.write_text("")
    with pytest.raises(ValueError, match="no captures"):
        warc.read_cdx_index(str(idx))
    assert warc.read_cdx_meta(spark, str(idx)).count() == 0


def test_empty_r9_operators(spark, tmp_path):
    """r9 surfaces under empty/NULL inputs: robots with no rules / no
    matching host, payload_text with NULL content_type and empty
    payload, WET over an empty frame, sitemap directive extract with
    none present, and the bag set-ops' order_by arms on empty sides."""
    from pyspark.sql import functions as F

    from tech_ml_dataset_spark.functions import robots as rb
    from tech_ml_dataset_spark.operators import setops as st
    from tech_ml_dataset_spark.sources import warc

    # robots: empty rules table -> everything allowed
    empty_rules = spark.createDataFrame(
        [], "host string, pattern string, regex string, allow boolean, "
            "spec_len int")
    urls = spark.createDataFrame([("https://a.com/x",)], "url string")
    [r] = rb.robots_filter(urls, empty_rules).collect()
    assert r["robots_allowed"] is True
    # robots text with zero groups -> zero rules; parse_robots of an
    # all-NULL text column -> empty frame
    null_robots = spark.createDataFrame([("a.com", None)],
                                        "host string, robots_txt string")
    assert rb.parse_robots(null_robots).count() == 0
    # sitemap extract with no directives
    assert rb.sitemap_urls_from_robots(
        spark.createDataFrame([("a.com", "User-agent: *\nDisallow:\n")],
                              "host string, robots_txt string")
    ).count() == 0

    # payload_text: NULL content_type -> default charset; empty payload
    df = spark.createDataFrame(
        [(bytearray(b""), None), (bytearray("é".encode("utf-8")), None)],
        "p binary, ct string")
    got = [r["t"] for r in
           df.select(warc.payload_text("p", "ct").alias("t")).collect()]
    assert got == ["", "é"]

    # WET: empty input frame -> no part files, empty read via manifest
    empty_txt = spark.createDataFrame(
        [], "target_uri string, warc_date string, text string")
    d = str(tmp_path / "wet_empty")
    assert warc.write_wet_dataset(empty_txt, d) == []

    # bag set-ops order_by arms: empty sides behave like the native arm
    li = spark.createDataFrame([(1, "A"), (1, "A"), (2, "B")],
                               "k int, v string")
    empty = spark.createDataFrame([], "k int, v string")
    assert st.union(li, empty, order_by=["k", "v"]).count() == 3
    assert st.intersection(li, empty, order_by=["k", "v"]).count() == 0
    assert [tuple(r) for r in
            st.difference(li, empty, order_by=["k", "v"]).collect()] \
        == [(1, "A"), (1, "A"), (2, "B")]

    # chunked/content-encoded build_record with EMPTY payload
    rec = warc.build_record("https://a/e", "2024-01-01T00:00:00Z", b"",
                            content_encoding="gzip",
                            transfer_chunked=True)
    [(_, payload)] = list(warc._parse_records(rec))
    assert warc._split_http(payload)[2] == b""
