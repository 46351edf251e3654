"""Streaming window tests: batch parity + a real streaming run through a
file source and memory sink."""

import pytest
from pyspark.sql import functions as F

from tech_ml_dataset_spark.sources.io import read_parquet
from tech_ml_dataset_spark.streaming import windows as sw


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return read_parquet(spark, f"{sf_dir}/events.parquet")


def test_tumbling_batch(events):
    out = sw.tumbling_window_agg(events, "ts", "1 day",
                                 {"n": ("row-count", None), "v": ("sum", "value")})
    rows = out.collect()
    assert len(rows) >= 28  # ~30 days of data
    assert all(r["window_end"] > r["window_start"] for r in rows)
    assert sum(r["n"] for r in rows) == events.count()


def test_sliding_batch(events):
    tumb = sw.tumbling_window_agg(events, "ts", "1 day", {"n": ("row-count", None)})
    slide = sw.sliding_window_agg(events, "ts", "1 day", "12 hours",
                                  {"n": ("row-count", None)})
    assert slide.count() > tumb.count()  # overlapping windows


def test_session_batch(events):
    out = sw.session_window_agg(events, "ts", "30 minutes",
                                {"n": ("row-count", None)}, by=["user_id"])
    assert out.count() > 0
    assert sum(r["n"] for r in out.collect()) == events.count()


def test_stateful_dedup_batch(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    assert sw.stateful_dedup(df, ["k"]).count() == 2


def test_streaming_end_to_end(spark, sf_dir, tmp_path):
    # land the events table as files, stream it back with a watermark,
    # aggregate into tumbling windows, sink to memory
    src = str(tmp_path / "stream_src")
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    ev.write.mode("overwrite").parquet(src)
    stream = sw.read_stream(spark, src, ev.schema, max_files_per_trigger=2)
    assert stream.isStreaming
    agg = sw.tumbling_window_agg(stream, "ts", "1 day",
                                 {"n": ("row-count", None)},
                                 watermark="1 hour")
    sw.run_to_memory(agg, "win_counts", output_mode="append")
    got = spark.table("win_counts").collect()
    # with availableNow + watermark, all-but-the-latest windows are emitted
    assert len(got) >= 25
    assert all(r["n"] > 0 for r in got)


def test_watermark_append_late_drop_law(spark, tmp_path):
    """The append-mode watermark semantics pinned EXACTLY, not just
    'some windows emitted': with one file per micro-batch (explicit
    mtimes fix the source order), a late row still >= the watermark
    merges into its hour window, a row older than the watermark is
    DROPPED once its window was evicted in a PRIOR batch, and only
    windows the watermark passed are emitted. Empirically-pinned Spark
    semantics (delay 30 min, 1 h tumbling): the drop rule is
    per-WINDOW-LIFECYCLE — a late row merges as long as its window is
    still in state (even when its ts < current watermark); it is
    discarded only when the window already closed:
      b0: 10:00, 10:20, 12:40 -> wm commits 12:10
      b1: 13:00               -> win 10 evicts (n=2); wm commits 12:30
      b2: 10:30 (win 10 CLOSED -> numRowsDroppedByWatermark=1),
          14:45               -> wm 14:15; wins 12 and 13 evict
      emitted = {10: 2 (NOT 3), 12: 1, 13: 1}; win 14 never closes."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "wm_src"
    src.mkdir()

    def land(name, hhmm_list, mtime):
        ts = [dt.datetime(2026, 1, 1, h, m) for h, m in hhmm_list]
        tbl = pa.table({"ts": pa.array(ts, type=pa.timestamp("us")),
                        "v": pa.array(range(len(ts)), type=pa.int32())})
        p = str(src / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    land("b0.parquet", [(10, 0), (10, 20), (12, 40)], 1_000_000_000)
    land("b1.parquet", [(13, 0)], 1_000_000_600)
    land("b2.parquet", [(10, 30), (14, 45)], 1_000_001_200)

    stream = sw.read_stream(spark, str(src),
                            "ts timestamp, v int",
                            max_files_per_trigger=1)
    agg = sw.tumbling_window_agg(stream, "ts", "1 hour",
                                 {"n": ("row-count", None)},
                                 watermark="30 minutes")
    q = sw.run_to_memory(agg, "wm_law", output_mode="append")
    got = {r["window_start"].hour: r["n"]
           for r in spark.table("wm_law").collect()}
    assert got == {10: 2, 12: 1, 13: 1}, got
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress
                  for op in p.get("stateOperators", []))
    assert dropped == 1, dropped


def test_stateful_running_agg_across_batches(spark, tmp_path):
    # two parquet files -> two micro-batches; state must carry between them
    src = str(tmp_path / "state_src")
    df1 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 10.0)], ["k", "v"])
    df2 = spark.createDataFrame([("a", 3.0), ("b", 20.0), ("c", 5.0)], ["k", "v"])
    df1.coalesce(1).write.mode("overwrite").parquet(src)
    df2.coalesce(1).write.mode("append").parquet(src)
    stream = sw.read_stream(spark, src, df1.schema, max_files_per_trigger=1)
    out = sw.stateful_running_agg(stream, ["k"], "v")
    sw.run_to_memory(out, "running", output_mode="update")
    rows = spark.table("running").collect()
    # final state per key = totals over BOTH batches (proves state carry-over)
    final = {}
    for r in rows:
        if r["k"] not in final or r["n"] > final[r["k"]][0]:
            final[r["k"]] = (r["n"], r["total"])
    assert final["a"] == (3, 6.0)
    assert final["b"] == (2, 30.0)
    assert final["c"] == (1, 5.0)


def test_stream_static_join_enriches_batches(spark, tmp_path):
    src = str(tmp_path / "ss_src")
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], ["id", "k"]) \
         .coalesce(1).write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame([("a", "alpha"), ("b", "beta")], ["k", "label"])
    stream = sw.read_stream(spark, src, "id bigint, k string")
    out = sw.stream_static_join(stream, dim, "k")
    sw.run_to_memory(out, "ssj", output_mode="append")
    got = {r["id"]: r["label"] for r in spark.table("ssj").collect()}
    assert got == {1: "alpha", 2: "beta", 3: "alpha"}


def test_foreach_batch_sink_runs_batch_fn(spark, tmp_path):
    src = str(tmp_path / "fb_src")
    spark.createDataFrame([(i,) for i in range(10)], ["v"]) \
         .coalesce(1).write.mode("overwrite").parquet(src)
    stream = sw.read_stream(spark, src, "v bigint")
    seen = []

    def fn(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = sw.foreach_batch_sink(stream, fn, checkpoint=str(tmp_path / "fb_ckpt"))
    q.awaitTermination()
    assert sum(n for _, n in seen) == 10


def test_parser_fn_pins_types_and_nulls_bad_parses(spark, tmp_path):
    from tech_ml_dataset_spark.sources import io as sio
    p = str(tmp_path / "pf.csv")
    with open(p, "w") as f:
        f.write("a,d,x\n1,2024-01-02,5\n2,notadate,oops\n")
    df = sio.to_dataset(spark, p, parser_fn={
        "a": "int32", "d": ("local-date", "yyyy-MM-dd"), "x": "float64"})
    assert dict(df.dtypes) == {"a": "int", "d": "date", "x": "double"}
    rows = {r["a"]: r for r in df.collect()}
    assert str(rows[1]["d"]) == "2024-01-02" and rows[1]["x"] == 5.0
    assert rows[2]["d"] is None and rows[2]["x"] is None
    # reference mapseq_test.clj:216-222 datetime-missing law: a nil date
    # is the ONLY missing cell; the extreme "0001-01-01" parses (proleptic
    # gregorian), it is not silently nulled
    d2 = sio.to_dataset(
        spark, [{"d": "1971-01-01"}, {"d": "1970-01-01"}, {"d": None},
                {"d": "0001-01-01"}], parser_fn={"d": "local-date"})
    vals = [r["d"] for r in d2.collect()]
    assert sum(v is None for v in vals) == 1
    assert sorted(str(v) for v in vals if v is not None) == \
        ["0001-01-01", "1970-01-01", "1971-01-01"]


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream equi join with the bounded time-gap predicate: pairs
    within the gap match; pairs outside it don't; batch semantics parity."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return base + timedelta(minutes=minutes)

    clicks = [("u1", ts(0), "c1"), ("u1", ts(40), "c2"), ("u2", ts(5), "c3")]
    buys = [("u1", ts(10), "b1"),   # within 15 min of c1 only
            ("u2", ts(30), "b2")]   # 25 min after c3 — outside gap
    csrc, bsrc = str(tmp_path / "clicks"), str(tmp_path / "buys")
    cdf = spark.createDataFrame(clicks, "user string, c_ts timestamp, click string")
    bdf = spark.createDataFrame(buys, "buser string, b_ts timestamp, buy string")
    cdf.coalesce(1).write.mode("overwrite").parquet(csrc)
    bdf.coalesce(1).write.mode("overwrite").parquet(bsrc)

    cs = sw.read_stream(spark, csrc, cdf.schema)
    bs = sw.read_stream(spark, bsrc, bdf.schema)
    j = sw.stream_stream_join(cs, bs, [("user", "buser")],
                              left_ts="c_ts", right_ts="b_ts",
                              left_delay="1 minute", right_delay="1 minute",
                              max_gap="15 MINUTES")
    assert j.isStreaming
    sw.run_to_memory(j.select("click", "buy"), "ss_join",
                     output_mode="append")
    got = {(r["click"], r["buy"]) for r in spark.table("ss_join").collect()}
    assert got == {("c1", "b1")}

    # same-name event-time columns are rejected loudly
    import pytest as _pt
    with _pt.raises(ValueError, match="distinct"):
        sw.stream_stream_join(cs, bs, "user", left_ts="ts", right_ts="ts",
                              left_delay="1 minute", right_delay="1 minute",
                              max_gap="5 MINUTES")


def test_streaming_upsert_sink_merges_batches(spark, tmp_path):
    """Change stream → streaming_upsert_sink: updates overwrite matched
    keys, inserts append, untouched target rows survive; last-in-batch
    wins for duplicate keys within one batch."""
    tgt = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], ["id", "name", "v"]
    ).write.parquet(tgt)

    src_dir = str(tmp_path / "changes")
    spark.createDataFrame(
        [(2, "b-new", 20.0), (3, "c", 3.0), (3, "c-final", 30.0)],
        ["id", "name", "v"],
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = sw.read_stream(spark, src_dir,
                            "id long, name string, v double")
    q = sw.streaming_upsert_sink(stream, tgt, "id", sequence_by="v",
                                 checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()

    rows = {r["id"]: (r["name"], r["v"])
            for r in spark.read.parquet(tgt).collect()}
    assert rows[1] == ("a", 1.0)            # untouched
    assert rows[2] == ("b-new", 20.0)       # updated
    assert rows[3][1] == 30.0               # inserted, max sequence wins
    assert len(rows) == 3


def test_streaming_upsert_sink_warns_without_sequence_by(spark, tmp_path):
    """No sequence_by -> monotonically_increasing_id fallback, which is
    only replay-stable for single-partition batches; the sink must say so
    up front."""
    import pytest as _pt
    tgt = str(tmp_path / "tgt2")
    spark.createDataFrame([(1, 1.0)], ["id", "v"]).write.parquet(tgt)
    src_dir = str(tmp_path / "changes2")
    spark.createDataFrame([(1, 2.0)], ["id", "v"]) \
         .coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = sw.read_stream(spark, src_dir, "id long, v double")
    with _pt.warns(UserWarning, match="sequence_by"):
        q = sw.streaming_upsert_sink(stream, tgt, "id",
                                     checkpoint=str(tmp_path / "ckpt2"))
    q.awaitTermination()
    assert {r["v"] for r in spark.read.parquet(tgt).collect()} == {2.0}


def test_streaming_dedup_sink_builds_deduped_corpus(spark, tmp_path):
    """Crawl stream → streaming_dedup_sink: intra-batch dups collapse,
    cross-batch repeats of accepted docs are rejected, and the corpus
    accumulates under batch_id partitions."""
    corpus = str(tmp_path / "corpus")
    src = str(tmp_path / "crawl")

    spark.createDataFrame(
        [(1, "alpha doc"), (2, "alpha doc"), (3, "beta doc")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = sw.read_stream(spark, src, "doc_id long, text string")
    q = sw.streaming_dedup_sink(stream, corpus,
                                checkpoint=str(tmp_path / "ck1"))
    q.awaitTermination()
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept1 == [1, 3]  # intra-batch dup 2 collapsed

    # second batch: one repeat of an accepted doc + one genuinely new
    spark.createDataFrame(
        [(4, "alpha doc"), (5, "gamma doc")], ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    stream2 = sw.read_stream(spark, src, "doc_id long, text string")
    q2 = sw.streaming_dedup_sink(stream2, corpus,
                                 checkpoint=str(tmp_path / "ck1"))
    q2.awaitTermination()
    rows = spark.read.parquet(corpus).collect()
    kept2 = sorted(r["doc_id"] for r in rows)
    assert kept2 == [1, 3, 5]  # repeat 4 rejected against history
    assert {r["batch_id"] for r in rows} == {0, 1}


def test_streaming_neardup_sink_builds_corpus_and_index(spark, tmp_path):
    """Crawl stream → streaming_neardup_sink: intra-batch NEAR-dups
    collapse, cross-batch near-repeats of accepted docs are rejected via
    the persisted LSH index (no re-shingling of accepted text), and both
    the corpus and the index accumulate under batch_id partitions."""
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to hide from every hunter")
    near = base.replace("green", "dark")
    other = ("completely different text about spark dataframes and shuffles "
             "with no overlap whatsoever in any shingle of meaningful size")
    corpus = str(tmp_path / "ndcorpus")
    src = str(tmp_path / "ndcrawl")

    spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"],
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = sw.read_stream(spark, src, "doc_id long, text string")
    q = sw.streaming_neardup_sink(stream, corpus,
                                  checkpoint=str(tmp_path / "ndck"),
                                  threshold=0.5, n_hashes=64, bands=16)
    q.awaitTermination()
    kept1 = sorted(r["doc_id"]
                   for r in spark.read.parquet(corpus + "/docs").collect())
    assert kept1 == [1, 3]  # near-dup 2 collapsed within the batch

    # second batch: a near-repeat of accepted doc 1 + one genuinely new
    third = ("totally novel third document mentioning streaming windows "
             "and watermark semantics in long enough prose to shingle")
    spark.createDataFrame(
        [(4, base.replace("hunter", "wolf")), (5, third)],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    stream2 = sw.read_stream(spark, src, "doc_id long, text string")
    q2 = sw.streaming_neardup_sink(stream2, corpus,
                                   checkpoint=str(tmp_path / "ndck"),
                                   threshold=0.5, n_hashes=64, bands=16)
    q2.awaitTermination()
    rows = spark.read.parquet(corpus + "/docs").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 3, 5]
    assert {r["batch_id"] for r in rows} == {0, 1}
    idx = spark.read.parquet(corpus + "/index/shingles")
    assert sorted(r["doc_id"] for r in idx.collect()) == [1, 3, 5]


def test_streaming_sinks_replay_idempotent(spark, tmp_path):
    """The replay law both sinks document: reprocessing an already-written
    batch (checkpoint loss — the failure-recovery path) converges to the
    SAME corpus and index. Dynamic partition overwrite + the
    current-batch-excluding history read mean the replayed batch never
    dedups against its own earlier write."""
    import shutil

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to hide from every hunter")
    other = ("completely different text about spark dataframes and shuffles "
             "with no overlap whatsoever in any shingle of meaningful size")
    corpus = str(tmp_path / "rcorpus")
    src = str(tmp_path / "rcrawl")
    ck = str(tmp_path / "rck")
    spark.createDataFrame(
        [(1, base), (2, base.replace("green", "dark")), (3, other)],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        stream = sw.read_stream(spark, src, "doc_id long, text string")
        sw.streaming_neardup_sink(stream, corpus, checkpoint=ck,
                                  threshold=0.5, n_hashes=64,
                                  bands=16).awaitTermination()

    run()
    snap = sorted((r["doc_id"], r["batch_id"])
                  for r in spark.read.parquet(corpus + "/docs").collect())
    assert snap == [(1, 0), (3, 0)]
    shutil.rmtree(ck)  # lose the checkpoint -> batch 0 replays
    run()
    snap2 = sorted((r["doc_id"], r["batch_id"])
                   for r in spark.read.parquet(corpus + "/docs").collect())
    assert snap2 == snap
    idx = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus + "/index/shingles").collect())
    assert idx == [1, 3]

    # exact-dedup sink: same law
    corpus2 = str(tmp_path / "rcorpus2")
    ck2 = str(tmp_path / "rck2")

    def run2():
        stream = sw.read_stream(spark, src, "doc_id long, text string")
        sw.streaming_dedup_sink(stream, corpus2,
                                checkpoint=ck2).awaitTermination()

    run2()
    s1 = sorted((r["doc_id"], r["batch_id"])
                for r in spark.read.parquet(corpus2).collect())
    shutil.rmtree(ck2)
    run2()
    s2 = sorted((r["doc_id"], r["batch_id"])
                for r in spark.read.parquet(corpus2).collect())
    assert s2 == s1


def test_parser_fn_na_as_missing_law(spark):
    """dataset_test.clj:1752-1764: under :parser-fn :string, "NA"/"na"
    (case-insensitive) and "" parse as MISSING by default;
    disable_na_as_missing keeps them as literal strings."""
    from tech_ml_dataset_spark.sources import io as sio

    data = [{"a": "no"}, {"a": "NA"}, {"a": "na"}]
    strict = sio.to_dataset(spark, data, parser_fn={"a": "string"})
    assert [r["a"] for r in strict.collect()] == ["no", None, None]
    loose = sio.to_dataset(spark, data, parser_fn={"a": "string"},
                           disable_na_as_missing=True)
    assert [r["a"] for r in loose.collect()] == ["no", "NA", "na"]
    # numeric targets are unchanged (NA never casts anyway)
    nums = sio.to_dataset(spark, [{"a": "1"}, {"a": "NA"}],
                          parser_fn={"a": "int32"})
    assert [r["a"] for r in nums.collect()] == [1, None]


def test_ensure_parallelism_streaming_safe_and_plan_cheap(spark, tmp_path):
    """ensure_parallelism must pass a streaming DataFrame through
    unchanged (.rdd is illegal on streaming plans); narrow batch inputs
    still repartition to full width."""
    from tech_ml_dataset_spark.dtutil import ensure_parallelism

    src = str(tmp_path / "stream_src")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(src)
    stream = spark.readStream.schema("id long, v string").parquet(src)
    out = ensure_parallelism(stream)
    assert out is stream  # untouched, no .rdd call possible

    # batch path: a single small file repartitions up to full width
    small = spark.read.parquet(src)
    widened = ensure_parallelism(small)
    assert widened.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism

    # many tiny files must NOT be mistaken for a wide scan (Spark packs
    # small files into few scan partitions)
    many = str(tmp_path / "many_files")
    spark.range(200).repartition(64).write.parquet(many)
    packed = spark.read.parquet(many)
    n_scan = packed.rdd.getNumPartitions()
    got = ensure_parallelism(packed).rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    assert got >= min(target, max(n_scan, target))


def test_streaming_fingerprint_dedup_sink(spark, tmp_path):
    """Media crawl stream -> image_dhash ON THE STREAMING FRAME ->
    streaming_fingerprint_dedup_sink: intra-batch duplicate images
    collapse, cross-batch repeats are rejected against the accepted
    corpus' slim fingerprints (no media re-decode), batch_id partitions
    accumulate, replay converges."""
    import numpy as np

    from tech_ml_dataset_spark.functions import multimodal as mm
    from tech_ml_dataset_spark.functions import png

    def img(seed):
        i = np.arange(6 * 6 * 3, dtype=np.int64)
        return png.encode(((seed * 31 + i * 7) % 256)
                          .astype(np.uint8).reshape(6, 6, 3))

    corpus = str(tmp_path / "media_corpus")
    src = str(tmp_path / "media_crawl")
    schema = "doc_id long, png binary"

    spark.createDataFrame(
        [(1, img(10)), (2, img(10)), (3, img(20))], ["doc_id", "png"],
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = mm.image_dhash(sw.read_stream(spark, src, schema), "png")
    q = sw.streaming_fingerprint_dedup_sink(
        stream, corpus, checkpoint=str(tmp_path / "mck"), fp_col="dhash")
    q.awaitTermination()
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept1 == [1, 3]  # intra-batch duplicate image 2 collapsed

    spark.createDataFrame(
        [(4, img(20)), (5, img(30))], ["doc_id", "png"],
    ).coalesce(1).write.mode("append").parquet(src)
    stream2 = mm.image_dhash(sw.read_stream(spark, src, schema), "png")
    q2 = sw.streaming_fingerprint_dedup_sink(
        stream2, corpus, checkpoint=str(tmp_path / "mck"), fp_col="dhash")
    q2.awaitTermination()
    rows = spark.read.parquet(corpus).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 3, 5]  # 4 rejected
    assert {r["batch_id"] for r in rows} == {0, 1}
    assert all(r["dhash_real"] for r in rows)  # real PNG decode path


def test_hamming_pairs_between_cross_corpus(spark):
    from tech_ml_dataset_spark.functions import dedup as dd
    new = spark.createDataFrame([(1, 100), (2, 0x0F0F)], "id int, fp long")
    hist = spark.createDataFrame([(9, 100), (8, 0x0F0F ^ 3), (7, -5)],
                                 "id int, fp long")
    got = {(r["new_id"], r["hist_id"]): r["distance"]
           for r in dd.hamming_pairs_between(new, hist, "fp", new_id="id",
                                             hist_id="id",
                                             max_distance=2).collect()}
    assert got == {(1, 9): 0, (2, 8): 2}
