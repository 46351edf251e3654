"""Sink micro-batches under injected faults, per-batch job counts and the
per-batch log record.

Two protocols are under test. The crash-safe swap (``sources.io``
``_recover_swap`` / ``_swap_in``) has two users: the copy-on-write MERGE
``merge_upsert`` (behind ``streaming.windows.upsert_batch_apply``) and
``compact_files``. The ``batch_id=N`` corpus layout
(``sources.io`` ``_batch_history`` / ``_write_batch``) has three:
``text_dedup_batch_apply`` (exact text dedup),
``fingerprint_dedup_batch_apply`` (64-bit media fingerprints) and
``neardup_batch_apply`` (MinHash, corpus plus a ``minhash_index_write``
index). A fault at
any step followed by a replay of the same batch or call must give the
table an uninterrupted run gives. A replay is a plain loop over the
batch function, ``for i, b in enumerate(batches): apply(b, i, ...)``.
"""

import logging
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from tech_ml_dataset_spark.sources import io
from tech_ml_dataset_spark.streaming import windows


class Injected(RuntimeError):
    pass


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _leftovers(path, tag):
    return [p for p in (f"{path}.__{tag}_tmp__", f"{path}.__{tag}_old__")
            if os.path.exists(p)]


def _batch_dirs(path):
    return sorted(f for f in os.listdir(path) if f.startswith("batch_id="))


def _part_files(path):
    return len([f for f in os.listdir(path) if f.startswith("part-")])


def _orders(spark, path, n=60):
    spark.createDataFrame([(i, float(i), f"o{i}") for i in range(n)],
                          "id long, v double, tag string") \
         .write.parquet(path)


def _changes(spark):
    return spark.createDataFrame(
        [(i, 100.0 + i, f"new{i}") for i in range(50, 70)],
        "id long, v double, tag string")


def _small_files(spark, path):
    spark.range(0, 120).select("id", (F.col("id") * 1.5).alias("v")) \
         .repartition(6).write.parquet(path)


def _staging_save_raises(monkeypatch):
    """The staging write lands its files, then raises once."""
    real = DataFrameWriter.save
    state = {"armed": True}

    def save(self, path=None, *a, **kw):
        real(self, path, *a, **kw)
        if state["armed"] and str(path).endswith("_tmp__"):
            state["armed"] = False
            raise Injected("staging write")

    monkeypatch.setattr(DataFrameWriter, "save", save)


def _second_rename_raises(monkeypatch, *, after: bool):
    """The second rename of the swap raises once: before it moves the
    staging dir (a crash between the renames) or after (a crash before
    the backup is removed)."""
    real = os.rename
    state = {"calls": 0}

    def rename(src, dst):
        state["calls"] += 1
        if state["calls"] != 2:
            return real(src, dst)
        if after:
            real(src, dst)
        raise Injected("rename")

    monkeypatch.setattr(io.os, "rename", rename)


@pytest.mark.parametrize("fault", ["staging_write", "between_renames",
                                   "after_second_rename"])
def test_merge_upsert_replay_after_fault_matches_clean_run(
        spark, tmp_path, monkeypatch, fault):
    """Both users of the swap: merge_upsert and compact_files."""
    ops = {"merge": (_orders, lambda p: io.merge_upsert(
               spark, p, _changes(spark), "id")),
           "compact": (_small_files, lambda p: io.compact_files(spark, p))}
    for tag, (make, run) in ops.items():
        clean = str(tmp_path / f"{tag}_clean")
        make(spark, clean)
        run(clean)
        want = _rows(spark, clean)

        tgt = str(tmp_path / f"{tag}_faulted")
        make(spark, tgt)
        with monkeypatch.context() as m:
            if fault == "staging_write":
                _staging_save_raises(m)
            else:
                _second_rename_raises(m, after=fault == "after_second_rename")
            with pytest.raises(Injected):
                run(tgt)
        run(tgt)
        assert _rows(spark, tgt) == want, tag
        assert _leftovers(tgt, tag) == [], tag
        if tag == "compact":
            assert _part_files(tgt) == _part_files(clean) == 1


def _doc_batches(spark):
    # text law 'doc <i % 7>' collides within and across the four batches
    return [spark.createDataFrame(
        [(i, f"Doc {i % 7}" if i % 2 else f"  doc   {i % 7} ")
         for i in range(b * 6, b * 6 + 6)], "doc_id long, text string")
        for b in range(4)]


def _fp_batches(spark):
    # the same law on 64-bit fingerprints: fp = i % 7
    return [spark.createDataFrame(
        [(i, i % 7) for i in range(b * 6, b * 6 + 6)], "doc_id long, fp long")
        for b in range(4)]


def _fp_apply(batch, batch_id, corpus):
    windows.fingerprint_dedup_batch_apply(batch, batch_id, corpus,
                                          fp_col="fp")


# (batches, one batch, the tables under the corpus path) per batch_id
# corpus sink
_CORPUS_SINKS = {
    "text": (_doc_batches, windows.text_dedup_batch_apply, ("",)),
    "fingerprint": (_fp_batches, _fp_apply, ("",)),
    "neardup": (_doc_batches, windows.neardup_batch_apply,
                ("/docs", "/index/bands", "/index/shingles")),
}


def _tables(spark, corpus, tables):
    return [_rows(spark, corpus + t) for t in tables]


@pytest.mark.parametrize("land_files", [False, True])
def test_text_dedup_replay_after_failed_write_matches_clean_run(
        spark, tmp_path, monkeypatch, land_files):
    """Run on every corpus sink, with the fault at each table's write."""
    real = DataFrameWriter.parquet
    for sink, (make, apply, tables) in _CORPUS_SINKS.items():
        batches = make(spark)
        clean = str(tmp_path / f"{sink}_clean")
        for i, b in enumerate(batches):
            apply(b, i, clean)
        want = _tables(spark, clean, tables)

        for n, table in enumerate(tables):
            corpus = str(tmp_path / f"{sink}_faulted{n}")

            def parquet(self, path, *a, **kw):
                if path != corpus + table:
                    return real(self, path, *a, **kw)
                if land_files:
                    real(self, path, *a, **kw)
                raise Injected("corpus write")

            for i, b in enumerate(batches):
                if i == 2:
                    with monkeypatch.context() as m:
                        m.setattr(DataFrameWriter, "parquet", parquet)
                        with pytest.raises(Injected):
                            apply(b, i, corpus)
                apply(b, i, corpus)
            assert _tables(spark, corpus, tables) == want, (sink, table)


@pytest.mark.parametrize("sink", sorted(_CORPUS_SINKS))
def test_corpus_sink_path_schemes(spark, tmp_path, monkeypatch, sink):
    """A file:// corpus dedups across batches exactly like the plain
    path (its earlier batches used to go unseen: os.path.isdir does not
    read URIs), and a remote corpus raises before anything is written."""
    _, apply, tables = _CORPUS_SINKS[sink]
    value, schema = ((42, "doc_id long, fp long") if sink == "fingerprint"
                     else ("same text", "doc_id long, text string"))
    batches = [spark.createDataFrame([(i, value)], schema) for i in (1, 2)]
    plain, uri = str(tmp_path / "plain"), str(tmp_path / "uri")
    for i, b in enumerate(batches):
        apply(b, i, plain)
        apply(b, i, "file://" + uri)
    docs = spark.read.parquet(plain + tables[0])
    assert [r["doc_id"] for r in docs.collect()] == [1]
    assert _tables(spark, uri, tables) == _tables(spark, plain, tables)

    def parquet(self, path, *a, **kw):
        raise Injected(f"write to {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(ValueError, match="s3a"):
        apply(batches[0], 0, "s3a://bucket/corpus")


def _text_batches(spark, n_batches, per_batch=40):
    """Batch b holds fresh texts plus re-sent texts of earlier batches."""
    out = []
    for b in range(n_batches):
        rows = [(b * 1000 + j, f"text {b} {j}") for j in range(per_batch)]
        rows += [(b * 1000 + 500 + j, f"TEXT {b - 1} {j}")
                 for j in range(5) if b]
        out.append(spark.createDataFrame(rows, "doc_id long, text string"))
    return out


def test_text_dedup_jobs_per_batch_do_not_grow_with_history(
        spark, tmp_path, count_jobs):
    corpus = str(tmp_path / "corpus")
    jobs = {}
    for i, b in enumerate(_text_batches(spark, 5)):
        _, jobs[i] = count_jobs(
            lambda: windows.text_dedup_batch_apply(b, i, corpus))
    assert jobs[4] <= jobs[2], jobs
    # 4 for the first batch, 10 once there is history to probe
    assert max(jobs.values()) <= 10, jobs


def test_neardup_jobs_per_batch(spark, tmp_path, count_jobs):
    """A near-dup batch is shingled and banded once and its surviving ids
    materialized once: 20 jobs with no history, 26 with it (banding per
    step and lazy writes ran 30 and 78)."""
    corpus = str(tmp_path / "corpus")
    jobs = [count_jobs(lambda: windows.neardup_batch_apply(b, i, corpus))[1]
            for i, b in enumerate(_doc_batches(spark))]
    assert jobs[0] <= 20 and max(jobs) <= 26, jobs


def test_neardup_index_keeps_its_banding_parameters(spark, tmp_path):
    """The sink's index is a MinHash index: minhash_index_probe reads it,
    and a batch banded with other parameters raises before anything is
    written (it used to accept an exact duplicate of an accepted doc)."""
    from tech_ml_dataset_spark.functions import dedup as dd

    corpus = str(tmp_path / "corpus")
    first, again = [spark.createDataFrame([(i, "the same text")],
                                          "doc_id long, text string")
                    for i in (1, 2)]
    windows.neardup_batch_apply(first, 0, corpus, k=5)
    tables = ("/docs", "/index/bands", "/index/shingles")
    before = _tables(spark, corpus, tables)
    with pytest.raises(ValueError, match="different parameters"):
        windows.neardup_batch_apply(again, 1, corpus, k=3)
    assert _tables(spark, corpus, tables) == before
    assert [_batch_dirs(corpus + t) for t in tables] == [["batch_id=0"]] * 3
    pairs = dd.minhash_index_probe(again, corpus + "/index").collect()
    assert [tuple(r) for r in pairs] == [(2, 1, 1.0)]


def test_exact_incremental_dedup_plan_runs_no_python(spark):
    from tech_ml_dataset_spark.functions.dedup import incremental_dedup

    hist, new = _text_batches(spark, 2)
    out = incremental_dedup(new, hist)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert out.count() == 40


def test_upsert_batch_jobs(spark, tmp_path, count_jobs):
    tgt = str(tmp_path / "t")
    spark.range(0, 3000).select(
        "id", (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("o"), F.col("id").cast("string")).alias("tag")) \
        .write.parquet(tgt)
    batch_path = str(tmp_path / "batch.parquet")
    spark.range(2800, 3300).select(
        "id", (F.col("id") * 3.0).alias("v"),
        F.lit("changed").alias("tag")).write.parquet(batch_path)
    batch = spark.read.parquet(batch_path)
    _, n = count_jobs(lambda: windows.upsert_batch_apply(batch, tgt, "id"))
    assert n <= 7, n
    assert spark.read.parquet(tgt).count() == 3300


def test_sink_batches_log_one_record_each(spark, tmp_path, caplog):
    tgt = str(tmp_path / "t")
    _orders(spark, tgt)
    with caplog.at_level(logging.INFO, logger="tech_ml_dataset_spark"):
        windows.upsert_batch_apply(_changes(spark), tgt, "id", batch_id=3)
        for sink, (make, apply, _) in _CORPUS_SINKS.items():
            for i, b in enumerate(make(spark)[:2]):
                apply(b, i, str(tmp_path / sink))
    recs = [r for r in caplog.records if r.name == "tech_ml_dataset_spark"]
    assert [r.op for r in recs] == ["upsert_batch"] + \
        ["text_dedup_batch"] * 2 + ["fingerprint_dedup_batch"] * 2 + \
        ["neardup_batch"] * 2
    up, *corpus_recs = recs
    assert (up.batch_id, up.rows_in, up.rows_out) == (3, 20, 20)
    assert (up.matched, up.inserted) == (10, 10)
    # batch 0 keeps one doc per text class 0..5; batch 1 re-sends classes
    # 6, 0..4 and accepts only class 6; the fingerprints and the near-dup
    # docs follow suit
    for first, second in zip(corpus_recs[::2], corpus_recs[1::2]):
        assert (first.batch_id, first.rows_in, first.rows_out) == (0, 6, 6)
        assert (second.batch_id, second.rows_in, second.rows_out) \
            == (1, 6, 1)
    assert all(r.levelno == logging.INFO and r.seconds > 0 for r in recs)


@pytest.mark.parametrize("sink", sorted(_CORPUS_SINKS))
def test_corpus_sink_empty_batch_changes_nothing(spark, tmp_path, caplog,
                                                 sink):
    """An empty batch writes no partition: an existing corpus keeps its
    rows, a new corpus reads as no history, and the batch logs one
    record with ``rows_in=0``."""
    make, apply, tables = _CORPUS_SINKS[sink]
    batches = make(spark)
    empty = batches[0].limit(0)
    corpus, fresh = str(tmp_path / "corpus"), str(tmp_path / "fresh")
    for i, b in enumerate(batches[:2]):
        apply(b, i, corpus)
    before = _tables(spark, corpus, tables)
    with caplog.at_level(logging.INFO, logger="tech_ml_dataset_spark"):
        apply(empty, 2, corpus)
        apply(empty, 0, fresh)
    assert _tables(spark, corpus, tables) == before
    recs = [r for r in caplog.records if r.name == "tech_ml_dataset_spark"]
    assert [(r.batch_id, r.rows_in, r.rows_out) for r in recs] == \
        [(2, 0, 0), (0, 0, 0)]
    apply(batches[0], 1, fresh)
    docs = spark.read.parquet(fresh + tables[0]).collect()
    assert sorted(r["doc_id"] for r in docs) == list(range(6))


def test_session_still_serializes_after_sink_batches(spark, tmp_path):
    """The sinks' observations must not leave state on the caller's
    session that breaks a later task capturing it: a binary logistic
    regression model's training summary holds the session, and its
    prediction UDF ships the model to the executors."""
    from tech_ml_dataset_spark.ml import models as mdl

    tgt = str(tmp_path / "t")
    _orders(spark, tgt)
    windows.upsert_batch_apply(_changes(spark), tgt, "id")
    windows.text_dedup_batch_apply(_doc_batches(spark)[0], 0,
                                   str(tmp_path / "corpus"))
    labeled = spark.createDataFrame(
        [(float(i % 2), float(i % 2) + 0.01 * i, 1.0 - i % 2)
         for i in range(60)], "label double, x1 double, x2 double")
    fit = mdl.train_classification(labeled, "label", ["x1", "x2"])
    pred = mdl.predict(labeled, fit)
    assert pred.filter(F.col("prediction") == F.col("label")).count() == 60


_SINK_SCHEMA = "doc_id long, text string, fp long"

_STREAMING_SINKS = {
    "text": lambda stream, corpus, ck: windows.streaming_dedup_sink(
        stream, corpus, checkpoint=ck),
    "fingerprint": lambda stream, corpus, ck:
        windows.streaming_fingerprint_dedup_sink(
            stream, corpus, checkpoint=ck, fp_col="fp"),
    "neardup": lambda stream, corpus, ck: windows.streaming_neardup_sink(
        stream, corpus, checkpoint=ck),
}


@pytest.mark.parametrize("sink", sorted(_STREAMING_SINKS))
def test_streaming_dedup_sink_restores_overwrite_mode(spark, tmp_path, sink):
    """A corpus sink's dynamic partitionOverwriteMode must not reach the
    caller's session: when unset (the common case) a leaked 'dynamic'
    would make a later unrelated overwrite+partitionBy write keep stale
    partitions instead of truncating, and a value the caller set must
    stay as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    start = _STREAMING_SINKS[sink]
    src, corpus = str(tmp_path / "crawl"), str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")
    spark.conf.unset(key)
    assert spark.conf.get(key, None) is None
    spark.createDataFrame([(1, "only doc in the crawl", 1)], _SINK_SCHEMA) \
         .coalesce(1).write.mode("overwrite").parquet(src)
    start(windows.read_stream(spark, src, _SINK_SCHEMA), corpus,
          ck).awaitTermination()
    assert spark.conf.get(key, None) is None  # not leaked

    spark.conf.set(key, "static")
    try:
        spark.createDataFrame([(2, "a second, different doc", 2)],
                              _SINK_SCHEMA) \
             .coalesce(1).write.mode("append").parquet(src)
        start(windows.read_stream(spark, src, _SINK_SCHEMA), corpus,
              ck).awaitTermination()
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)
    docs = corpus + "/docs" if sink == "neardup" else corpus
    assert sorted(r["doc_id"] for r in spark.read.parquet(docs).collect()) \
        == [1, 2]
