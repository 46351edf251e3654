"""Sink micro-batches under injected faults, per-batch job counts and the
per-batch log record.

The two sinks are ``streaming.windows.upsert_batch_apply`` (copy-on-write
MERGE through ``sources.io.merge_upsert``) and
``streaming.windows.text_dedup_batch_apply`` (exact text dedup appended
under ``batch_id=N``). A fault at any step followed by a replay of the
same batch must give the table an uninterrupted run gives.
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


def _leftovers(path):
    return [p for p in (path + ".__merge_tmp__", path + ".__merge_old__")
            if os.path.exists(p)]


def _orders(spark, path, n=60):
    spark.createDataFrame([(i, float(i), f"o{i}") for i in range(n)],
                          "id long, v double, tag string") \
         .write.parquet(path)


def _changes(spark):
    return spark.createDataFrame(
        [(i, 100.0 + i, f"new{i}") for i in range(50, 70)],
        "id long, v double, tag string")


def _staging_save_raises(monkeypatch):
    """The staging write lands its files, then raises once."""
    real = DataFrameWriter.save
    state = {"armed": True}

    def save(self, path=None, *a, **kw):
        real(self, path, *a, **kw)
        if state["armed"] and str(path).endswith(".__merge_tmp__"):
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
    clean = str(tmp_path / "clean")
    _orders(spark, clean)
    io.merge_upsert(spark, clean, _changes(spark), "id")
    want = _rows(spark, clean)

    tgt = str(tmp_path / "faulted")
    _orders(spark, tgt)
    with monkeypatch.context() as m:
        if fault == "staging_write":
            _staging_save_raises(m)
        else:
            _second_rename_raises(m, after=fault == "after_second_rename")
        with pytest.raises(Injected):
            io.merge_upsert(spark, tgt, _changes(spark), "id")
    io.merge_upsert(spark, tgt, _changes(spark), "id")
    assert _rows(spark, tgt) == want
    assert _leftovers(tgt) == []


def _doc_batches(spark):
    # text law 'doc <i % 7>' collides within and across the four batches
    return [spark.createDataFrame(
        [(i, f"Doc {i % 7}" if i % 2 else f"  doc   {i % 7} ")
         for i in range(b * 6, b * 6 + 6)], "doc_id long, text string")
        for b in range(4)]


def _corpus(spark, path):
    return sorted((r["doc_id"], r["text"], int(r["batch_id"]))
                  for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize("land_files", [False, True])
def test_text_dedup_replay_after_failed_write_matches_clean_run(
        spark, tmp_path, monkeypatch, land_files):
    batches = _doc_batches(spark)
    clean = str(tmp_path / "clean")
    windows.replay_text_dedup(batches, clean)
    want = _corpus(spark, clean)

    corpus = str(tmp_path / "faulted")
    real = DataFrameWriter.parquet
    for i, b in enumerate(batches):
        if i == 2:
            def parquet(self, path, *a, **kw):
                if land_files:
                    real(self, path, *a, **kw)
                raise Injected("corpus write")

            with monkeypatch.context() as m:
                m.setattr(DataFrameWriter, "parquet", parquet)
                with pytest.raises(Injected):
                    windows.text_dedup_batch_apply(b, i, corpus)
        windows.text_dedup_batch_apply(b, i, corpus)
    assert _corpus(spark, corpus) == want


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


def test_exact_incremental_dedup_plan_runs_no_python(spark):
    from tech_ml_dataset_spark.functions.dedup import incremental_dedup

    hist, new = _text_batches(spark, 2)
    out = incremental_dedup(new, hist, exact_verify=True)
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
    corpus = str(tmp_path / "corpus")
    docs = _doc_batches(spark)
    with caplog.at_level(logging.INFO, logger="tech_ml_dataset_spark"):
        windows.upsert_batch_apply(_changes(spark), tgt, "id", batch_id=3)
        windows.text_dedup_batch_apply(docs[0], 0, corpus)
        windows.text_dedup_batch_apply(docs[1], 1, corpus)
    recs = [r for r in caplog.records if r.name == "tech_ml_dataset_spark"]
    assert [r.op for r in recs] == ["upsert_batch", "text_dedup_batch",
                                    "text_dedup_batch"]
    up, d0, d1 = recs
    assert (up.batch_id, up.rows_in, up.rows_out) == (3, 20, 20)
    assert (up.matched, up.inserted) == (10, 10)
    # batch 0 keeps one doc per text class 0..5; batch 1 re-sends classes
    # 6, 0..4 and accepts only class 6
    assert (d0.batch_id, d0.rows_in, d0.rows_out) == (0, 6, 6)
    assert (d1.batch_id, d1.rows_in, d1.rows_out) == (1, 6, 1)
    assert all(r.levelno == logging.INFO and r.seconds > 0 for r in recs)


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
