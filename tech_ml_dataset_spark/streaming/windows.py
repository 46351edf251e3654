"""Structured Streaming operators (beyond-reference surface).

The reference is batch-only — its "streaming" is a lazy seq of datasets
consumed by the reductions namespace (src/tech/v3/dataset/reductions.clj:1-11).
This module supplies the real streaming surface the driver's north star
requires: tumbling/sliding/session windows, watermarks for late data,
stateful dedup. Every function works identically on a batch DataFrame and a
streaming DataFrame (Spark's unified API) — the batch form is what the
correctness oracle checks; the streaming form is the production path.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from ..operators.aggregate import resolve_reducer
from ..sources.io import _batch_history, _require_local_path, _write_batch

_log = logging.getLogger("tech_ml_dataset_spark")


def _log_batch(op: str, batch_id, rows_in: int, rows_out: int,
               t0: float, **counts) -> None:
    """One INFO record per sink micro-batch; the fields are also record
    attributes (``op``, ``batch_id``, ``rows_in``, ``rows_out``,
    ``seconds`` and any ``counts``)."""
    seconds = time.perf_counter() - t0
    _log.info("%s batch %s: %d rows in, %d rows out, %.3f s", op, batch_id,
              rows_in, rows_out, seconds,
              extra={"op": op, "batch_id": batch_id, "rows_in": rows_in,
                     "rows_out": rows_out, "seconds": seconds, **counts})


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound: state for windows older than max(event time) - delay
    is finalized and dropped. Batch DataFrames pass through unchanged."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay)
    return df


def tumbling_window_agg(df: DataFrame, ts_col: str, duration: str,
                        aggs: Mapping[str, object], *,
                        by: Sequence[str] = (), watermark: str | None = None
                        ) -> DataFrame:
    """Non-overlapping event-time windows: groupBy(window(ts, duration)).
    Output exposes window_start/window_end plus the reducer columns."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    win = F.window(F.col(ts_col), duration)
    exprs = [resolve_reducer(spec).alias(name) for name, spec in aggs.items()]
    out = df.groupBy(win.alias("__w__"), *by).agg(*exprs)
    return out.select(F.col("__w__.start").alias("window_start"),
                      F.col("__w__.end").alias("window_end"),
                      *by, *aggs.keys())


def sliding_window_agg(df: DataFrame, ts_col: str, duration: str, slide: str,
                       aggs: Mapping[str, object], *,
                       by: Sequence[str] = (), watermark: str | None = None
                       ) -> DataFrame:
    """Overlapping windows of ``duration`` advancing every ``slide``."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    win = F.window(F.col(ts_col), duration, slide)
    exprs = [resolve_reducer(spec).alias(name) for name, spec in aggs.items()]
    out = df.groupBy(win.alias("__w__"), *by).agg(*exprs)
    return out.select(F.col("__w__.start").alias("window_start"),
                      F.col("__w__.end").alias("window_end"),
                      *by, *aggs.keys())


def session_window_agg(df: DataFrame, ts_col: str, gap: str,
                       aggs: Mapping[str, object], *,
                       by: Sequence[str] = (), watermark: str | None = None
                       ) -> DataFrame:
    """Session windows closed by ``gap`` inactivity (F.session_window).
    The streaming-native analog of the batch lag+cumsum sessionization."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    win = F.session_window(F.col(ts_col), gap)
    exprs = [resolve_reducer(spec).alias(name) for name, spec in aggs.items()]
    out = df.groupBy(win.alias("__w__"), *by).agg(*exprs)
    return out.select(F.col("__w__.start").alias("window_start"),
                      F.col("__w__.end").alias("window_end"),
                      *by, *aggs.keys())


def stateful_dedup(df: DataFrame, keys: Sequence[str], *,
                   ts_col: str | None = None, watermark: str | None = None
                   ) -> DataFrame:
    """Streaming exact dedup on key columns. With a watermark the state is
    bounded (dropDuplicatesWithinWatermark); unbounded otherwise. On batch
    frames this degrades to dropDuplicates — same semantics, one pass."""
    if df.isStreaming and watermark and ts_col:
        df = df.withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stateful_running_agg(df: DataFrame, keys: Sequence[str], value_col: str
                         ) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY §7: the greenfield stateful surface): per-key running
    count/sum/mean maintained in GroupState ACROSS micro-batches, one
    output row per key per batch. This is the template for any
    user-defined streaming accumulator (the reference's reducer
    init/rfn/merge shape, kept alive between batches).

    State is a single (n, total) row per key — O(keys) memory, partitioned
    by key across executors like any shuffle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_fields = [df.schema[k] for k in keys]
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in key_fields)
    out_schema += ", n bigint, total double, mean double"
    state_schema = "n bigint, total double"

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += int(len(vals))
            total += float(vals.sum())
        state.update((n, total))
        row = dict(zip(keys, key))
        row.update({"n": n, "total": total, "mean": (total / n) if n else None})
        yield pd.DataFrame([row])

    return df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)


def read_stream(spark, path: str, schema, *,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of parquet files (the scalable
    ingest pattern: writers land files, the stream picks them up
    incrementally)."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stream_static_join(stream: DataFrame, dim: DataFrame, on, *,
                       how: str = "inner", broadcast_dim: bool = True
                       ) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension. With ``broadcast_dim`` the dim ships to executors
    once — no per-batch shuffle of the stream (the standard star-schema
    enrichment shape at scale; the static side is re-read per trigger so
    slowly-changing dims stay fresh)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


def stream_stream_join(left: DataFrame, right: DataFrame, on, *,
                       left_ts: str, right_ts: str,
                       left_delay: str, right_delay: str,
                       max_gap: str, how: str = "inner") -> DataFrame:
    """Stream-stream equi join with bounded state — the watermarked
    interval-join contract Structured Streaming requires.

    Both sides get event-time watermarks, and the join condition carries
    a TIME-RANGE predicate (|left.ts − right.ts| ≤ ``max_gap``) on top of
    the equi keys. The range bound is what lets Spark EVICT state: a
    buffered left row can only ever match right rows within the gap, so
    once the right watermark passes ``row.ts + max_gap`` the row is
    dropped from the join state. Without it, stream-stream state grows
    without bound — the canonical streaming-join OOM. Outer variants
    additionally emit the unmatched row when its watermark expires.

    ``on`` is a key name or [(left_key, right_key), ...]. The two
    timestamp columns must be distinct names (rename before joining —
    stream-stream joins can't disambiguate same-name event-time
    columns)."""
    if left_ts == right_ts:
        raise ValueError(
            "left_ts and right_ts must be distinct column names")
    lw = left.withWatermark(left_ts, left_delay)
    rw = right.withWatermark(right_ts, right_delay)
    keys = [(on, on)] if isinstance(on, str) else list(on)
    cond = None
    for lk, rk in keys:
        c = lw[lk] == rw[rk]
        cond = c if cond is None else (cond & c)
    gap = F.expr(f"INTERVAL {max_gap}")
    cond = cond & (rw[right_ts] >= lw[left_ts] - gap) \
                & (rw[right_ts] <= lw[left_ts] + gap)
    return lw.join(rw, cond, how)


def foreach_batch_sink(df: DataFrame, batch_fn, *, checkpoint: str):
    """``foreachBatch`` sink: the exactly-once escape hatch for sinks Spark
    lacks a connector for. ``batch_fn(batch_df, batch_id)`` — idempotent on
    ``batch_id`` replays (checkpoint-tracked), each batch a normal batch
    DataFrame so any writer works. Returns the started query handle."""
    return (df.writeStream.foreachBatch(batch_fn)
              .outputMode("update")
              .option("checkpointLocation", checkpoint)
              .trigger(availableNow=True).start())


def run_to_memory(df: DataFrame, name: str, *, output_mode: str = "complete"):
    """Execute a streaming frame into an in-memory table and process all
    available data once (tests / interactive use). Returns the query handle;
    results land in ``spark.table(name)``."""
    q = (df.writeStream.format("memory").queryName(name)
           .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def streaming_upsert_sink(df: DataFrame, target_path: str, keys, *,
                          checkpoint: str, when_matched: str = "update",
                          sequence_by: str | None = None):
    """Continuously MERGE a change stream into a parquet target: each
    micro-batch runs :func:`upsert_batch_apply` via foreachBatch — the
    streaming CDC-apply pattern for targets without a Delta/Iceberg log.

    Within a batch, the LAST change per key wins, ordered by
    ``sequence_by`` — a CDC sequence number or event-time column. Pass it
    whenever batches can hold multiple changes per key: it is the only
    ordering that is stable across batch replays, which is what makes the
    exactly-once claim real (replays re-run the same MERGE with the same
    survivor). Without ``sequence_by`` the fallback orders by
    ``monotonically_increasing_id()``, which encodes (partition id,
    position), NOT arrival order — reliable only for single-partition
    batches (e.g. one file per trigger); multi-partition batches get an
    arbitrary, replay-unstable survivor, so a warning is raised.
    Exactly-once: batch replays re-run the same MERGE, which is
    idempotent for update/ignore/delete semantics. Copy-on-write
    rewrites the target per batch — the right shape for minutes-cadence
    upserts of dimension-sized targets; high-frequency trickle belongs in
    a real table format.

    Returns the started query handle (availableNow trigger)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if sequence_by is None:
        import warnings
        warnings.warn(
            "streaming_upsert_sink: no sequence_by column — falling back "
            "to monotonically_increasing_id() for last-change-wins, which "
            "is only stable for single-partition micro-batches. Pass a CDC "
            "sequence number or event timestamp for a replay-stable "
            "survivor.", UserWarning, stacklevel=2)

    def _apply(batch_df: DataFrame, batch_id: int):
        upsert_batch_apply(batch_df, target_path, keys,
                           when_matched=when_matched,
                           sequence_by=sequence_by, batch_id=batch_id)

    return foreach_batch_sink(df, _apply, checkpoint=checkpoint)


def upsert_batch_apply(batch_df: DataFrame, target_path: str, keys, *,
                       when_matched: str = "update",
                       sequence_by: str | None = None,
                       batch_id: int | None = None) -> None:
    """ONE micro-batch of the CDC upsert sink, the function
    :func:`streaming_upsert_sink`'s foreachBatch calls. A loop over an
    ordered list of batches (``for i, b in enumerate(batches):
    upsert_batch_apply(b, target, keys, batch_id=i)``) runs the same code
    at fixed batch boundaries: within-batch last-change-wins by
    ``sequence_by``, then the crash-safe copy-on-write
    :func:`~tech_ml_dataset_spark.sources.io.merge_upsert` into the
    parquet target (an empty batch leaves the target untouched). Logs
    one INFO record: ``rows_in`` is the changes merged (after
    last-change-wins), ``rows_out`` matched + inserted; every count is
    observed on the merge's one write."""
    from pyspark.sql import Window as W
    from ..sources.io import _merge_observed

    t0 = time.perf_counter()
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = (F.col(sequence_by).desc() if sequence_by
             else F.monotonically_increasing_id().desc())
    w = W.partitionBy(*keys).orderBy(order)
    src = (batch_df.withColumn("__rn__", F.row_number().over(w))
                   .filter(F.col("__rn__") == 1).drop("__rn__"))
    st = _merge_observed(batch_df.sparkSession, target_path, src, keys,
                         fmt="parquet", when_matched=when_matched,
                         insert_unmatched=True)
    _log_batch("upsert_batch", batch_id, st["source_rows"],
               st["matched"] + st["inserted"], t0,
               matched=st["matched"], inserted=st["inserted"])


def streaming_dedup_sink(df: DataFrame, corpus_path: str, *,
                         checkpoint: str, text_col: str = "text",
                         id_col: str = "doc_id"):
    """Continuous crawl-ingest dedup: each micro-batch is deduplicated
    (a) within itself and (b) against everything already ACCEPTED into
    ``corpus_path``, then the surviving docs are appended — so the corpus
    stays exactly-deduped as the stream runs. The streaming face of
    :func:`~tech_ml_dataset_spark.functions.dedup.incremental_dedup`
    (same history probe: NEITHER side shuffles).

    Replay idempotency (the part foreachBatch does NOT give for free):
    accepted docs land under ``batch_id=N`` partition directories, written
    with dynamic partition OVERWRITE
    (:func:`~tech_ml_dataset_spark.sources.io._write_batch`) — and the
    history read EXCLUDES the current batch id
    (:func:`~tech_ml_dataset_spark.sources.io._batch_history`),
    so a replayed batch N never deduplicates against its own failed
    half-write and simply rewrites its directory. At-least-once delivery
    therefore converges to exactly the same corpus. The fingerprint and
    near-dup sinks share this layout.

    Local-filesystem target only (same contract as ``merge_upsert`` —
    the corpus-existence probe and partition listing use os.path); an
    object-store corpus needs a real table format underneath.

    Cost model: each batch scans the accepted corpus' text column once,
    fingerprinting it on the fly into a semi join against the batch's
    broadcast fingerprints — no shuffle of the corpus, no Python, and a
    job count that does not grow with the corpus; correct under replay
    because the corpus IS the state. The scan still grows with the
    corpus: a seconds-cadence trickle over a large corpus should keep a
    persisted fingerprint column (or table) to probe instead of
    re-normalizing every accepted text per batch.

    Returns the started query handle (availableNow trigger). Each batch
    runs :func:`text_dedup_batch_apply`."""
    corpus_path = _require_local_path(corpus_path, "streaming_dedup_sink")

    def _apply(batch_df: DataFrame, batch_id: int):
        text_dedup_batch_apply(batch_df, batch_id, corpus_path,
                               text_col=text_col, id_col=id_col)

    return foreach_batch_sink(df, _apply, checkpoint=checkpoint)


def text_dedup_batch_apply(batch_df: DataFrame, batch_id: int,
                           corpus_path: str, *, text_col: str = "text",
                           id_col: str = "doc_id") -> None:
    """ONE micro-batch of the crawl-ingest text-dedup sink, the function
    :func:`streaming_dedup_sink`'s foreachBatch calls; a loop over an
    ordered batch list calls it with ``batch_id=i``. Each distinct text
    is accepted once: in its earliest batch, by the
    :func:`~tech_ml_dataset_spark.functions.dedup.exact_dedup` survivor
    within that batch. Logs one INFO record (``rows_in`` batch
    rows, ``rows_out`` rows accepted), both observed on the corpus write;
    an empty batch writes no partition and logs ``rows_in=0``."""
    from ..functions.dedup import exact_dedup, incremental_dedup

    t0 = time.perf_counter()
    hist = _batch_history(batch_df.sparkSession, corpus_path, batch_id,
                          "text_dedup_batch")
    fresh = exact_dedup(batch_df, text_col, id_col)
    if hist is not None:
        fresh = incremental_dedup(fresh, hist, text_col)
    m = _write_batch(fresh, corpus_path, batch_id, batch_df)
    _log_batch("text_dedup_batch", batch_id, m["rows_in"], m["rows_out"],
               t0)


def fingerprint_dedup_batch_apply(batch_df: DataFrame, batch_id: int,
                                  corpus_path: str, *, fp_col: str,
                                  id_col: str = "doc_id",
                                  max_distance: int = 0,
                                  band_bits: int = 16) -> None:
    """ONE micro-batch of the media-fingerprint dedup sink, the function
    :func:`streaming_fingerprint_dedup_sink`'s foreachBatch calls; a loop
    over an ordered batch list calls it with ``batch_id=i``. Dedups
    within the batch (greedy keep-lowest-id over the banded Hamming
    pairs), probes the accepted corpus' fingerprints excluding this
    batch_id, and writes survivors under ``batch_id=N`` with dynamic
    partition overwrite. With ``max_distance=0`` each fingerprint is
    accepted once: in its earliest batch, by the lowest id within that
    batch. Logs one INFO record (``rows_in`` batch rows, ``rows_out``
    rows accepted), both observed on the corpus write."""
    from ..functions.dedup import (_drop_named, hamming_dedup_pairs,
                                   hamming_pairs_between)

    t0 = time.perf_counter()
    hist = _batch_history(batch_df.sparkSession, corpus_path, batch_id,
                          "fingerprint_dedup_batch")
    fresh = _drop_named(batch_df,
                        hamming_dedup_pairs(batch_df, fp_col, id_col,
                                            max_distance=max_distance,
                                            band_bits=band_bits),
                        "id_b", id_col)
    if hist is not None:
        matched = hamming_pairs_between(fresh, hist.select(id_col, fp_col),
                                        fp_col, new_id=id_col,
                                        hist_id=id_col,
                                        max_distance=max_distance,
                                        band_bits=band_bits)
        fresh = _drop_named(fresh, matched, "new_id", id_col)
    m = _write_batch(fresh, corpus_path, batch_id, batch_df)
    _log_batch("fingerprint_dedup_batch", batch_id, m["rows_in"],
               m["rows_out"], t0)


def streaming_fingerprint_dedup_sink(df: DataFrame, corpus_path: str, *,
                                     checkpoint: str, fp_col: str,
                                     id_col: str = "doc_id",
                                     max_distance: int = 0,
                                     band_bits: int = 16):
    """Continuous MEDIA-ingest near-dup — the 64-bit-fingerprint face of
    :func:`streaming_dedup_sink` for image dHash / audio / video frame
    hashes: the stream already carries ``fp_col`` (the fingerprint
    mapInPandas passes run fine on streaming frames, so decode happens
    once, upstream); each micro-batch is (a) deduped within itself
    (greedy keep-lowest-id over the banded Hamming pairs) and (b) probed
    against the accepted corpus' fingerprints via
    :func:`~tech_ml_dataset_spark.functions.dedup.hamming_pairs_between`
    — the history side is the already-written slim (id, fp) rows, so
    accepted MEDIA BYTES are never re-read, let alone re-decoded.

    Replay idempotency: the same ``batch_id=N`` corpus layout as
    :func:`streaming_dedup_sink`. Local-filesystem target only (same
    contract). Returns the started query handle. Each batch runs
    :func:`fingerprint_dedup_batch_apply`."""
    corpus_path = _require_local_path(corpus_path,
                                      "streaming_fingerprint_dedup_sink")

    def _apply(batch_df: DataFrame, batch_id: int):
        fingerprint_dedup_batch_apply(batch_df, batch_id, corpus_path,
                                      fp_col=fp_col, id_col=id_col,
                                      max_distance=max_distance,
                                      band_bits=band_bits)

    return foreach_batch_sink(df, _apply, checkpoint=checkpoint)


def streaming_neardup_sink(df: DataFrame, corpus_path: str, *,
                           checkpoint: str, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 5,
                           n_hashes: int = 64, bands: int = 16,
                           threshold: float = 0.8, seed: int = 42,
                           hash_fn: str = "xxhash64"):
    """Continuous crawl ingest with NEAR-duplicate dedup — the MinHash
    face of :func:`streaming_dedup_sink`: each micro-batch is (a)
    minhash-deduped within itself and (b) probed against the persisted
    LSH index of everything already accepted (``<corpus_path>/index``, a
    :func:`~tech_ml_dataset_spark.functions.dedup.minhash_index_write`
    index that :func:`~tech_ml_dataset_spark.functions.dedup.minhash_index_probe`
    reads); survivors land under ``<corpus_path>/docs/batch_id=N`` and
    their bands/shingles are written to the index under the same
    batch_id. The index stores its banding parameters, and a batch with
    other ones raises.

    Replay idempotency: all three tables use the ``batch_id=N`` corpus
    layout of :func:`streaming_dedup_sink`, and the index read EXCLUDES
    the current batch id — a replayed batch never dedups against its own
    failed half-write and converges to the same corpus and index.

    Scale shape: the accepted corpus is shingled ONCE, when accepted —
    each batch reads only the slim (id, band, band_key) table for the
    candidate join plus the candidate rows' shingle sets for the exact
    verify; the 100 TB of accepted text is never re-scanned.

    Local-filesystem target only (directory probe uses os.path — the
    streaming_dedup_sink contract). Each batch runs
    :func:`neardup_batch_apply`. Returns the started query handle
    (availableNow trigger)."""
    corpus_path = _require_local_path(corpus_path, "streaming_neardup_sink")

    def _apply(batch_df: DataFrame, batch_id: int):
        neardup_batch_apply(batch_df, batch_id, corpus_path,
                            text_col=text_col, id_col=id_col, k=k,
                            n_hashes=n_hashes, bands=bands,
                            threshold=threshold, seed=seed, hash_fn=hash_fn)

    return foreach_batch_sink(df, _apply, checkpoint=checkpoint)


def neardup_batch_apply(batch_df: DataFrame, batch_id: int,
                        corpus_path: str, *, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        n_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.8, seed: int = 42,
                        hash_fn: str = "xxhash64") -> None:
    """ONE micro-batch of the MinHash near-dup sink, the function
    :func:`streaming_neardup_sink`'s foreachBatch calls; a loop over an
    ordered batch list calls it with ``batch_id=i``. A doc is dropped when
    it near-matches a doc with a smaller id in the batch (the
    :func:`~tech_ml_dataset_spark.functions.dedup.minhash_dedup` rule)
    or a doc of an earlier batch in ``<corpus_path>/index``, a
    :func:`~tech_ml_dataset_spark.functions.dedup.minhash_index_write`
    index. The batch is shingled and banded once; both pair sets come
    from that one banded table, and the surviving ids are materialized
    once. The survivors go to ``docs`` and their shingle sets and bands
    to the index, each under ``batch_id=N``. Banding parameters other
    than the index's stored ones raise before anything is written. Logs
    one INFO record (op ``neardup_batch``; ``rows_in`` batch rows,
    ``rows_out`` docs accepted), observed on the docs write."""
    from ..dtutil import materialize
    from ..functions.dedup import (_drop_named, _index_pairs, _index_params,
                                   _index_write, _shingle_and_band,
                                   _verified_pairs)
    op = "neardup_batch"
    banding = dict(k=k, n_hashes=n_hashes, bands=bands, seed=seed,
                   hash_fn=hash_fn)
    corpus_path = _require_local_path(corpus_path, op)
    index = _index_params(corpus_path + "/index", op,
                          dict(banding, id_col=id_col), create=True)

    t0 = time.perf_counter()
    sh, banded = _shingle_and_band(batch_df, id_col, text_col, **banding)
    # read by both sides of the self-join, the index probe and the write
    banded = materialize(banded)
    within = _verified_pairs(banded, sh, id_col, threshold)
    across = _index_pairs(banded, sh, index, id_col, threshold, op, batch_id)
    keep = materialize(_drop_named(
        _drop_named(batch_df.select(id_col), within, "id_b", id_col),
        across, "new_id", id_col))
    m = _write_batch(batch_df.join(keep, id_col, "left_semi"),
                     corpus_path + "/docs", batch_id, batch_df)
    _index_write(sh.join(keep, id_col, "left_semi"),
                 banded.join(keep, id_col, "left_semi"), index, batch_id)
    _log_batch(op, batch_id, m["rows_in"], m["rows_out"], t0)
