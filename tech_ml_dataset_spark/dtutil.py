"""NTZ-safe datetime/epoch helpers and partition sizing.

Spark forbids direct numeric casts on TIMESTAMP_NTZ columns
(``DATATYPE_MISMATCH``: ``CAST(ntz AS BIGINT)``, ``unix_micros(ntz)``), while
plain TIMESTAMP supports them. Parquet written with naive timestamps (the
driver testdata) loads as NTZ, so every epoch-arithmetic site must route
through TIMESTAMP first. The engine pins ``spark.sql.session.timeZone=UTC``
(session.py), making the NTZ->TIMESTAMP reinterpretation exact and DST-free;
DuckDB's ``epoch()`` on the same naive values agrees.

Reference parity: the reference does datetime->epoch conversion inside its
column-math layer (src/tech/v3/dataset/math.clj:160, rolling.clj:281-301);
these helpers are the Spark expression equivalent.

The module also holds the engine's one partition-sizing helper,
:func:`ensure_parallelism` (the reference sizes its parallel work with one
fork-join pool, reductions.clj ``pgroups``), and its one materialisation
helper, :func:`materialize` (the reference's ``clone``, quick-reference
"Forcing Lazy Evaluation"): every checkpoint of an intermediate goes
through it, and it alone decides where the intermediate is kept.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, functions as F


def _let(value: Column, body) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``value`` ONCE and
    pass it to ``body`` as a lambda variable, so every reference inside is
    a variable read instead of a re-evaluation of the full subtree.

    Implemented as ``transform(array(value), v -> body(v))[0]`` — one
    single-element array allocation per row. Load-bearing wherever an
    expensive subexpression (regex normalization, tokenization) is
    referenced many times inside one Column tree: higher-order-function
    expressions are CodegenFallback, and interpreted evaluation has no
    common-subexpression elimination, so an inlined subtree is re-run at
    EVERY reference — including once per ELEMENT when the reference sits
    inside another HOF's lambda body (the O(len²) char-shingle case)."""
    return F.get(F.transform(F.array(value), body), 0)


def warn_unpartitioned(op: str) -> None:
    """Ordered window operators without ``by`` build
    ``Window.partitionBy()`` — Spark funnels EVERY row through one task
    (it even logs WindowExec's own nag). Correct, but a silent
    single-task bottleneck at scale; surface it as a Python warning so
    the copy-pasted signature doesn't hide it."""
    warnings.warn(
        f"{op}: no 'by' partitioning given — the ordered window runs as a "
        "single task over the full dataset. Pass by=<series key column(s)> "
        "to keep it parallel at scale.",
        UserWarning, stacklevel=3)


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def epoch_micros(col: str | Column) -> Column:
    """Epoch microseconds from TIMESTAMP / TIMESTAMP_NTZ / DATE."""
    return F.unix_micros(_c(col).cast("timestamp"))


def epoch_seconds(col: str | Column) -> Column:
    """Epoch seconds (long, truncated) from TIMESTAMP / TIMESTAMP_NTZ / DATE."""
    return _c(col).cast("timestamp").cast("long")


def is_temporal(dtype: str) -> bool:
    return dtype.startswith("timestamp") or dtype == "date"


def axis_double(df: DataFrame, axis_col: str) -> Column:
    """A numeric (double) view of an axis column for distance/interpolation
    arithmetic: temporal axes become epoch micros, numerics cast directly.
    Scale-invariant consumers (lerp fractions, nearest-distance compares)
    don't care about the micros-vs-seconds unit."""
    dtype = dict(df.dtypes)[axis_col]
    if is_temporal(dtype):
        return epoch_micros(axis_col).cast("double")
    return F.col(axis_col).cast("double")


def from_epoch_micros(col: str | Column, target_dtype: str) -> Column:
    """Inverse of :func:`epoch_micros`: epoch-micros long -> ``target_dtype``
    (e.g. ``timestamp_ntz``, ``timestamp``, ``date``)."""
    return F.timestamp_micros(_c(col).cast("long")).cast(target_dtype)


# fewest rows worth one Python/Arrow task: below this, per-task dispatch
# and batch set-up cost more than the rows' work (a 280-row decode ran
# 0.79 s across 32 nine-row tasks and 0.49 s across 8)
_MIN_ROWS_PER_TASK = 32


def ensure_parallelism(df: DataFrame, *key_cols: str,
                       n_rows: int | None = None) -> DataFrame:
    """Repartition up to one partition per core when the input has fewer.

    A stage cannot split an input partition mid-flight: a small parquet
    file (< maxPartitionBytes) scans as ONE partition, so CPU-heavy
    per-row work layered on it (tokenize/explode/hash/decode) runs on one
    core no matter how wide the cluster. Call this BEFORE the heavy
    expression when the downstream cost is per-row compute, not I/O.
    No-op when the input is already wide (the 100 TB case — many splits).

    ``n_rows`` is an optional upper bound on the input's row count (e.g.
    the ``N`` of a ``doc_id < N`` slice). It caps the target at
    ``ceil(n_rows / 32)`` so a tiny input does not fan out into
    near-empty tasks; at corpus scale the per-core target always wins, so
    the plan shape there is unchanged. No count job is run.

    The partition count comes from ``.rdd.getNumPartitions()``, which
    plans the query but runs no job (except under AQE on a post-shuffle
    input). Streaming inputs pass through unchanged: ``.rdd`` is illegal
    on them, and micro-batch parallelism is the source's concern
    (maxFilesPerTrigger / partition count)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if n_rows is not None:
        target = max(1, min(target, -(-n_rows // _MIN_ROWS_PER_TASK)))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols \
        else df.repartition(target)


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Compute ``df`` once and return a frame that reads the stored rows,
    its lineage truncated, so later reads do not re-run the plan.

    Where the rows are kept: a local checkpoint in executor block
    storage. A lost block fails the reading job instead of being
    recomputed; the engine writes no files for its intermediates.

    When: ``eager=True`` computes the frame at the call, as jobs of its
    own. Ask for it when either holds:

    - one action reads the frame from two branches (a self-join, or a
      fork into an aggregate and a join back). Catalyst plans a shared
      subtree once per reference, so without stored rows each branch
      re-runs the whole upstream, and with a lazy checkpoint the tasks of
      both branches can compute the same partition concurrently;
    - the frame holds nondeterministic values (mono ids, sampled
      range-partition bounds, round-robin input): a recompute can give
      different values, so every reader must see the one stored copy.

    ``eager=False`` suits a frame whose first reader is one linear job
    (the sampling job of a sort, a totals ``collect``): that job stores
    the rows and later jobs read them, which saves the job an eager
    checkpoint runs to fill its blocks (under AQE a shuffle upstream
    still runs its map stage at the call)."""
    return df.localCheckpoint(eager=eager)
