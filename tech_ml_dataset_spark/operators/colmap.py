"""column-map / row-map / column-cast / update family — the UDF surface.

Reference semantics: column-map (src/tech/v3/dataset_api.clj:705-816),
row-map (dataset_api.clj:885), pmap-ds (dataset_api.clj:855), column-cast
with parse-failure tracking (dataset_api.clj:1026), update/update-columnwise
(dataset_api.clj:560,587; update-elemwise, :641, is ``column_map(df, c, fn,
[c])``), column filters
(src/tech/v3/dataset/column_filters.clj:44-149), induction
(dataset_api.clj:1402).

Spark-first ladder (SURVEY §2.7/§2.8): a Column-expression function is the
fast path (Catalyst + codegen). A Python function falls back to an
Arrow-batched pandas UDF — 10-100x faster than row-at-a-time, still the
documented slow path. Row-at-a-time UDFs are never used.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql import types as T


def column_map(df: DataFrame, out_col: str, fn, src_cols: Sequence[str], *,
               out_dtype=None) -> DataFrame:
    """``column-map`` (dataset_api.clj:705): n source columns -> new column.

    ``fn`` over Column objects (returns Column) -> pure Catalyst expression.
    Any other callable -> vectorized pandas UDF over pandas Series
    (``out_dtype`` required, e.g. "double").

    Missing semantics: the reference unions the source missing sets by
    default; with Column exprs SQL NULL propagation gives the same result
    for strict functions.
    """
    cols = [F.col(c) for c in src_cols]
    try:
        out = fn(*cols)
        if isinstance(out, Column):
            return df.withColumn(out_col, out)
    except Exception:
        # fn isn't Column-applicable (e.g. calls bool()/math on Columns);
        # fall through to the pandas path when a dtype was given, else
        # surface the original error.
        if out_dtype is None:
            raise
    if out_dtype is None:
        raise ValueError("python-function column_map needs out_dtype")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(out_dtype)
    def _udf(*series):
        import pandas as pd
        return pd.Series([fn(*vals) for vals in zip(*series)])

    return df.withColumn(out_col, _udf(*cols))


def row_map(df: DataFrame, fn, schema) -> DataFrame:
    """``row-map`` (dataset_api.clj:885): row-dict -> dict of new/updated
    columns. Runs as ``mapInPandas`` (per-partition Arrow batches — the
    reference runs it parallel over row ranges, same shape).

    ``schema``: full output StructType or DDL string.
    """
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            recs = [fn(rec) for rec in pdf.to_dict("records")]
            yield pd.DataFrame(recs)

    return df.mapInPandas(gen, schema=schema)


def pmap_ds(df: DataFrame, fn, schema=None) -> DataFrame:
    """``pmap-ds`` (dataset_api.clj:855): dataset->dataset fn applied to
    partitions in parallel. ``fn`` takes/returns a pandas DataFrame."""
    out_schema = schema or df.schema

    def gen(batches):
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(gen, schema=out_schema)


def column_cast(df: DataFrame, colname: str, dtype: str, *,
                failure_col: str | None = None) -> DataFrame:
    """``column-cast`` (dataset_api.clj:1026). Spark try_cast semantics:
    unparseable values become NULL (the reference's :tech.v3.dataset/missing
    convention for ::parse-failure). ``failure_col`` optionally records the
    original value where the cast failed — the reference keeps failure
    indexes in column metadata; a side column is the relational analog."""
    src = F.col(colname)
    casted = src.try_cast(dtype) if hasattr(src, "try_cast") else \
        F.expr(f"try_cast(`{colname}` AS {dtype})")
    out = df
    if failure_col is not None:
        out = out.withColumn(failure_col,
                             F.when(casted.isNull() & src.isNotNull(), src))
    return out.withColumn(colname, casted)


# ---- column filters (column_filters.clj:44-149) ----------------------------

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_DATETIME = (T.DateType, T.TimestampType, T.TimestampNTZType)


def column_filter(df: DataFrame, kind: str) -> list[str]:
    """Column-name selection by kind: numeric|string|boolean|datetime|array.
    The reference composes these with union/intersection/difference — plain
    Python set ops on the returned lists serve that role."""
    preds = {
        "numeric": lambda dt: isinstance(dt, _NUMERIC),
        "string": lambda dt: isinstance(dt, T.StringType),
        "boolean": lambda dt: isinstance(dt, T.BooleanType),
        "datetime": lambda dt: isinstance(dt, _DATETIME),
        "array": lambda dt: isinstance(dt, T.ArrayType),
    }
    return [f.name for f in df.schema.fields if preds[kind](f.dataType)]


def of_datatype(df: DataFrame, dtype: str) -> list[str]:
    return [c for c, t in df.dtypes if t == dtype]


def update_columnwise(df: DataFrame, kind_or_cols, fn) -> DataFrame:
    """``update-columnwise`` (dataset_api.clj:587): apply a Column->Column fn
    to every column selected by a kind keyword or explicit list."""
    cols = column_filter(df, kind_or_cols) if isinstance(kind_or_cols, str) \
        else list(kind_or_cols)
    return df.withColumns({c: fn(F.col(c)) for c in cols})


def assoc_metadata(df: DataFrame, kind_or_cols, **kv) -> DataFrame:
    """``assoc-metadata`` (dataset_api.clj:654): attach key/value metadata
    to every column selected by a kind keyword or explicit list. Spark
    columns carry a JSON metadata map on their StructField; alias(...,
    metadata=...) merges the new keys over any existing ones and the
    metadata survives projections and joins. Read back with
    :func:`column_metadata`."""
    cols = column_filter(df, kind_or_cols) if isinstance(kind_or_cols, str) \
        else list(kind_or_cols)
    sel = []
    want = set(cols)
    for f in df.schema.fields:
        if f.name in want:
            md = dict(f.metadata or {})
            md.update(kv)
            sel.append(F.col(f.name).alias(f.name, metadata=md))
        else:
            sel.append(F.col(f.name))
    return df.select(*sel)


def column_metadata(df: DataFrame, col: str) -> dict:
    """Metadata map of one column (the read side of
    :func:`assoc_metadata`)."""
    for f in df.schema.fields:
        if f.name == col:
            return dict(f.metadata or {})
    raise KeyError(col)


def column_to_dataset(df: DataFrame, col: str, transform_fn=None, *,
                      schema=None) -> DataFrame:
    """``column->dataset`` (dataset_api.clj:510): map ``transform_fn``
    over one column's values, each call returning a dict, and build a new
    dataset from those rows. Spark is typed, so ``schema`` is REQUIRED
    when a transform is given (the reference infers per-batch; silent
    driver-side inference would collect). Runs as one Arrow-batched
    mapInPandas pass. Without a transform: the single-column projection."""
    if transform_fn is None:
        return df.select(col)
    if schema is None:
        raise ValueError("column_to_dataset: schema is required with a "
                         "transform_fn (typed engine, no driver inference)")
    import pandas as pd

    def batches(it):
        for pdf in it:
            recs = [transform_fn(v) for v in pdf[col]]
            yield pd.DataFrame.from_records(recs)

    return df.select(col).mapInPandas(batches, schema)


def induction(df: DataFrame, order_by, out_col: str, update_expr: Callable, *,
              init=0.0, by=None, dtype: str = "double",
              vector_fn: Callable | None = None) -> DataFrame:
    """``induction`` (dataset_api.clj:1402): row-by-row recursive compute —
    each row sees the accumulated result of prior rows.

    Inherently sequential (SURVEY §7). Three compiled forms:
    * If ``update_expr`` is linear-recurrence-expressible the caller should
      use window functions directly (cumsum etc.).
    * ``vector_fn(sorted_pdf) -> Series``: a vectorized form of the same
      recurrence (e.g. ``pandas.Series.ewm`` — C loop, ~50x the Python row
      loop). Semantics are the caller's responsibility to keep identical;
      the row loop remains the reference implementation.
    * The general form runs ``applyInPandas`` per ``by`` group (parallel
      across groups, sequential within — the honest contract); without
      ``by`` it is a SINGLE partition: correct, documented, not scalable.

    ``update_expr(acc, row_dict) -> new_acc``; ``out_col`` holds acc AFTER
    processing the row.
    """
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    by_cols = [by] if isinstance(by, str) else (list(by) if by else [])
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, getattr(T, {
                                  "double": "DoubleType", "bigint": "LongType",
                                  "int": "IntegerType", "string": "StringType",
                              }[dtype])(), True)])

    def run(pdf):
        pdf = pdf.sort_values(order_cols).reset_index(drop=True)
        if vector_fn is not None:
            pdf[out_col] = vector_fn(pdf)
            return pdf
        acc = init
        vals = []
        # zip over column lists instead of DataFrame.to_dict("records")
        # (which materializes pandas scalars row-by-row, ~3x slower);
        # .tolist() yields plain python scalars, so the per-row dict
        # contract for update_expr is unchanged
        names = list(pdf.columns)
        cols_py = [pdf[c].tolist() for c in names]
        for tup in zip(*cols_py):
            acc = update_expr(acc, dict(zip(names, tup)))
            vals.append(acc)
        pdf[out_col] = vals
        return pdf

    if by_cols:
        return _grouped_sequential(df, by_cols, run, out_schema)
    from ..dtutil import warn_unpartitioned
    warn_unpartitioned("induction")
    return df.coalesce(1).groupBy(F.lit(1).alias("__g__")) \
             .applyInPandas(lambda pdf: run(pdf), schema=out_schema)


def _grouped_sequential(df: DataFrame, by_cols: Sequence[str],
                        per_group_fn: Callable, out_schema) -> DataFrame:
    """Run ``per_group_fn(group_pdf) -> pdf`` over every group, streaming ONE
    Arrow batch sequence per PARTITION instead of one per group.

    ``applyInPandas`` ships each group as its own Arrow transfer — with many
    small groups (the common shape: millions of users, dozens of rows each)
    the per-group overhead dominates. Here we hash-repartition by the group
    key, sort within partitions so groups are contiguous, and walk the
    partition's batch iterator carrying the trailing (possibly split) group
    over to the next batch. Group-key NULLs are supported only for single-key
    grouping (pandas NaN-equality caveat).
    """
    import pandas as pd

    # NUMBERED repartition (r11): the stage is PYTHON-compute-bound, but
    # AQE sizes post-shuffle partitions by BYTES and coalesces small
    # groups onto one task (measured: induction over 10k events ran its
    # whole recurrence on a single core — 1 distinct partition id after
    # AQE). REPARTITION_BY_NUM is exempt from AQE coalescing, so the
    # recurrence runs one task per core. The number must be set HERE:
    # a caller-side numbered repartition followed by this function's
    # keyed repartition is collapsed by Catalyst keeping only the
    # (coalescible) top one.
    par = df.sparkSession.sparkContext.defaultParallelism
    part = df.repartition(par, *[F.col(c) for c in by_cols]) \
             .sortWithinPartitions(*by_cols)

    def run_partition(batches):
        pending = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf.iloc[-1]
            mask = pd.Series(True, index=pdf.index)
            for c in by_cols:
                v = last[c]
                mask &= pdf[c].isna() if pd.isna(v) else (pdf[c] == v)
            pending = pdf[mask]
            done = pdf[~mask]
            if len(done):
                for _, g in done.groupby(list(by_cols), sort=False, dropna=False):
                    yield per_group_fn(g.reset_index(drop=True))
        if pending is not None and len(pending):
            yield per_group_fn(pending.reset_index(drop=True))

    return part.mapInPandas(run_partition, out_schema)
