"""Group-by / aggregation — the reference's ``tech.v3.dataset.reductions``.

Reference semantics: streaming parallel group-by-agg with per-column
reducers (init/rfn/merge/finalize — src/tech/v3/dataset/protocols.clj:123-140,
group-by-column-agg at src/tech/v3/dataset/reductions.clj:517, aggregate at
:593). Its ConcurrentHashMap "shuffle" (reductions.clj:463-481) is exactly
Spark's partial/final hash aggregation, so every reducer here compiles to a
built-in ``F.*`` aggregate — map-side combine, whole-stage codegen, no Python
in the hot path. At 100 TB this is the difference between a shuffle of raw
rows and a shuffle of per-partition partial states.

The reducer vocabulary (reductions.clj:91-306) maps to:
  row-count            -> F.count("*")
  first-value          -> F.first
  sum (Kahan)          -> F.sum (naive; tolerance documented in BASELINE.md)
  mean                 -> F.avg
  min/maximum          -> F.min/F.max
  distinct             -> F.collect_set
  count-distinct       -> F.countDistinct
  prob-set-cardinality -> F.approx_count_distinct   (HLL++, like DataSketches HLL)
  prob-quantile/median -> F.percentile_approx
  reservoir-desc-stat  -> exact F.stddev/var/skewness/kurtosis
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..dtutil import materialize

# name -> fn(column, **opts) -> Column. Mirrors reductions.clj's reducer
# constructors; each returns a Catalyst aggregate expression.
_REDUCERS: dict[str, Callable[..., Column]] = {
    "row-count": lambda c=None, **_: F.count(F.lit(1)),
    "count": lambda c, **_: F.count(c),
    "first-value": lambda c, **_: F.first(c, ignorenulls=False),
    "first": lambda c, **_: F.first(c, ignorenulls=True),
    "last": lambda c, **_: F.last(c, ignorenulls=True),
    "sum": lambda c, **_: F.sum(c),
    "mean": lambda c, **_: F.avg(c),
    "min": lambda c, **_: F.min(c),
    "max": lambda c, **_: F.max(c),
    "maximum": lambda c, **_: F.max(c),
    "minimum": lambda c, **_: F.min(c),
    # sorted for determinism: the reference's :distinct returns values in
    # a stable order (reductions_test.clj:334-342 issue-314 expects
    # ["0" "1" "2"]) and an unordered collect_set is oracle-hostile
    "distinct": lambda c, **_: F.array_sort(F.collect_set(c)),
    "count-distinct": lambda c, **_: F.countDistinct(c),
    "prob-set-cardinality": lambda c, rsd=0.05, **_: F.approx_count_distinct(c, rsd),
    "prob-median": lambda c, accuracy=10000, **_: F.percentile_approx(c, 0.5, accuracy),
    "prob-quantile": lambda c, quantile=0.5, accuracy=10000, **_: F.percentile_approx(c, quantile, accuracy),
    "prob-quantiles": lambda c, quantiles=(0.25, 0.5, 0.75), accuracy=10000, **_: F.percentile_approx(
        c, list(quantiles), accuracy),
    "prob-interquartile-range": lambda c, accuracy=10000, **_: (
        F.percentile_approx(c, 0.75, accuracy) - F.percentile_approx(c, 0.25, accuracy)),
    "prob-cdf": lambda c, x=0.0, **_: F.avg(F.when(c <= x, 1.0).otherwise(0.0)),
    "stddev": lambda c, **_: F.stddev_samp(c),
    "variance": lambda c, **_: F.var_samp(c),
    "skew": lambda c, **_: F.skewness(c),
    "kurtosis": lambda c, **_: F.kurtosis(c),
    "sum-kahan": lambda c, **_: _exact_sum(c),
}


def _exact_sum(c: Column) -> Column:
    """Compensated sum (reference Kahan sum, reductions.clj:4-6,107):
    math.fsum over Arrow batches via a GROUPED_AGG pandas UDF — exact
    (stronger than Kahan), at pandas-UDF cost. Use plain "sum" unless the
    column's dynamic range actually cancels; cannot be mixed with JVM
    aggregates in one .agg() call (Spark planner restriction)."""
    import math

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _fsum(v: pd.Series) -> float:
        return math.fsum(v.dropna())

    return _fsum(c)


def _as_column(col) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def resolve_reducer(spec) -> Column:
    """Compile one reducer spec to a Catalyst aggregate Column.

    Accepted spec shapes (mirroring the reference's keyword-arg maps):
      Column                          -> used as-is
      ("sum", "l_quantity")           -> _REDUCERS["sum"](col)
      {"op": "prob-quantile", "column": "price", "quantile": 0.9}
      callable(F) -> Column           -> escape hatch
    """
    if isinstance(spec, Column):
        return spec
    if callable(spec):
        return spec(F)
    if isinstance(spec, (tuple, list)):
        op, col, *rest = spec
        opts = rest[0] if rest else {}
        return _REDUCERS[op](_as_column(col) if col is not None else None, **opts)
    if isinstance(spec, Mapping):
        opts = dict(spec)
        op = opts.pop("op")
        col = opts.pop("column", None)
        return _REDUCERS[op](_as_column(col) if col is not None else None, **opts)
    raise TypeError(f"unrecognized reducer spec: {spec!r}")


def group_by_column_agg(
    df: DataFrame,
    key,
    aggs: Mapping[str, object],
    *,
    index_filter: Column | str | None = None,
) -> DataFrame:
    """``group-by-column-agg`` (reductions.clj:517): one row per key value,
    one output column per reducer. ``key`` may be a single column name or a
    list (composite key, reductions.clj supports tuple keys).

    ``df`` may also be a SEQUENCE of DataFrames — the reference's
    multi-dataset contract (reductions_test.clj:25-51 aggregates
    ``[stocks stocks stocks]`` as one logical table): they are
    concatenated with dtype widening before the aggregation, one fused
    plan, no per-dataset pass.

    ``index_filter`` is the reference's pre-aggregation row filter
    (reductions.clj:450-455); expressed as ``.filter`` so Catalyst fuses it
    into the scan (predicate pushdown) instead of materializing indexes.
    """
    df = _concat_if_many(df)
    if index_filter is not None:
        df = df.filter(index_filter)
    keys = [key] if isinstance(key, str) else list(key)
    collide = {n for n in aggs if n in keys}
    if not collide:
        exprs = [resolve_reducer(spec).alias(name)
                 for name, spec in aggs.items()]
        return df.groupBy(*keys).agg(*exprs)
    # A reducer named like a grouping key REPLACES the key column in the
    # output (reductions_test.clj:88-113 issue-201: {:symbol first-value}
    # grouped by :symbol yields ONE symbol column, 8 columns total —
    # Spark's raw agg would emit a duplicate, ambiguous column). Alias
    # colliding reducers to temp names, then project once.
    exprs = [resolve_reducer(spec)
             .alias(f"__gbca_{n}__" if n in collide else n)
             for n, spec in aggs.items()]
    out = df.groupBy(*keys).agg(*exprs)
    sel = [F.col(k) for k in keys if k not in collide]
    sel += [F.col(f"__gbca_{n}__" if n in collide else n).alias(n)
            for n in aggs]
    return out.select(*sel)


def _concat_if_many(df) -> DataFrame:
    """Accept DataFrame | sequence-of-DataFrames (reference reducers take
    either one dataset or a seq; reductions.clj:517,593)."""
    if isinstance(df, DataFrame):
        return df
    from .setops import concat
    dfs = list(df)
    if not dfs:
        raise ValueError("expected at least one DataFrame")
    return concat(*dfs)


def aggregate(df: DataFrame, aggs: Mapping[str, object]) -> DataFrame:
    """Whole-table aggregation -> single-row DataFrame (reductions.clj:593).
    Like :func:`group_by_column_agg`, ``df`` may be a sequence of
    DataFrames (concatenated with widening)."""
    exprs = [resolve_reducer(spec).alias(name) for name, spec in aggs.items()]
    return _concat_if_many(df).agg(*exprs)


def rollup_agg(df: DataFrame, keys, aggs: Mapping[str, object]) -> DataFrame:
    """Grouping-set rollup — parity-plus (absent in the reference, SURVEY
    §2.4): hierarchical subtotals in ONE pass instead of k group-bys."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    exprs = [resolve_reducer(spec).alias(name) for name, spec in aggs.items()]
    return df.rollup(*ks).agg(*exprs)


def cube_agg(df: DataFrame, keys, aggs: Mapping[str, object]) -> DataFrame:
    """Grouping-set cube — parity-plus (SURVEY §2.4): all key subsets."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    exprs = [resolve_reducer(spec).alias(name) for name, spec in aggs.items()]
    return df.cube(*ks).agg(*exprs)


def group_by_column_consumer(df: DataFrame, key, fn: Callable,
                             out_schema) -> DataFrame:
    """``group-by-column-consumer`` / tier-1 group-by (dataset_api.clj:315,
    base.clj:526): the user's function sees each group as a whole dataset
    (a pandas DataFrame here) and returns a reduced frame. This is the
    escape hatch for per-group logic no aggregate expresses; parallel
    across groups via ``applyInPandas`` (one shuffle by key). Prefer
    ``group_by_column_agg`` whenever the reduction IS expressible — it
    gets map-side partial aggregation, this does not."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).applyInPandas(fn, schema=out_schema)


def grouping_sets_agg(df: DataFrame, sets: Iterable[Iterable[str]],
                      aggs: Mapping[str, object]) -> DataFrame:
    """Explicit GROUPING SETS — parity-plus (SURVEY §2.4: absent in the
    reference alongside rollup/cube): arbitrary subtotal combinations in a
    single shuffle pass (Spark expands sets map-side; one Expand + one
    aggregate, not k separate group-bys unioned)."""
    set_lists = [list(s) for s in sets]
    all_keys: list[str] = []
    for s in set_lists:
        for c in s:
            if c not in all_keys:
                all_keys.append(c)
    exprs = [resolve_reducer(spec).alias(name) for name, spec in aggs.items()]
    return df.groupingSets([[F.col(c) for c in s] for s in set_lists],
                           *[F.col(c) for c in all_keys]).agg(*exprs)


def count_distinct_twophase(df: DataFrame, key, col: str, *,
                            out_col: str = "n_distinct") -> DataFrame:
    """Skew-safe exact count-distinct: dedup on (key, col) first (the
    shuffle spreads a hot key across (key, value) pairs), then count per
    key. Same result as ``countDistinct`` but a hot key's distinct-set is
    never assembled in one task — the classic 100 TB skew pattern. Partial
    aggregation applies to BOTH stages (map-side combine each time)."""
    keys = [key] if isinstance(key, str) else list(key)
    return (df.select(*keys, col).distinct()
              .groupBy(*keys).agg(F.count(F.lit(1)).alias(out_col)))


def reservoir_sample(df: DataFrame, k: int, *, by=None,
                     seed: int = 42, key_cols=None) -> DataFrame:
    """``reservoir-dataset`` (reductions.clj:283): uniform k-row sample,
    optionally per group. Grouped: row_number over the draw — one shuffle
    by the group key. Ungrouped: order-by-draw + limit, which Spark plans
    as TakeOrderedAndProject (per-partition k-heap, merge of k-candidates —
    distributed, never a single-partition window). The row COUNT is exactly
    min(k, group size).

    Draw arms (the same two-arm pattern as ``replace_missing`` ``:abb``):
    the default ``rand(seed)`` matches the reference's seeded-RNG
    semantics (rows are seed- AND engine-dependent — rows-only
    checkable); pass ``key_cols`` for the DETERMINISTIC arm, drawing by
    ``md5(concat_ws(':', md5(key)..., seed))`` (per-key md5 tokens —
    collision-proof for ':'-bearing or NULL keys) with the keys as
    tie-break — bit-identical across engines, retries, and partitionings
    (md5 of the same string is the same everywhere), so a SQL oracle
    replays the exact sampled rows. Statistically it is a uniform draw
    whenever the key tuple doesn't encode the grouping order (md5 is a
    PRF on the keys)."""
    from pyspark.sql import Window as W

    if key_cols:
        # Hash each key separately before concatenation: md5 hex is a
        # fixed-width token with no ':' in it, so distinct key tuples
        # can't collide the way raw concat_ws values could (('a:b',) vs
        # ('a','b'), or tuples differing only by a NULL key, which
        # concat_ws silently skips). NULL keys coalesce to a sentinel
        # that is never a 32-hex digest. Replays verbatim in any SQL
        # engine: md5(coalesce(md5(cast(k as varchar)),'NULL')||..||':seed').
        keys = [F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL"))
                for c in key_cols]
        draw_cols = [F.md5(F.concat_ws(":", *keys, F.lit(str(seed))))] + \
            [F.col(c) for c in key_cols]
    else:
        draw_cols = [F.rand(seed)]
    by_cols = [] if by is None else ([by] if isinstance(by, str) else list(by))
    if not by_cols:
        return df.orderBy(*draw_cols).limit(k)
    w = W.partitionBy(*by_cols).orderBy(*draw_cols)
    return (df.withColumn("__rs__", F.row_number().over(w))
              .filter(F.col("__rs__") <= k).drop("__rs__"))


_STAT_FNS: dict[str, Callable[[Column], Column]] = {
    "n-valid": lambda c: F.count(c),
    "min": F.min,
    "max": F.max,
    "mean": F.avg,
    "stddev": F.stddev_samp,
    "sum": F.sum,
    "skew": F.skewness,
}


#: reference default + the optional names (all-descriptive-stats-names,
#: dataset_api.clj:1300-1311). "stddev"/"skew" are accepted aliases for
#: "standard-deviation"/"skew".
ALL_DESCRIPTIVE_STATS = (
    "n-valid", "n-missing", "min", "quartile-1", "mean", "mode", "median",
    "quartile-3", "max", "stddev", "skew", "n-values", "values", "histogram",
    "first", "last")

_QUANTILE_STATS = {"quartile-1": 0.25, "median": 0.5, "quartile-3": 0.75}
_CATEGORICAL_STATS = ("mode", "n-values", "values", "histogram")


def descriptive_stats(df: DataFrame, columns: Iterable[str] | None = None,
                      stats: Iterable[str] = ("n-valid", "n-missing", "min", "mean",
                                              "max", "stddev", "skew"),
                      *, quantile_accuracy: int | str = 10000,
                      n_categorical_values: int = 21,
                      agg_expr_budget: int = 24) -> DataFrame:
    """``descriptive-stats`` (reference dataset_api.clj:1300-1385): one row
    per column. Full reference stat surface (``ALL_DESCRIPTIVE_STATS``):

    - numeric / temporal columns: min, quartile-1, mean, median, quartile-3,
      max, standard-deviation (``stddev``), skew. Temporal axes are measured
      in epoch micros (the reference uses epoch millis,
      dataset_api.clj:1352-1356); their min/max/first/last stay readable
      strings. Quantiles use ``percentile_approx`` at ``quantile_accuracy``
      (sketch — the 100 TB path) or exact interpolated ``percentile`` when
      ``quantile_accuracy="exact"``.
    - string/boolean (categorical) columns: mode, n-values (distinct count),
      values (top ``n_categorical_values`` by frequency), histogram
      ((value, count) pairs, emitted when the domain fits in
      ``n_categorical_values`` — reference behavior). Mode ties break
      deterministically toward the larger value (the reference inherits
      hash-map iteration order; we pin it).
    - every column: n-valid, n-missing, first, last (stringified; dataset
      order via a scan-order id, deterministic for fresh file reads).

    Plan shape: the numeric stats are computed in wide ``df.agg`` branches —
    per-column expressions chunked into groups of ≤ ``agg_expr_budget``
    (default 24) so every generated aggregate method stays inside the JIT's
    size budget (one 300-expression agg runs INTERPRETED — measured ~10×
    slower), recombined by one-row crossJoins. Each branch scans only its
    own columns, so on a columnar source the total bytes read equal the
    single-pass plan; a per-column job LOOP (the catastrophic-at-100 TB
    shape) is still avoided — this is one action. The result is pivoted to
    one-row-per-column lazily with
    ``inline(array(struct...))``. Categorical stats add ONE more
    aggregation branch: unpivot(categorical cols) -> groupBy(col, value)
    counts -> per-col top-k, broadcast-joined back on col-name. The
    collect_list there buffers one struct per DISTINCT value per column —
    fine for categorical domains, not for high-cardinality keys (same
    caveat as the reference's in-memory ``frequencies``).
    """
    from pyspark.sql import types as T

    cols = list(columns) if columns is not None else df.columns
    stats = ["stddev" if s == "standard-deviation" else s for s in stats]
    want = set(stats)
    fields = {f.name: f.dataType for f in df.schema.fields}
    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType)
    temporal = (T.TimestampType, T.TimestampNTZType, T.DateType)
    is_num = {c: isinstance(fields[c], numeric) for c in cols}
    is_time = {c: isinstance(fields[c], temporal) for c in cols}
    cat_cols = [c for c in cols
                if isinstance(fields[c], (T.StringType, T.BooleanType))]

    def _axis(c: str) -> Column:
        if is_time[c]:
            from ..dtutil import epoch_micros
            return epoch_micros(c).cast("double")
        return F.col(c).cast("double")

    qps = [p for s, p in _QUANTILE_STATS.items() if s in want]
    need_order = {"first", "last"} & want
    src = df
    if need_order:
        from .selection import _free_name
        mid = _free_name(df.columns, "__mid__")
        src = df.withColumn(mid, F.monotonically_increasing_id())

    # --- wide-aggregate splitting -----------------------------------------
    # One df.agg with hundreds of aggregate expressions generates an update
    # method past the JIT's size budget, and the whole pass runs as
    # interpreted bytecode (measured: 40 cols × 6 stats = 240 exprs -> 12.6 s
    # vs 1.3 s split; central-moment aggs like skewness are the widest
    # offenders). So the per-column expressions are chunked into groups of
    # ≤ ``agg_expr_budget`` and each group becomes its OWN one-row aggregate,
    # recombined with crossJoin (one-row × one-row — free). Each branch
    # scans only its own columns, so with a columnar source the total bytes
    # read equal the single-pass plan; only the JIT-hostile method is split.
    per_col: list[list[Column]] = []
    for c in cols:
        exprs: list[Column] = [F.count(F.col(c)).alias(f"{c}||n-valid")]
        measurable = is_num[c] or is_time[c]
        for s in ("min", "max"):
            if s in want:
                exprs.append(_STAT_FNS[s](F.col(c)).alias(f"{c}||{s}"))
        for s in ("mean", "stddev", "skew", "sum"):
            if s in want and measurable:
                exprs.append(_STAT_FNS[s](_axis(c)).alias(f"{c}||{s}"))
        if qps and measurable:
            if quantile_accuracy == "exact":
                q = F.percentile(_axis(c), F.array(*[F.lit(p) for p in qps]))
            else:
                q = F.percentile_approx(_axis(c), F.array(*[F.lit(p) for p in qps]),
                                        F.lit(int(quantile_accuracy)))
            exprs.append(q.alias(f"{c}||quantiles"))
        if need_order:
            exprs.append(F.min_by(F.col(c).cast("string"), F.col(mid)).alias(f"{c}||first"))
            exprs.append(F.max_by(F.col(c).cast("string"), F.col(mid)).alias(f"{c}||last"))
        per_col.append(exprs)

    groups: list[list[Column]] = [[F.count(F.lit(1)).alias("__n_rows__")]]
    for exprs in per_col:
        if len(groups[-1]) + len(exprs) > agg_expr_budget and len(groups[-1]) > 1:
            groups.append([])
        groups[-1].extend(exprs)
    if need_order and len(groups) > 1:
        # first/last rank by the mono-id, and the agg branches fork: every
        # branch must see the same ids
        src = materialize(src)
    agg_row = src.agg(*groups[0])
    for g in groups[1:]:
        agg_row = agg_row.crossJoin(src.agg(*g))
    have = set(agg_row.columns)

    def _ref(name: str) -> Column:
        return F.col(f"`{name}`")

    string_stats = {"min", "max", "first", "last"}
    # Reference parity (datetime_test.clj stocks-descriptive-stats):
    # min/MEAN/max/quartiles of a datetime column come back as DATETIMES,
    # not raw epoch numbers. min/max render naturally (string stats); for
    # mean/quantiles the value lives in a shared numeric column, so when
    # the report CONTAINS any temporal column those stat columns switch to
    # string (Spark's own describe()/summary() precedent: string-typed
    # stats) — temporal rows render the epoch-micros value back through
    # the column's own type, numeric rows stringify. All-numeric reports
    # (the common analytics case, and the oracle query) keep doubles.
    # stddev/skew stay numeric even for temporal columns: they are
    # DURATIONS (micros), not instants — same as the reference's
    # millis-space moments.
    temporal_present = any(is_time[c] for c in cols)
    from ..dtutil import from_epoch_micros

    def _render(v: Column, c: str) -> Column:
        if not temporal_present:
            return v
        if is_time[c]:
            return from_epoch_micros(
                F.round(v), fields[c].simpleString()).cast("string")
        return v.cast("string")

    structs = []
    for c in cols:
        qi = 0
        sf = [F.lit(c).alias("col-name"),
              F.lit(fields[c].simpleString()).alias("datatype"),
              _ref(f"{c}||n-valid").alias("n-valid"),
              (F.col("__n_rows__") - _ref(f"{c}||n-valid")).alias("n-missing")]
        for s in stats:
            if s in ("n-valid", "n-missing") or s in _CATEGORICAL_STATS:
                continue
            if s in _QUANTILE_STATS:
                key = f"{c}||quantiles"
                if key in have:
                    v = F.element_at(_ref(key), qps.index(_QUANTILE_STATS[s]) + 1)
                else:
                    v = F.lit(None).cast("double")
                sf.append(_render(v, c).alias(s))
                continue
            key = f"{c}||{s}"
            if key in have:
                if s in string_stats:
                    v = _ref(key).cast("string")
                elif s == "mean":
                    v = _render(_ref(key), c)
                else:
                    v = _ref(key)
            else:
                v = F.lit(None).cast("string" if s in string_stats else "double")
            sf.append(v.alias(s))
        structs.append(F.struct(*sf))
    out = agg_row.select(F.inline(F.array(*structs)))

    if want & set(_CATEGORICAL_STATS) and cat_cols:
        melted = df.select(F.explode(F.array(*[
            F.struct(F.lit(c).alias("col-name"),
                     F.col(c).cast("string").alias("__val__"))
            for c in cat_cols])).alias("kv")) \
            .select("kv.col-name", "kv.__val__") \
            .filter(F.col("__val__").isNotNull())
        freq = melted.groupBy("col-name", "__val__").agg(
            F.count(F.lit(1)).alias("__cnt__"))
        top = F.slice(
            F.reverse(F.sort_array(F.collect_list(
                F.struct(F.col("__cnt__").alias("count"),
                         F.col("__val__").alias("value"))))),
            1, n_categorical_values)
        per_col = freq.groupBy("col-name").agg(
            F.max_by("__val__", F.struct("__cnt__", "__val__")).alias("mode"),
            F.count(F.lit(1)).alias("n-values"),
            top.alias("__top__"))
        per_col = per_col.select(
            "col-name", "mode", F.col("`n-values`"),
            F.transform("__top__", lambda x: x["value"]).alias("values"),
            F.when(F.col("`n-values`") <= n_categorical_values,
                   F.transform("__top__", lambda x: F.struct(
                       x["value"].alias("value"), x["count"].alias("count"))))
             .alias("histogram"))
        keep = ["mode", "n-values", "values", "histogram"]
        per_col = per_col.select("col-name",
                                 *[F.col(f"`{s}`") for s in keep if s in want])
        out = out.join(F.broadcast(per_col), "col-name", "left")
        # restore reference stat order (the join appended the cat stats)
        ordered = (["col-name", "datatype", "n-valid", "n-missing"]
                   + [s for s in ALL_DESCRIPTIVE_STATS
                      if s not in ("n-valid", "n-missing") and s in want]
                   + [s for s in stats if s not in ALL_DESCRIPTIVE_STATS])
        out = out.select(*[F.col(f"`{s}`") for s in ordered])
    return out


def brief(df: DataFrame) -> list[dict]:
    """``brief`` (dataset_api.clj:1388): descriptive-stats as plain dicts."""
    return [r.asDict() for r in descriptive_stats(df).collect()]
