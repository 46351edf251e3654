"""Dataset validation: expectation checks as a single-pass report.

Beyond-reference (the reference validates ad hoc in tests); production
training pipelines gate ingest on exactly these checks. Every row-level
rule compiles to a conditional-sum aggregate, so ANY number of rules costs
ONE scan; uniqueness rules add one groupBy each (they are aggregations by
nature). Nothing collects but the per-rule violation counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def not_null(*cols: str) -> tuple[str, Column]:
    """Violation when any of ``cols`` is NULL."""
    cond = None
    for c in cols:
        clause = F.col(c).isNull()
        cond = clause if cond is None else (cond | clause)
    return (f"not_null({','.join(cols)})", cond)


def in_range(col: str, lo, hi) -> tuple[str, Column]:
    """Violation when value falls outside [lo, hi] (NULLs don't violate —
    pair with not_null to forbid them)."""
    c = F.col(col)
    return (f"in_range({col},{lo},{hi})", c.isNotNull() & ((c < lo) | (c > hi)))


def matches(col: str, pattern: str) -> tuple[str, Column]:
    """Violation when a non-null value does NOT match the regex."""
    c = F.col(col)
    return (f"matches({col})", c.isNotNull() & ~c.rlike(pattern))


def one_of(col: str, allowed: Sequence) -> tuple[str, Column]:
    """Violation when a non-null value is outside the allowed set.

    The set compiles into the fused single-pass aggregate as a literal
    array — the right shape for enum-sized domains. Catalyst literal
    collections stop scaling past a few thousand entries (analysis +
    codegen blow-up, the r4 gotcha), so huge allow-lists warn: validate
    membership against a broadcast-anti-joined reference table instead
    (a ``unique``-style extra job), which this one-pass rule deliberately
    doesn't do behind your back."""
    if len(allowed) > 4096:
        import warnings
        warnings.warn(
            f"one_of({col}): {len(allowed)} literal values will bloat plan "
            f"analysis/codegen; prefer a broadcast anti-join against a "
            f"reference table for large domains.",
            UserWarning, stacklevel=2)
    c = F.col(col)
    arr = F.array(*[F.lit(v) for v in allowed])
    return (f"one_of({col})", c.isNotNull() & ~F.array_contains(arr, c))


def custom(name: str, violation: Column) -> tuple[str, Column]:
    """Arbitrary Column predicate that is TRUE on violating rows."""
    return (name, violation)


def unique(*cols: str) -> tuple[str, Sequence[str]]:
    """Violation count = rows beyond the first per duplicate key group."""
    return (f"unique({','.join(cols)})", list(cols))


def validate(df: DataFrame, rules: Sequence[tuple]) -> DataFrame:
    """Run expectation ``rules`` and return a report: one row per rule with
    ``rule``, ``n_violations``, ``passed``. Row-level rules fuse into one
    aggregate pass; each ``unique`` rule adds one groupBy job inside the
    same returned plan (union)."""
    row_rules = [(n, c) for (n, c) in rules if isinstance(c, Column)]
    uniq_rules = [(n, cols) for (n, cols) in rules if not isinstance(cols, Column)]

    parts = []
    if row_rules:
        # coalesce: sum over ZERO rows is NULL — an empty-but-clean input
        # must report 0 violations / passed, not a NULL that fails expect()
        aggs = [F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
                 .cast("long").alias(name)
                for name, cond in row_rules]
        one = df.agg(*aggs)
        structs = [F.struct(F.lit(name).alias("rule"),
                            F.col(f"`{name}`").alias("n_violations"))
                   for name, _ in row_rules]
        parts.append(one.select(F.inline(F.array(*structs))))
    for name, cols in uniq_rules:
        dup = (df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n__"))
                 .agg(F.coalesce(F.sum(F.col("__n__") - 1), F.lit(0))
                       .cast("long").alias("n_violations"))
                 .select(F.lit(name).alias("rule"), "n_violations"))
        parts.append(dup)
    if not parts:
        raise ValueError("validate() needs at least one rule")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("n_violations") == 0)


def expect(df: DataFrame, rules: Sequence[tuple]) -> None:
    """Assert-style gate: raises ValueError listing every failed rule."""
    bad = [(r["rule"], r["n_violations"])
           for r in validate(df, rules).collect() if not r["passed"]]
    if bad:
        raise ValueError("validation failed: " +
                         "; ".join(f"{n} ({c} violations)" for n, c in bad))


def _psi_from_buckets(ref: DataFrame, cur: DataFrame, cols, bucket_expr,
                      epsilon: float, include_ks: bool = False) -> DataFrame:
    """Shared back half of the PSI family: per-side (column, bucket)
    counts (ONE scan per side over an exploded (column, bucket) struct
    array — never a join of the raw tables, never a scan per column),
    full-join + zero-fill, per-column totals as window sums, epsilon-
    smoothed PSI terms, optional bucketed KS. ``bucket_expr(c)`` maps a
    column name to its bucket Column; numeric and categorical drift
    differ ONLY in that expression."""
    from pyspark.sql import Window

    def side_counts(df, tag):
        # ONE scan per side (r11): the per-column union form scanned the
        # table once per column; an exploded array of (column, bucket)
        # structs computes every bucket expression in a single row pass
        # and the groupBy's map-side partial aggregation absorbs the
        # explode fan-out before any shuffle. NULL values drop AFTER the
        # Generate via a plain WHERE (r12): the previous
        # F.filter(entries, ...) higher-order function is CodegenFallback,
        # which forced the whole per-row pass into interpreted evaluation —
        # measured 1.8x slower than this codegen'd explode + filter on the
        # identical 4-scan plan (null struct elements explode to null rows;
        # the post-Generate isNotNull drops exactly the rows the HOF did).
        entries = F.array(*[
            F.when(F.col(c).isNotNull(),
                   F.struct(F.lit(c).alias("column"),
                            bucket_expr(c).alias("bucket")))
            for c in cols])
        un = (df.select(F.explode(entries).alias("__e__"))
                .where(F.col("__e__").isNotNull())
                .select("__e__.column", "__e__.bucket"))
        return (un.groupBy("column", "bucket")
                  .agg(F.count(F.lit(1)).alias(f"n_{tag}")))

    joined = (side_counts(ref, "ref")
              .join(side_counts(cur, "cur"), ["column", "bucket"], "full")
              .fillna(0, ["n_ref", "n_cur"]))
    # per-column totals as WINDOW sums over the (column x bucket)-sized
    # frame: a groupBy+join-back forks the plan at `joined`, and Spark
    # re-plans (and re-executes) every scan and aggregate under BOTH
    # branches — on lineitem that plan held 8 parquet scans and 12 hash
    # aggregates, against 2 scans and 6 aggregates with the window.
    wcol = Window.partitionBy("column")
    j = (joined.withColumn("t_ref", F.sum("n_ref").over(wcol))
               .withColumn("t_cur", F.sum("n_cur").over(wcol)))
    # greatest(t, 1) keeps an EMPTY side ANSI-safe (no divide-by-zero on a
    # plain session); with t=0 every n is 0 too, so p collapses to epsilon
    p_ref = F.greatest(F.col("n_ref") / F.greatest(F.col("t_ref"), F.lit(1)),
                       F.lit(epsilon))
    p_cur = F.greatest(F.col("n_cur") / F.greatest(F.col("t_cur"), F.lit(1)),
                       F.lit(epsilon))
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    if not include_ks:
        return j.groupBy("column").agg(F.sum(term).alias("psi"))
    # bucketed KS: max |ECDF_ref - ECDF_cur| over the shared bucket grid —
    # a window over n_buckets rows per column, nothing data-sized
    wc = (Window.partitionBy("column").orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, 0))
    cum_gap = F.abs(
        F.sum(F.col("n_ref") / F.greatest(F.col("t_ref"), F.lit(1))).over(wc)
        - F.sum(F.col("n_cur") / F.greatest(F.col("t_cur"), F.lit(1))).over(wc))
    return (j.withColumn("__gap__", cum_gap)
             .groupBy("column")
             .agg(F.sum(term).alias("psi"),
                  F.max("__gap__").alias("ks")))


def psi_drift(ref: DataFrame, cur: DataFrame, columns, *,
              n_buckets: int = 10, exact_edges: bool = False,
              round_edges: int | None = None,
              epsilon: float = 1e-6, include_ks: bool = False) -> DataFrame:
    """Population Stability Index per numeric column — the standard
    production drift check between a reference snapshot (last crawl /
    training set) and a current one. PSI = sum over buckets of
    (p_cur - p_ref) * ln(p_cur / p_ref); rule of thumb: < 0.1 stable,
    0.1-0.25 drifting, > 0.25 shifted.

    Bucket edges come from the REFERENCE quantiles (n_buckets equal-mass
    cuts; ``exact_edges=True`` uses exact interpolated percentiles for
    cross-engine reproducibility — the oracle path — while the default
    sketch edges are the 100 TB path). Edges collect driver-side (they are
    n_buckets-sized literals), then BOTH sides bucket with a shared
    pure-Column width_bucket-style expression and count per bucket — one
    aggregate per side keyed by (column, bucket), no join of the raw
    tables. Empty buckets are epsilon-smoothed so the log stays finite.

    Returns (column, psi) — column-count-sized; ``include_ks=True`` adds a
    bucketed KS statistic (max ECDF gap over the shared grid, computed in
    a window over n_buckets rows per column)."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    if exact_edges:
        edge_aggs = [F.expr(
            f"percentile(`{c}`, array({', '.join(map(str, qs))}))").alias(c)
            for c in cols]
    else:
        edge_aggs = [F.percentile_approx(
            F.col(c), F.array(*[F.lit(q) for q in qs])).alias(c)
            for c in cols]
    edges_row = ref.agg(*edge_aggs).collect()[0]

    def bucket_expr(c):
        edges = [e for e in (edges_row[c] or []) if e is not None]
        if round_edges is not None:
            # round the edge literals so an oracle replaying the same
            # (rounded) quantiles buckets identically despite interpolation
            # ULP differences between engines; half-up to match SQL round()
            # (Python's built-in round is banker's)
            import math as _math
            m = 10.0 ** round_edges
            edges = [_math.copysign(
                _math.floor(abs(float(e)) * m + 0.5) / m, float(e))
                for e in edges]
        b = F.lit(0)
        for e in edges:
            b = b + (F.col(c) > F.lit(float(e))).cast("int")
        return b

    return _psi_from_buckets(ref, cur, cols, bucket_expr, epsilon,
                             include_ks=include_ks)


def psi_drift_categorical(ref: DataFrame, cur: DataFrame, columns, *,
                          top_k: int = 50,
                          epsilon: float = 1e-6) -> DataFrame:
    """PSI over CATEGORICAL columns (language mix, source mix, label
    distribution — the drifts a crawl pipeline actually watches): buckets
    are the reference's ``top_k`` most frequent values per column
    (count-desc, value-asc — deterministic) plus one ``__other__`` bucket
    absorbing the tail and any value unseen in the reference.

    Scale shape mirrors :func:`psi_drift`: the bucket table is a
    ``top_k``-sized collected literal per column (TakeOrdered — never the
    distinct domain); both sides then map value -> bucket with a pure
    Column expression and aggregate once. Same epsilon smoothing, same
    (column, psi) output, so numeric and categorical reports union
    cleanly."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    keep: dict = {}
    for c in cols:
        # group on the CAST-to-string value so the collected literals are
        # Spark's own renderings — Python str() disagrees for e.g.
        # booleans ('True' vs 'true'), which would bucket every row into
        # __other__ on both sides and report ~0 PSI for a real shift
        top = (ref.filter(F.col(c).isNotNull())
                  .groupBy(F.col(c).cast("string").alias("__v__"))
                  .agg(F.count(F.lit(1)).alias("__n__"))
                  .orderBy(F.desc("__n__"), F.asc("__v__"))
                  .limit(top_k).collect())
        keep[c] = [r["__v__"] for r in top]

    def bucket_expr(c):
        v = F.col(c).cast("string")
        arr = F.array(*[F.lit(x) for x in keep[c]])
        return F.when(F.array_contains(arr, v), v).otherwise("__other__")

    return _psi_from_buckets(ref, cur, cols, bucket_expr, epsilon)
