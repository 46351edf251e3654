"""ML preprocessing with the reference's fit/transform shape.

Reference semantics: categorical maps (src/tech/v3/dataset/categorical.clj:
80,113,165,202,226,288), std-scale/minmax (src/tech/v3/dataset/math.clj:
238-324), PCA (src/tech/v3/dataset/neanderthal.clj:199,262), correlation
table (math.clj:37), train/test split + k-fold (src/tech/v3/dataset/
modelling.clj:139,178).

Shape: ``fit_*`` returns a plain picklable dict (the reference returns data
maps, not objects — protocols.clj PDatasetTransform); ``transform_*`` applies
it with pure Column expressions, so transforms broadcast trivially to any
executor count. MLlib equivalents (StringIndexer, StandardScaler, PCA) exist;
we use MLlib only where the math is nontrivial (PCA/SVD), keeping simple
transforms as transparent Catalyst expressions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..dtutil import materialize


# ---- categorical ------------------------------------------------------------

def fit_categorical_map(df: DataFrame, colname: str, *,
                        table: dict | None = None,
                        complete: bool = False,
                        max_categories: int = 100_000) -> dict:
    """``fit-categorical-map`` (categorical.clj:80): value -> int code.
    Deterministic: codes assigned by sorted value order (the reference
    assigns by first-seen order, which is scan-order-dependent — sorted is
    the distributed-stable choice).

    ``table`` pins codes and may be PARTIAL (reference table-args law,
    categorical_test.clj:57-67): values present in the data but absent
    from the table are assigned the smallest unused non-negative codes —
    in sorted order, per the determinism convention above. Values pinned
    in the table but absent from the data keep their codes (reference
    :not-present case). Two values pinned to the SAME code raise — the
    reference silently reassigns the later one, which swallows typos.

    ``complete=True`` asserts the pinned table already covers the data's
    domain (replaying a saved fit at inference setup): the function then
    returns with ZERO Spark jobs — no distinct scan, no collect. Unpinned
    values surface later as NULL codes in transform, the same contract as
    applying any saved fit to drifted data.

    The fit otherwise collects the DISTINCT domain to the driver (inherent
    to a code table; the reference holds it in memory too).
    ``max_categories`` makes an accidental fit on a high-cardinality key
    fail loudly instead of OOMing the driver — raise it deliberately for
    big vocabularies."""
    codes = list((table or {}).values())
    if len(set(codes)) != len(codes):
        raise ValueError(
            f"fit_categorical_map({colname!r}): duplicate codes in table "
            f"{table!r} — each value needs a distinct code")
    def _integral(c):
        # numbers.Integral-style duck check: accepts python/numpy ints and
        # integral floats (np.int64 is neither an int nor float subclass,
        # so plain isinstance checks rejected valid numpy code tables)
        if isinstance(c, bool):
            return False
        try:
            return float(c).is_integer()
        except (TypeError, ValueError):
            return False

    nonint = [c for c in codes if not _integral(c)]
    if nonint:
        # reference issue-322 (dataset_test.clj:1562-1578): categorical
        # codes are DISCRETE — a fractional code like 2.2 raises instead
        # of silently minting a non-invertible mapping
        raise ValueError(
            f"fit_categorical_map({colname!r}): non-integral codes "
            f"{nonint} — categorical codes must be discrete integers")
    if complete:
        if not table:
            raise ValueError(
                f"fit_categorical_map({colname!r}): complete=True needs a "
                f"pinned table")
        return {"column": colname, "table": dict(table)}
    vals_df = df.select(colname).distinct()
    if table:
        # pinned values never need collecting — the cap (and the driver
        # collect) applies only to the UNPINNED remainder, so a 150k-entry
        # pinned vocabulary fits under the default cap with a near-empty
        # collect. broadcast anti join, not isin: 150k literals would
        # blow up the plan
        pins = df.sparkSession.createDataFrame(
            [(v,) for v in table if v is not None], [colname])
        vals_df = vals_df.join(F.broadcast(pins), colname, "left_anti")
    vals = [r[0] for r in vals_df.limit(max_categories + 1).collect()]
    if len(vals) > max_categories:
        raise ValueError(
            f"fit_categorical_map({colname!r}): more than "
            f"{max_categories} distinct values beyond the pinned table — "
            "this column looks like a key, not a category; raise "
            "max_categories to override")
    table = dict(table) if table else {}
    used = set(table.values())
    nxt = 0
    for v in sorted(v for v in vals if v is not None):
        if v in table:
            continue
        while nxt in used:
            nxt += 1
        table[v] = nxt
        used.add(nxt)
    return {"column": colname, "table": table}


def transform_categorical_map(df: DataFrame, fitted: dict) -> DataFrame:
    """``transform-categorical-map`` (categorical.clj:113): apply the code
    table as a chained when-expression (broadcast literal, no join/shuffle
    for cardinalities that fit a plan; use a broadcast join for huge maps)."""
    c = fitted["column"]
    table = fitted["table"]
    if len(table) > 1000:
        spark = df.sparkSession
        m = spark.createDataFrame(list(table.items()), [c, f"__{c}_code__"])
        out = df.join(F.broadcast(m), c, "left")
        return out.withColumn(c, F.col(f"__{c}_code__")).drop(f"__{c}_code__")
    expr = F.lit(None).cast("int")
    for v, code in table.items():
        expr = F.when(F.col(c) == F.lit(v), F.lit(code)).otherwise(expr)
    return df.withColumn(c, expr)


def invert_categorical_map(df: DataFrame, fitted: dict) -> DataFrame:
    """``invert-categorical-map`` (categorical.clj:165): codes -> values.

    Float code columns (model predictions) TRUNCATE to the integral code
    before lookup — the reference's ``:result-datatype :int`` cast law
    (categorical_test.clj:115-135: 1.2 and 1.3 both invert to the code-1
    value; 2.99999 inverts to code 2). Codes absent from the table yield
    NULL rather than the reference's executor-side throw — the same
    NULL-for-drifted-data contract as transform (documented deviation;
    a throw inside a 100 TB job is a retry storm, not a diagnostic)."""
    c = fitted["column"]
    code_col = F.col(c)
    if dict(df.dtypes).get(c) in ("float", "double"):
        code_col = code_col.cast("bigint")
    expr = F.lit(None).cast("string")
    for v, code in fitted["table"].items():
        expr = F.when(code_col == F.lit(code), F.lit(v)).otherwise(expr)
    return df.withColumn(c, expr)


def fit_one_hot(df: DataFrame, colname: str) -> dict:
    """``fit-one-hot`` (categorical.clj:202)."""
    return fit_categorical_map(df, colname)


def transform_one_hot(df: DataFrame, fitted: dict) -> DataFrame:
    """``transform-one-hot`` (categorical.clj:226): one 0/1 column per
    category, named ``<col>-<value>`` like the reference."""
    c = fitted["column"]
    out = df
    for v in fitted["table"]:
        out = out.withColumn(f"{c}-{v}", (F.col(c) == F.lit(v)).cast("int"))
    return out.drop(c)


def invert_one_hot(df: DataFrame, fitted: dict) -> DataFrame:
    """``invert-one-hot-map`` (categorical.clj:288): collapse the 0/1
    ``<col>-<value>`` columns back to the original categorical column.
    Pure chained-when projection — no shuffle, no UDF."""
    c = fitted["column"]
    expr = F.lit(None).cast("string")
    for v in fitted["table"]:
        expr = F.when(F.col(f"{c}-{v}") == 1, F.lit(v)).otherwise(expr)
    out = df.withColumn(c, expr)
    return out.drop(*[f"{c}-{v}" for v in fitted["table"]])


def categorical_to_number(df: DataFrame, columns: Sequence[str]) -> tuple[DataFrame, list[dict]]:
    """``categorical->number`` (dataset_api.clj:664): fit+transform several."""
    fits = []
    out = df
    for c in columns:
        f = fit_categorical_map(out, c)
        out = transform_categorical_map(out, f)
        fits.append(f)
    return out, fits


def categorical_to_one_hot(df: DataFrame, columns: Sequence[str]) -> tuple[DataFrame, list[dict]]:
    """``categorical->one-hot`` (dataset_api.clj:684): fit+transform several."""
    fits = []
    out = df
    for c in columns:
        f = fit_one_hot(out, c)
        out = transform_one_hot(out, f)
        fits.append(f)
    return out, fits


# ---- scalers -----------------------------------------------------------------

def fit_std_scale(df: DataFrame, columns: Sequence[str]) -> dict:
    """``fit-std-scale`` (math.clj:238): per-column mean/stddev in ONE pass."""
    aggs = []
    for c in columns:
        aggs += [F.avg(c).alias(f"{c}__mean"), F.stddev_samp(c).alias(f"{c}__std")]
    row = df.agg(*aggs).collect()[0].asDict()
    return {"columns": list(columns),
            "stats": {c: (row[f"{c}__mean"], row[f"{c}__std"]) for c in columns}}


def transform_std_scale(df: DataFrame, fitted: dict) -> DataFrame:
    """``transform-std-scale`` (math.clj:262): (x - centre) / scale for
    each fitted column — mean and std from :func:`fit_std_scale`, median
    and IQR from :func:`fit_robust_scale` (as ``transform_robust_scale``).
    A zero or NULL scale (a constant column) divides by 1."""
    out = df
    for c, (centre, scale) in fitted["stats"].items():
        denom = scale if scale not in (None, 0.0) else 1.0
        out = out.withColumn(c, (F.col(c) - F.lit(centre)) / F.lit(denom))
    return out


def fit_minmax(df: DataFrame, columns: Sequence[str], *,
               target_min: float = -0.5, target_max: float = 0.5) -> dict:
    """``fit-minmax`` (math.clj:291); reference default range [-0.5, 0.5]."""
    aggs = []
    for c in columns:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    row = df.agg(*aggs).collect()[0].asDict()
    return {"columns": list(columns), "target": (target_min, target_max),
            "stats": {c: (row[f"{c}__min"], row[f"{c}__max"]) for c in columns}}


def transform_minmax(df: DataFrame, fitted: dict) -> DataFrame:
    """``transform-minmax`` (math.clj:312)."""
    lo, hi = fitted["target"]
    out = df
    for c, (cmin, cmax) in fitted["stats"].items():
        span = (cmax - cmin) or 1.0
        out = out.withColumn(c, F.lit(lo) + (F.col(c) - F.lit(cmin)) / F.lit(span) * F.lit(hi - lo))
    return out


def fit_robust_scale(df: DataFrame, columns: Sequence[str], *,
                     q_lo: float = 0.25, q_hi: float = 0.75,
                     exact: bool = False) -> dict:
    """Robust scaler (parity-plus; sklearn RobustScaler analog the
    reference lacks): per-column median and IQR in ONE aggregate pass, so
    heavy-tailed columns (doc lengths, prices) scale without outliers
    dragging the statistics the way mean/stddev do. ``exact=True`` uses
    exact interpolated percentiles (oracle-reproducible); the default
    sketch is the 100 TB path."""
    qs = [q_lo, 0.5, q_hi]
    if exact:
        aggs = [F.expr(f"percentile(`{c}`, array({q_lo}, 0.5, {q_hi}))")
                .alias(c) for c in columns]
    else:
        aggs = [F.percentile_approx(F.col(c),
                                    F.array(*[F.lit(q) for q in qs]))
                .alias(c) for c in columns]
    row = df.agg(*aggs).collect()[0]
    stats = {}
    for c in columns:
        lo, med, hi = (row[c] or [None, None, None])
        stats[c] = (med, None if lo is None or hi is None else hi - lo)
    return {"columns": list(columns), "stats": stats}


# (x - median) / IQR: the same centre-and-scale transform
transform_robust_scale = transform_std_scale


def bucketize(df: DataFrame, colname: str, splits: Sequence[float], *,
              out_col: str | None = None) -> DataFrame:
    """Bucket a numeric column on explicit split points (MLlib Bucketizer
    semantics without the ML pipeline machinery): bucket i covers
    [splits[i], splits[i+1]), the last bucket closes at splits[-1]; values
    outside the range and NULLs get NULL. Pure Column comparison chain —
    codegen, no UDF, and Catalyst folds the constants."""
    out_col = out_col or f"{colname}_bucket"
    c = F.col(colname)
    b = F.lit(0)
    for s in splits[1:-1]:
        b = b + (c >= F.lit(float(s))).cast("int")
    expr = F.when(
        c.isNull() | (c < F.lit(float(splits[0])))
        | (c > F.lit(float(splits[-1]))), F.lit(None).cast("int")
    ).otherwise(F.when(c == F.lit(float(splits[-1])),
                       F.lit(len(splits) - 2)).otherwise(b))
    return df.withColumn(out_col, expr)


# ---- PCA ---------------------------------------------------------------------

def fit_pca(df: DataFrame, columns: Sequence[str], *, n_components: int,
            method: str = "svd") -> dict:
    """``fit-pca`` (neanderthal.clj:199). Means + covariance computed
    distributed (one agg pass + one outer-product agg); eigendecomposition
    of the small d x d covariance on the driver via numpy — the standard
    scale pattern (d is small, n is 100 TB)."""
    import numpy as np

    d = len(columns)
    means = fit_std_scale(df, columns)["stats"]
    mu = np.array([means[c][0] for c in columns])
    # covariance: E[(x-mu)(x-mu)^T] via sum of products aggregation
    prods = []
    for i, ci in enumerate(columns):
        for j, cj in enumerate(columns[: i + 1]):
            prods.append(F.avg((F.col(ci) - F.lit(float(mu[i]))) *
                               (F.col(cj) - F.lit(float(mu[j])))).alias(f"p_{i}_{j}"))
    row = df.agg(*prods).collect()[0].asDict()
    cov = np.zeros((d, d))
    for i in range(d):
        for j in range(i + 1):
            cov[i, j] = cov[j, i] = row[f"p_{i}_{j}"]
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1]
    eigvals, eigvecs = eigvals[order], eigvecs[:, order]
    comps = eigvecs[:, :n_components]  # d x k
    return {"columns": list(columns), "means": mu.tolist(),
            "components": comps.tolist(),
            "explained_variance": eigvals[:n_components].tolist(),
            "method": method}


def transform_pca(df: DataFrame, fitted: dict, *, out_prefix: str = "pc") -> DataFrame:
    """``transform-pca`` (neanderthal.clj:262): project onto components with
    pure Column arithmetic (k small) — no vector assembly, no UDF."""
    cols = fitted["columns"]
    mu = fitted["means"]
    comps = fitted["components"]  # d x k
    k = len(comps[0])
    out = df
    for j in range(k):
        expr = F.lit(0.0)
        for i, c in enumerate(cols):
            expr = expr + (F.col(c) - F.lit(mu[i])) * F.lit(comps[i][j])
        out = out.withColumn(f"{out_prefix}{j}", expr)
    return out.drop(*cols)


# ---- correlation ---------------------------------------------------------------

def correlation_table(df: DataFrame, columns: Sequence[str] | None = None,
                      method: str = "pearson") -> dict[str, dict[str, float]]:
    """``correlation-table`` (math.clj:37): all-pairs correlation via
    ml.stat.Correlation on an assembled vector (single distributed pass).
    method: 'pearson' | 'spearman' | 'kendall'.

    Kendall has no distributed MLlib implementation; this table runs
    driver-side over a bounded sample (5k rows; numpy tau-b, scipy-free) and
    WARNS when it truncates — use :func:`kendall_tau_exact` for the exact
    full-data distributed path (bucketed-rank pair counting)."""
    cols = list(columns) if columns else [c for c, t in df.dtypes
                                          if t in ("double", "float", "int", "bigint",
                                                   "smallint", "tinyint")]
    if method == "kendall":
        import numpy as np

        cap = 5_000
        n = df.count()
        if n > cap:
            import warnings
            warnings.warn(
                f"correlation_table(method='kendall'): input has {n} rows; "
                f"tau is computed on a {cap}-row sample (approximation). "
                f"Use kendall_tau_exact() for the exact distributed path.",
                RuntimeWarning, stacklevel=2)
        pdf = (df.select(*cols).sample(False, min(1.0, cap / max(1, n)), 42)
                 .limit(cap).toPandas())

        def tau_b(x: "np.ndarray", y: "np.ndarray") -> float:
            sx = np.sign(x[:, None] - x[None, :])
            sy = np.sign(y[:, None] - y[None, :])
            iu = np.triu_indices(len(x), 1)
            sx, sy = sx[iu], sy[iu]
            pq = float((sx * sy).sum())
            nx = float((sx != 0).sum())
            ny = float((sy != 0).sum())
            denom = np.sqrt(nx * ny)
            return pq / denom if denom else float("nan")

        arrs = {c: pdf[c].to_numpy(dtype="float64") for c in cols}
        return {ci: {cj: (1.0 if ci == cj else tau_b(arrs[ci], arrs[cj]))
                     for cj in cols} for ci in cols}

    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation
    vec = VectorAssembler(inputCols=cols, outputCol="__vec__", handleInvalid="skip")
    assembled = vec.transform(df.select(*cols))
    mat = Correlation.corr(assembled, "__vec__", method).collect()[0][0].toArray()
    return {ci: {cj: float(mat[i][j]) for j, cj in enumerate(cols)}
            for i, ci in enumerate(cols)}


def _kendall_driver(cell_rows, n_cells: int) -> dict:
    """Knight's weighted O(c log c) tau-b over collected (x, y, w) cells:
    sort by (x, y), walk equal-x groups querying a Fenwick tree over
    y-order BEFORE inserting the group (tied-x pairs contribute 0), then
    closed-form tie terms. Exact with python ints — no overflow bound."""
    import math

    cells = sorted((r["x"], r["y"], int(r["w"])) for r in cell_rows)
    ys = sorted({y for _, y, _ in cells})
    y_code = {y: i + 1 for i, y in enumerate(ys)}
    size = len(ys)
    tree = [0] * (size + 1)

    def bit_add(i, v):
        while i <= size:
            tree[i] += v
            i += i & (-i)

    def bit_sum(i):
        s = 0
        while i > 0:
            s += tree[i]
            i -= i & (-i)
        return s

    s_val, inserted, i = 0, 0, 0
    while i < len(cells):
        j = i
        while j < len(cells) and cells[j][0] == cells[i][0]:
            j += 1
        for k in range(i, j):
            code = y_code[cells[k][1]]
            lt = bit_sum(code - 1)
            gt = inserted - bit_sum(code)
            s_val += cells[k][2] * (lt - gt)
        for k in range(i, j):
            bit_add(y_code[cells[k][1]], cells[k][2])
            inserted += cells[k][2]
        i = j

    n = sum(w for _, _, w in cells)
    from collections import defaultdict
    gx, gy = defaultdict(int), defaultdict(int)
    for x, y, w in cells:
        gx[x] += w
        gy[y] += w
    tx = sum(t * (t - 1) for t in gx.values())
    ty = sum(t * (t - 1) for t in gy.values())
    n0 = n * (n - 1) // 2
    n1, n2 = tx // 2, ty // 2
    denom = math.sqrt(float(n0 - n1) * float(n0 - n2))
    tau = (s_val / denom) if denom else float("nan")
    return {"tau": tau, "n": n, "s": s_val, "n_cells": n_cells}


def kendall_tau_exact(df: DataFrame, xcol: str, ycol: str, *,
                      n_buckets: int = 32,
                      driver_threshold: int = 20_000) -> dict:
    """EXACT Kendall's tau-b on the FULL data, distributed — parity with the
    reference, which computes kendall on all rows (math.clj:37), instead of
    :func:`correlation_table`'s sampled bound.

    Algorithm (bucketed-rank pair counting). tau-b needs S = sum over pairs
    of sign(dx)*sign(dy) plus the x/y tie terms. Work happens on the
    DISTINCT (x, y) cell table (count w per cell) — Zipfian/measure-like
    columns collapse heavily, so |cells| <= n and usually << n:

    1. dense ranks rx, ry from the distinct-value tables via the
       distributed contiguous index (range-partitioned numbering +
       broadcast offsets — never a single-partition global window).
    2. x-buckets: xb = rx // ceil(Dx/n_buckets). Equal x never spans two
       buckets, so every cross-bucket pair has sign(dx) = +1.
    3. cross-bucket S: each cell fans its weight out to LATER buckets
       (<= n_buckets copies); one window per target bucket ordered by ry
       — rangeBetween(-inf, -1) counts strictly-smaller-y mass, the
       partition total minus rangeBetween(-inf, 0) counts strictly-larger
       — S_cross = sum(w_query * (less - greater)). All JVM-side; the
       shuffle carries O(|cells| * n_buckets) slim rows; parallelism =
       n_buckets (raise it for bigger clusters).
    4. within-bucket S: per-bucket applyInPandas runs Knight's
       O(c log c) Fenwick sweep over the bucket's cells (c ~ |cells| /
       n_buckets per task, bounded Python; arbitrarily precise ints).
    5. tie terms n1/n2 from per-value groupBys; tau = S / sqrt((n0-n1)(n0-n2)).

    Returns {"tau": float, "n": int, "s": int, "n_cells": int}. Runs a
    bounded number of jobs (rank indexes + three small aggregates) — the
    price of exactness; every per-row structure stays distributed. Exact
    S accumulation uses int64 partials: exact for n up to ~3e9 rows (S is
    bounded by n²; beyond that the tau denominator is float anyway)."""
    import math

    import numpy as np

    from ..operators.selection import with_row_index

    pts = (df.select(F.col(xcol).alias("x"), F.col(ycol).alias("y"))
             .filter(F.col(xcol).isNotNull() & F.col(ycol).isNotNull()))
    cells = pts.groupBy("x", "y").agg(F.count(F.lit(1)).alias("w"))
    cells = materialize(cells)  # reused by 4 downstream jobs

    # Small-cell fast path: the distributed pipeline costs ~8 scheduler
    # round-trips (checkpoints, range-partition sampling, two pandas
    # stages) — pure overhead when the DISTINCT (x,y) table is tiny (the
    # reference computes fully in memory, math.clj:37). The aggregation
    # above already collapsed the data, so collecting ≤ driver_threshold
    # cells is bounded regardless of row count; Knight's O(c log c) sweep
    # finishes in milliseconds. Set driver_threshold=0 to force the
    # distributed path.
    n_cells = cells.count()
    if n_cells <= driver_threshold:
        rows = cells.collect()
        return _kendall_driver(rows, n_cells)

    # x needs a DENSE rank (balanced buckets over distinct values, equal x
    # never split); y needs only an ORDER — the raw value is order-
    # isomorphic to its rank, so no distinct/index/join on the y side.
    xr = with_row_index(cells.select("x").distinct(), order_by="x", name="rx")
    d_x = xr.count()
    bsize = max(1, math.ceil(d_x / n_buckets))
    n_b = math.ceil(d_x / bsize)
    ranked = materialize(cells.join(xr, "x")
                              .withColumn("xb", F.floor(F.col("rx") / bsize))
                              .select("rx", F.col("y").alias("ry"), "w", "xb"))

    # --- cross-bucket merge pass (sign(dx) = +1 by construction) ---
    # For every cell q the cross-bucket contribution is
    #   w_q * (mass{xb < q.xb, ry < q.ry} - mass{xb < q.xb, ry > q.ry}).
    # Rather than fanning each cell out to every later bucket (O(cells ×
    # n_buckets) exchange — quadratic-ish when columns are near-continuous
    # and |cells| ≈ n), range-partition the cells by ry ONCE and run one
    # mapInPandas merge: each partition keeps per-bucket cumulative masses
    # as numpy cumsums (a [n_buckets × rows] prefix grid), and mass from
    # other partitions enters through two tiny broadcast tables — earlier-
    # partition offsets and global bucket totals (n_part × n_buckets
    # numbers). O(cells) rows move, exactly once. Equal ry keys never span
    # partitions (RangePartitioner maps equal keys together), so the
    # strict </> splits stay exact at partition boundaries.
    # pass A/B must agree: pass A (the pb collect) stores the partitions,
    # pass B merges that stored copy
    by_ry = materialize(ranked.repartitionByRange(n_buckets, "ry")
                              .sortWithinPartitions("ry")
                              .withColumn("__pid__", F.spark_partition_id()),
                        eager=False)
    pb = (by_ry.groupBy("__pid__", "xb").agg(F.sum("w").alias("m"))
               .collect())
    n_parts = max((r["__pid__"] for r in pb), default=-1) + 1
    grid = np.zeros((n_parts, n_b), dtype=np.int64)
    for r in pb:
        grid[r["__pid__"], r["xb"]] = r["m"]
    # bucket-prefix (mass in buckets < b), then partition-prefix of that
    bpref = np.concatenate(
        [np.zeros((n_parts, 1), np.int64), np.cumsum(grid, axis=1)[:, :-1]],
        axis=1)
    earlier = np.concatenate(
        [np.zeros((1, n_b), np.int64), np.cumsum(bpref, axis=0)[:-1]], axis=0)
    total_bpref = bpref.sum(axis=0)
    bc = df.sparkSession.sparkContext.broadcast((earlier, total_bpref))

    def _merge(it):
        import pandas as pd
        from pyspark import TaskContext
        earlier_, total_ = bc.value
        pid = TaskContext.get().partitionId()
        chunks = [pdf for pdf in it if not pdf.empty]
        if not chunks:
            return
        # Arrow delivers a partition as multiple batches; the prefix grid
        # needs the WHOLE ry-sorted partition at once (order is preserved
        # across batches by sortWithinPartitions).
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 \
            else chunks[0]
        ry = pdf["ry"].to_numpy()
        w = pdf["w"].to_numpy(dtype=np.int64)
        xb = pdf["xb"].to_numpy()
        # [n_buckets+1 × rows] prefix grid: cum[b, j] = local mass in
        # buckets < b among the first j+1 rows
        onehot = np.zeros((n_b, len(ry)), dtype=np.int64)
        np.add.at(onehot, (xb, np.arange(len(ry))), w)
        cum = np.cumsum(np.cumsum(onehot, axis=0), axis=1)
        cum = np.concatenate(
            [np.zeros((1, len(ry)), np.int64), cum], axis=0)
        p_lt = np.searchsorted(ry, ry, side="left")   # rows with ry' < ry
        p_le = np.searchsorted(ry, ry, side="right")  # rows with ry' <= ry
        zero = np.zeros(len(ry), dtype=np.int64)
        local_lt = np.where(p_lt > 0, cum[xb, p_lt - 1], zero)
        local_le = np.where(p_le > 0, cum[xb, p_le - 1], zero)
        less = earlier_[pid][xb] + local_lt
        # later partitions hold only ry' > ry, so global mass below bucket
        # minus (earlier + local ≤-mass) is exactly the strictly-greater mass
        greater = total_[xb] - (earlier_[pid][xb] + local_le)
        yield pd.DataFrame({"s": [int(np.dot(w, less - greater))]})

    s_cross = (by_ry.mapInPandas(_merge, "s long")
                    .agg(F.coalesce(F.sum("s"), F.lit(0)).alias("s"))
                    .collect()[0]["s"])

    # --- within-bucket Fenwick sweep (exact, per-bucket Python) ---
    def _bucket_s(pdf):
        import pandas as pd
        pdf = pdf.sort_values(["rx", "ry"])
        ry_codes = pdf["ry"].rank(method="dense").astype(int).to_numpy()
        ws_ = pdf["w"].to_numpy()
        rxs = pdf["rx"].to_numpy()
        size = int(ry_codes.max()) if len(ry_codes) else 0
        tree = [0] * (size + 1)

        def bit_add(i, v):
            while i <= size:
                tree[i] += v
                i += i & (-i)

        def bit_sum(i):  # sum of codes 1..i
            s = 0
            while i > 0:
                s += tree[i]
                i -= i & (-i)
            return s

        s_val, inserted, i = 0, 0, 0
        while i < len(rxs):
            j = i
            while j < len(rxs) and rxs[j] == rxs[i]:
                j += 1
            for k in range(i, j):  # query before inserting the tied-x group
                lt = bit_sum(int(ry_codes[k]) - 1)
                gt = inserted - bit_sum(int(ry_codes[k]))
                s_val += int(ws_[k]) * (lt - gt)
            for k in range(i, j):
                bit_add(int(ry_codes[k]), int(ws_[k]))
                inserted += int(ws_[k])
            i = j
        return pd.DataFrame({"s": [s_val]})

    s_within = (ranked.groupBy("xb").applyInPandas(_bucket_s, "s long")
                      .agg(F.coalesce(F.sum("s"), F.lit(0)).alias("s"))
                      .collect()[0]["s"])

    ties = cells.agg(
        F.coalesce(F.sum(F.col("w") * (F.col("w") - 1)), F.lit(0)).alias("txy2"),
        F.coalesce(F.sum("w"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("n_cells")).collect()[0]
    tx = (cells.groupBy("x").agg(F.sum("w").alias("t"))
               .agg(F.coalesce(F.sum(F.col("t") * (F.col("t") - 1)), F.lit(0))
                     .alias("t2")).collect()[0]["t2"])
    ty = (cells.groupBy("y").agg(F.sum("w").alias("t"))
               .agg(F.coalesce(F.sum(F.col("t") * (F.col("t") - 1)), F.lit(0))
                     .alias("t2")).collect()[0]["t2"])
    n = int(ties["n"])
    n0 = n * (n - 1) // 2
    n1, n2 = int(tx) // 2, int(ty) // 2
    s = int(s_cross) + int(s_within)
    denom = math.sqrt(float(n0 - n1) * float(n0 - n2))
    tau = (s / denom) if denom else float("nan")
    return {"tau": tau, "n": n, "s": s, "n_cells": int(ties["n_cells"])}


# ---- splits --------------------------------------------------------------------

def train_test_split(df: DataFrame, *, test_fraction: float = 0.3,
                     seed: int | None = None) -> tuple[DataFrame, DataFrame]:
    """``train-test-split`` (modelling.clj:178)."""
    train, test = df.randomSplit([1.0 - test_fraction, test_fraction], seed=seed)
    return train, test


def k_fold_datasets(df: DataFrame, k: int, *, seed: int | None = None
                    ) -> list[tuple[DataFrame, DataFrame]]:
    """``k-fold-datasets`` (modelling.clj:139): k (train, test) pairs with
    EXACT near-equal fold sizes — the reference's shape law
    (modelling_test.clj:9-17: 59 rows, 5 folds -> test sizes
    [12 12 12 12 11], i.e. the first n mod k folds get the extra row).
    Rows are shuffled by a seeded hash of the hashable columns
    (map-typed columns are excluded — Spark's hash functions reject
    MapType; with NO hashable column the scan order itself is used),
    given a contiguous index (range-repartition + broadcast offsets —
    never a single-partition window; selection.py machinery), and fold i
    is ``idx % k``. ``seed=None`` draws a fresh random seed per call —
    the unseeded-CV contract where repeated runs give independent splits;
    pass a seed for reproducible folds. A ``rand()``-bucketed tag (an
    earlier shape) gave binomially RANDOM fold sizes, breaking the
    reference's exact-split contract and leaving fold balance to chance
    on small datasets."""
    from ..operators.selection import (_free_name, contiguous_scan_index,
                                       with_row_index)
    if k < 2:
        raise ValueError("k_fold_datasets: k must be >= 2")
    if seed is None:
        import random
        seed = random.randrange(1 << 31)
    hashable = [c for c, t in df.dtypes if "map<" not in t]
    name = _free_name(df.columns, "__kfold_idx__")
    if hashable:
        order = F.xxhash64(F.struct(*hashable), F.lit(seed))
        tagged = with_row_index(df, order_by=order, name=name)
    else:
        tagged = contiguous_scan_index(df, name)
    fold = _free_name(df.columns, "__fold__")
    # pin assignment: folds must be a PARTITION of the data — recomputing
    # the hash sort per filter could re-break ties differently and leak
    # rows across folds
    tagged = materialize(
        tagged.withColumn(fold, (F.col(name) % k).cast("int")).drop(name))
    return [(tagged.filter(F.col(fold) != i).drop(fold),
             tagged.filter(F.col(fold) == i).drop(fold))
            for i in range(k)]
