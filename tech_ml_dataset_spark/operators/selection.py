"""Projection / row-selection / column-management operators.

Reference semantics: tech.v3.dataset.base select family
(src/tech/v3/dataset/base.clj:231,301,397,408), head/tail/sample
(dataset_api.clj:381-504), rename/add/drop (base.clj:115-328).

Row-position semantics: the reference addresses rows by physical index
(impl/column.clj:241-277). Spark has no stable physical order after a
shuffle, so positional operators here take an explicit ``order_by`` —
when omitted we fall back to the scan order via monotonically_increasing_id,
which is deterministic for a fresh file read but NOT across shuffles; the
docstrings call this out. This is the "deterministic-order contract" from
SURVEY.md §7.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..dtutil import materialize

IDX_COL = "__row_idx__"


def _free_name(cols, base: str) -> str:
    """Collision-free internal column name: ``base`` itself, or ``base<i>``
    — internal helpers must never clobber a same-named user column."""
    if base not in cols:
        return base
    i = 0
    while f"{base}{i}" in cols:
        i += 1
    return f"{base}{i}"


def _contiguous_index(df: DataFrame, order_within, name: str) -> DataFrame:
    """Contiguous 0-based global index WITHOUT a single-partition window.

    ``row_number() over (ORDER BY ...)`` with no partitioning funnels every
    row through ONE task — the canonical 100 TB killer. Instead: number rows
    per partition in parallel and add broadcast per-partition offsets
    (zipWithIndex's scheme, in DataFrame terms):

    1. tag rows with ``spark_partition_id()``
    2. a count-only aggregation branch computes per-pid counts, and a
       running-sum window over that TINY table (one row per partition)
       turns them into cumulative offsets — entirely inside the plan, no
       driver collect
    3. broadcast-join the offsets back and add a PER-PARTITION row_number

    The row-numbering window partitions by pid, so its exchange spreads
    across the cluster; the only single-partition window runs over ≤
    #partitions rows.

    This shape numbers rows from ``monotonically_increasing_id``'s bit
    layout (pid = id >> 33, in-partition position = id & (2^33-1) — the
    documented contract of the expression) after an in-partition sort,
    instead of a ``row_number() OVER (PARTITION BY pid ORDER BY ...)``
    window: the window's clustering requirement forced a SECOND full-data
    hash exchange plus a full re-sort after the checkpoint (the
    checkpointed RDD reports UnknownPartitioning), measured as the
    dominant cost of every positional operator. ``sortWithinPartitions``
    costs the same sort ONCE, before the checkpoint, and the mono id is
    then pure per-row arithmetic — the data branch has no exchange at all
    past the checkpoint, only the broadcast-offset join. (2^33 rows per
    partition is monotonically_increasing_id's own documented bound.)

    The plan FORKS at the tagged frame (offsets branch + data branch), and
    the frame holds mono ids, so it is materialized ONCE, eagerly
    (:func:`dtutil.materialize`): otherwise each branch re-executes the
    upstream lineage, and a nondeterministic upstream (range-exchange
    bound sampling, round-robin repartition, ``sample``) can give the
    branches DIFFERENT partition contents, silently duplicating/skipping
    index values.

    ``order_within=None`` numbers each partition in its arrival order."""
    pid = _free_name(df.columns, "__pid__")
    off = _free_name(df.columns, "__off__")
    mono = _free_name(df.columns, "__mono__")
    if order_within is not None:
        order_cols = [F.col(c) if isinstance(c, str) else c
                      for c in order_within]
        df = df.sortWithinPartitions(*order_cols)
    # the mono projection is nondeterministic, so Catalyst will not push
    # it below the sort; it numbers the SORTED partition stream
    tagged = materialize(df.withColumn(mono, F.monotonically_increasing_id()))
    tagged = tagged.withColumn(pid, F.shiftrightunsigned(mono, 33)
                               .cast("int"))
    woff = W.orderBy(pid).rowsBetween(W.unboundedPreceding, -1)
    off_df = (tagged.groupBy(pid)
                    .agg(F.count(F.lit(1)).alias("__cnt__"))
                    .select(pid,
                            F.coalesce(F.sum("__cnt__").over(woff),
                                       F.lit(0)).alias(off)))
    sub = F.col(mono).bitwiseAND(F.lit((1 << 33) - 1))
    return (tagged.join(F.broadcast(off_df), pid)
                  .withColumn(name, F.col(off) + sub)
                  .drop(pid, off, mono))


def with_row_index(df: DataFrame, order_by=None, name: str = IDX_COL) -> DataFrame:
    """Attach a 0-based row index.

    With ``order_by``: contiguous index in that order — range-repartition +
    per-partition numbering + broadcast offsets (see ``_contiguous_index``),
    never a single-partition global window.
    Without: ``monotonically_increasing_id`` — no shuffle, preserves scan
    order per partition; ids are non-contiguous but monotone with file order.
    """
    if order_by is not None:
        cols = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
        cols = [F.col(c) if isinstance(c, str) else c for c in cols]
        # range-repartition orders partitions by key range; its bounds are
        # SAMPLED, so the frame is checkpointed inside _contiguous_index
        # before the plan forks (divergent bounds across branches would
        # corrupt the index). The pid-window sorts within, no extra sort.
        sdf = df.repartitionByRange(*cols)
        return _contiguous_index(sdf, cols, name)
    return df.withColumn(name, F.monotonically_increasing_id())


def contiguous_scan_index(df: DataFrame, name: str = IDX_COL) -> DataFrame:
    """Contiguous 0-based index in scan order (no user ordering): mono-id
    within partition + broadcast offsets. The input is materialized once
    (see ``_contiguous_index``) so the two plan branches agree even when
    the input recomputes nondeterministically."""
    return _contiguous_index(df, None, name)


def select_columns(df: DataFrame, cols) -> DataFrame:
    """``select-columns`` (base.clj:301). ``cols`` may be names, a predicate
    over names, or a mapping {old -> new} (select+rename, like the reference's
    map argument). Repeated names keep their FIRST position only
    (dataset_test.clj:1700-1704 select-columns-repeat-columns — Spark
    would otherwise mint an ambiguous duplicate column)."""
    if callable(cols) and not isinstance(cols, (str, Column)):
        return df.select(*[c for c in df.columns if cols(c)])
    if isinstance(cols, Mapping):
        return df.select(*[F.col(o).alias(n) for o, n in cols.items()])
    cols = [cols] if isinstance(cols, str) else list(cols)
    # dedupe STRING names only (first position wins); Column objects are
    # unhashable (pyspark defines __eq__ without __hash__) and pass
    # through untouched
    seen, out = set(), []
    for c in cols:
        if isinstance(c, str):
            if c in seen:
                continue
            seen.add(c)
        out.append(c)
    return df.select(*out)


def drop_columns(df: DataFrame, cols) -> DataFrame:
    """``drop-columns``/``remove-columns`` (base.clj:142,159)."""
    if callable(cols) and not isinstance(cols, str):
        return df.drop(*[c for c in df.columns if cols(c)])
    return df.drop(*([cols] if isinstance(cols, str) else list(cols)))


def rename_columns(df: DataFrame, mapping) -> DataFrame:
    """``rename-columns`` (base.clj:328). A mapping (or sequence of
    (old, new) pairs) renames by name; a positional SEQUENCE of plain
    names renames every column in order and must match the column count
    exactly (dataset_test.clj:708-724 — wrong length raises, and an
    unordered set raises because positions would be arbitrary)."""
    if isinstance(mapping, (set, frozenset)):
        raise TypeError("rename_columns: positional rename needs an ordered "
                        "sequence, not a set (column positions would be "
                        "arbitrary)")
    if isinstance(mapping, Mapping):
        return df.withColumnsRenamed(dict(mapping))
    mapping = list(mapping)
    if mapping and all(isinstance(x, (tuple, list)) and len(x) == 2
                       for x in mapping):
        # (old, new) pair sequence, read as dict(mapping)
        return df.withColumnsRenamed(dict(mapping))
    names = list(mapping)
    if len(names) != len(df.columns):
        raise ValueError(f"rename_columns: {len(names)} new names for "
                         f"{len(df.columns)} columns")
    return df.toDF(*names)


def add_or_update_column(df: DataFrame, name: str, col) -> DataFrame:
    """``add-or-update-column``/``assoc`` (base.clj:215; dataset.clj assoc
    semantics at impl/dataset.clj:137-465). Scalar values broadcast to a
    constant column like the reference's scalar assoc."""
    if not isinstance(col, Column):
        col = F.lit(col)
    return df.withColumn(name, col)


def update_column(df: DataFrame, name: str, fn: Callable[[Column], Column]) -> DataFrame:
    """``update-column`` (base.clj:173): fn over the existing column."""
    return df.withColumn(name, fn(F.col(name)))


def order_column_names(df: DataFrame, names: Iterable[str]) -> DataFrame:
    """``order-column-names`` (base.clj:180)."""
    names = list(names)
    rest = [c for c in df.columns if c not in set(names)]
    return df.select(*names, *rest)


def filter_rows(df: DataFrame, pred) -> DataFrame:
    """``filter`` (base.clj:464). ``pred`` is a Column/SQL-string predicate.
    Python-callable predicates are rejected: on Spark an opaque row-fn would
    break predicate pushdown and run row-at-a-time in Python — callers should
    express the predicate as a Column expression instead."""
    if callable(pred) and not isinstance(pred, (Column, str)):
        raise TypeError(
            "filter_rows takes a Column/SQL predicate; Python row functions "
            "defeat predicate pushdown (see SURVEY.md §4). Build the predicate "
            "with pyspark.sql.functions instead.")
    return df.filter(pred)


def filter_column(df: DataFrame, colname: str, pred=None) -> DataFrame:
    """``filter-column`` (base.clj:474): value equality, Column predicate fn,
    or (1-arg form) truthiness of the column itself."""
    c = F.col(colname)
    if pred is None:
        return df.filter(c.cast("boolean"))
    if isinstance(pred, Column):
        return df.filter(pred)
    if callable(pred):
        out = pred(c)
        if not isinstance(out, Column):
            raise TypeError("filter_column fn must map Column -> Column")
        return df.filter(out)
    return df.filter(c == F.lit(pred))


def head(df: DataFrame, n: int = 5) -> DataFrame:
    """``head`` (dataset_api.clj:381): LIMIT n — Catalyst plans CollectLimit
    / limit pushdown, reading only what's needed."""
    return df.limit(n)


def tail(df: DataFrame, n: int = 5, order_by=None) -> DataFrame:
    """``tail`` (dataset_api.clj:393). Needs an order; with ``order_by`` we
    take top-n descending then restore order (TakeOrderedAndProject — no full
    sort). Without, falls back to scan-order index."""
    if order_by is None:
        name = _free_name(df.columns, IDX_COL)
        idx = with_row_index(df, name=name)
        return (idx.orderBy(F.col(name).desc()).limit(n)
                   .orderBy(name).drop(name))
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    return (df.orderBy(*[F.col(c).desc() for c in cols]).limit(n)
              .orderBy(*cols))


def sample(df: DataFrame, n: int | None = None, *, fraction: float | None = None,
           replacement: bool = False, seed: int | None = None) -> DataFrame:
    """``sample``/``rand-nth`` (dataset_api.clj:416,504). Fraction sampling
    is the per-row-coin-flip path; ``n`` without replacement is an exact
    uniform reservoir in ONE job — rank by rand and keep the n smallest,
    which Spark plans as TakeOrderedAndProject (per-partition heaps of n,
    no global sort, no count() pre-scan). With-replacement n falls back to
    count-based oversampling (a bootstrap needs the population size)."""
    if fraction is not None:
        return df.sample(withReplacement=replacement, fraction=fraction, seed=seed)
    if n is None:
        n = 5
    if not replacement:
        rk = _free_name(df.columns, "__rk__")
        return (df.withColumn(rk, F.rand(seed))
                  .orderBy(rk).limit(n).drop(rk))
    total = df.count()
    if total == 0:
        return df
    frac = min(1.0, (n / total) * 1.3 + 1e-6)
    return df.sample(withReplacement=replacement, fraction=frac, seed=seed).limit(n)


def shuffle(df: DataFrame, seed: int | None = None) -> DataFrame:
    """``shuffle`` (dataset_api.clj:407): random total order."""
    return df.orderBy(F.rand(seed))


def sample_by(df: DataFrame, col: str, fractions: dict, seed: int | None = None
              ) -> DataFrame:
    """Stratified sample (parity-plus; training-data pipelines rebalance
    classes this way): per-stratum Bernoulli fractions, one scan, no
    shuffle — each row flips its stratum's coin independently."""
    return df.sampleBy(col, fractions, seed)


def sample_stratified_exact(df: DataFrame, by, n: int, *,
                            key_col: str, seed: int = 42,
                            salt_buckets: int | None = None) -> DataFrame:
    """EXACT stratified sample: exactly ``min(n, stratum size)`` rows per
    stratum (parity-plus; ``sample_by``'s Bernoulli fractions only hit the
    target count in expectation — class-balancing a training mix usually
    wants the exact count).

    Selection is deterministic and engine-portable: rows rank within their
    stratum by ``md5(key || ':' || seed)`` (md5 of the same string is
    identical everywhere, unlike engine-native hash functions), key as the
    tiebreak, and the first ``n`` win. Same data + seed -> same sample, on
    any engine — which also makes the operator ORACLE-able in plain SQL.

    Scale shape: one window partitioned BY THE STRATUM KEY — parallel
    across strata, no single-partition funnel; the rank prunes to n before
    anything else happens. A MEGA-stratum (one class owning half the
    corpus) would still sort inside one task — ``salt_buckets=S`` guards
    that with a two-phase top-n that returns the IDENTICAL sample: phase
    1 ranks within (stratum, xxhash64(key) mod S) sub-buckets — S-way
    parallel — and keeps each sub-bucket's first n (a row outranked by n
    rows in its own sub-bucket is outranked by n rows in its stratum, so
    nothing a global top-n could pick is discarded); phase 2 re-ranks the
    <= S*n survivors per stratum. Same md5 ordering end-to-end, so the
    SQL oracle law is unchanged."""
    by = [by] if isinstance(by, str) else list(by)
    from pyspark.sql import Window
    h = F.md5(F.concat_ws(":", F.col(key_col).cast("string"),
                          F.lit(str(seed))))
    out = df
    if salt_buckets is not None and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(*by, salt).orderBy(h.asc(),
                                                   F.col(key_col).asc())
        out = (out.withColumn("__rn__", F.row_number().over(w1))
                  .filter(F.col("__rn__") <= n).drop("__rn__"))
    w = Window.partitionBy(*by).orderBy(h.asc(), F.col(key_col).asc())
    return (out.withColumn("__rn__", F.row_number().over(w))
               .filter(F.col("__rn__") <= n)
               .drop("__rn__"))


def temperature_resample(df: DataFrame, by: str, total: int, *,
                         alpha: float = 0.3, key_col: str,
                         seed: int = 42,
                         salt_buckets: int | None = None) -> DataFrame:
    """Temperature-based corpus rebalancing (multilingual-LM standard:
    exponentiated sampling, mC4 / XLM-R, Conneau et al. 2020 §3.1) —
    draw ~``total`` rows with per-group budgets proportional to
    ``n_g^alpha``: ``alpha=1`` keeps natural proportions, ``alpha -> 0``
    approaches uniform-per-group, the usual 0.2-0.7 range up-samples
    tail languages/domains without letting the head swamp the mix.

    Per-group target ``t_g = min(n_g, floor(total * n_g^alpha /
    sum(n^alpha) + 0.5))`` (half-up; without-replacement cap at the
    group size), then exactly the first ``t_g`` rows of each group
    under the same engine-portable ``md5(key || ':' || seed)`` ranking
    as :func:`sample_stratified_exact` — deterministic, retry-stable,
    and SQL-replayable (the oracle recomputes counts, budgets, and
    ranks from scratch).

    Scale shape: one map-side-combined count per group (the group
    census is tiny — languages/domains number in the hundreds), the
    budget map rides the rank filter as a broadcast join, and the rank
    itself is the stratum-partitioned window (``salt_buckets`` guards a
    mega-group exactly as in sample_stratified_exact)."""
    if total <= 0:
        raise ValueError(f"temperature_resample: total must be positive, "
                         f"got {total}")
    if alpha <= 0:
        raise ValueError(f"temperature_resample: alpha must be > 0 "
                         f"(alpha->0 is uniform; use sample_stratified_"
                         f"exact for exact per-group n), got {alpha}")
    counts = {r["g"]: r["n"] for r in
              df.groupBy(F.col(by).alias("g"))
                .agg(F.count(F.lit(1)).alias("n")).collect()}
    wsum = sum(n ** alpha for n in counts.values())
    import math
    targets = [(g, min(n, int(math.floor(total * (n ** alpha) / wsum
                                         + 0.5))))
               for g, n in counts.items()]
    spark = df.sparkSession
    gtype = df.schema[by].dataType.simpleString()
    tdf = F.broadcast(spark.createDataFrame(
        targets, f"`{by}` {gtype}, __t__ long"))
    from pyspark.sql import Window
    h = F.md5(F.concat_ws(":", F.col(key_col).cast("string"),
                          F.lit(str(seed))))
    out = df
    if salt_buckets is not None and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(by, salt).orderBy(h.asc(),
                                                  F.col(key_col).asc())
        out = (out.join(tdf, by)
                  .withColumn("__rn__", F.row_number().over(w1))
                  .filter(F.col("__rn__") <= F.col("__t__"))
                  .drop("__rn__"))
    else:
        out = out.join(tdf, by)
    w = Window.partitionBy(by).orderBy(h.asc(), F.col(key_col).asc())
    return (out.withColumn("__rn__", F.row_number().over(w))
               .filter(F.col("__rn__") <= F.col("__t__"))
               .drop("__rn__", "__t__"))


def freq_items(df: DataFrame, cols, support: float = 0.01) -> DataFrame:
    """Approximate frequent items (parity-plus over the reference's sketch
    surface, reductions/apache_data_sketch.clj): single-pass misra-gries
    style heavy hitters via df.stat.freqItems — no shuffle of the full
    distinct domain, the 100 TB alternative to groupBy-count-orderBy."""
    cs = [cols] if isinstance(cols, str) else list(cols)
    return df.stat.freqItems(cs, support)


def _indexed(df: DataFrame, order_by) -> tuple[DataFrame, str]:
    """Attach an internal positional index under a collision-free name."""
    name = _free_name(df.columns, IDX_COL)
    idx = with_row_index(df, order_by=order_by, name=name) if order_by is not None \
        else contiguous_scan_index(df, name)
    return idx, name


def take_nth(df: DataFrame, n: int, order_by=None) -> DataFrame:
    """``take-nth`` (base.clj:797): every n-th row in order."""
    idx, name = _indexed(df, order_by)
    return idx.filter(F.col(name) % n == 0).drop(name)


def _resolve_row_indexes(df: DataFrame, indexes) -> list[int]:
    """Normalize an index collection, resolving NEGATIVE indices from the
    end (reference select-by-index law, dataset_test.clj:643-691:
    ``(select-rows ds -4)`` is the 4th row from the end). Negatives cost
    one count() action; plain non-negative lists stay action-free.

    A BOOLEAN sequence is a mask (reference select-bool law,
    dataset_test.clj:1741-1750) — position i is kept iff mask[i]. The
    check must precede int coercion: bool subclasses int, so a mask fed
    to the index path would silently become indices 0/1 (rows 0 and 1
    over and over), a wrong answer rather than an error. numpy.bool_ is
    NOT a bool subclass and needs its own check (a numpy/pandas
    predicate mask is the common kind), and the mask length must equal
    the row count — a mask built against a stale/filtered copy is the
    classic wrong-length source and must fail loudly, not truncate."""
    def _is_bool(v):
        return isinstance(v, bool) or type(v).__module__ == "numpy"             and type(v).__name__ == "bool_"

    raw = [indexes] if isinstance(indexes, int) else list(indexes)
    if raw and all(_is_bool(i) for i in raw):
        n = df.count()
        if len(raw) != n:
            raise ValueError(
                f"boolean mask has {len(raw)} entries for {n} rows — "
                f"masks must match the row count exactly")
        return [i for i, b in enumerate(raw) if b]
    idxs = [int(i) for i in raw]
    if any(i < 0 for i in idxs):
        n = df.count()
        idxs = [i + n if i < 0 else i for i in idxs]
    return idxs


def select_rows(df: DataFrame, indexes, order_by=None) -> DataFrame:
    """``select-rows`` by index collection (base.clj:397; negative indices
    count from the end). Positional addressing requires a total order
    (see module docstring); the index column is computed, semi-joined
    against the wanted set (broadcast — index lists are small), and
    dropped."""
    idxs = _resolve_row_indexes(df, indexes)
    if not idxs:  # empty selection (e.g. all-False mask) — not a crash
        return df.limit(0)
    idx, name = _indexed(df, order_by)
    wanted = df.sparkSession.createDataFrame([(i,) for i in idxs], [name])
    return idx.join(F.broadcast(wanted), name, "left_semi").drop(name)


def drop_rows(df: DataFrame, indexes, order_by=None) -> DataFrame:
    """``drop-rows`` (base.clj:408): complement of select_rows (left_anti)."""
    idxs = _resolve_row_indexes(df, indexes)
    if not idxs:  # dropping nothing (e.g. all-False mask) — identity
        return df
    idx, name = _indexed(df, order_by)
    unwanted = df.sparkSession.createDataFrame([(i,) for i in idxs], [name])
    return idx.join(F.broadcast(unwanted), name, "left_anti").drop(name)


def select_columns_by_index(df: DataFrame, indexes) -> DataFrame:
    """``select-columns-by-index`` (dataset_test.clj:677-683): positional
    column selection, negative indices from the end. Pure projection."""
    names = df.columns
    idxs = [indexes] if isinstance(indexes, int) else list(indexes)
    return df.select(*[names[i] for i in idxs])


def shape(df: DataFrame) -> list[int]:
    """``shape`` (dataset_api.clj:368): column-major ``[n_columns,
    n_rows]``. One count action."""
    return [len(df.columns), df.count()]


def row_at(df: DataFrame, idx: int, order_by=None) -> dict:
    """``row-at`` (dataset_api.clj:162): the row at a positional index as
    a name->value dict; negative indices count from the end. Positional
    addressing needs a total order (module docstring) — rides the
    select-rows machinery, so the cost is one bounded collect."""
    rows = select_rows(df, [idx], order_by=order_by).collect()
    if not rows:
        raise IndexError(f"row_at: index {idx} out of range")
    return rows[0].asDict()


def rowvec_at(df: DataFrame, idx: int, order_by=None) -> list:
    """``rowvec-at`` (dataset_api.clj:204): the row at a positional index
    as a plain list in column order; negative indices from the end."""
    d = row_at(df, idx, order_by=order_by)
    return [d[c] for c in df.columns]


def empty_column_names(df: DataFrame) -> list[str]:
    """``empty-column-names`` (dataset_api.clj:218): names of columns
    whose every value is missing. ONE aggregation pass over all columns
    (count(col) skips nulls), not a per-column job."""
    row = df.agg(*[F.count(F.col(c)).alias(f"__c{i}__")
                   for i, c in enumerate(df.columns)]).collect()[0]
    return [c for i, c in enumerate(df.columns) if row[f"__c{i}__"] == 0]


def remove_empty_columns(df: DataFrame) -> DataFrame:
    """``remove-empty-columns`` (dataset_api.clj:228): drop all-missing
    columns (same single agg pass as :func:`empty_column_names`)."""
    empty = empty_column_names(df)
    return df.drop(*empty) if empty else df


def append_columns(df: DataFrame, other: DataFrame, *, order_by=None,
                   other_order_by=None) -> DataFrame:
    """``append-columns`` (dataset_api.clj:527): attach another dataset's
    columns POSITIONALLY (row i of ``other`` extends row i of ``df``).
    The reference zips physically-ordered columns; on a shuffled engine
    both sides get a contiguous index (per-partition numbering +
    broadcast offsets — see ``_contiguous_index``; supply ``order_by`` /
    ``other_order_by`` for an explicit total order) and join on it.
    Column-name collisions raise — the reference would produce a
    duplicate-named dataset, which Spark cannot represent. Row-count
    mismatches raise too (an inner index join would silently
    TRUNCATE to the shorter side — data loss, where the reference errors
    on mismatched column lengths). The check costs two count actions;
    this is a bounded-convenience API, not a scan path."""
    dup = set(df.columns) & set(other.columns)
    if dup:
        raise ValueError(f"append_columns: duplicate column names {sorted(dup)}")
    n_a, n_b = df.count(), other.count()
    if n_a != n_b:
        raise ValueError(f"append_columns: row counts differ "
                         f"({n_a} vs {n_b}); positional append needs "
                         f"equal-length datasets")
    a, na = _indexed(df, order_by)
    b, nb = _indexed(other, other_order_by)
    b = b.withColumnRenamed(nb, na) if nb != na else b
    return a.join(b, na, "inner").drop(na)


def reverse_rows(df: DataFrame, order_by=None) -> DataFrame:
    """``reverse-rows`` (base.clj:449). Without ``order_by`` the mono-id is
    enough — descending over a monotone id reverses scan order without the
    contiguous-index machinery."""
    name = _free_name(df.columns, IDX_COL)
    idx = with_row_index(df, order_by=order_by, name=name)
    return idx.orderBy(F.col(name).desc()).drop(name)


def min_n_by_column(df: DataFrame, colname: str, n: int, *, desc: bool = False) -> DataFrame:
    """``min-n-by-column`` top/bottom-K (dataset_api.clj:453). Spark plans
    TakeOrderedAndProject: per-partition heap + merge of K — no global sort,
    which is exactly what you want at 100 TB."""
    c = F.col(colname).desc() if desc else F.col(colname).asc()
    return df.orderBy(c).limit(n)
