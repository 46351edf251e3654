"""Joins — equi, pd-merge, cross, semi/anti, and as-of.

Reference semantics: tech.v3.dataset.join (hash-join-algo at
src/tech/v3/dataset/join.clj:204-266; inner/left/right at :308,:336,:322;
pd-merge at :376-579; left-join-asof at :747-799).

Spark-first notes:
* The reference has ONE join algorithm (single-JVM parallel hash join).
  Here Catalyst picks broadcast-hash / sort-merge / shuffled-hash per side
  size; we expose a ``broadcast`` hint for dimension tables.
* The reference groups nil keys together (join.clj:210-214), i.e. NULL==NULL
  matches. SQL `=` drops nulls. ``null_equal=True`` compiles to ``eqNullSafe``
  (`<=>`) to replicate reference behavior; default False = SQL semantics.
* Column-name collisions: pd-merge disambiguates non-key clashes as
  "right.<name>" (join.clj:486-520). We rename right-side clashes the same way.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..dtutil import materialize


def _normalize_keys(on) -> list[tuple[str, str]]:
    """Key spec -> [(left_key, right_key)]. Accepts "k", ("lk","rk"),
    ["k1","k2"], or [("lk","rk"), ...] — mirroring the reference's
    single-or-tuple key arg (join.clj:308)."""
    if isinstance(on, str):
        return [(on, on)]
    on = list(on)
    if len(on) == 2 and all(isinstance(x, str) for x in on) and on[0] != on[1]:
        # ambiguous: ("lk","rk") vs ["k1","k2"]; reference treats a 2-vector of
        # distinct names as (lkey, rkey) — keep that convention.
        return [(on[0], on[1])]
    out = []
    for k in on:
        if isinstance(k, str):
            out.append((k, k))
        else:
            lk, rk = k
            out.append((lk, rk))
    return out


def _suffix_clashes(left: DataFrame, right: DataFrame,
                    rkeys: Iterable[str]) -> tuple[DataFrame, dict[str, str]]:
    """Rename right-side non-key columns that clash with left as
    'right.<name>' (pd-merge convention, join.clj:486-520)."""
    rkeys = set(rkeys)
    clashes = {c: f"right.{c}" for c in right.columns
               if c in set(left.columns) and c not in rkeys}
    if clashes:
        right = right.withColumnsRenamed(clashes)
    return right, clashes


def join(left: DataFrame, right: DataFrame, on, how: str = "inner", *,
         null_equal: bool = False, broadcast_right: bool = False) -> DataFrame:
    """General equi-join with reference column-collision semantics.

    how: inner|left|right|outer|full|cross|left_semi|left_anti.
    ``null_equal=True`` -> eqNullSafe, matching the reference's nil-key
    grouping (join.clj:210-214).
    ``broadcast_right`` hints a broadcast-hash join for small dims —
    at 100 TB a dimension table must never be the shuffle side.
    """
    if how == "cross":
        right, _ = _suffix_clashes(left, right, [])
        return left.crossJoin(F.broadcast(right) if broadcast_right else right)

    keys = _normalize_keys(on)
    right, _ = _suffix_clashes(left, right, [rk for _, rk in keys])
    r = F.broadcast(right) if broadcast_right else right

    same_names = all(lk == rk for lk, rk in keys)
    if same_names and not null_equal:
        # name-based join: Spark coalesces the key columns (one output col),
        # like the reference which emits a single key column.
        return left.join(r, [lk for lk, _ in keys], how)

    op = (lambda a, b: a.eqNullSafe(b)) if null_equal else (lambda a, b: a == b)
    cond = None
    for lk, rk in keys:
        clause = op(left[lk], right[rk])
        cond = clause if cond is None else (cond & clause)
    out = left.join(r, cond, how)
    if same_names and how not in ("left_semi", "left_anti"):
        # merge the duplicate key columns into one, like the name-based
        # path. For outer/right joins the key must COALESCE across sides —
        # simply dropping the right key (an earlier shape) blanked the key
        # of right-only rows. coalesce keeps the matched-NULL case right
        # under null_equal (both sides NULL -> NULL).
        keeps_right_rows = how in ("outer", "full", "fullouter",
                                   "full_outer", "right", "rightouter",
                                   "right_outer")
        lk_to_rk = dict(keys)
        rkeys_set = {rk for _, rk in keys}
        # backticks: suffixed right columns ("right.b") contain dots that
        # plain Column resolution would parse as struct paths
        proj = [F.coalesce(left[f"`{c}`"], right[f"`{lk_to_rk[c]}`"]).alias(c)
                if (c in lk_to_rk and keeps_right_rows) else left[f"`{c}`"]
                for c in left.columns]
        proj += [right[f"`{c}`"] for c in right.columns if c not in rkeys_set]
        out = out.select(*proj)
    return out


def inner_join(left, right, on, **kw):
    """``inner-join`` (join.clj:308)."""
    return join(left, right, on, "inner", **kw)


def left_join(left, right, on, **kw):
    """``left-join`` (join.clj:336)."""
    return join(left, right, on, "left", **kw)


def right_join(left, right, on, **kw):
    """``right-join`` (join.clj:322)."""
    return join(left, right, on, "right", **kw)


def semi_join(left, right, on, **kw):
    """left-semi (EXISTS); reference models this via set ops only."""
    return join(left, right, on, "left_semi", **kw)


def anti_join(left, right, on, **kw):
    """left-anti (NOT EXISTS); reference set/difference analog."""
    return join(left, right, on, "left_anti", **kw)


def cross_join(left, right, **kw):
    """pd-merge :cross (join.clj:449-472)."""
    return join(left, right, on=None, how="cross", **kw)


def pd_merge(left: DataFrame, right: DataFrame, *, on=None, left_on=None,
             right_on=None, how: str = "inner", null_equal: bool = False,
             broadcast_right: bool = False) -> DataFrame:
    """``pd-merge`` (join.clj:376-579): pandas-style multi-key merge.
    how ∈ inner|left|right|outer|cross."""
    how = {"outer": "full"}.get(how, how)
    if how == "cross":
        return cross_join(left, right, broadcast_right=broadcast_right)
    if on is None:
        lo = [left_on] if isinstance(left_on, str) else list(left_on)
        ro = [right_on] if isinstance(right_on, str) else list(right_on)
        on = list(zip(lo, ro))
    return join(left, right, on, how, null_equal=null_equal,
                broadcast_right=broadcast_right)


def left_join_asof(left: DataFrame, right: DataFrame, on: str, *,
                   by: str | Sequence[str] | None = None,
                   asof_op: str = "<=",
                   tolerance: float | None = None) -> DataFrame:
    """``left-join-asof`` (join.clj:747-799): for each left row, match the
    single "closest" right row along ``on`` under ``asof_op`` ∈
    {"<", "<=", ">", ">=", "nearest"}. The operator expresses
    ``l.on OP r.on`` — the REFERENCE's convention (join.clj:615 asof-lt,
    :643 asof-gt, :716 asof-nearest; vectors pinned by
    test/tech/v3/dataset/join_test.clj:191-258):

    * ``"<"``  — the EARLIEST right row with l.on <  r.on (forward strict)
    * ``"<="`` — the earliest right row with l.on <= r.on (forward; the
      reference's DEFAULT — note this differs from pandas merge_asof,
      whose default direction is 'backward')
    * ``">"``  — the LATEST right row with l.on >  r.on (backward strict)
    * ``">="`` — the latest right row with l.on >= r.on (backward; the
      pandas merge_asof 'backward' equivalent)
    * ``"nearest"`` — the smaller |l.on - r.on| of the backward/forward
      matches; an exact tie picks the FORWARD (later) row, matching the
      reference's abs-diff merge scan (join.clj:687-744, which advances
      past the earlier neighbor unless it is STRICTLY closer).

    (An earlier version named the mirrored relation ``r.on OP l.on``; the
    mapping was flipped to reference parity — callers migrating from TMD
    can keep their asof-op spelling.)

    Spark-first implementation — the union+window trick (no Python, no
    per-key collect):
      1. tag left/right rows and union on the shared axis,
      2. one window sorted by (by, on, side-order): ``last(right-val,
         ignorenulls)`` over unbounded-preceding gives each left row the
         most recent right row — a single shuffle by ``by``; Catalyst/Tungsten
         the whole way.
    Forward ops mirror with a descending window. "nearest" runs both
    directions and picks the smaller distance.

    At scale this is one sort-merge pass per side — same asymptotics as the
    reference's merge-scan, but distributed by the ``by`` keys.

    ``tolerance`` (the pandas ``merge_asof`` lever; parity-plus — the
    reference has none): a maximum allowed |l.on - r.on| distance. A
    match further than that is nulled out (the row keeps its left
    columns). Units: the axis's own units for numeric axes, MICROSECONDS
    for temporal axes (the engine's epoch-micros arithmetic domain —
    pass ``seconds * 1e6``). Applied AFTER match selection, exactly like
    pandas: a closer-but-out-of-tolerance neighbor is not replaced by a
    further in-tolerance one.
    """
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"left_join_asof: tolerance must be >= 0, "
                         f"got {tolerance}")
    if asof_op == "nearest":
        from .selection import _free_name
        # The prev/next results must be re-joined per LEFT ROW. Joining on
        # the left columns themselves silently drops rows containing any
        # NULL (equality never matches) and cross-multiplies duplicate
        # left rows — so key on a generated row id instead. The id is a
        # mono-id read by a FORKED lineage (two asof passes), so it is
        # materialized first.
        rid = _free_name(list(left.columns) + list(right.columns), "__rid__")
        tagged = materialize(
            left.withColumn(rid, F.monotonically_increasing_id()))
        prev = left_join_asof(tagged, right, on, by=by, asof_op=">=")
        nxt = left_join_asof(tagged, right, on, by=by, asof_op="<=")
        # pick per-row whichever matched value is closer on the axis
        return _nearest_combine(tagged, prev, nxt, on, by, rid,
                                tolerance=tolerance).drop(rid)

    by_cols = [] if by is None else ([by] if isinstance(by, str) else list(by))
    if not by_cols:
        from ..dtutil import warn_unpartitioned
        warn_unpartitioned("left_join_asof")
    rkeys = set(by_cols) | {on}
    right, _ = _suffix_clashes(left, right, rkeys)
    rval_cols = [c for c in right.columns if c not in rkeys]

    # forward ops ("<", "<=": l.on OP r.on looks AHEAD on the axis) use the
    # descending window so last(ignorenulls) lands on the closest later row
    descending = asof_op in ("<", "<=")
    strict = asof_op in ("<", ">")

    lt = left.withColumn("__side__", F.lit(1))
    rt = right.withColumn("__side__", F.lit(0))
    # align schemas for unionByName
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    # The matched right row travels as ONE STRUCT (non-null for every
    # right row even when its fields are NULL) and is filled as a unit:
    # filling each value column independently would stitch together a
    # composite "row" from DIFFERENT right rows whenever the true match
    # holds a NULL in some value column.
    rt = rt.withColumn("__rrow__", F.struct(
        F.col(on).alias("__r_on__"),
        *[F.col(f"`{c}`").alias(f"v{i}") for i, c in enumerate(rval_cols)]))
    rstruct_type = dict(rt.dtypes)["__rrow__"]
    lt = lt.withColumn("__rrow__", F.lit(None).cast(rstruct_type))
    for c in rval_cols:
        lt = lt.withColumn(c, F.lit(None).cast(dict(rt.dtypes)[c]))
    u = lt.unionByName(rt.select(*lt.columns))

    on_sort = F.col(on).desc() if descending else F.col(on).asc()
    # Side order at equal axis values decides inclusivity: for "<="/">=" the
    # right row sorts BEFORE the left row (side 0 first) so an equal key is
    # inside the preceding frame; for strict "<"/">" the left row sorts first,
    # leaving only strictly-earlier right rows in its frame.
    side_sort = F.col("__side__").desc() if strict else F.col("__side__").asc()
    w = (W.partitionBy(*by_cols) if by_cols else W.partitionBy()) \
        .orderBy(on_sort, side_sort) \
        .rowsBetween(W.unboundedPreceding, 0)

    filled = u.withColumn("__rrow__",
                          F.last("__rrow__", ignorenulls=True).over(w))
    if tolerance is not None:
        from ..dtutil import axis_double
        # distance on the matched axis value, in axis_double units
        filled = filled.withColumn(
            "__rrow__",
            F.when(F.col("__rrow__").isNotNull()
                   & (F.abs(axis_double(filled, on)
                            - _rrow_axis_double(filled, on))
                      <= F.lit(float(tolerance))),
                   F.col("__rrow__")))
    out = filled.filter(F.col("__side__") == 1).drop("__side__")
    for i, c in enumerate(rval_cols):
        out = out.withColumn(c, F.col("__rrow__")[f"v{i}"])
    return out.withColumn(f"right.{on}", F.col("__rrow__")["__r_on__"]) \
              .drop("__rrow__")


def _rrow_axis_double(df: DataFrame, on: str):
    """axis_double for the matched right row's axis value carried inside
    the __rrow__ struct (same units as axis_double of the axis column)."""
    from ..dtutil import is_temporal
    dtype = dict(df.dtypes)[on]
    v = F.col("__rrow__")["__r_on__"]
    if is_temporal(dtype):
        from ..dtutil import epoch_micros
        return epoch_micros(v).cast("double")
    return v.cast("double")


def _nearest_combine(left: DataFrame, prev: DataFrame, nxt: DataFrame,
                     on: str, by, rid: str,
                     tolerance: float | None = None) -> DataFrame:
    """Combine backward (prev) / forward (nxt) asof results picking the
    closer match, keyed by the caller-provided unique row id (never by
    data columns — NULLs/duplicates there would drop or multiply rows).
    An exact distance tie picks the FORWARD row — the reference's
    abs-diff scan only stops on the earlier neighbor when it is STRICTLY
    closer (join.clj:687-713: match iff |l-r[j]| - |l-r[j+1]| < 0)."""
    axis = f"right.{on}"
    val_cols = [c for c in prev.columns if c not in left.columns]
    # alias matched columns to dot-free names (original names may contain
    # the "right." prefix which Column resolution would parse as a path)
    pa = {c: f"__p{i}__" for i, c in enumerate(val_cols)}
    na = {c: f"__n{i}__" for i, c in enumerate(val_cols)}
    p = prev.select(*left.columns,
                    *[F.col(f"`{c}`").alias(pa[c]) for c in val_cols])
    nx = nxt.select(rid, *[F.col(f"`{c}`").alias(na[c]) for c in val_cols])
    j = p.join(nx, rid)
    # NTZ-safe numeric view of the axis (TIMESTAMP_NTZ forbids direct
    # numeric casts — dtutil module docstring)
    from ..dtutil import axis_double
    ax_on, ax_p, ax_n = (axis_double(j, c) for c in (on, pa[axis], na[axis]))
    d_p = F.abs(ax_on - ax_p)
    d_n = F.abs(ax_on - ax_n)
    use_p = F.when(F.col(na[axis]).isNull(), True) \
             .when(F.col(pa[axis]).isNull(), False) \
             .otherwise(d_p < d_n)
    for c in val_cols:
        j = j.withColumn(c, F.when(use_p, F.col(pa[c])).otherwise(F.col(na[c])))
    if tolerance is not None:
        # the chosen side's distance must be within tolerance, else NULL
        # the whole matched row (pandas semantics: no fallback to the
        # further-but-in-tolerance neighbor... pandas nearest also drops)
        chosen_d = F.when(use_p, d_p).otherwise(d_n)
        ok = chosen_d <= F.lit(float(tolerance))
        for c in val_cols:
            # backticks: matched column names carry the "right." prefix,
            # which bare Column resolution would parse as a path
            j = j.withColumn(c, F.when(ok, F.col(f"`{c}`")))
    return j.drop(*pa.values(), *na.values())


def range_join(left: DataFrame, right: DataFrame, point_col: str,
               lo_col: str, hi_col: str, *, on=None, how: str = "inner",
               bucket: float | None = None, bounds: str = "[]") -> DataFrame:
    """Interval/theta join (SURVEY §2.3 "absent — range predicates if we
    want them"; parity-plus): match left rows whose ``point_col`` falls in
    right's ``[lo_col, hi_col]``, optionally with equi-keys ``on``
    (``"k"`` / ``[("lk","rk"), ...]``).

    Spark plans a bare non-equi join as BroadcastNestedLoop (or a
    cartesian product) — the canonical 100 TB killer. ``bucket`` turns it
    into an EQUI join: points map to ``floor(point/bucket)``, each
    interval explodes to the buckets it covers (fan-out bounded by
    interval-width/bucket + 1 — pick bucket ≈ the typical interval
    width), the join keys on (bucket + equi-keys) and the exact range
    predicate filters residually. This is the published range-join
    binning optimization, expressed with plain DataFrame ops. Temporal
    columns are bucketed in EPOCH-MICROS space (``dtutil.axis_double``),
    so ``bucket`` for timestamps is in microseconds (30 min =
    ``1_800_000_000.0``).

    ``bounds`` picks interval closure: ``"[]" "[)" "(]" "()"``.
    Intervals with ``hi < lo`` or NULL endpoints match nothing; NULL
    points match nothing (and survive with NULL right columns under
    ``how="left"``). Right-side column names must not collide with left's
    (alias before joining — same contract as a plain ``df.join``).
    Without ``bucket`` the non-equi plan is used as-is (fine when one
    side broadcasts; a loud anti-pattern otherwise)."""
    from ..dtutil import axis_double

    if bounds not in ("[]", "[)", "(]", "()"):
        raise ValueError(f"bounds must be one of [] [) (] (); got {bounds!r}")
    if bucket is not None and how not in ("inner", "left",
                                          "left_semi", "leftsemi",
                                          "left_anti", "leftanti"):
        # the bucketed rewrite EXPLODES the right side, so right/full outer
        # would emit one unmatched copy per covered bucket (and drop
        # inverted/NULL intervals entirely) — a corrupted bag. Left-keyed
        # modes are safe: inner/left multiply only by true matches,
        # semi/anti never duplicate left rows.
        raise ValueError(
            f"bucketed range_join supports how='inner'/'left'/'left_semi'/"
            f"'left_anti'; got {how!r} (use bucket=None for right/full "
            f"outer, with a broadcastable side)")
    keys = _normalize_keys(on) if on is not None else []
    p = left[point_col]
    lo_ok = (p >= right[lo_col]) if bounds[0] == "[" else (p > right[lo_col])
    hi_ok = (p <= right[hi_col]) if bounds[1] == "]" else (p < right[hi_col])
    cond = [left[lk] == right[rk] for lk, rk in keys] + [lo_ok, hi_ok]

    if bucket is None:
        return left.join(right, functools.reduce(lambda a, b: a & b, cond), how)

    bw = float(bucket)
    lb = left.withColumn("__rb__", F.floor(axis_double(left, point_col) / bw))
    # hi < lo would make sequence() count DOWN and fabricate buckets;
    # such intervals match nothing by definition, so drop them here.
    rkept = right.filter(F.col(lo_col).isNotNull()
                         & F.col(hi_col).isNotNull()
                         & (F.col(lo_col) <= F.col(hi_col)))
    rb = rkept.withColumn(
        "__rb__",
        F.explode(F.sequence(
            F.floor(axis_double(rkept, lo_col) / bw),
            F.floor(axis_double(rkept, hi_col) / bw))))
    p = lb[point_col]
    lo_ok = (p >= rb[lo_col]) if bounds[0] == "[" else (p > rb[lo_col])
    hi_ok = (p <= rb[hi_col]) if bounds[1] == "]" else (p < rb[hi_col])
    cond = [lb["__rb__"] == rb["__rb__"]] \
        + [lb[lk] == rb[rk] for lk, rk in keys] + [lo_ok, hi_ok]
    out = lb.join(rb, functools.reduce(lambda a, b: a & b, cond), how)
    return out.drop(lb["__rb__"]).drop(rb["__rb__"])


def salted_join(left: DataFrame, right: DataFrame, on, how: str = "inner", *,
                salt: int = 16, salt_col: str = "__salt__") -> DataFrame:
    """Skew-resistant equi-join via manual key salting.

    AQE's skew-join splitting (on by default in our sessions) handles most
    skew at runtime, but it only kicks in for sort-merge joins after a
    shuffle materializes; a pathological hot key (one key = 30% of 100 TB)
    still serializes into few tasks. Salting fixes it structurally:

    * left (big, skewed) side: append a uniform random salt in [0, salt)
    * right side: explode each row into all `salt` replicas
    * join on (keys + salt) — the hot key now spreads over `salt` tasks —
      then drop the salt.

    Replication multiplies the right side by `salt`, so use this with a
    small-to-medium right side (too big to broadcast, too hot to SMJ).
    Same row-multiplicity semantics as a plain equi-join for inner/left;
    those are the shapes skew actually hits (fact x dim).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (fact-side skew)")
    keys = _normalize_keys(on)
    lsalt = left.withColumn(salt_col, (F.rand(42) * salt).cast("int"))
    rsalt = right.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    cond = [lsalt[lk] == rsalt[rk] for lk, rk in keys] + \
           [lsalt[salt_col] == rsalt[salt_col]]
    dropped = [rsalt[rk] for _, rk in keys if any(lk == rk for lk, _ in keys)]
    out = lsalt.join(rsalt, cond, how).drop(rsalt[salt_col]).drop(lsalt[salt_col])
    for c in dropped:
        out = out.drop(c)
    return out
