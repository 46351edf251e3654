"""Unit tests for operator semantics — ports of the semantic edge cases the
reference's test suite pins down (SURVEY.md §5): concat widening, NULL join
keys, unique-by survivors, missing-fill strategies, asof boundaries, bag set
ops, rolling windows."""

import math

import pytest
from pyspark.sql import functions as F

from tech_ml_dataset_spark.operators import (
    aggregate as agg,
    join as jn,
    missing as ms,
    selection as sel,
    setops as st,
    window as win,
)


def rows(df, *order):
    if order:
        df = df.orderBy(*order)
    return [tuple(r) for r in df.collect()]


# ---- joins ----------------------------------------------------------------

def test_inner_join_basic(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["k", "av"])
    b = spark.createDataFrame([(1, 10.0), (2, 20.0), (4, 40.0)], ["k", "bv"])
    out = jn.inner_join(a, b, "k")
    assert rows(out, "k") == [(1, "x", 10.0), (2, "y", 20.0)]


def test_join_null_keys_default_sql_semantics(spark):
    a = spark.createDataFrame([(None, "x"), (1, "y")], "k int, av string")
    b = spark.createDataFrame([(None, 9), (1, 8)], "k int, bv int")
    assert jn.inner_join(a, b, "k").count() == 1  # NULL != NULL


def test_join_null_equal_matches_reference(spark):
    # reference groups nil keys together (join.clj:210-214)
    a = spark.createDataFrame([(None, "x"), (1, "y")], "k int, av string")
    b = spark.createDataFrame([(None, 9), (1, 8)], "k int, bv int")
    assert jn.inner_join(a, b, "k", null_equal=True).count() == 2


def test_join_null_equal_left_join_issue_377(spark):
    """Reference join_test.clj:355-361 (issue-377): left-join groups nil
    keys — left a=[nil,2] against right a=[nil,4] yields right.b=[6,nil]."""
    a = spark.createDataFrame([(None, 3), (2, 4)], "a int, b int")
    b = spark.createDataFrame([(None, 6), (4, 7)], "a int, b int")
    out = jn.left_join(a, b, "a", null_equal=True)
    got = {r["b"]: r["right.b"] for r in out.collect()}
    assert got == {3: 6, 4: None}


def test_join_null_equal_outer_keeps_right_only_keys(spark):
    """r4 regression: the cond-based join path used to DROP the right key
    column after an outer/right join, blanking the key of right-only rows
    — the merged key must coalesce across sides (matched-NULL rows keep
    NULL)."""
    a = spark.createDataFrame([(None, "x"), (1, "y")], "k int, av string")
    b = spark.createDataFrame([(None, 9), (2, 8)], "k int, bv int")
    out = jn.join(a, b, "k", "outer", null_equal=True)
    assert out.columns == ["k", "av", "bv"]
    got = {(r["k"], r["av"], r["bv"]) for r in out.collect()}
    assert got == {(None, "x", 9), (1, "y", None), (2, None, 8)}
    r = jn.join(a, b, "k", "right", null_equal=True)
    assert {(x["k"], x["bv"]) for x in r.collect()} == {(None, 9), (2, 8)}


def test_join_cross_width_int_keys(spark):
    """Reference join_test.clj:296-306 (eraderna) + :364-376 (short-types):
    join keys of different int widths widen before matching (reference
    casting/widest-datatype, join.clj:209; Spark inserts the implicit
    cast)."""
    a = spark.createDataFrame([(2022,)], "y smallint")
    b = spark.createDataFrame([(2022, "s22"), (2023, "s23")],
                              "y bigint, s string")
    out = jn.left_join(a, b, "y").collect()
    assert len(out) == 1 and out[0]["s"] == "s22"


def test_join_clashing_columns_get_right_prefix(spark):
    a = spark.createDataFrame([(1, "a")], ["k", "v"])
    b = spark.createDataFrame([(1, "b")], ["k", "v"])
    out = jn.inner_join(a, b, "k")
    assert set(out.columns) == {"k", "v", "right.v"}


def test_left_right_anti_semi(spark):
    a = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    assert jn.left_join(a, b, "k").count() == 3
    assert jn.right_join(a, b, "k").count() == 3
    assert rows(jn.semi_join(a, b, "k"), "k") == [(2,), (3,)]
    assert rows(jn.anti_join(a, b, "k"), "k") == [(1,)]


def test_pd_merge_outer_and_cross(spark):
    a = spark.createDataFrame([(1, "a")], ["k", "av"])
    b = spark.createDataFrame([(2, "b")], ["k", "bv"])
    assert jn.pd_merge(a, b, on="k", how="outer").count() == 2
    assert jn.pd_merge(a, b, how="cross").count() == 1


def test_range_join_bucketed_matches_plain(spark):
    """Bucketized equi-rewrite must equal the bare non-equi join for every
    bounds mode, including boundary points and multi-bucket intervals."""
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0, 5, 10, 15, 20, 25])],
        ["pid", "p"])
    iv = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 10.0, 10.0), (300, 14.0, 27.0),
         (400, 30.0, 40.0)], ["iid", "lo", "hi"])
    for bounds in ("[]", "[)", "(]", "()"):
        plain = {(r["pid"], r["iid"]) for r in jn.range_join(
            pts, iv, "p", "lo", "hi", bounds=bounds).collect()}
        for bucket in (1.0, 4.0, 100.0):
            bucketed = {(r["pid"], r["iid"]) for r in jn.range_join(
                pts, iv, "p", "lo", "hi", bounds=bounds,
                bucket=bucket).collect()}
            assert bucketed == plain, (bounds, bucket)
    # point-on-boundary sanity: p=10 in [0,10] only under closed-hi
    closed = {(r["pid"], r["iid"]) for r in jn.range_join(
        pts, iv, "p", "lo", "hi", bucket=4.0).collect()}
    assert (2, 100) in closed and (2, 200) in closed
    # review r3: outer modes under the bucketed rewrite would duplicate
    # unmatched right rows per covered bucket — rejected loudly
    import pytest as _pt
    with _pt.raises(ValueError, match="inner.*left"):
        jn.range_join(pts, iv, "p", "lo", "hi", bucket=4.0, how="full")


def test_range_join_equi_keys_left_and_degenerate(spark):
    pts = spark.createDataFrame(
        [(1, "u", 5.0), (2, "u", 50.0), (3, "w", 5.0), (4, "u", None)],
        "pid int, user string, p double")
    iv = spark.createDataFrame(
        [("u", 0.0, 10.0, "in"), ("u", 9.0, 1.0, "inverted"),
         ("u", None, 10.0, "nulllo")],
        "user string, lo double, hi double, tag string")
    out = jn.range_join(pts, iv, "p", "lo", "hi",
                        on=[("user", "user")], how="left", bucket=5.0)
    got = {(r["pid"], r["tag"]) for r in out.collect()}
    # pid 1 matches the valid interval; inverted/null intervals match
    # nothing; pid 2 out of range, pid 3 wrong key, pid 4 null point —
    # all survive how="left" with null right side
    assert got == {(1, "in"), (2, None), (3, None), (4, None)}


def test_asof_backward(spark):
    # ">=" = latest right with l.t >= r.t (ops read l OP r — reference
    # convention, r4)
    left = spark.createDataFrame([(1, 5), (1, 10), (1, 2)], ["g", "t"])
    right = spark.createDataFrame([(1, 3, "a"), (1, 7, "b"), (1, 10, "c")], ["g", "t", "v"])
    out = jn.left_join_asof(left, right, "t", by="g", asof_op=">=")
    got = {r["t"]: r["v"] for r in out.collect()}
    assert got == {2: None, 5: "a", 10: "c"}


def test_asof_strict_gt(spark):
    # ">" = latest right with l.t > r.t: the equal key is excluded
    left = spark.createDataFrame([(1, 10)], ["g", "t"])
    right = spark.createDataFrame([(1, 10, "eq"), (1, 7, "lt")], ["g", "t", "v"])
    out = jn.left_join_asof(left, right, "t", by="g", asof_op=">")
    assert out.collect()[0]["v"] == "lt"  # equal key excluded, falls back


def test_asof_forward_and_nearest(spark):
    left = spark.createDataFrame([(1, 5)], ["g", "t"])
    right = spark.createDataFrame([(1, 3, "past"), (1, 6, "soon"), (1, 20, "far")],
                                  ["g", "t", "v"])
    fwd = jn.left_join_asof(left, right, "t", by="g", asof_op="<=")
    assert fwd.collect()[0]["v"] == "soon"  # earliest right with 5 <= r.t
    near = jn.left_join_asof(left, right, "t", by="g", asof_op="nearest")
    assert near.collect()[0]["v"] == "soon"  # |6-5| < |5-3|
    # exact-distance tie -> FORWARD row (reference abs-diff law)
    tie = spark.createDataFrame([(1, 5)], ["g", "t"])
    tr = spark.createDataFrame([(1, 3, "prev"), (1, 7, "next")], ["g", "t", "v"])
    assert jn.left_join_asof(tie, tr, "t", by="g",
                             asof_op="nearest").collect()[0]["v"] == "next"


def test_asof_reference_vectors(spark):
    """Reference join_test.clj:191-258 (asof-lt / asof-gt / asof-nearest):
    the exact right.a vectors for every asof-op over a=0..9 against
    shifted right tables, pinned value-for-value, plus the DateType
    variant of asof-lt (packed local-date axis, join_test.clj:205-226)."""
    import datetime as dt

    def mk(vals):
        return spark.createDataFrame([(1, int(v)) for v in vals], ["g", "a"])

    a = mk(range(10))
    b = mk([2 * i for i in range(10)])
    bm = mk([2 * i - 5 for i in range(10)])
    bmm = mk([2 * i - 14 for i in range(10)])
    b3 = mk([3 * i for i in range(10)])
    b3m = mk([3 * i - 5 for i in range(10)])
    b3mm = mk([3 * i - 20 for i in range(10)])

    def got(right, op):
        rows = jn.left_join_asof(a, right, "a", by="g", asof_op=op) \
                 .orderBy("a").collect()
        return [r["right.a"] for r in rows]

    # asof-lt (join_test.clj:191-203)
    assert got(b, "<") == [2, 2, 4, 4, 6, 6, 8, 8, 10, 10]
    assert got(b, "<=") == [0, 2, 2, 4, 4, 6, 6, 8, 8, 10]
    assert got(bm, "<") == [1, 3, 3, 5, 5, 7, 7, 9, 9, 11]
    assert got(bmm, "<") == [2, 2, 4, 4] + [None] * 6
    # asof-gt (join_test.clj:228-241)
    assert got(b, ">") == [None, 0, 0, 2, 2, 4, 4, 6, 6, 8]
    assert got(b, ">=") == [0, 0, 2, 2, 4, 4, 6, 6, 8, 8]
    assert got(bm, ">") == [-1, -1, 1, 1, 3, 3, 5, 5, 7, 7]
    assert got(bmm, ">") == [-2, 0, 0, 2, 2, 4, 4, 4, 4, 4]
    # asof-nearest (join_test.clj:243-257)
    assert got(b3, "nearest") == [0, 0, 3, 3, 3, 6, 6, 6, 9, 9]
    assert got(b3m, "nearest") == [1, 1, 1, 4, 4, 4, 7, 7, 7, 10]
    assert got(b3mm, "nearest") == [1, 1, 1, 4, 4, 4, 7, 7, 7, 7]

    # DateType axis variant of asof-lt (join_test.clj:205-226)
    base = dt.date(2024, 3, 1)

    def mkd(vals):
        return spark.createDataFrame(
            [(1, base + dt.timedelta(days=int(v))) for v in vals],
            "g int, a date")

    da, db = mkd(range(10)), mkd([2 * i for i in range(10)])
    rows = jn.left_join_asof(da, db, "a", by="g", asof_op="<") \
             .orderBy("a").collect()
    assert [r["right.a"] for r in rows] == \
        [base + dt.timedelta(days=d) for d in [2, 2, 4, 4, 6, 6, 8, 8, 10, 10]]


def test_asof_match_with_null_value_column_stays_one_row(spark):
    """Review r3: per-column last(ignorenulls) used to stitch a composite
    'match' from DIFFERENT right rows when the true asof match held a NULL
    value — the matched right row must come through as a unit."""
    left = spark.createDataFrame([(1, 10)], ["g", "t"])
    right = spark.createDataFrame(
        [(1, 5, "x", 1.0), (1, 9, None, 2.0)],
        "g int, t int, v string, w double")
    r = jn.left_join_asof(left, right, "t", by="g", asof_op=">=").collect()[0]
    assert r["w"] == 2.0 and r["right.t"] == 9
    assert r["v"] is None          # NOT 'x' leaked from the t=5 row
    # strict-forward ("<" = l.t < r.t): no matching right row -> all-null
    r2 = jn.left_join_asof(left, right, "t", by="g", asof_op="<").collect()[0]
    assert r2["v"] is None and r2["w"] is None and r2["right.t"] is None


def test_asof_nearest_null_and_duplicate_left_rows(spark):
    """Review r3: the fwd/bwd combine used to key on every left column —
    a NULL in any left column silently dropped the row (NULL equality),
    and duplicate left rows cross-multiplied. Both must round-trip 1:1."""
    left = spark.createDataFrame(
        [(1, 10, None), (1, 20, 5.0), (1, 20, 5.0)],
        "g int, t int, payload double")
    right = spark.createDataFrame(
        [(1, 9, "a"), (1, 21, "b")], ["g", "t", "v"])
    out = jn.left_join_asof(left, right, "t", by="g", asof_op="nearest")
    rows = out.collect()
    assert len(rows) == 3                      # no dropped, no multiplied
    got = sorted((r["t"], r["payload"], r["v"]) for r in rows)
    assert got == [(10, None, "a"), (20, 5.0, "b"), (20, 5.0, "b")]


# ---- set ops / concat -------------------------------------------------------

def test_concat_widening_and_backfill(spark):
    a = spark.createDataFrame([(1, 1.5)], "x int, y double")
    b = spark.createDataFrame([(2**35, "s")], "x bigint, z string")
    out = st.concat(a, b)
    assert dict(out.dtypes)["x"] == "bigint"
    assert set(out.columns) == {"x", "y", "z"}
    got = {r["x"]: (r["y"], r["z"]) for r in out.collect()}
    assert got[1] == (1.5, None) and got[2**35] == (None, "s")


@pytest.mark.parametrize("ta,tb,twide", [
    ("int", "tinyint", "int"),        # reference widens int+byte (int64 there:
    ("smallint", "bigint", "bigint"), # TMD over-widens ints to int64; we take
    ("int", "double", "double"),      # the MINIMAL containing type — values agree)
    ("float", "bigint", "double"),
    ("int", "string", "string"),
    ("boolean", "int", "int"),
    ("date", "timestamp", "timestamp"),
])
def test_concat_widening_matrix(spark, ta, tb, twide):
    """Reference concat widening gauntlet (dataset_test.clj:356-423 +
    base.clj:642-655): pairwise dtype promotion, both concat orders."""
    va = "1970-01-05" if ta in ("date", "timestamp") else "1"
    vb = "1970-01-07" if tb in ("date", "timestamp") else "0"
    a = spark.createDataFrame([(va,)], "x string").select(
        F.col("x").cast(ta).alias("x"))
    b = spark.createDataFrame([(vb,)], "x string").select(
        F.col("x").cast(tb).alias("x"))
    for pair in ((a, b), (b, a)):
        out = st.concat(*pair)
        assert dict(out.dtypes)["x"] == twide, (ta, tb)
        assert out.count() == 2


def test_concat_nil_pun_law(spark):
    """dataset_test.clj:155-166: concat skips None arguments — a None
    operand is the empty dataset — and all-None inputs return None."""
    from tech_ml_dataset_spark.operators import setops as so
    ds = spark.createDataFrame([(1, "a"), (2, "b")], ["i", "s"])
    d1 = so.concat(None, ds)
    d2 = so.concat(ds, None, None)
    assert sorted(r["s"] for r in d1.collect()) == ["a", "b"]
    assert sorted(r["s"] for r in d2.collect()) == ["a", "b"]
    assert so.concat(None, None, None) is None
    assert so.concat() is None


def test_concat_missing_column_backfill_order(spark):
    """dataset_test.clj:365-375: [{:a 1}{:b _}] ++ [{:a 2}] -> a = [1 nil 2]."""
    a = spark.createDataFrame([(1, 1.5), (None, 2.5)], "a int, b double")
    b = spark.createDataFrame([(2,)], "a tinyint")
    out = st.concat(a, b)
    assert [r["a"] for r in out.collect()] == [1, None, 2]
    assert dict(out.dtypes)["a"] == "int"


def test_bag_union_max_multiplicity(spark):
    # reference set.clj:166: multiplicity = max(a, b), not sum
    a = spark.createDataFrame([(1,), (1,), (2,)], ["x"])
    b = spark.createDataFrame([(1,), (3,)], ["x"])
    got = sorted(r["x"] for r in st.union(a, b).collect())
    assert got == [1, 1, 2, 3]


def test_bag_intersection_min_multiplicity(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], ["x"])
    b = spark.createDataFrame([(1,), (1,), (1,)], ["x"])
    got = sorted(r["x"] for r in st.intersection(a, b).collect())
    assert got == [1, 1]


def test_bag_difference(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], ["x"])
    b = spark.createDataFrame([(1,)], ["x"])
    got = sorted(r["x"] for r in st.difference(a, b).collect())
    assert got == [1, 2]


def test_bag_ops_order_by(spark):
    """r9: the order_by option gives every bag set-op a DETERMINISTIC
    output order with the sort applied to the (distinct-row, counts)
    table BEFORE the explode — same multiset as the unordered default,
    rows emitted in key order with duplicates adjacent."""
    a = spark.createDataFrame([(3, "c"), (1, "a"), (1, "a"), (2, "b")],
                              ["x", "y"])
    b = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b"), (4, "d")],
                              ["x", "y"])
    got = [tuple(r) for r in st.union(a, b, order_by=["x", "y"]).collect()]
    assert got == [(1, "a"), (1, "a"), (2, "b"), (2, "b"), (3, "c"),
                   (4, "d")]
    got = [tuple(r) for r in
           st.intersection(a, b, order_by=["x", "y"]).collect()]
    assert got == [(1, "a"), (2, "b")]
    got = [tuple(r) for r in
           st.difference(a, b, order_by=["x", "y"]).collect()]
    assert got == [(1, "a"), (3, "c")]
    # multiset parity with the unordered (native) plans
    assert sorted(got) == sorted(tuple(r) for r in
                                 st.difference(a, b).collect())


def test_unique_by_deterministic_survivor(spark):
    df = spark.createDataFrame([(1, 5, "b"), (1, 3, "a"), (2, 9, "c")], ["k", "o", "v"])
    out = st.unique_by_column(df, "k", keep_order_by=["o"])
    assert rows(out, "k") == [(1, 3, "a"), (2, 9, "c")]


# ---- missing ---------------------------------------------------------------

def _mdf(spark):
    return spark.createDataFrame(
        [(0, None), (1, 10.0), (2, None), (3, None), (4, 40.0), (5, None)],
        "i int, v double")


def test_replace_missing_down_up(spark):
    df = _mdf(spark)
    down = {r["i"]: r["v"] for r in ms.replace_missing(df, "v", "down", order_by="i").collect()}
    assert down == {0: None, 1: 10.0, 2: 10.0, 3: 10.0, 4: 40.0, 5: 40.0}
    up = {r["i"]: r["v"] for r in ms.replace_missing(df, "v", "up", order_by="i").collect()}
    assert up == {0: 10.0, 1: 10.0, 2: 40.0, 3: 40.0, 4: 40.0, 5: None}
    downup = {r["i"]: r["v"] for r in ms.replace_missing(df, "v", "downup", order_by="i").collect()}
    assert downup[0] == 10.0 and downup[5] == 40.0


def test_replace_missing_lerp_midpoint_nearest(spark):
    df = _mdf(spark)
    lerp = {r["i"]: r["v"] for r in ms.replace_missing(df, "v", "lerp", order_by="i").collect()}
    assert lerp[2] == 20.0 and lerp[3] == 30.0  # linear between (1,10) and (4,40)
    mid = {r["i"]: r["v"] for r in ms.replace_missing(df, "v", "midpoint", order_by="i").collect()}
    assert mid[2] == 25.0 and mid[3] == 25.0
    near = {r["i"]: r["v"] for r in ms.replace_missing(df, "v", "nearest", order_by="i").collect()}
    assert near[2] == 10.0 and near[3] == 40.0


def test_replace_missing_regression_184_reference_vectors(spark):
    """Reference dataset_test.clj:1068-1104 (replace-missing-regression-184)
    pinned value-for-value: :midpoint averages numeric/date columns (dates
    in epoch space), DOWNGRADES to :down on string columns; :nearest (and
    its :mid alias, the default strategy) copies values positionally with
    ties to prev and preserves the integer dtype."""
    import datetime as dt
    d0 = dt.date(2020, 12, 11)
    rows = [(i, a, b, c, d,
             (d0 + dt.timedelta(days=10 * i)) if e else None)
            for i, (a, b, c, d, e) in enumerate([
                (None, 3.0, None, "A", 0), (2, None, "A", None, 1),
                (None, None, None, None, 0), (None, 6.0, None, "B", 0),
                (4, None, "B", None, 1), (None, 9.0, None, "C", 0),
                (6, None, "C", None, 1), (None, 12.0, None, "D", 0)])]
    df = spark.createDataFrame(
        rows, "i int, a int, b double, c string, d string, e date")
    mp = {r["i"]: r for r in
          ms.replace_missing(df, ["a", "b", "c", "d", "e"], "midpoint",
                             order_by="i").collect()}
    assert [mp[i]["a"] for i in range(8)] == \
        [2.0, 2.0, 3.0, 3.0, 4.0, 5.0, 6.0, 6.0]
    assert [mp[i]["b"] for i in range(8)] == \
        [3.0, 4.5, 4.5, 6.0, 7.5, 9.0, 10.5, 12.0]
    assert [mp[i]["c"] for i in range(8)] == \
        [None, "A", "A", "A", "B", "B", "C", "C"]     # string -> :down
    assert [mp[i]["d"] for i in range(8)] == \
        ["A", "A", "A", "B", "B", "C", "C", "D"]
    assert [str(mp[i]["e"]) for i in range(8)] == \
        ["2020-12-21", "2020-12-21", "2021-01-05", "2021-01-05",
         "2021-01-20", "2021-01-30", "2021-02-09", "2021-02-09"]
    # second block: :nearest == :mid (the default), ints stay ints
    rows2 = [(i, v) for i, v in enumerate(
        [None, 2, None, None, None, 4, None, 6, None])]
    df2 = spark.createDataFrame(rows2, "i int, a int")
    for strat in ("nearest", "mid"):
        got = [r["a"] for r in ms.replace_missing(
            df2, "a", strat, order_by="i").orderBy("i").collect()]
        assert got == [2, 2, 2, 2, 4, 4, 4, 6, 6]
    # default-arg form: all columns, :mid
    got = [r["a"] for r in ms.replace_missing(
        df2, order_by="i").orderBy("i").collect()]
    assert got == [2, 2, 2, 2, 4, 4, 4, 6, 6]
    # two-arg direction form: residual lead/tail nulls take the value
    df3 = spark.createDataFrame([(0, None), (1, 1.0)], "i int, v double")
    got = {r["i"]: r["v"] for r in ms.replace_missing(
        df3, "v", "down", value=555.0, order_by="i").collect()}
    assert got == {0: 555.0, 1: 1.0}


def test_replace_missing_value_and_mean(spark):
    df = _mdf(spark)
    val = ms.replace_missing(df, "v", "value", value=-1.0)
    assert val.filter(F.col("v").isNull()).count() == 0
    mean = {r["i"]: r["v"] for r in ms.replace_missing(df, "v", "mean").collect()}
    assert mean[0] == 25.0


def test_replace_missing_lerp_datetime_reference_values(spark):
    """Reference dataset_test.clj:899-908 (replace-missing-ldt): :lerp on a
    LocalDateTime column interpolates linearly in epoch time — the exact
    five reference timestamps are pinned here."""
    from datetime import datetime as DT
    rows_in = [(0, DT(2020, 1, 1, 1, 1, 1)), (1, None), (2, None), (3, None),
               (4, DT(2020, 10, 1, 1, 1, 1))]
    df = spark.createDataFrame(rows_in, "i int, dt timestamp_ntz")
    got = {r["i"]: r["dt"] for r in
           ms.replace_missing(df, "dt", "lerp", order_by="i").collect()}
    assert got == {0: DT(2020, 1, 1, 1, 1, 1),
                   1: DT(2020, 3, 9, 13, 1, 1),
                   2: DT(2020, 5, 17, 1, 1, 1),
                   3: DT(2020, 7, 24, 13, 1, 1),
                   4: DT(2020, 10, 1, 1, 1, 1)}
    # :midpoint on datetimes = epoch-space mean of the two neighbors
    mid = {r["i"]: r["dt"] for r in
           ms.replace_missing(df, "dt", "midpoint", order_by="i").collect()}
    assert mid[1] == mid[2] == mid[3] == DT(2020, 5, 17, 1, 1, 1)
    # :down/:up on datetimes pick values — dtype preserved, no arithmetic
    down = {r["i"]: r["dt"] for r in
            ms.replace_missing(df, "dt", "down", order_by="i").collect()}
    assert down[3] == DT(2020, 1, 1, 1, 1, 1)


def test_nan_as_missing(spark):
    df = spark.createDataFrame([(float("nan"),), (1.0,)], "v double")
    out = ms.nan_as_missing(df)
    assert out.filter(F.col("v").isNull()).count() == 1


# ---- windows -----------------------------------------------------------------

def test_rolling_right_left_center(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(5)], "i int, v double")
    left = win.rolling(df, "i", {"m": ("sum", "v")}, window_size=3, position="left")
    got = {r["i"]: r["m"] for r in left.collect()}
    assert got[0] == 0.0 and got[2] == 3.0 and got[4] == 9.0
    center = win.rolling(df, "i", {"m": ("sum", "v")}, window_size=3, position="center")
    got = {r["i"]: r["m"] for r in center.collect()}
    assert got[2] == 6.0  # 1+2+3


def test_rolling_clamp_edges(spark):
    # reference :clamp (rolling.clj:130-133): out-of-range -> boundary value
    df = spark.createDataFrame([(i, float(i + 1)) for i in range(4)], "i int, v double")
    out = win.rolling(df, "i", {"s": ("sum", "v")}, window_size=3,
                      position="left", edge_mode="clamp")
    got = {r["i"]: r["s"] for r in out.collect()}
    # i=0: clamped [v0,v0,v0] = 3; i=1: [v0,v0,v1] = 4; i=3: [2,3,4]=9
    assert got[0] == 3.0 and got[1] == 4.0 and got[3] == 9.0


def test_rolling_range_window(spark):
    df = spark.createDataFrame([(0, 1.0), (4, 2.0), (5, 4.0), (20, 8.0)], "t int, v double")
    out = win.rolling_range(df, "t", {"s": ("sum", "v")}, window_size=5)
    got = {r["t"]: r["s"] for r in out.collect()}
    assert got[0] == 1.0 and got[4] == 3.0 and got[5] == 7.0 and got[20] == 8.0


def test_expanding(spark):
    df = spark.createDataFrame([(i, 1.0) for i in range(4)], "i int, v double")
    out = win.expanding(df, "i", {"c": ("sum", "v")})
    got = {r["i"]: r["c"] for r in out.collect()}
    assert got == {0: 1.0, 1: 2.0, 2: 3.0, 3: 4.0}


# ---- selection ------------------------------------------------------------------

def test_select_rows_and_drop_rows(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    out = sel.select_rows(df, [0, 3, 7], order_by="x")
    assert rows(out, "x") == [(0,), (3,), (7,)]
    out2 = sel.drop_rows(df, list(range(1, 10)), order_by="x")
    assert rows(out2) == [(0,)]


def test_select_by_index_negative_and_columns(spark):
    """Reference dataset_test.clj:643-691 (select-by-index): negative row
    indices count from the end (-4 of 9 rows = row 5); bare-int arity;
    select-columns-by-index incl. negatives."""
    df = spark.createDataFrame(
        [(i, 1 + i, float(i)) for i in range(9)], ["V1", "V2", "V3"])
    assert rows(sel.select_rows(df, -4, order_by="V1"), "V1") == [(5, 6, 5.0)]
    assert rows(sel.select_rows(df, [-4], order_by="V1"), "V1") == [(5, 6, 5.0)]
    assert rows(sel.drop_rows(df, [-1], order_by="V1"), "V1") == \
        [(i, 1 + i, float(i)) for i in range(8)]
    assert sel.select_columns_by_index(df, 2).columns == ["V3"]
    assert sel.select_columns_by_index(df, [-1]).columns == ["V3"]
    assert sel.select_columns_by_index(df, [0, -2]).columns == ["V1", "V2"]


def test_take_nth(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    out = sel.take_nth(df, 3, order_by="x")
    assert rows(out, "x") == [(0,), (3,), (6,), (9,)]


def test_head_and_min_n(spark):
    df = spark.createDataFrame([(i,) for i in (5, 3, 9, 1)], ["x"])
    assert sel.head(df, 2).count() == 2
    assert rows(sel.min_n_by_column(df, "x", 2)) == [(1,), (3,)]


def test_filter_rejects_python_callables(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    with pytest.raises(TypeError):
        sel.filter_rows(df, lambda r: True)


def test_filter_column_forms(spark):
    df = spark.createDataFrame([(1, True), (2, False), (3, True)], ["x", "b"])
    assert sel.filter_column(df, "b").count() == 2
    assert sel.filter_column(df, "x", 2).count() == 1
    assert sel.filter_column(df, "x", lambda c: c > 1).count() == 2


# ---- aggregation ------------------------------------------------------------------

def test_group_by_column_agg_vocabulary(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0), ("a", None)], "k string, v double")
    out = agg.group_by_column_agg(df, "k", {
        "n": ("row-count", None),
        "s": ("sum", "v"),
        "m": ("mean", "v"),
        "mx": ("max", "v"),
        "nd": ("count-distinct", "v"),
    })
    got = {r["k"]: r for r in out.collect()}
    assert got["a"]["n"] == 3 and got["a"]["s"] == 4.0 and got["a"]["m"] == 2.0
    assert got["a"]["nd"] == 2 and got["b"]["mx"] == 5.0


def test_aggregate_whole_table(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], ["v"])
    out = agg.aggregate(df, {"s": ("sum", "v"), "q": ("prob-median", "v")})
    r = out.collect()[0]
    assert r["s"] == 6.0 and r["q"] == 2.0


def test_group_by_column_agg_multi_dataset(spark):
    """Reference reductions_test.clj:25-51: group-by-column-agg over a
    SEQUENCE of datasets aggregates their concatenation — n/sum triple,
    mean unchanged when the same table is passed three times."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "k string, v double")
    out = agg.group_by_column_agg([df, df, df], "k", {
        "n": ("row-count", None), "s": ("sum", "v"), "m": ("mean", "v")})
    got = {r["k"]: r for r in out.collect()}
    assert got["a"]["n"] == 6 and got["a"]["s"] == 12.0 and got["a"]["m"] == 2.0
    assert got["b"]["n"] == 3 and got["b"]["s"] == 15.0
    whole = agg.aggregate([df, df], {"n": ("row-count", None)}).collect()[0]
    assert whole["n"] == 6


def test_descriptive_stats(spark):
    df = spark.createDataFrame([(1.0, "x"), (None, "y"), (3.0, None)], "v double, s string")
    stats = {r["col-name"]: r for r in agg.descriptive_stats(df).collect()}
    assert stats["v"]["n-missing"] == 1 and stats["v"]["mean"] == 2.0
    assert stats["s"]["n-valid"] == 2


def test_descriptive_stats_grouped_agg_matches_single(spark):
    """Wide-aggregate splitting (agg_expr_budget) must not change any value:
    a tiny budget forces one crossJoined branch per column; results must be
    identical to the single-agg plan, including first/last scan-order stats
    recomputed per branch."""
    rows = [(float(i), float(i * i % 7), f"s{i % 3}",
             None if i % 5 == 0 else float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "a double, b double, c string, d double")
    kw = dict(stats=("n-valid", "n-missing", "min", "quartile-1", "mean",
                     "mode", "median", "quartile-3", "max", "stddev", "skew",
                     "n-values", "first", "last"),
              quantile_accuracy="exact")
    split = sorted(map(str, agg.descriptive_stats(
        df, agg_expr_budget=4, **kw).collect()))
    single = sorted(map(str, agg.descriptive_stats(
        df, agg_expr_budget=10**9, **kw).collect()))
    assert split == single


def test_grouping_sets_matches_unioned_groupbys(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], ["g", "h", "v"])
    out = agg.grouping_sets_agg(df, [["g", "h"], ["g"], []],
                                {"s": ("sum", "v")}).collect()
    got = {(r["g"], r["h"]): r["s"] for r in out}
    assert got[("a", "x")] == 1 and got[("a", "y")] == 2 and got[("b", "x")] == 4
    assert got[("a", None)] == 3 and got[("b", None)] == 4
    assert got[(None, None)] == 7


def test_replace_missing_abb_draws_from_observed(spark):
    df = spark.createDataFrame(
        [(i, None if v is None else float(v)) for i, v in enumerate(
            [10, None, 20, None, 30, None, 10, 20])], "i int, v double")
    out = ms.replace_missing(df, "v", "abb", seed=1)
    vals = [r["v"] for r in out.collect()]
    assert all(v is not None for v in vals)
    assert set(vals) <= {10.0, 20.0, 30.0}  # fills come from observed pool


def test_sample_by_strata_fractions(spark):
    df = spark.createDataFrame([(i, "a" if i % 2 else "b") for i in range(2000)],
                               ["i", "k"])
    out = sel.sample_by(df, "k", {"a": 0.1, "b": 0.9}, seed=5)
    counts = {r["k"]: r["n"] for r in
              out.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert 40 <= counts["a"] <= 200 and 750 <= counts["b"] <= 1000


def test_sample_stratified_exact(spark):
    """Exact per-stratum counts, deterministic selection, small strata
    return whole."""
    df = spark.createDataFrame(
        [(i, "a" if i < 100 else ("b" if i < 130 else "c"))
         for i in range(135)], ["i", "k"])
    out = sel.sample_stratified_exact(df, "k", 20, key_col="i", seed=7)
    counts = {r["k"]: r["n"] for r in
              out.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 20, "b": 20, "c": 5}  # c has only 5 rows
    # deterministic: same seed -> same ids; different seed -> different set
    ids1 = sorted(r["i"] for r in out.collect())
    ids2 = sorted(r["i"] for r in
                  sel.sample_stratified_exact(df, "k", 20, key_col="i",
                                              seed=7).collect())
    ids3 = sorted(r["i"] for r in
                  sel.sample_stratified_exact(df, "k", 20, key_col="i",
                                              seed=8).collect())
    assert ids1 == ids2 and ids1 != ids3


def test_sample_stratified_exact_mega_stratum_guard(spark):
    """r4 verdict #7: salt_buckets must break a mega-stratum's single-task
    sort while returning the IDENTICAL exact sample. One stratum owns 50%
    of the rows; the guarded plan partitions its first window by
    (stratum, salt) — no unsalted full-stratum sort before pruning — and
    the result matches the unguarded law row-for-row."""
    rows = [(i, "mega" if i % 2 == 0 else f"s{i % 7}") for i in range(4000)]
    df = spark.createDataFrame(rows, ["i", "k"])
    plain = sel.sample_stratified_exact(df, "k", 25, key_col="i", seed=3)
    guarded = sel.sample_stratified_exact(df, "k", 25, key_col="i", seed=3,
                                          salt_buckets=16)
    a = sorted((r["k"], r["i"]) for r in plain.collect())
    b = sorted((r["k"], r["i"]) for r in guarded.collect())
    assert a == b and len(b) == 25 * 8  # mega + s0..s6 (odd i hits all residues)
    # plan shape: the FIRST window over the raw table is salt-partitioned;
    # the stratum-only window runs after the <= S*n prune
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "pmod(xxhash64" in plan
    first_window = plan.index("Window")
    assert "pmod" in plan[first_window - 2000:], \
        "salted window must precede the stratum-wide one"


def test_freq_items_contains_heavy_hitter(spark):
    df = spark.createDataFrame([(("hot" if i % 3 else f"cold{i}"),)
                                for i in range(300)], ["k"])
    row = sel.freq_items(df, "k", 0.4).collect()[0]
    assert "hot" in row["k_freqItems"]


def test_datasets_equal_bag_semantics(spark):
    a = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], ["i", "s"])
    b = spark.createDataFrame([(2, "y"), (1, "x"), (1, "x")], ["i", "s"])
    c = spark.createDataFrame([(1, "x"), (2, "y")], ["i", "s"])  # lost a dup
    assert st.datasets_equal(a, b)          # order-insensitive
    assert not st.datasets_equal(a, c)      # multiplicity counts
    assert not st.datasets_equal(a, a.withColumn("i", F.col("i").cast("int")))


def test_dataset_diff_multiplicity_and_direction(spark):
    a = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y"), (3, "z")],
                              ["i", "s"])
    b = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y"), (4, "w")],
                              ["i", "s"])
    got = {(r["i"], r["s"]): (r["n_left"], r["n_right"], r["delta"])
           for r in st.dataset_diff(a, b).collect()}
    assert got == {(1, "x"): (2, 1, 1), (2, "y"): (1, 2, -1),
                   (3, "z"): (1, 0, 1), (4, "w"): (0, 1, -1)}
    assert st.dataset_diff(a, a).isEmpty()  # empty diff <=> equal
    import pytest as _pt
    with _pt.raises(ValueError, match="matching schemas"):
        st.dataset_diff(a, a.withColumn("i", F.col("i").cast("string")))


def test_unpartitioned_window_warns(spark):
    """r1 verdict #5: by=None ordered operators are silent single-task
    funnels; they must emit a UserWarning (and stay silent when 'by' is
    given)."""
    import warnings as w
    from tech_ml_dataset_spark.operators import missing as ms, window as win

    df = spark.createDataFrame([(1, 1.0), (2, None), (3, 3.0)], ["x", "v"])
    with pytest.warns(UserWarning, match="single task"):
        ms.replace_missing(df, "v", "down", order_by="x")
    with pytest.warns(UserWarning, match="single task"):
        win.rolling(df, "x", {"m": ("mean", "v")}, window_size=2)
    with w.catch_warnings():
        w.simplefilter("error")
        ms.replace_missing(df, "v", "down", order_by="x", by="x")
        win.rolling(df, "x", {"m": ("mean", "v")}, window_size=2, by="x")


def test_descriptive_stats_full_surface(spark):
    """Full reference stat surface (dataset_api.clj:1300-1385): quartiles,
    median, mode, n-values, values, histogram, first/last — the parts the
    DuckDB oracle can't pin (scan order, tie-breaks, skew estimator)."""
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "b"), (3.0, "b"), (4.0, "c"), (5.0, "b")],
        "v double, s string")
    rows = {r["col-name"]: r for r in agg.descriptive_stats(
        df, stats=agg.ALL_DESCRIPTIVE_STATS, quantile_accuracy="exact").collect()}
    v, s = rows["v"], rows["s"]
    assert v["quartile-1"] == 2.0 and v["median"] == 3.0 and v["quartile-3"] == 4.0
    assert v["min"] == "1.0" and v["max"] == "5.0"
    assert v["first"] == "1.0" and v["last"] == "5.0"
    assert abs(v["skew"]) < 1e-9  # symmetric
    assert s["mode"] == "b" and s["n-values"] == 3
    assert s["values"][0] == "b"  # most frequent first
    hist = {h["value"]: h["count"] for h in s["histogram"]}
    assert hist == {"a": 1, "b": 3, "c": 1}
    # mode tie-break is deterministic: larger value wins
    tie = spark.createDataFrame([("x",), ("y",)], "t string")
    trow = agg.descriptive_stats(tie, stats=("mode",)).collect()[0]
    assert trow["mode"] == "y"


def test_descriptive_stats_temporal_axis(spark):
    """Reference datetime_test.clj stocks-descriptive-stats: min, MEAN,
    max (and quartiles, stocks-descriptive-stats-2) of a datetime column
    come back as datetimes, not raw epoch numbers. When the report holds
    a temporal column, mean/quantile columns switch to string (Spark
    describe() precedent) and temporal rows render through the column's
    own type; stddev stays a numeric duration."""
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),), (dt.datetime(2024, 1, 3),)], "ts timestamp")
    r = agg.descriptive_stats(df, stats=("min", "max", "mean", "median",
                                         "stddev"),
                              quantile_accuracy="exact").collect()[0]
    assert r["min"].startswith("2024-01-01") and r["max"].startswith("2024-01-03")
    assert r["mean"].startswith("2024-01-02")    # midpoint, rendered
    assert r["median"].startswith("2024-01-02")
    assert isinstance(r["stddev"], float)        # duration in micros
    # a MIXED report stringifies numeric rows too (single column type)...
    mixed = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 2.0), (dt.datetime(2024, 1, 3), 4.0)],
        "ts timestamp, v double")
    rows = {x["col-name"]: x for x in agg.descriptive_stats(
        mixed, stats=("mean",)).collect()}
    assert rows["ts"]["mean"].startswith("2024-01-02")
    assert float(rows["v"]["mean"]) == 3.0
    # ...but an all-numeric report keeps numeric stat columns (the oracle
    # query's schema must not change)
    num = agg.descriptive_stats(mixed, ["v"], stats=("mean",)).collect()[0]
    assert num["mean"] == 3.0 and isinstance(num["mean"], float)


def test_rolling_multi_column_reducer(spark):
    """rolling.clj:102-111: reducer over k window readers. Built-in 'corr'
    two-column form plus a custom FrameReducer callable (rolling covariance
    composed from frame means) must agree with covar_pop."""
    from tech_ml_dataset_spark.operators import window as win

    rows = [(1, i, float(i), float(i) * 2 + (i % 3)) for i in range(12)]
    df = spark.createDataFrame(rows, ["g", "t", "x", "y"])

    def cov_pop(w, x, y):
        return w.mean(x * y) - w.mean(x) * w.mean(y)

    out = win.rolling(df, "t",
                      {"c_builtin": ("covariance-pop", ["x", "y"]),
                       "c_custom": (cov_pop, ["x", "y"]),
                       "r": ("corr", ["x", "y"])},
                      window_size=4, by="g", position="left")
    for r in out.collect():
        if r["c_builtin"] is not None:
            assert abs(r["c_builtin"] - r["c_custom"]) < 1e-9
        if r["r"] is not None and r["r"] == r["r"]:  # skip NaN
            assert -1.0 - 1e-9 <= r["r"] <= 1.0 + 1e-9


def test_rolling_udf_median(spark):
    """Window-UDF helper (SURVEY 2.8): Python rolling median over a 3-row
    right-aligned frame matches hand-computed values."""
    import numpy as np
    import pandas as pd
    from tech_ml_dataset_spark.operators import window as win

    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([5, 1, 4, 2, 8])],
        ["g", "t", "v"])

    def med(s: pd.Series) -> pd.Series:
        return s.map(lambda arr: float(np.median(arr)))

    out = win.rolling_udf(df, "t", {"m": (med, "v", "double")},
                          window_size=3, by="g", position="left")
    got = [r["m"] for r in out.orderBy("t").collect()]
    assert got == [5.0, 3.0, 4.0, 2.0, 4.0]


def test_rolling_nth_reducer(spark):
    """rolling.clj:57 nth reducer: 0-based k-th value inside the frame."""
    from tech_ml_dataset_spark.operators import window as win

    df = spark.createDataFrame([(1, i, float(i * 10)) for i in range(5)],
                               ["g", "t", "v"])
    out = win.rolling(df, "t", {"second": ("nth", "v", 1)},
                      window_size=3, by="g", position="left")
    got = {r["t"]: r["second"] for r in out.collect()}
    # frame = rows [t-2, t]; nth(1) = middle element once frame has >= 2 rows
    assert got[0] is None and got[1] == 10.0 and got[2] == 10.0 and got[3] == 20.0


def test_validate_and_expect(spark):
    from tech_ml_dataset_spark.operators import validate as dv

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", -1.0), (2, "z", 3.0), (None, "a", 2.0)],
        "id int, cat string, v double")
    rep = {r["rule"]: r["n_violations"] for r in dv.validate(df, [
        dv.not_null("id"),
        dv.in_range("v", 0, 10),
        dv.one_of("cat", ["a", "b"]),
        dv.unique("id"),
    ]).collect()}
    assert rep["not_null(id)"] == 1
    assert rep["in_range(v,0,10)"] == 1
    assert rep["one_of(cat)"] == 1
    assert rep["unique(id)"] == 1   # id=2 twice -> 1 extra row
    with pytest.raises(ValueError, match="not_null"):
        dv.expect(df, [dv.not_null("id")])
    dv.expect(df.na.drop(), [dv.not_null("id")])  # clean subset passes


def test_asof_nearest_ntz_axis(spark):
    """asof 'nearest' on a TIMESTAMP_NTZ axis: the distance compare must
    route through the NTZ-safe epoch helpers (direct numeric casts on NTZ
    throw DATATYPE_MISMATCH — the r1 hard-error class)."""
    from pyspark.sql import functions as F
    from tech_ml_dataset_spark.operators import join as jn

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10"), (2, "2024-01-01 00:01:00")],
        "id int, t string").withColumn("t", F.col("t").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0), ("2024-01-01 00:00:30", 2.0)],
        "t string, v double").withColumn("t", F.col("t").cast("timestamp_ntz"))
    out = {r["id"]: r["v"]
           for r in jn.left_join_asof(left, right, "t", asof_op="nearest").collect()}
    assert out == {1: 1.0, 2: 2.0}  # 10s->t0 (10 vs 20), 60s->t30


def test_kendall_tau_exact_matches_bruteforce(spark):
    """Distributed bucketed-rank Kendall vs O(n^2) numpy brute force,
    including heavy ties in both columns."""
    import numpy as np
    from tech_ml_dataset_spark.ml.preprocess import kendall_tau_exact

    rng = np.random.default_rng(11)
    x = rng.integers(0, 8, 400).astype(float)
    y = (x * 0.5 + rng.integers(0, 4, 400)).astype(float)
    sx = np.sign(x[:, None] - x[None, :]); sy = np.sign(y[:, None] - y[None, :])
    iu = np.triu_indices(len(x), 1); sx, sy = sx[iu], sy[iu]
    s = float((sx * sy).sum())
    want = s / np.sqrt(float((sx != 0).sum()) * float((sy != 0).sum()))

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double")
    # distributed bucketed path AND the small-cell driver fast path must
    # both match brute force exactly
    dist = kendall_tau_exact(df, "x", "y", n_buckets=5, driver_threshold=0)
    drv = kendall_tau_exact(df, "x", "y")
    for got in (dist, drv):
        assert got["s"] == int(s) and abs(got["tau"] - want) < 1e-12
        assert got["n"] == 400
    assert dist["n_cells"] == drv["n_cells"]


def test_validate_empty_input_passes(spark):
    """ADVICE r2 (medium): sum over zero rows is NULL — an empty-but-clean
    ingest partition must report 0 violations / passed=true, not fail the
    gate with NULL counts."""
    from tech_ml_dataset_spark.operators import validate as dv

    df = spark.createDataFrame([], "id int, v double")
    rep = dv.validate(df, [dv.not_null("id"), dv.in_range("v", 0, 10),
                           dv.unique("id")]).collect()
    assert len(rep) == 3
    assert all(r["n_violations"] == 0 and r["passed"] for r in rep)
    dv.expect(df, [dv.not_null("id"), dv.in_range("v", 0, 10)])  # no raise


def test_sessionize_gap_semantics(spark):
    from datetime import datetime as DT

    from tech_ml_dataset_spark.operators import timeseries as tss
    rows = [
        ("u1", DT(2024, 1, 1, 10, 0, 0), 1),
        ("u1", DT(2024, 1, 1, 10, 10, 0), 2),   # 10 min -> same session
        ("u1", DT(2024, 1, 1, 11, 0, 0), 3),    # 50 min -> new session
        ("u2", DT(2024, 1, 1, 10, 0, 0), 4),    # own partition
    ]
    df = spark.createDataFrame(rows, ["user", "ts", "eid"])
    out = tss.sessionize(df, "ts", gap_seconds=1800, by="user",
                         order_tiebreak=["eid"])
    got = {r["eid"]: r["session_seq"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_psi_drift(spark):
    """PSI ~ 0 for identical distributions; large for a clear shift;
    per-column rows."""
    from tech_ml_dataset_spark.operators import validate as dv

    ref = spark.createDataFrame([(float(i % 100), float(i % 10))
                                 for i in range(1000)], ["a", "b"])
    same = dv.psi_drift(ref, ref, ["a", "b"], exact_edges=True)
    for r in same.collect():
        assert abs(r["psi"]) < 1e-9, r
    shifted = spark.createDataFrame([(float(i % 100) + 50.0, float(i % 10))
                                     for i in range(1000)], ["a", "b"])
    out = {r["column"]: r["psi"]
           for r in dv.psi_drift(ref, shifted, ["a", "b"],
                                 exact_edges=True).collect()}
    assert out["a"] > 0.25          # half the mass left the ref buckets
    assert abs(out["b"]) < 1e-9     # untouched column stays stable


def test_psi_drift_empty_side_is_ansi_safe(spark):
    from tech_ml_dataset_spark.operators import validate as dv

    ref = spark.createDataFrame([(float(i),) for i in range(50)], ["a"])
    empty = spark.createDataFrame([], "a double")
    # empty current side: every cur bucket is epsilon -> finite psi, no throw
    out = dv.psi_drift(ref, empty, ["a"], exact_edges=True).collect()
    assert len(out) == 1 and out[0]["psi"] is not None


def test_psi_drift_with_ks(spark):
    from tech_ml_dataset_spark.operators import validate as dv

    ref = spark.createDataFrame([(float(i % 100),) for i in range(1000)], ["a"])
    cur = spark.createDataFrame([(float(i % 100) + 50.0,) for i in range(1000)],
                                ["a"])
    same = dv.psi_drift(ref, ref, ["a"], exact_edges=True,
                        include_ks=True).collect()[0]
    assert abs(same["ks"]) < 1e-12
    moved = dv.psi_drift(ref, cur, ["a"], exact_edges=True,
                         include_ks=True).collect()[0]
    # half the mass shifted past the ref median -> ECDF gap ~ 0.5
    assert 0.3 <= moved["ks"] <= 0.7


def test_psi_drift_categorical(spark):
    from tech_ml_dataset_spark.operators import validate as dv

    ref = spark.createDataFrame(
        [("en",)] * 70 + [("de",)] * 20 + [("fr",)] * 10, ["lang"])
    same = dv.psi_drift_categorical(ref, ref, "lang").collect()[0]
    assert abs(same["psi"]) < 1e-12
    # shift: fr mass triples at en's expense, plus an unseen language
    cur = spark.createDataFrame(
        [("en",)] * 40 + [("de",)] * 20 + [("fr",)] * 30 + [("zh",)] * 10,
        ["lang"])
    moved = dv.psi_drift_categorical(ref, cur, "lang").collect()[0]
    assert moved["psi"] > 0.1
    # top_k cap: tail collapses into __other__, still finite and ordered
    capped = dv.psi_drift_categorical(ref, cur, "lang", top_k=1).collect()[0]
    assert capped["psi"] > 0.0


def test_psi_drift_categorical_boolean_column(spark):
    """r4 review: top-k literals were Python str() renderings ('True')
    compared against Spark cast-to-string values ('true'), so every
    boolean row landed in __other__ on both sides and a drastic
    true/false shift reported ~0 PSI."""
    from tech_ml_dataset_spark.operators import validate as dv

    ref = spark.createDataFrame([(True,)] * 90 + [(False,)] * 10,
                                "is_spam boolean")
    cur = spark.createDataFrame([(True,)] * 10 + [(False,)] * 90,
                                "is_spam boolean")
    assert abs(dv.psi_drift_categorical(ref, ref, "is_spam")
                 .collect()[0]["psi"]) < 1e-12
    moved = dv.psi_drift_categorical(ref, cur, "is_spam").collect()[0]
    assert moved["psi"] > 1.0  # massive flip must register


def test_sort_nan_strategy_and_nil_unique_reference_laws(spark):
    """dataset_test.clj:1306-1313 sort-works-with-nan: nan-strategy
    :first/:last map to null placement ([nil nil nil 1 2 4] resp.
    [1 2 4 nil nil nil]); dataset_test.clj:928-932 unique-by on an
    all-nil column must not crash (one NULL survivor)."""
    from tech_ml_dataset_spark.operators import setops as st

    df = spark.createDataFrame([(1,), (None,), (2,), (None,), (None,), (4,)],
                               "a int")
    first = [r["a"] for r in
             st.sort_by_column(df, "a", nulls_first=True).collect()]
    last = [r["a"] for r in
            st.sort_by_column(df, "a", nulls_first=False).collect()]
    assert first == [None, None, None, 1, 2, 4]
    assert last == [1, 2, 4, None, None, None]
    allnil = spark.createDataFrame([(None,), (None,)], "abc string")
    assert st.unique_by_column(allnil, "abc").count() == 1
    # :exception arm: a NULL sort key raises executor-side
    import pytest as _pt
    with _pt.raises(Exception, match="exception"):
        st.sort_by_column(df, "a", nulls="exception").collect()
    clean = spark.createDataFrame([(2,), (1,)], "a int")
    got = [r["a"] for r in
           st.sort_by_column(clean, "a", nulls="exception").collect()]
    assert got == [1, 2]


def test_select_rows_boolean_mask_law(spark):
    """dataset_test.clj:1741-1750 select-bool-issue-387: a boolean
    sequence is a MASK (keep row i iff mask[i]) — before r4 it silently
    int-coerced to indices 0/1."""
    from tech_ml_dataset_spark.operators import selection as sel

    df = spark.range(10)
    mask = [True, False] * 5
    got = sorted(r["id"] for r in
                 sel.select_rows(df, mask, order_by="id").collect())
    assert got == [0, 2, 4, 6, 8]
    dropped = sorted(r["id"] for r in
                     sel.drop_rows(df, mask, order_by="id").collect())
    assert dropped == [1, 3, 5, 7, 9]
    # numpy masks (np.bool_ is NOT a bool subclass — review late-r4)
    import numpy as np
    npmask = list(np.array(mask))
    got_np = sorted(r["id"] for r in
                    sel.select_rows(df, npmask, order_by="id").collect())
    assert got_np == [0, 2, 4, 6, 8]
    # all-False mask: empty selection / identity drop, not a crash
    assert sel.select_rows(df, [False] * 10, order_by="id").count() == 0
    assert sel.drop_rows(df, [False] * 10, order_by="id").count() == 10
    # wrong-length masks fail loudly (stale-copy mask hazard)
    import pytest as _pt
    with _pt.raises(ValueError, match="mask has 5 entries for 10 rows"):
        sel.select_rows(df, [True] * 5, order_by="id")


def test_replace_missing_all_values_missing_law(spark):
    """dataset_test.clj:876-882: :value-with-mean on an all-missing column
    leaves it all-missing (the statistic is undefined, not 0)."""
    from tech_ml_dataset_spark.operators import missing as ms
    df = spark.createDataFrame([(None,), (None,)], "a double")
    out = ms.replace_missing(df, "a", "mean")
    assert [r["a"] for r in out.collect()] == [None, None]


def test_replace_missing_regression_181_mean_value(spark):
    """dataset_test.clj:1059-1066 (regression-181): mean fill over
    [nil nil 2 2] yields [2 2 2 2]."""
    from tech_ml_dataset_spark.operators import missing as ms
    df = spark.createDataFrame([(None,), (None,), (2.0,), (2.0,)], "a double")
    out = ms.replace_missing(df, "a", "mean")
    assert sorted(r["a"] for r in out.collect()) == [2.0, 2.0, 2.0, 2.0]


def test_replace_missing_selector_fn_law(spark):
    """dataset_test.clj:884-894: column-filter selectors compose with
    replace-missing — numeric columns take the mean, categorical columns
    take a literal — via colmap.column_filter + two replace_missing
    passes (the reference's cf/numeric + cf/categorical shape)."""
    from tech_ml_dataset_spark.operators import colmap as cm
    from tech_ml_dataset_spark.operators import missing as ms
    df = spark.createDataFrame(
        [(None, None, None), (None, None, None), (2.0, 4.0, "A"),
         (4.0, 6.0, "B")], "a double, b double, c string")
    nums = cm.column_filter(df, "numeric")
    cats = cm.column_filter(df, "string")
    out = ms.replace_missing(df, nums, "mean")
    out = ms.replace_missing(out, cats, "value", "C")
    rows = sorted((r["a"], r["b"], r["c"]) for r in out.collect())
    assert rows == [(2.0, 4.0, "A"), (3.0, 5.0, "C"),
                    (3.0, 5.0, "C"), (4.0, 6.0, "B")]


def test_replace_missing_empty_column_issue_458(spark):
    """dataset_test.clj:1817-1827 (issue-458): :value fill on an ALL-null
    column fills every row (no crash, no skip)."""
    from tech_ml_dataset_spark.operators import missing as ms
    df = spark.createDataFrame(
        [("fred", None), ("ethel", None), ("sally", None)],
        "name string, age int")
    out = ms.replace_missing(df, "age", "value", 100)
    assert [r["age"] for r in out.collect()] == [100, 100, 100]


def test_sample_repeatable_seed_law(spark):
    """dataset_test.clj:1023-1033: sample(n, seed) is repeatable for the
    same seed, and the no-arg arity samples the default 5 rows."""
    df = spark.createDataFrame([(i,) for i in range(100)], ["i"])
    a = sorted(r["i"] for r in sel.sample(df, 5, seed=20).collect())
    b = sorted(r["i"] for r in sel.sample(df, 5, seed=20).collect())
    assert a == b and len(a) == 5
    assert sel.sample(df).count() == 5  # sample-arities default


def test_issue_450_categorical_distinct_codes(spark):
    """dataset_test.clj:1799-1807 (issue-450): categorical->number must
    assign INJECTIVE codes — distinct code count == category count."""
    from tech_ml_dataset_spark.ml import preprocess as mlp
    df = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("a",), ("a",), ("a",), ("b",), ("b",)],
        ["y"])
    out, _ = mlp.categorical_to_number(df, ["y"])
    assert out.select("y").distinct().count() == 2


def test_select_columns_repeat_columns_law(spark):
    """dataset_test.clj:1700-1704: repeated names in select-columns keep
    their first position only."""
    df = spark.createDataFrame([(1, 3), (2, 4)], ["a", "b"])
    out = sel.select_columns(df, ["a", "b", "a"])
    assert out.columns == ["a", "b"]


def test_rename_columns_positional_law(spark):
    """dataset_test.clj:708-724: a positional sequence renames all columns
    in order; wrong length raises; a set raises (unordered)."""
    import pytest as _pytest
    df = spark.createDataFrame([(0, "aa", "bb")], ["id", "a", "ab"])
    out = sel.rename_columns(df, ["id", "a1", "a2"])
    assert out.columns == ["id", "a1", "a2"]
    with _pytest.raises(ValueError):
        sel.rename_columns(df, ["a1", "a2"])
    with _pytest.raises(TypeError):
        sel.rename_columns(df, {"id", "a1", "a2"})


def test_group_by_agg_issue_201_column_count(spark):
    """reductions_test.clj:88-113 (issue-201): a reducer named like the
    grouping key REPLACES the key column — 8 requested columns in, 8 out,
    no ambiguous duplicate."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], ["symbol", "price"])
    out = agg.group_by_column_agg(df, "symbol", {
        "n_elems": ("row-count", None),
        "price_avg": ("mean", "price"),
        "price_avg2": ("mean", "price"),
        "price_avg3": ("mean", "price"),
        "price_sum": ("sum", "price"),
        "price_med": ("prob-median", "price"),
        "symbol": ("first", "symbol"),
        "n_dates": ("count-distinct", "price")})
    assert len(out.columns) == 8 and out.columns.count("symbol") == 1
    rows = {r["symbol"]: r["price_sum"] for r in out.collect()}
    assert rows == {"a": 4.0, "b": 5.0}


def test_distinct_reducer_sorted_issue_314(spark):
    """reductions_test.clj:334-342 (issue-314): the :distinct reducer
    yields a deterministic (sorted) value array."""
    df = spark.createDataFrame(
        [("foo", "2"), ("foo", "0"), ("foo", "1")], ["k", "value"])
    out = agg.group_by_column_agg(df, "k", {"vals": ("distinct", "value")})
    assert out.collect()[0]["vals"] == ["0", "1", "2"]


def test_small_api_batch(spark):
    """dataset_api.clj small-surface parity: shape (column-major, on the
    frame and on the Dataset wrapper), row-at / rowvec-at with negative
    indices, empty-column detection in ONE agg pass, positional
    append-columns, and column metadata round-trip."""
    from tech_ml_dataset_spark.dataset import Dataset
    from tech_ml_dataset_spark.operators import colmap as cm
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, "c", None)],
        "i long, s string, z string")
    assert sel.shape(df) == [3, 3]
    assert Dataset(df.select("i", "s")).shape() == [2, 3]
    assert sel.row_at(df, 1, order_by="i") == {"i": 2, "s": "b", "z": None}
    assert sel.row_at(df, -1, order_by="i")["i"] == 3
    assert sel.rowvec_at(df, -3, order_by="i") == [1, "a", None]
    assert sel.empty_column_names(df) == ["z"]
    assert sel.remove_empty_columns(df).columns == ["i", "s"]

    other = spark.createDataFrame([(10.0,), (20.0,), (30.0,)], "v double")
    both = sel.append_columns(df.orderBy("i"), other, order_by="i")
    assert sorted((r["i"], r["v"]) for r in both.collect()) == \
        [(1, 10.0), (2, 20.0), (3, 30.0)]
    import pytest as _pt
    with _pt.raises(ValueError):
        sel.append_columns(df, df)

    md = cm.assoc_metadata(df, ["i"], unit="count", source="test")
    assert cm.column_metadata(md, "i") == {"unit": "count", "source": "test"}
    assert cm.column_metadata(md.select("i", "s"), "i")["unit"] == "count"
    md2 = cm.assoc_metadata(md, ["i"], unit="n")  # merge-over law
    assert cm.column_metadata(md2, "i") == {"unit": "n", "source": "test"}

    c2d = cm.column_to_dataset(df, "i", lambda v: {"sq": v * v},
                               schema="sq long")
    assert sorted(r["sq"] for r in c2d.collect()) == [1, 4, 9]
    with _pt.raises(ValueError):
        cm.column_to_dataset(df, "i", lambda v: {"sq": v})


def test_r5_review_fixes_selection(spark):
    """r5 review batch: select_columns must pass Column objects through
    (they are unhashable — the string dedupe must not touch them);
    rename_columns accepts (old, new) pair sequences; append_columns
    raises on row-count mismatch instead of silently truncating."""
    df = spark.createDataFrame([(1, 2), (3, 4)], ["a", "b"])
    out = sel.select_columns(df, [F.col("a").alias("x"), F.col("b")])
    assert out.columns == ["x", "b"]
    out2 = sel.rename_columns(df, [("a", "a1"), ("b", "b1")])
    assert out2.columns == ["a1", "b1"]
    other = spark.createDataFrame([(9.0,)], "v double")
    with pytest.raises(ValueError, match="row counts differ"):
        sel.append_columns(df, other)


def test_ensure_parallelism_not_fooled_by_coalesce(spark, tmp_path):
    """A coalesce above a wide scan narrows the input: ensure_parallelism
    must size from the coalesced partition count, not from the scan's
    files."""
    from tech_ml_dataset_spark.dtutil import ensure_parallelism
    p = str(tmp_path / "wide")
    spark.range(100000).repartition(32).write.parquet(p)
    narrow = spark.read.parquet(p).coalesce(1)
    widened = ensure_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism


def test_ensure_parallelism_not_fooled_by_partition_pruning(spark, tmp_path):
    """A filter on the partition column prunes a partitioned table down to
    one tiny file, however large the pruned-away partitions are: the
    input is ONE scan partition and must be widened to one per core
    (``inputFiles()`` still lists every file of the table, so file sizes
    overstate the pruned scan)."""
    from tech_ml_dataset_spark.dtutil import ensure_parallelism
    p = str(tmp_path / "parted")
    spark.range(10).select(F.lit(0).cast("long").alias("k"),
                           F.rand(7).alias("v")) \
        .coalesce(1).write.partitionBy("k").parquet(p)
    spark.range(400_000).select((F.col("id") % 2 + 1).alias("k"),
                                F.rand(7).alias("v")) \
        .write.mode("append").partitionBy("k").parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
        pruned = spark.read.parquet(p).filter(F.col("k") == 0)
        assert pruned.rdd.getNumPartitions() == 1
        widened = ensure_parallelism(pruned)
        assert widened.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism
        assert widened.count() == 10
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_datetime_ingest_and_epoch_mapping_laws(spark):
    """datetime_test.clj:49-62 (datetime-shenanigans-1): datetime values
    ingest as a timestamp column and read back exactly; :11-13
    (epoch-millis maps): datetime->milliseconds yields numbers."""
    from datetime import datetime

    from tech_ml_dataset_spark.dtutil import epoch_micros
    from tech_ml_dataset_spark.sources import io as sio
    dts = [datetime(2020, 1, 1, 11, 22, 33), datetime(2020, 10, 1, 1, 1, 1)]
    ds = sio.to_dataset(spark, {"dt": dts})
    assert dict(ds.dtypes)["dt"].startswith("timestamp")
    got = sorted(r["dt"] for r in ds.collect())
    assert got == sorted(dts)
    ms = ds.select((epoch_micros("dt") / 1000).cast("long").alias("ms"))
    vals = sorted(r["ms"] for r in ms.collect())
    # tz-independent SCALE pin: the difference between the two datetimes
    # must be exact milliseconds (absolute epoch depends on session tz)
    assert vals[1] - vals[0] == int((dts[1] - dts[0]).total_seconds() * 1000)


def test_replace_missing_abb_key_col_in_filled_cols(spark):
    """r5 advice: when a key column is itself being filled, every
    column's draw must hash the PRE-fill key value — filling v alone and
    filling [v, k] must produce identical v fills (the key string is
    materialized before any fill), and NULL-key rows never fill."""
    rows = [(None if i % 3 == 0 else f"k{i}",
             None if i % 2 == 0 else float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "k string, v double")
    only_v = ms.replace_missing(df, ["v"], "abb", seed=9, key_cols="k")
    both = ms.replace_missing(df, ["v", "k"], "abb", seed=9, key_cols="k")
    got_v = {r["k"]: r["v"] for r in only_v.collect() if r["k"] is not None}
    got_b = {r["k"]: r["v"] for r in both.collect() if r["k"] is not None}
    assert got_v == got_b
    assert set(both.columns) == {"k", "v"}  # temp key string dropped
    # NULL keys neither draw nor fill: null-k rows keep v exactly as-is
    # (None when i was even, float(i) when odd) and k stays NULL
    null_vs = sorted((r["v"] for r in both.collect() if r["k"] is None),
                     key=lambda x: (x is None, x))
    want = sorted((None if i % 2 == 0 else float(i)
                   for i in range(40) if i % 3 == 0),
                  key=lambda x: (x is None, x))
    assert null_vs == want


def test_reservoir_sample_arms(spark, sf_dir):
    """rand arm: exact per-group counts, seed-stable; md5 arm: engine-
    replayable exact rows (the deterministic twin, :abb pattern)."""
    import hashlib

    from tech_ml_dataset_spark.operators import aggregate as agg
    from tech_ml_dataset_spark.sources.io import read_parquet
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    # rand arm: min(k, group size) rows per group, same rows per seed
    a = agg.reservoir_sample(o, 3, by="o_orderpriority", seed=7)
    counts = {r["o_orderpriority"]: r["n"]
              for r in a.groupBy("o_orderpriority").count()
                       .withColumnRenamed("count", "n").collect()}
    sizes = {r["o_orderpriority"]: r["n"]
             for r in o.groupBy("o_orderpriority").count()
                      .withColumnRenamed("count", "n").collect()}
    assert counts == {k: min(3, v) for k, v in sizes.items()}
    # md5 arm: rows equal a driver-side replay of the documented draw
    d = agg.reservoir_sample(o, 2, by="o_orderpriority", seed=42,
                             key_cols=["o_orderkey"])
    got = {(r["o_orderpriority"], r["o_orderkey"]) for r in d.collect()}
    rows = o.select("o_orderpriority", "o_orderkey").collect()
    bygrp = {}
    for r in rows:
        bygrp.setdefault(r["o_orderpriority"], []).append(r["o_orderkey"])
    want = set()

    def draw(k):  # per-key md5 token, then the seed-salted draw hash
        kh = hashlib.md5(str(k).encode()).hexdigest()
        return hashlib.md5(f"{kh}:42".encode()).hexdigest()

    for g, ks in bygrp.items():
        ks.sort(key=lambda k: (draw(k), k))
        want |= {(g, k) for k in ks[:2]}
    assert got == want


def test_reservoir_md5_draw_key_collision_law(spark):
    """r6 advice: the md5 arm used to draw from concat_ws(':', keys, seed),
    so ('a:b',) and ('a','b') — or tuples differing only by a NULL key,
    which concat_ws SKIPS — collided to the same draw string, correlating
    the sample. Per-key md5 tokens + NULL sentinel make every distinct key
    tuple draw independently."""
    from pyspark.sql import functions as F

    from tech_ml_dataset_spark.operators import aggregate as agg
    df = spark.createDataFrame(
        [("a:b", "c"), ("a", "b:c"), ("a", None), (None, "a")],
        "k1 string, k2 string")
    draws = (agg.reservoir_sample(df, 4, seed=1, key_cols=["k1", "k2"])
             .select("k1", "k2").distinct().count())
    assert draws == 4  # all four rows survive k=4: sanity
    # the draw expression itself must be injective over these tuples
    keys = [F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL"))
            for c in ("k1", "k2")]
    d = df.select(F.md5(F.concat_ws(":", *keys, F.lit("1"))).alias("d"))
    assert d.distinct().count() == 4


def test_temperature_resample_law(spark):
    """mC4/XLM-R exponentiated sampling: per-group budgets t_g =
    min(n_g, floor(total * n_g^a / sum(n^a) + 0.5)); alpha<1 up-samples
    the tail; draw equals the md5-rank replay; salt guard identical."""
    import hashlib
    import math

    rows = [(i, "big" if i < 800 else ("mid" if i < 900 else "small"))
            for i in range(920)]          # 800 / 100 / 20
    df = spark.createDataFrame(rows, ["i", "lang"])
    out = sel.temperature_resample(df, "lang", 200, alpha=0.3,
                                   key_col="i", seed=7)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n = {"big": 800, "mid": 100, "small": 20}
    wsum = sum(v ** 0.3 for v in n.values())
    want = {g: min(v, int(math.floor(200 * v ** 0.3 / wsum + 0.5)))
            for g, v in n.items()}
    assert counts == want
    # tail up-sampled relative to natural proportions
    assert counts["small"] / 200 > n["small"] / 920
    assert counts["big"] / 200 < n["big"] / 920
    # exact md5-rank replay of the drawn ids
    got = sorted((r["lang"], r["i"]) for r in out.collect())
    bygrp = {}
    for i, g in rows:
        bygrp.setdefault(g, []).append(i)
    expect = []
    for g, ks in bygrp.items():
        ks.sort(key=lambda k: (
            hashlib.md5(f"{k}:7".encode()).hexdigest(), k))
        expect += [(g, k) for k in ks[:want[g]]]
    assert got == sorted(expect)
    # mega-group salt guard returns the identical sample
    salted = sorted((r["lang"], r["i"]) for r in
                    sel.temperature_resample(df, "lang", 200, alpha=0.3,
                                             key_col="i", seed=7,
                                             salt_buckets=8).collect())
    assert salted == got
    # alpha=1 recovers (rounded) natural proportions
    nat = {r["lang"]: r["n"] for r in
           sel.temperature_resample(df, "lang", 92, alpha=1.0,
                                    key_col="i", seed=7)
              .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert nat == {"big": 80, "mid": 10, "small": 2}
    with pytest.raises(ValueError, match="alpha"):
        sel.temperature_resample(df, "lang", 10, alpha=0.0, key_col="i")


def test_asof_tolerance_law(spark):
    """r7 parity-plus (pandas merge_asof tolerance): the selected match
    is NULLED when its axis distance exceeds tolerance — never replaced
    by a further in-tolerance neighbor (pandas semantics); numeric axes
    use axis units, temporal axes microseconds; nearest applies the cap
    to the chosen side."""
    import datetime as dt

    left = spark.createDataFrame([(1, 5), (1, 100)], ["g", "t"])
    right = spark.createDataFrame(
        [(1, 3, "near"), (1, 90, "ten_away")], ["g", "t", "v"])
    # backward >=: t=5 matches 3 (d=2), t=100 matches 90 (d=10)
    out = {r["t"]: r["v"] for r in jn.left_join_asof(
        left, right, "t", by="g", asof_op=">=", tolerance=5).collect()}
    assert out == {5: "near", 100: None}
    # no tolerance: both match
    out2 = {r["t"]: r["v"] for r in jn.left_join_asof(
        left, right, "t", by="g", asof_op=">=").collect()}
    assert out2 == {5: "near", 100: "ten_away"}
    # nearest: chosen side capped; the further neighbor is NOT used
    near = spark.createDataFrame([(1, 10)], ["g", "t"])
    nr = spark.createDataFrame([(1, 7, "d3"), (1, 30, "d20")],
                               ["g", "t", "v"])
    assert jn.left_join_asof(near, nr, "t", by="g", asof_op="nearest",
                             tolerance=2).collect()[0]["v"] is None
    assert jn.left_join_asof(near, nr, "t", by="g", asof_op="nearest",
                             tolerance=3).collect()[0]["v"] == "d3"
    # temporal axis: tolerance in MICROSECONDS
    tl = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 10))], ["g", "ts"])
    tr = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 7), "s3")], ["g", "ts", "v"])
    assert jn.left_join_asof(tl, tr, "ts", by="g", asof_op=">=",
                             tolerance=3e6).collect()[0]["v"] == "s3"
    assert jn.left_join_asof(tl, tr, "ts", by="g", asof_op=">=",
                             tolerance=2.9e6).collect()[0]["v"] is None
    with pytest.raises(ValueError, match="tolerance"):
        jn.left_join_asof(left, right, "t", by="g", tolerance=-1)
