"""Tests for reshape (explode/melt/pivot), colmap (UDF surface), and ML
preprocessing."""

import pytest
from pyspark.sql import functions as F, types as T

from tech_ml_dataset_spark.ml import preprocess as mlp
from tech_ml_dataset_spark.operators import colmap as cm
from tech_ml_dataset_spark.operators import reshape as rs
from tech_ml_dataset_spark.plans.explain import physical_plan


def test_unroll_column(spark):
    df = spark.createDataFrame([(1, [10, 20]), (2, [30]), (3, [])],
                               "id int, xs array<int>")
    out = rs.unroll_column(df, "xs")
    assert sorted((r["id"], r["xs"]) for r in out.collect()) == [(1, 10), (1, 20), (2, 30)]
    outer = rs.unroll_column_outer(df, "xs")
    assert outer.count() == 4  # id=3 kept with null
    withidx = rs.unroll_column(df, "xs", indexes="i")
    got = sorted((r["id"], r["i"], r["xs"]) for r in withidx.collect())
    assert got == [(1, 0, 10), (1, 1, 20), (2, 0, 30)]


def test_columnwise_concat_melt(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id int, a double, b double")
    out = rs.columnwise_concat(df, ["a", "b"])
    got = sorted((r["id"], r["column"], r["value"]) for r in out.collect())
    assert got == [(1, "a", 10.0), (1, "b", 20.0)]


def test_transpose_by_key_pivot(spark):
    df = spark.createDataFrame([(1, "x", 5.0), (1, "y", 7.0), (2, "x", 1.0)],
                               "id int, k string, v double")
    out = rs.transpose_by_key(df, "k", "v", group_by=["id"], values=["x", "y"])
    got = {r["id"]: (r["x"], r["y"]) for r in out.collect()}
    assert got == {1: (5.0, 7.0), 2: (1.0, None)}


def test_extend_with_empty(spark):
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    out = rs.extend_with_empty(df, 2)
    assert out.count() == 3
    assert out.filter(F.col("id").isNull()).count() == 2


def test_row_mapcat(spark):
    df = spark.createDataFrame([(1,), (2,)], "n int")
    schema = T.StructType([T.StructField("n", T.IntegerType()),
                           T.StructField("rep", T.IntegerType())])
    out = rs.row_mapcat(df, lambda r: [{"n": r["n"], "rep": i} for i in range(r["n"])],
                        schema)
    assert sorted((r["n"], r["rep"]) for r in out.collect()) == [(1, 0), (2, 0), (2, 1)]


def test_column_map_expr_and_python(spark):
    df = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "a double, b double")
    out = cm.column_map(df, "s", lambda a, b: a + b, ["a", "b"])
    assert [r["s"] for r in out.orderBy("a").collect()] == [3.0, 7.0]
    out2 = cm.column_map(df, "h", lambda a, b: float(max(a, b)), ["a", "b"],
                         out_dtype="double")
    assert [r["h"] for r in out2.orderBy("a").collect()] == [2.0, 4.0]


def test_column_cast_failure_tracking(spark):
    df = spark.createDataFrame([("1",), ("x",), (None,)], "v string")
    out = cm.column_cast(df, "v", "int", failure_col="bad")
    rows = out.collect()
    got = {(r["v"], r["bad"]) for r in rows}
    assert (1, None) in got and (None, "x") in got


def test_row_map(spark):
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    out = cm.row_map(df, lambda r: {"a": r["a"], "b": r["b"], "c": r["a"] * r["b"]},
                     "a int, b int, c int")
    assert out.collect()[0]["c"] == 2


def test_pmap_ds_applies_fn_per_partition(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)],
                               "id long, x double").repartition(3)
    out = cm.pmap_ds(df, lambda pdf: pdf.assign(x=pdf["x"] * 2))
    assert "MapInPandas" in physical_plan(out)
    assert out.schema == df.schema
    assert sorted((r["id"], r["x"]) for r in out.collect()) == \
        [(i, 2.0 * i) for i in range(10)]
    counted = cm.pmap_ds(df, lambda pdf: pdf.assign(x=float(len(pdf))),
                         schema="id long, x double")
    sizes = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert sorted(r["x"] for r in counted.collect()) == \
        sorted(float(r["count"]) for r in sizes for _ in range(r["count"]))


def test_of_datatype(spark):
    df = spark.createDataFrame([(1, "s", 1.5, 2)], "i int, s string, d double, j int")
    assert cm.of_datatype(df, "int") == ["i", "j"]
    assert cm.of_datatype(df, "string") == ["s"]
    assert cm.of_datatype(df, "date") == []


def test_column_filters(spark):
    df = spark.createDataFrame([(1, "s", 1.5, True)], "i int, s string, d double, b boolean")
    assert cm.column_filter(df, "numeric") == ["i", "d"]
    assert cm.column_filter(df, "string") == ["s"]
    assert cm.column_filter(df, "boolean") == ["b"]


def test_update_columnwise(spark):
    df = spark.createDataFrame([(1, 2.0, "x")], "i int, d double, s string")
    out = cm.update_columnwise(df, "numeric", lambda c: c * 10)
    r = out.collect()[0]
    assert r["i"] == 10 and r["d"] == 20.0 and r["s"] == "x"


def test_update_columnwise_selector_zscore(spark):
    """update-columns with the cf/numeric selector and a whole-column
    z-score fn (update_columns_test.clj:7-31): numeric columns standardize
    with SAMPLE stddev (ddof=1 — the reference's standard-deviation pins
    the expected vector [-1.16189 -0.38729 0.38729 1.16189]), string
    columns pass through untouched, and the int column promotes to
    double."""
    from pyspark.sql import Window
    df = spark.createDataFrame(
        [(1.0, 5, "A"), (2.0, 6, "B"), (3.0, 7, "C"), (4.0, 8, "D")],
        "a double, b int, c string")
    w = Window.partitionBy()
    out = cm.update_columnwise(
        df, "numeric",
        lambda c: (c - F.mean(c).over(w)) / F.stddev_samp(c).over(w))
    rows = out.collect()
    expect = [-1.16189, -0.38729, 0.38729, 1.16189]
    for col in ("a", "b"):
        got = sorted(r[col] for r in rows)
        assert all(abs(x - y) < 1e-4 for x, y in zip(got, expect)), (col, got)
    assert sorted(r["c"] for r in rows) == ["A", "B", "C", "D"]


def test_induction_cumulative_product(spark):
    df = spark.createDataFrame([(1, 2.0), (2, 3.0), (3, 4.0)], "i int, v double")
    out = cm.induction(df, "i", "acc", lambda acc, row: acc * row["v"], init=1.0,
                       by=None)
    got = {r["i"]: r["acc"] for r in out.collect()}
    assert got == {1: 2.0, 2: 6.0, 3: 24.0}


# ---- ML preprocessing -------------------------------------------------------

def test_categorical_roundtrip(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], "k string")
    fit = mlp.fit_categorical_map(df, "k")
    assert fit["table"] == {"a": 0, "b": 1, "c": 2}
    enc = mlp.transform_categorical_map(df, fit)
    assert sorted(r["k"] for r in enc.collect()) == [0, 0, 1, 2]
    dec = mlp.invert_categorical_map(enc, fit)
    assert sorted(r["k"] for r in dec.collect()) == ["a", "a", "b", "c"]


def test_categorical_partial_table_pins_and_fills(spark):
    """Reference table-args law (categorical_test.clj:57-67): a PARTIAL
    table pins codes; data values not in the table get the smallest
    unused non-negative codes (in sorted order — our determinism
    convention, vs the reference's unstable seen-order); table entries
    absent from the data keep their codes (:not-present case); duplicate
    codes raise instead of silently reassigning."""
    df = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "y string")
    t = mlp.fit_categorical_map(df, "y", table={"a": 5, "b": 2})["table"]
    assert t == {"a": 5, "b": 2, "c": 0, "d": 1}
    t = mlp.fit_categorical_map(df, "y", table={"a": 5, "b": 0})["table"]
    assert t == {"a": 5, "b": 0, "c": 1, "d": 2}
    t = mlp.fit_categorical_map(df, "y", table={"not-present": 1})["table"]
    assert t == {"not-present": 1, "a": 0, "b": 2, "c": 3, "d": 4}
    import pytest as _pt
    with _pt.raises(ValueError, match="duplicate codes"):
        mlp.fit_categorical_map(df, "y", table={"a": 1, "b": 1})


def test_one_hot(spark):
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    out = mlp.transform_one_hot(df, mlp.fit_one_hot(df, "k"))
    assert set(out.columns) == {"k-a", "k-b"}
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(0, 1), (1, 0)]


def test_std_scale_and_minmax(spark):
    df = spark.createDataFrame([(0.0,), (10.0,)], "v double")
    scaled = mlp.transform_std_scale(df, mlp.fit_std_scale(df, ["v"]))
    vals = sorted(r["v"] for r in scaled.collect())
    assert abs(vals[0] + vals[1]) < 1e-9  # symmetric around 0
    mm = mlp.transform_minmax(df, mlp.fit_minmax(df, ["v"]))
    assert sorted(r["v"] for r in mm.collect()) == [-0.5, 0.5]


def test_pca_recovers_dominant_axis(spark):
    import numpy as np
    rng = [(float(i), float(2 * i + 0.001 * ((-1) ** i))) for i in range(50)]
    df = spark.createDataFrame(rng, "x double, y double")
    fit = mlp.fit_pca(df, ["x", "y"], n_components=1)
    out = mlp.transform_pca(df, fit)
    assert out.columns == ["pc0"]
    # dominant component direction ~ (1,2)/sqrt(5)
    comp = np.array(fit["components"]).ravel()
    ratio = abs(comp[1] / comp[0])
    assert abs(ratio - 2.0) < 0.05


def test_correlation_table(spark):
    df = spark.createDataFrame([(1.0, 2.0), (2.0, 4.0), (3.0, 6.1)], "a double, b double")
    corr = mlp.correlation_table(df, ["a", "b"])
    assert corr["a"]["b"] > 0.999


def test_train_test_split_and_kfold(spark):
    df = spark.range(100)
    tr, te = mlp.train_test_split(df, test_fraction=0.3, seed=7)
    assert tr.count() + te.count() == 100
    folds = mlp.k_fold_datasets(df, 4, seed=7)
    assert len(folds) == 4
    total = sum(t.count() for _, t in folds)
    assert total == 100  # test folds partition the data


def test_induction_vector_fn_matches_row_loop(spark):
    import pandas as pd
    data = [(g, i, float(v)) for g in ("a", "b")
            for i, v in enumerate([5, 1, 8, 2, 9, 3, 7])]
    df = spark.createDataFrame(data, "g string, i int, v double")

    def vec(pdf):
        seeded = pd.concat([pd.Series([0.0]), pdf["v"]], ignore_index=True)
        return seeded.ewm(alpha=0.3, adjust=False).mean().iloc[1:].reset_index(drop=True)

    loop = cm.induction(df, "i", "s", lambda acc, r: 0.3 * r["v"] + 0.7 * acc,
                        init=0.0, by="g")
    fast = cm.induction(df, "i", "s", lambda acc, r: 0.3 * r["v"] + 0.7 * acc,
                        init=0.0, by="g", vector_fn=vec)
    a = {(r["g"], r["i"]): r["s"] for r in loop.collect()}
    b = {(r["g"], r["i"]): r["s"] for r in fast.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_categorical_pinned_table_bypasses_cap(spark):
    """r4 review: the cap (and the driver collect) must count only values
    BEYOND the pinned table — a fully-pinned vocabulary larger than
    max_categories previously raised even though nothing needed
    collecting."""
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "y string")
    big_vocab = {f"tok{i}": i for i in range(10)}
    big_vocab.update({"a": 100, "b": 101, "c": 102})
    t = mlp.fit_categorical_map(df, "y", table=big_vocab,
                                max_categories=5)["table"]
    assert t == big_vocab  # nothing unpinned -> no growth, no raise
    # unpinned remainder still capped
    import pytest as _pt
    wide = spark.createDataFrame([(f"v{i}",) for i in range(10)], "y string")
    with _pt.raises(ValueError, match="beyond the pinned table"):
        mlp.fit_categorical_map(wide, "y", table={"v0": 0},
                                max_categories=5)


def test_invert_categorical_float_codes_truncate(spark):
    """Reference :result-datatype :int cast law (categorical_test.clj:
    106-135 invert-cat--works): float model predictions TRUNCATE to the
    integral code before lookup — 1.2 and 1.3 both invert to the code-1
    value, 2.99999 to the code-2 value; codes outside the table yield
    NULL (documented deviation from the reference's executor throw)."""
    fit = {"column": "target", "table": {"one": 1, "two": 2}}
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (1.2,), (1.3,), (2.99999,), (4.5,), (None,)],
        "target double")
    got = [r["target"] for r in mlp.invert_categorical_map(df, fit).collect()]
    assert got == ["one", "two", "one", "one", "two", None, None]
    # integer code columns keep the exact-lookup path
    di = spark.createDataFrame([(1,), (2,), (3,)], "target int")
    gi = [r["target"] for r in mlp.invert_categorical_map(di, fit).collect()]
    assert gi == ["one", "two", None]


def test_json_normalize_laws(spark):
    """pandas.json_normalize analog: nested structs flatten to dotted
    names, arrays stay arrays, malformed JSON -> all-NULL (PERMISSIVE),
    inferred arm warns about sampling, explicit-schema arm does not;
    name collisions raise; drop= keeps or drops the source column."""
    import warnings

    from tech_ml_dataset_spark.operators import reshape as rs

    df = spark.createDataFrame(
        [(1, '{"a": {"b": 7, "c": "x"}, "d": [1,2], "e": 1.5}'),
         (2, '{"a": {"b": 9}, "e": 2.5}'),
         (3, 'not json'), (4, None)], "id int, j string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = rs.json_normalize(df, "j")
        assert any("sample" in str(x.message) for x in w)
    assert out.columns == ["id", "a.b", "a.c", "d", "e"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["a.b"] == 7 and rows[1]["a.c"] == "x" \
        and rows[1]["d"] == [1, 2] and rows[1]["e"] == 1.5
    assert rows[2]["a.c"] is None
    assert all(rows[3][c] is None for c in ("a.b", "a.c", "d", "e"))
    assert all(rows[4][c] is None for c in ("a.b", "a.c", "d", "e"))
    # explicit schema: no warning, no inference job, keeps source col
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        out2 = rs.json_normalize(df, "j", schema="a struct<b:int>, e double",
                                 drop=False)
        assert not any("sample" in str(x.message) for x in w2)
    assert out2.columns == ["id", "j", "a.b", "e"]
    # collision raises
    clash = df.withColumnRenamed("id", "a.b")
    with pytest.raises(ValueError, match="collides"):
        rs.json_normalize(clash, "j", schema="a struct<b:int>")
    # all-null column: inference impossible -> loud error
    empty = spark.createDataFrame([(1, None)], "id int, j string")
    with pytest.raises(ValueError, match="no non-null"):
        rs.json_normalize(empty, "j")
    # r8 (r7 ADVICE): a leaf reusing the json column's own name is FINE
    # when drop=True removes that column anyway...
    out3 = rs.json_normalize(df, "j", schema="j string, e double")
    assert out3.columns == ["id", "j", "e"]
    assert {r["id"]: r["j"] for r in out3.collect()}[2] is None
    # ...but still collides when drop=False keeps it
    with pytest.raises(ValueError, match="collides"):
        rs.json_normalize(df, "j", schema="j string", drop=False)
    # two leaves flattening to the same name (literal '.' in a field
    # name vs nesting) raise instead of emitting duplicate columns
    with pytest.raises(ValueError, match="both flatten"):
        rs.json_normalize(df, "j",
                          schema="`a.b` int, a struct<b:int>")
