"""CSV promotional type-inference parity (r1 verdict missing #4).

The reference's parser promotes each column through a dtype ladder
bool -> int16 -> int32 -> int64 -> float64 -> string as values arrive
(io/column_parsers.clj:309-328), with "" / NA tokens becoming missing
(parse_test.clj:131,170). Spark's two-pass inferSchema is the delegate
(sources/io.py docstring); these tests PIN the effective parity contract:
same logical outcome per ladder rung (Spark has no int16 inference — the
integer rungs land on int/bigint, documented delta), missing tokens
become NULL, and per-column parser-fn pinning overrides inference.
"""

import pytest
from pyspark.sql import types as T

from tech_ml_dataset_spark.sources.io import to_dataset


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


@pytest.fixture()
def csv_path(tmp_path):
    return _write(tmp_path, "ladder.csv", "\n".join([
        "b,i,f,promoted,s,miss_i,d",
        "true,1,1.5,1,abc,1,2024-01-01",
        "false,2,2.0,2.5,def,,2024-06-30",
        "true,3,-4.25,xyz,ghi,3,2024-12-31",
        ""]))


def test_promotional_ladder(spark, csv_path):
    df = to_dataset(spark, csv_path)
    dt = dict(df.dtypes)
    assert dt["b"] == "boolean"          # bool rung
    assert dt["i"] in ("int", "bigint")  # integer rung (no int16 in Spark)
    assert dt["f"] == "double"           # float rung
    assert dt["promoted"] == "string"    # int -> float -> string promotion
    assert dt["s"] == "string"
    assert dt["d"] == "date"             # ISO dates infer as date
    # missing token "" -> NULL, column keeps its numeric rung
    assert dt["miss_i"] in ("int", "bigint")
    assert df.filter(df["miss_i"].isNull()).count() == 1
    assert df.count() == 3


def test_parser_fn_pins_dtype(spark, csv_path):
    """:parser-fn per-column pinning beats inference (reference
    ->dataset {:parser-fn {...}})."""
    df = to_dataset(spark, csv_path,
                    parser_fn={"i": "int16", "f": "float32"})
    sch = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(sch["i"], T.ShortType)
    assert isinstance(sch["f"], T.FloatType)


def test_bad_parse_becomes_missing(spark, tmp_path):
    """Unparseable cell under a pinned dtype -> NULL, row survives
    (column_parsers.clj bad-value -> missing convention)."""
    p = _write(tmp_path, "bad.csv", "x\n1\noops\n3\n")
    df = to_dataset(spark, p, parser_fn={"x": "int32"})
    vals = [r["x"] for r in df.orderBy("x").collect()]
    assert vals.count(None) == 1 and {1, 3} <= set(v for v in vals if v is not None)


def test_na_tokens(spark, tmp_path):
    """Reference NA tokens ("", "NA", "n/a"...) map to missing via the
    nullValue option surface."""
    p = _write(tmp_path, "na.csv", "x,y\n1,alpha\nNA,beta\n3,NA\n")
    df = to_dataset(spark, p, nullValue="NA")
    got = {(r["x"], r["y"]) for r in df.collect()}
    assert got == {(1, "alpha"), (None, "beta"), (3, None)}
    assert dict(df.dtypes)["x"] in ("int", "bigint")  # NA didn't break the rung


def test_ragged_csv_widens_to_longest_row(spark, tmp_path):
    """Reference parse_test.clj:337-349 (parse-ragged): a headerless csv
    with varying field counts widens to the LONGEST row — Spark's native
    reader sizes from the first row and silently drops the extra fields,
    so ragged=True runs the pad-and-parse path. Columns are named
    column-i; short rows null-fill; inference still runs per column."""
    p = _write(tmp_path, "ragged.csv", "1,2,3\n4,5,6,7,8\n9\n10,11\n")
    df = to_dataset(spark, p, header=False, inferSchema=True, ragged=True)
    assert df.columns == [f"column-{i}" for i in range(5)]
    assert all(t in ("int", "bigint") for t in dict(df.dtypes).values())
    rows = sorted(tuple(r) for r in df.collect())
    assert (4, 5, 6, 7, 8) in rows
    assert (9, None, None, None, None) in rows


def test_n_initial_skip_rows(spark, tmp_path):
    """Reference parse_test.clj:487-490 (issue-304 :n-initial-skip-rows):
    the first N physical lines are dropped BEFORE the header row."""
    p = _write(tmp_path, "skip.csv",
               "garbage line 1\n# another\na,b\n1,2\n3,4\n")
    df = to_dataset(spark, p, header=True, inferSchema=True,
                    n_initial_skip_rows=2)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 2), (3, 4)]


def test_skip_and_ragged_are_csv_only(spark, tmp_path):
    import pytest as _pt
    p = _write(tmp_path, "x.json", '{"a": 1}\n')
    with _pt.raises(ValueError, match="csv-only"):
        to_dataset(spark, p, n_initial_skip_rows=1)


def test_duplicate_headers_throw_and_suffix(spark, tmp_path):
    """Reference csv_test.clj:8-27: duplicate headers RAISE by default;
    ensure_unique_column_names=True suffixes EVERY duplicated occurrence
    via unique_column_name_fn(col_idx, name) (default name-idx)."""
    import pytest as _pt

    from tech_ml_dataset_spark.sources.io import to_dataset

    p = tmp_path / "dup.csv"
    p.write_text("a,b,a,column,column,column-1\n1,2,3,4,5,6\n")
    with _pt.raises(ValueError, match="duplicate csv headers"):
        to_dataset(spark, str(p))
    df = to_dataset(spark, str(p), ensure_unique_column_names=True)
    assert df.columns == ["a-0", "b", "a-2", "column-3", "column-4",
                          "column-1"]
    df2 = to_dataset(spark, str(p), ensure_unique_column_names=True,
                     unique_column_name_fn=lambda i, n: f"{n}::{i}")
    assert df2.columns == ["a::0", "b", "a::2", "column::3", "column::4",
                          "column-1"]
    assert df2.count() == 1

    # a comment/banner line BEFORE the header must not blind detection:
    # Spark skips it and binds the header, so the peek must too (r4
    # review: the peek saw the banner, returned None, and the raise-by-
    # default law silently never fired)
    pb = tmp_path / "banner.csv"
    pb.write_text("# banner\n\na,b,a\n1,2,3\n")
    with _pt.raises(ValueError, match="duplicate csv headers"):
        to_dataset(spark, str(pb))

    # a minted suffix must not collide with a PRE-EXISTING column:
    # 'a,a-2,a' would mint a second 'a-2' — the original keeps its name,
    # the mint extends until unique
    pc = tmp_path / "collide.csv"
    pc.write_text("a,a-2,a\n1,2,3\n")
    dfc = to_dataset(spark, str(pc), ensure_unique_column_names=True)
    assert dfc.columns == ["a-0", "a-2", "a-2-2"]
    assert len(set(dfc.columns)) == 3

    # the 'delimiter' alias must reach the header peek too — splitting on
    # the default ',' would see one cell and silently skip the raise law
    # (r4 review)
    pd_ = tmp_path / "semi.csv"
    pd_.write_text("a;b;a\n1;2;3\n")
    with _pt.raises(ValueError, match="duplicate csv headers"):
        to_dataset(spark, str(pd_), delimiter=";")
    dfd = to_dataset(spark, str(pd_), delimiter=";",
                     ensure_unique_column_names=True)
    assert dfd.columns == ["a-0", "b", "a-2"]


def test_duplicate_headers_law_holds_on_a_cache_hit(spark, count_jobs,
                                                    tmp_path):
    """The second read of an unchanged file reuses the inferred schema and
    the peeked header (no Spark job), and the duplicate-header law still
    raises or suffixes on it."""
    import pytest as _pt

    p = tmp_path / "dup.csv"
    p.write_text("a,b,a,column,column,column-1\n1,2,3,4,5,6\n")
    pb = tmp_path / "banner.csv"
    pb.write_text("# banner\n\na,b,a\n1,2,3\n")
    pd_ = tmp_path / "semi.csv"
    pd_.write_text("a;b;a\n1;2;3\n")

    def raises(path, **kw):
        with _pt.raises(ValueError, match="duplicate csv headers"):
            to_dataset(spark, str(path), **kw)

    for path, kw in ((p, {}), (pb, {}), (pd_, {"delimiter": ";"})):
        assert count_jobs(lambda: raises(path, **kw))[1] >= 1
        assert count_jobs(lambda: raises(path, **kw))[1] == 0
    df, n_jobs = count_jobs(lambda: to_dataset(
        spark, str(p), ensure_unique_column_names=True))
    assert n_jobs == 0
    assert df.columns == ["a-0", "b", "a-2", "column-3", "column-4",
                          "column-1"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 2, 3, 4, 5, 6)]
    dfd = to_dataset(spark, str(pd_), delimiter=";",
                     ensure_unique_column_names=True)
    assert dfd.columns == ["a-0", "b", "a-2"]


def test_explicit_schema_owns_column_names(spark, tmp_path):
    """r4 review: the header-peek rename ran even with an explicit schema,
    clobbering the schema's names with the file's header cells (and
    raising on duplicate FILE headers the schema was meant to override).
    An explicit schema OWNS the names — Spark binds them over the
    header, and the peek must stay out of the way."""
    from pyspark.sql import types as T
    sch = T.StructType([T.StructField("x", T.LongType()),
                        T.StructField("y", T.StringType())])
    p = tmp_path / "named.csv"
    p.write_text("a,b\n1,foo\n")
    df = to_dataset(spark, str(p), schema=sch)
    assert df.columns == ["x", "y"]
    assert df.select("x").collect()[0]["x"] == 1

    # duplicate file headers are irrelevant under an explicit schema
    pd_ = tmp_path / "dupnamed.csv"
    pd_.write_text("a,a\n1,2\n")
    df2 = to_dataset(spark, str(pd_), schema=sch)
    assert df2.columns == ["x", "y"]


def test_ragged_width_ignores_comment_lines(spark, tmp_path):
    """r4 review: ragged width was computed over ALL text lines, so a wide
    '# exported by tool, host, build, 42' banner inflated the table with
    spurious all-null trailing columns."""
    p = tmp_path / "ragged_banner.csv"
    p.write_text("# exported, by, tool, host, build, 42\n1,2\n3,4,5\n")
    df = to_dataset(spark, str(p), ragged=True, header=False,
                    inferSchema=False)
    assert len(df.columns) == 3
    rows = sorted([tuple(r) for r in df.collect()])
    assert rows == [("1", "2", None), ("3", "4", "5")]


def test_rendered_key_collision_raises(spark):
    """r5 advice: distinct source keys that render to one column string
    (True vs 'true', 1 vs '1') must raise, not build a duplicate-named
    frame (map-of-columns) or silently drop an entry (mapseq)."""
    with pytest.raises(ValueError, match="collide"):
        to_dataset(spark, {True: [1, 2], "true": [3, 4]})
    with pytest.raises(ValueError, match="collide"):
        to_dataset(spark, [{1: "a", "1": "b"}])
    # non-colliding non-string keys still render fine
    df = to_dataset(spark, {True: [1], False: [2], 7: [3]})
    assert set(df.columns) == {"true", "false", "7"}


def test_avro_vendored_fallback_handles_missing_package(spark, tmp_path):
    """Avro is an external Spark module; without it (this container) the
    suffix dispatch must fall through to the VENDORED OCF codec (r7 —
    was a RuntimeError with install guidance before sources/avro.py):
    write->read round-trips, and a corrupt container still fails with a
    real parse error rather than ClassNotFound."""
    import pyspark.sql.functions as F

    from tech_ml_dataset_spark.sources.io import write
    df = spark.range(3).select(F.col("id"))
    out = tmp_path / "out.avro"
    write(df, str(out))                      # vendored writer path
    back = to_dataset(spark, str(out))
    assert sorted(r["id"] for r in back.collect()) == [0, 1, 2]
    # a truncated container fails loudly in the vendored reader
    bad = tmp_path / "x.avro"
    bad.write_bytes(b"Obj\x01")              # magic only, no metadata map
    with pytest.raises(Exception):
        to_dataset(spark, str(bad)).collect()


def test_scan_estimate_nonsplittable_gz(spark, tmp_path):
    """A large non-splittable .csv.gz scans as ONE partition per file
    regardless of size (its bytes / maxPartitionBytes says nothing about
    the scan), so ensure_parallelism must still repartition it."""
    from tech_ml_dataset_spark.dtutil import ensure_parallelism
    gz = tmp_path / "wide"
    (spark.range(200_000).selectExpr("id", "id * 2 AS v")
        .coalesce(1).write.mode("overwrite")
        .options(header=True, compression="gzip").csv(str(gz)))
    df = spark.read.options(header=True).csv(str(gz))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # bytes/mpb >> defaultParallelism, yet the one gzip file is one
        # scan partition
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        df2 = spark.read.options(header=True).csv(str(gz))
        actual = df2.rdd.getNumPartitions()
        target = spark.sparkContext.defaultParallelism
        if actual < target:
            out = ensure_parallelism(df2)
            assert out.rdd.getNumPartitions() >= min(target, 2)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
