"""Schema inference runs once per input: a repeated read of unchanged
files reuses the first read's schema and launches no Spark job, while a
changed input, an added partition or a flipped inference conf infers
again (``sources.io._load_inferred``)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tech_ml_dataset_spark.sources.io import read_parquet, to_dataset


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("name,text", [
    ("t.csv", "a,b,c\n1,x,2.5\n2,y,\n"),
    ("t.json", '{"a": 1, "b": "x", "c": 2.5}\n{"a": 2, "b": "y"}\n'),
])
def test_second_text_read_launches_no_job(spark, count_jobs, tmp_path,
                                          name, text):
    p = tmp_path / name
    p.write_text(text)
    first, n_first = count_jobs(lambda: to_dataset(spark, str(p)))
    second, n_second = count_jobs(lambda: to_dataset(spark, str(p)))
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema
    assert dict(second.dtypes)["a"] in ("int", "bigint")
    assert _rows(second) == _rows(first)


def test_second_parquet_read_launches_no_job(spark, count_jobs, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", None]}), p)
    first, n_first = count_jobs(lambda: read_parquet(spark, p))
    second, n_second = count_jobs(lambda: read_parquet(spark, p))
    assert (n_first, n_second) == (1, 0)
    assert count_jobs(lambda: read_parquet(spark, "file://" + p))[1] == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)

    # the same file rewritten with another schema is inferred again
    pq.write_table(pa.table({"a": ["p", "q"], "z": [1.5, 2.5]}), p)
    changed = read_parquet(spark, p)
    assert changed.dtypes == [("a", "string"), ("z", "double")]
    assert _rows(changed) == [("p", 1.5), ("q", 2.5)]


def test_added_partition_shows_up(spark, tmp_path):
    root = tmp_path / "part"
    pq.write_to_dataset(pa.table({"k": [1, 1], "v": [10, 11]}), str(root),
                        partition_cols=["k"])
    assert read_parquet(spark, str(root)).count() == 2
    pq.write_to_dataset(pa.table({"k": [2], "v": [20]}), str(root),
                        partition_cols=["k"])
    again = read_parquet(spark, str(root))
    assert sorted((r.k, r.v) for r in again.collect()) == [
        (1, 10), (1, 11), (2, 20)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    p = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), p)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert dict(read_parquet(spark, p).dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        as_str = read_parquet(spark, p)
        assert dict(as_str.dtypes)["b"] == "string"
        assert sorted(r.b for r in as_str.collect()) == ["ab", "cd"]
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_explicit_schema_and_globs_bypass_the_cache(spark, count_jobs,
                                                    tmp_path):
    p = tmp_path / "s.csv"
    p.write_text("a,b\n1,x\n")
    to_dataset(spark, str(p))
    sch = T.StructType([T.StructField("x", T.StringType()),
                        T.StructField("y", T.StringType())])
    assert to_dataset(spark, str(p), schema=sch).columns == ["x", "y"]
    # a glob is listed by Spark, not fingerprinted: it infers every time
    glob = str(tmp_path / "*.csv")
    _, n_first = count_jobs(lambda: to_dataset(spark, glob, file_type="csv",
                                               header="true",
                                               inferSchema="true"))
    _, n_second = count_jobs(lambda: to_dataset(spark, glob, file_type="csv",
                                                header="true",
                                                inferSchema="true"))
    assert n_first == n_second >= 1


def test_partitioned_nanos_table_reads(spark, tmp_path):
    """The nanosecond check used to list only top-level files, so a
    partitioned table with a timestamp[ns] column failed with
    PARQUET_TYPE_ILLEGAL."""
    root = str(tmp_path / "ns")
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_999],
                  pa.timestamp("ns"))
    pq.write_to_dataset(pa.table({"k": [1, 2], "ts": ts}), root,
                        partition_cols=["k"])
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.unset(key)  # as on a session that never read nanos
    try:
        df = read_parquet(spark, root)
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert sorted(r.us for r in df.selectExpr("unix_micros(ts) AS us")
                      .collect()) == [1_700_000_000_123_456,
                                      1_700_000_001_000_000]
    finally:
        if before is not None:
            spark.conf.set(key, before)


def test_nanos_read_leaves_the_session_conf_alone(spark, count_jobs,
                                                  tmp_path):
    """A timestamp[ns] table loads on a session clone that carries
    ``nanosAsLong``: the caller's session keeps its own value of the key,
    and a repeat read still launches no job."""
    p = str(tmp_path / "ns.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), p)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        first = read_parquet(spark, p)
        assert spark.conf.get(key, None) is None
        second, n_second = count_jobs(lambda: read_parquet(spark, p))
        assert n_second == 0
        for df in (first, second):
            assert [r.us for r in df.selectExpr("unix_micros(ts) AS us")
                    .collect()] == [1_700_000_000_123_456]
        assert spark.conf.get(key, None) is None
    finally:
        if before is not None:
            spark.conf.set(key, before)


def test_to_dataset_reads_nanos_like_read_parquet(spark, tmp_path):
    """Path-based ``to_dataset`` takes the same parquet read path as
    ``read_parquet``: a timestamp[ns] file loads (it used to fail with
    PARQUET_TYPE_ILLEGAL) and the session never sees ``nanosAsLong``."""
    p = str(tmp_path / "ns.parquet")
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"k": [1, 2], "ts": ts}), p)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        via_to_dataset = to_dataset(spark, p)
        via_read_parquet = read_parquet(spark, p)
        assert via_to_dataset.dtypes == via_read_parquet.dtypes \
            == [("k", "bigint"), ("ts", "timestamp")]
        assert _rows(via_to_dataset) == _rows(via_read_parquet)
        assert sorted(r.us for r in via_to_dataset.selectExpr(
            "unix_micros(ts) AS us").collect() if r.us is not None) == \
            [1_700_000_000_123_456]
        assert spark.conf.get(key, None) is None
    finally:
        if before is not None:
            spark.conf.set(key, before)


def test_spark_written_int96_timestamps_read_back(spark, tmp_path):
    """Spark writes timestamps as INT96, which pyarrow reports as
    timestamp[ns]: such a column is not a nanosecond column and must
    read back as the same timestamps through both read paths."""
    p = str(tmp_path / "int96.parquet")
    src = spark.createDataFrame([(1, "2024-01-02 03:04:05.123456")],
                                "k long, s string") \
        .selectExpr("k", "CAST(s AS TIMESTAMP) AS ts")
    src.write.parquet(p)
    for df in (read_parquet(spark, p), to_dataset(spark, p)):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert _rows(df) == _rows(src)
