"""Dataset ingest / egress — the ``->dataset`` / ``write!`` surface.

Reference semantics: tech.v3.dataset.io (``->dataset`` dispatch at
src/tech/v3/dataset/io.clj:123, suffix sniffing at io.clj:13-25,
multimethods data->dataset/dataset->data! at io.clj:47,83).

Spark-first: every format maps to a DataFrameReader/Writer so scans stay
distributed, column-pruned and predicate-pushed. Schema inference for CSV
mirrors the reference's promotional parser (io/column_parsers.clj:309-313)
only in effect — Spark's two-pass inferSchema lands on the same types for
the common ladder (bool/int/double/timestamp/string); callers can pin types
via ``schema=`` exactly like the reference's ``:parser-fn``.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import threading
from collections import OrderedDict
from collections.abc import Iterable, Mapping
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ._dataset import list_files, scan_units, write_parts


# suffix -> (format, default reader options); mirrors str->file-info sniffing
# (reference io.clj:13-25). ``.gz`` is transparent: Spark decompresses
# text-based formats natively.
_SUFFIX_FORMATS = {
    ".parquet": ("parquet", {}),
    # comment="#" pins the reference default (univocity skips '#'-prefixed
    # LINES; mid-line '#' is data — parse_test.clj:481-485); pass
    # comment="" to disable
    ".csv": ("csv", {"header": "true", "inferSchema": "true", "comment": "#"}),
    ".tsv": ("csv", {"header": "true", "inferSchema": "true", "sep": "\t",
                     "comment": "#"}),
    ".txt": ("csv", {"header": "true", "inferSchema": "true", "sep": "\t",
                     "comment": "#"}),
    ".json": ("json", {}),
    ".jsonl": ("json", {}),
    ".ndjson": ("json", {}),
    ".orc": ("orc", {}),
    ".avro": ("avro", {}),
    ".svm": ("libsvm", {}),
    ".svmlight": ("libsvm", {}),
}


def sniff_format(path: str) -> tuple[str, dict]:
    """Infer (format, options) from a path suffix; compression suffixes
    ('.gz', '.bz2' — reference bzip2.clj's double-suffix dispatch) are
    stripped first. Spark/Hadoop decompress both transparently on read;
    bz2 is additionally block-splittable, so a single large .csv.bz2 still
    fans out across executors (unlike .gz, which is one task per file)."""
    p = path.lower()
    if p.endswith(".gz"):
        p = p[:-3]
    elif p.endswith(".bz2"):
        p = p[:-4]
    _, ext = os.path.splitext(p)
    if ext not in _SUFFIX_FORMATS:
        raise ValueError(f"cannot sniff dataset format from suffix {ext!r} ({path})")
    fmt, opts = _SUFFIX_FORMATS[ext]
    return fmt, dict(opts)


def _sniff_compression(path: str) -> str | None:
    """Write-side codec from the path's trailing compression suffix."""
    p = path.lower()
    if p.endswith(".gz"):
        return "gzip"
    if p.endswith(".bz2"):
        return "bzip2"
    return None


# TMD dtype name -> Spark SQL type (the reference's own bridge table,
# libs/spark.clj:25-36; unsigned ints widen to the next signed type per
# casting/safe-flatten, libs/spark.clj:44-46).
TMD_DTYPES = {
    "boolean": "boolean", "bool": "boolean",
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "smallint", "uint16": "int", "uint32": "bigint", "uint64": "bigint",
    "float32": "float", "float64": "double",
    "string": "string", "text": "string",
    "uuid": "string", "keyword": "string", "symbol": "string",
    "local-date": "date", "packed-local-date": "date", "epoch-days": "date",
    "instant": "timestamp", "packed-instant": "timestamp",
    "zoned-date-time": "timestamp", "local-date-time": "timestamp",
    "epoch-milliseconds": "timestamp", "epoch-seconds": "timestamp",
    "duration": "interval day to second",
}


def apply_parser_fn(df: DataFrame, parser_fn: Mapping, *,
                    disable_na_as_missing: bool = False) -> DataFrame:
    """``:parser-fn`` (reference io.clj:194-223): per-column type pinning.
    Spec per column: a TMD dtype name ("int32", "local-date", ...), a
    ``(dtype, format-string)`` pair for datetime parsing, or a callable
    Column -> Column (the custom-parse-fn escape hatch). Bad parses become
    NULL (to_date/try-cast semantics) — the reference's parse-failure ->
    missing convention (io/column_parsers.clj:92-102).

    A string source cell that is empty or equals "na" case-insensitively
    is MISSING before the parse (column_parsers.clj:175-189
    ``missing-value?`` — dataset_test.clj:1759-1764 fixed-type law;
    non-string targets already got this for free via try_cast).
    ``disable_na_as_missing=True`` keeps literal "NA"/"na" strings
    (the reference's ``:disable-na-as-missing?``)."""
    from pyspark.sql import functions as F

    str_cols = {c for c, t in df.dtypes if t == "string"}

    def _src(col):
        c = F.col(col)
        if disable_na_as_missing or col not in str_cols:
            return c
        return F.when((c == "") | (F.lower(c) == "na"),
                      F.lit(None).cast("string")).otherwise(c)

    out = df
    for col, spec in parser_fn.items():
        if callable(spec):
            out = out.withColumn(col, spec(F.col(col)))
            continue
        if isinstance(spec, (tuple, list)):
            dt, fmt = spec
            target = TMD_DTYPES.get(dt, dt)
            # try_* so bad input -> NULL even under ANSI (plain sessions),
            # never an executor-side exception
            ts = F.try_to_timestamp(_src(col), F.lit(fmt))
            if target == "date":
                out = out.withColumn(col, ts.try_cast("date"))
            elif target.startswith("timestamp"):
                out = out.withColumn(col, ts)
            else:
                raise ValueError(f"format-string parser for non-datetime {dt!r}")
            continue
        out = out.withColumn(col, _src(col).try_cast(TMD_DTYPES.get(spec, spec)))
    return out


def _skip_lines(lines: DataFrame, n: int) -> DataFrame:
    """Drop the first ``n`` text lines distributedly: monotonic ids are
    monotone with file order but NOT contiguous, so find the n-th
    smallest id (tiny TakeOrdered collect) and filter past it — no
    single-partition window."""
    from pyspark.sql import functions as F
    lines = lines.withColumn("__ln__", F.monotonically_increasing_id())
    head = [r[0] for r in lines.select("__ln__").orderBy("__ln__")
            .limit(n).collect()]
    if head:
        lines = lines.filter(F.col("__ln__") > head[-1])
    return lines.drop("__ln__")


def _peek_csv_header(spark, path, opts, n_skip: int):
    """Read the (post-skip) header line once, parsed with the csv module
    so quoted/escaped header cells split correctly. Mirrors Spark's own
    line selection: comment-prefixed and empty lines BEFORE the header are
    skipped (Spark's csv reader drops them before header binding), so a
    '# banner' first line no longer blinds duplicate-header detection.
    Returns None when the file is empty or unreadable — callers then keep
    Spark's own naming."""
    try:
        comment = str(opts.get("comment", "") or "")
        # 64-line peek bounds the driver read; a real header past 64
        # comment/blank lines degrades to Spark naming, never to an error
        rows = spark.read.text(path).limit(n_skip + 64).collect()
        for r in rows[n_skip:]:
            line = r[0]
            if not line.strip():
                continue
            if comment and line.startswith(comment):
                continue
            import csv as _csv
            import io as _io
            # honor BOTH Spark reader spellings of the separator option —
            # splitting on the wrong one silently skips the duplicate-
            # header raise law for delimiter= readers
            sep = str(opts.get("sep") or opts.get("delimiter") or ",")
            return next(_csv.reader(_io.StringIO(line), delimiter=sep))
        return None
    except Exception:
        return None


def _hidden(name: str) -> bool:
    """Spark's rule for the file and directory names its file index skips
    (``PartitioningAwareFileIndex.shouldFilterOutPathName``): a ``_`` or
    ``.`` prefix (``_SUCCESS``, ``_temporary/``, ``.part-0.parquet.crc``)
    or an unfinished ``._COPYING_`` copy. ``_key=value`` partition
    directories and parquet's ``_metadata`` summaries are read."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _visible_files(path: str) -> list[tuple[str, os.stat_result]]:
    """``(file, stat)`` of every file Spark reads at a local ``path``: the
    file itself, or the tree under a directory without hidden entries, in
    sorted order. A missing path has none."""
    if not os.path.isdir(path):
        return [(path, os.stat(path))] if os.path.isfile(path) else []
    out = []
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                p = os.path.join(root, f)
                out.append((p, os.stat(p)))
    return out


class _Learned(NamedTuple):
    """What a read learns from its input files: the Spark schema, the
    parquet TIMESTAMP(NANOS) columns and the csv header line."""
    schema: StructType
    ns_cols: tuple[str, ...]
    header: tuple[str, ...] | None


# Session confs that change the schema Spark infers from the same files
# (``nanosAsLong`` is not one: every parquet read sets it where it
# matters, see :func:`_load_inferred`).
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.orc.mergeSchema",
)
# Formats whose inferred schema, handed back through ``reader.schema``,
# gives the same DataFrame as inferring again.
_CACHED_FORMATS = ("parquet", "csv", "json", "orc")
_SCHEMA_CACHE_SIZE = 256
_schema_cache: OrderedDict[tuple, _Learned] = OrderedDict()
_schema_cache_lock = threading.Lock()


def _input_files(path, fmt: str) -> list[tuple[str, os.stat_result]] | None:
    """The visible files of a local read input, or None for inputs the
    schema cache skips: other formats, remote URIs, globs, path lists and
    missing or empty inputs (scheme-less paths are local, as in
    :func:`_require_local_path`)."""
    if fmt not in _CACHED_FORMATS or not isinstance(path, str) \
            or _glob.has_magic(path) or "{" in path:
        return None
    scheme, sep, _ = path.partition(":")
    if sep and "/" not in scheme:
        if scheme != "file":
            return None
        from urllib.parse import urlparse
        path = urlparse(path).path
    try:
        return _visible_files(path) or None
    except OSError:  # a file vanished mid-walk: let Spark list the input
        return None


def _schema_key(spark, fmt, opts, files) -> tuple:
    """Cache key of one read: the format, the sorted reader options, the
    ``(file, size, mtime_ns)`` fingerprint of the input and the session's
    values of the confs that change inference."""
    return (fmt, tuple(sorted((k, str(v)) for k, v in opts.items())),
            tuple((p, st.st_size, st.st_mtime_ns) for p, st in files),
            tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))


def _nanos_columns(files, path) -> tuple[str, ...]:
    """TIMESTAMP(NANOS) columns of a parquet input, from the footer of its
    first data file (driver-side metadata only, no data read). INT96
    columns (Spark's default timestamp encoding) are not nanosecond
    columns: Spark reads them as timestamps, and pyarrow would report
    them as ``timestamp[ns]`` unless told otherwise."""
    target = next((p for p, _ in files
                   if not os.path.basename(p).startswith("_")), path)
    try:
        import pyarrow.parquet as pq
        with pq.ParquetFile(target, coerce_int96_timestamp_unit="us") as pf:
            schema = pf.schema_arrow
    except Exception:
        return ()
    return tuple(f.name for f in schema
                 if str(f.type).startswith("timestamp[ns"))


def _load_inferred(spark, fmt: str, opts: dict, path
                   ) -> tuple[DataFrame, _Learned]:
    """``spark.read.format(fmt).options(**opts).load(path)`` with the
    schema inferred once per input. Inference is a Spark job for parquet
    (footer read) and a pass over the data for csv/json, so the first
    read of an input stores what it learned (:class:`_Learned`) under
    :func:`_schema_key` and later reads of the unchanged input load with
    ``reader.schema(cached)``: no job, the same DataFrame. Inputs
    :func:`_input_files` does not list bypass the cache.

    Spark's TimestampType is microseconds and its parquet reader rejects
    TIMESTAMP(NANOS) columns outright. A parquet input that has any
    (found from the footer of its first data file) loads with
    ``spark.sql.legacy.parquet.nanosAsLong`` set on a clone of the
    session, and each such column is truncated ns -> us with integer
    division (plain ``/`` would round-trip through double and lose
    precision at 1e18; truncation matches DuckDB, whose TIMESTAMP is also
    us). The scan reads the conf from the session that built its
    relation, so the frame, rebound to ``spark``, reads the columns as
    longs while ``spark`` itself never sees the conf. The same holds for
    every other file-scan conf (``maxPartitionBytes``, the vectorized
    reader, filter pushdown, the hadoop conf): for such a frame they are
    fixed when the read is made, and only planner and optimizer confs
    follow later changes to ``spark``."""
    files = _input_files(path, fmt)
    key = None if files is None else _schema_key(spark, fmt, opts, files)
    with _schema_cache_lock:
        learned = _schema_cache.get(key)
        if learned is not None:
            _schema_cache.move_to_end(key)
    ns_cols = learned.ns_cols if learned is not None \
        else _nanos_columns(files or (), path) if fmt == "parquet" else ()
    session = SparkSession(spark.sparkContext, _clone_session(
        spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})) \
        if ns_cols else spark
    reader = session.read.format(fmt).options(**opts)
    if learned is not None:
        reader = reader.schema(learned.schema)
    raw = reader.load(path)
    df = raw
    if ns_cols:
        df = _rebind(raw, spark)
        for c in ns_cols:
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if learned is not None:
        return df, learned
    header = None
    if fmt == "csv" and str(opts.get("header", "")).lower() == "true":
        header = _peek_csv_header(spark, path, opts, 0)
    # a copy: the cached value must not alias the caller's df.schema
    learned = _Learned(StructType.fromJson(raw.schema.jsonValue()), ns_cols,
                       None if header is None else tuple(header))
    if key is not None and learned.schema.fields:
        with _schema_cache_lock:
            _schema_cache[key] = learned
            if len(_schema_cache) > _SCHEMA_CACHE_SIZE:
                _schema_cache.popitem(last=False)
    return df, learned


def _render_column_key(k) -> str:
    """Spark column names are strings: render non-string mapseq/colmap
    keys the way ``cast(string)`` would (True -> 'true', so the
    columns-named-false fixture round-trips through csv identically,
    dataset_test.clj:693,1114)."""
    if isinstance(k, bool):
        return "true" if k else "false"
    return k if isinstance(k, str) else str(k)


def _check_rendered_keys(keys, rendered) -> None:
    """Distinct source keys may render to one string (True vs 'true',
    1 vs '1'): a duplicate-named frame (or a silently dropped mapseq
    entry) is never what the caller meant — fail loudly, naming the
    colliding source keys."""
    seen: dict[str, list] = {}
    for k, r in zip(keys, rendered):
        seen.setdefault(r, []).append(k)
    clashes = {r: ks for r, ks in seen.items() if len(ks) > 1}
    if clashes:
        detail = "; ".join(f"{ks!r} -> '{r}'" for r, ks in clashes.items())
        raise ValueError(
            f"column keys collide after string rendering: {detail} — "
            f"rename the source keys (Spark column names are strings)")


def _widen_object_columns(rows: list[tuple], n_cols: int) -> list[tuple]:
    """Reference :object-column analog (mixed-boolean-values law,
    dataset_test.clj:1674-1676): a column whose non-null Python values mix
    incompatible types (e.g. [1, True, False] — Spark schema inference
    raises CANNOT_MERGE_TYPE) widens to STRING with cast-like rendering
    (True -> 'true'), matching the concat widening fallback. Numeric
    int/float mixes stay numeric (Spark merges those itself)."""
    if not rows:
        return rows
    mixed = []
    for j in range(n_cols):
        kinds = set()
        for r in rows:
            v = r[j]
            if v is None:
                continue
            if isinstance(v, bool):
                kinds.add("bool")
            elif isinstance(v, (int, float)):
                kinds.add("num")
            elif isinstance(v, str):
                kinds.add("str")
            else:
                kinds.add(type(v).__name__)
        if len(kinds) > 1:
            mixed.append(j)
    if not mixed:
        return rows

    def render(v):
        if v is None or isinstance(v, str):
            return v
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    mixed_set = set(mixed)
    return [tuple(render(v) if j in mixed_set else v
                  for j, v in enumerate(r)) for r in rows]


def to_dataset(
    spark: SparkSession,
    data,
    *,
    file_type: str | None = None,
    schema=None,
    parser_fn: Mapping | None = None,
    column_allowlist: Iterable[str] | None = None,
    column_blocklist: Iterable[str] | None = None,
    num_rows: int | None = None,
    key_fn=None,
    bad_row_policy: str | None = None,
    ensure_unique_column_names: bool = False,
    unique_column_name_fn=None,
    n_initial_skip_rows: int = 0,
    ragged: bool = False,
    disable_na_as_missing: bool = False,
    **options,
) -> DataFrame:
    """``->dataset``: build a DataFrame from a path, list-of-dicts, or
    dict-of-columns (reference io.clj:123,47; mapseq/colmap ingest at
    io/mapseq_colmap.clj:105,112).

    ``column_allowlist``/``column_blocklist``/``num_rows`` mirror the
    reference scan options (io.clj:157-161); on Spark these compile to
    ``select``/``drop``/``limit`` which Catalyst pushes into the scan
    (column pruning / limit pushdown), so they cost nothing extra.

    ``bad_row_policy`` mirrors the reference CSV ``:bad-row-policy``
    (io/csv parsing, parse_test.clj:286-299): ``"skip"`` drops malformed
    rows (DROPMALFORMED), ``"error"`` fails the read (FAILFAST),
    ``"keep"``/None nulls unparseable fields (PERMISSIVE — Spark default).

    ``n_initial_skip_rows`` mirrors the reference ``:n-initial-skip-rows``
    (parse_test.clj:487-490): drop the first N physical lines BEFORE the
    header/parse. Spark csv has no native skip, so the file is read as
    text, the prefix dropped in file order, and the remaining lines
    csv-parsed — still distributed; with multiple input files the skip
    applies once in overall file order (the reference reads single files).

    Duplicate CSV headers follow the reference's law (libs csv_test.clj:
    8-27): the default read RAISES (Spark would silently index-mangle
    them — ``a,b,a`` -> ``a0,b,a2``); ``ensure_unique_column_names=True``
    keeps them, renaming EVERY occurrence of a duplicated name via
    ``unique_column_name_fn(col_idx, name)`` (default ``name-idx``).
    Detection reads the header line once driver-side (a one-line text
    job) — only on path-based csv reads with a header.

    Path reads infer each input's schema once. The first read of a local
    parquet/csv/json/orc file or directory stores the inferred schema
    (and, for csv with a header, the peeked header line) in a bounded
    in-process cache; a later read of the unchanged input loads with that
    schema and launches no Spark job (inference is a footer job for
    parquet and a full data pass for csv/json). The key is the format,
    the sorted reader options, the ``(file, size, mtime_ns)`` of every
    file Spark would read (hidden ``_``/``.`` entries excluded) and the
    session confs that change inference (``spark.sql.caseSensitive``,
    ``spark.sql.timestampType``, the parquet type-mapping confs, ...), so
    a rewritten file, an added partition or a flipped conf infers again.
    Remote URIs, globs, path lists, explicit ``schema=`` reads and the
    ``n_initial_skip_rows``/``ragged`` text path bypass the cache. The
    duplicate-header law and the ``_cN`` -> ``column-N`` renaming run on
    every read.

    ``ragged=True`` mirrors the reference's ragged-row parse
    (parse_test.clj:337-349): the table widens to the LONGEST row (Spark's
    native reader sizes columns from the first row and silently DROPS
    extra trailing fields). Costs one extra text pass to find the width;
    rows are padded with trailing separators then parsed normally, so
    short rows null-fill and type inference still runs per column.
    Assumes the separator does not occur inside quoted fields (the
    reference fixture is unquoted; use the native reader for quoted csv).
    """
    if isinstance(data, str):
        if data.startswith(("http://", "https://")):
            # reference ->dataset accepts URLs (github_test.clj,
            # nippy-serialization docs): fetch driver-side into a temp
            # file KEEPING the suffix so format sniffing still applies,
            # then read locally. Driver-sized inputs only — a URL is one
            # stream, there is nothing to distribute. LOCAL MASTER ONLY:
            # the tempfile lives on the driver's disk, which executors on
            # other machines cannot read — on a cluster, land the URL on
            # shared storage (object store / HDFS) first.
            if not spark.sparkContext.master.startswith("local"):
                raise ValueError(
                    "to_dataset(url): driver-local URL fetch only works "
                    "with a local master (executors cannot read the "
                    "driver's tempfile); download to shared storage and "
                    "read that path instead")
            import atexit
            import tempfile
            import urllib.parse
            import urllib.request
            suffix = os.path.basename(urllib.parse.urlparse(data).path)
            fd, local = tempfile.mkstemp(suffix="-" + (suffix or "download"))
            # the read below is lazy, so the file must outlive this call;
            # reclaim it at interpreter exit instead of leaking for the
            # machine's lifetime
            atexit.register(lambda p=local: os.path.exists(p) and os.remove(p))
            with os.fdopen(fd, "wb") as out_f, \
                    urllib.request.urlopen(data, timeout=60) as resp:
                while True:
                    chunk = resp.read(1 << 20)
                    if not chunk:
                        break
                    out_f.write(chunk)
            data = local
        fmt, opts = (file_type, {}) if file_type else sniff_format(data)
        learned = None  # what a cached-schema load learned from the files
        opts.update({k: v for k, v in options.items() if v is not None})
        if bad_row_policy is not None:
            opts["mode"] = {"skip": "DROPMALFORMED", "error": "FAILFAST",
                            "keep": "PERMISSIVE"}[bad_row_policy]
        if (n_initial_skip_rows or ragged) and fmt != "csv":
            raise ValueError("n_initial_skip_rows/ragged are csv-only options")
        if n_initial_skip_rows or ragged:
            import re as _re

            from pyspark.sql import functions as F
            sep = str(opts.get("sep", opts.get("delimiter", ",")))
            sep_re = _re.escape(sep)
            lines = spark.read.text(data)
            if n_initial_skip_rows:
                lines = _skip_lines(lines, n_initial_skip_rows)
            if ragged:
                n_fields = F.size(F.split(F.col("value"), sep_re, -1))
                # width over DATA lines only: comment lines are dropped
                # by the csv parser, so a wide '# exported by tool, ...'
                # banner must not inflate the table with all-null
                # trailing columns
                comment = str(opts.get("comment", "") or "")
                measured = lines
                if comment:
                    measured = measured.filter(
                        ~F.col("value").startswith(comment))
                width = measured.agg(F.max(n_fields)).collect()[0][0] or 0
                lines = lines.select(F.concat(
                    F.col("value"),
                    F.repeat(F.lit(sep), F.lit(width) - n_fields)
                ).alias("value"))
            reader = spark.read.options(**opts)
            if schema is not None:
                reader = reader.schema(schema).option("inferSchema", "false")
            df = reader.csv(lines.rdd.map(lambda r: r[0]))
            if ragged and not opts.get("header"):
                df = df.toDF(*[f"column-{i}" for i in range(len(df.columns))])
        else:
            try:
                if schema is None:
                    df, learned = _load_inferred(spark, fmt, opts, data)
                else:
                    reader = spark.read.format(fmt).options(**opts) \
                        .schema(schema)
                    if fmt == "csv":
                        reader = reader.option("inferSchema", "false")
                    df = reader.load(data)
            except Exception as exc:
                # avro ships as an EXTERNAL Spark module: the raw failure
                # is an opaque DATA_SOURCE_NOT_FOUND / ClassNotFound, so
                # fall through to the vendored pure-python OCF codec
                # (sources/avro.py — the xlsx/jpeg pattern) instead of
                # failing; a real spark-avro jar on the classpath still
                # takes the native path above. (The reference has no avro
                # either; parity-plus surface.)
                if fmt == "avro" and ("DATA_SOURCE_NOT_FOUND" in str(exc)
                                      or "Failed to find" in str(exc)
                                      or "ClassNotFound" in str(exc)):
                    # options/schema the vendored codec cannot honor
                    # fail loudly instead of being dropped
                    if opts:
                        raise RuntimeError(
                            "vendored avro codec ignores reader options "
                            f"{sorted(opts)} — drop them, or install "
                            "spark-avro for option support") from exc
                    if schema is not None:
                        raise RuntimeError(
                            "vendored avro codec derives the schema "
                            "from the OCF header and cannot apply a "
                            "user schema; drop schema=, or install "
                            "spark-avro") from exc
                    from . import avro as _avro
                    df = _avro.read_avro_dataset(spark, data)
                else:
                    raise
        if fmt == "csv":
            # empty/missing header cells: Spark auto-names them _cN; the
            # reference names positional columns "column-N"
            # (parse_test.clj:311-315 on rcsv.csv)
            import re as _re
            df = df.toDF(*[_re.sub(r"^_c(\d+)$", r"column-\1", c)
                           for c in df.columns])
            # an explicit schema OWNS the column names (Spark binds them
            # over the file's header) — peeking would clobber them with
            # the header cells, and a duplicate FILE header is irrelevant
            # when the caller's schema names are what the frame exposes
            if schema is None \
                    and str(opts.get("header", "")).lower() == "true":
                hdr = (learned.header if learned is not None
                       else _peek_csv_header(spark, data, opts,
                                             n_initial_skip_rows))
                if hdr is not None and len(hdr) == len(df.columns):
                    names = [h if h else f"column-{i}"
                             for i, h in enumerate(hdr)]
                    df = df.toDF(*_unique_headers(
                        names, ensure_unique_column_names,
                        fn=unique_column_name_fn, label="csv headers",
                        suffix_all=True))
    elif isinstance(data, DataFrame):
        df = data
    elif isinstance(data, Mapping):
        # map-of-columns: {"a": [1,2,3], "b": [...]}.
        # Non-string keys render Spark-style (columns-named-false law,
        # dataset_test.clj:693-706: a column may be named `false` — Spark
        # column names are strings, so booleans render lowercase like
        # cast-to-string; documented deviation from Clojure's typed keys).
        cols = [_render_column_key(k) for k in data.keys()]
        _check_rendered_keys(list(data.keys()), cols)
        vals = list(data.values())
        n = max((len(v) for v in vals), default=0)
        # ragged columns backfill with None, like the reference's mapseq parser
        rows = [tuple(v[i] if i < len(v) else None for v in vals)
                for i in range(n)]
        if schema is None:
            rows = _widen_object_columns(rows, len(cols))
        df = spark.createDataFrame(rows, schema=schema or cols)
    else:
        # sequence of row-dicts (mapseq); ragged keys grow columns w/ nulls.
        data = list(data)
        if schema is not None:
            df = spark.createDataFrame(data, schema=schema)
        else:
            if any(isinstance(r, Mapping) and
                   any(not isinstance(k, str) for k in r) for r in data):
                for r in data:
                    if isinstance(r, Mapping):
                        _check_rendered_keys(
                            list(r), [_render_column_key(k) for k in r])
                data = [{_render_column_key(k): v for k, v in r.items()}
                        if isinstance(r, Mapping) else r for r in data]
            # column order = first-seen across all rows (ragged mapseq)
            cols = list(dict.fromkeys(k for r in data
                                      if isinstance(r, Mapping) for k in r))
            if cols and all(isinstance(r, Mapping) for r in data):
                rows = [tuple(r.get(c) for c in cols) for r in data]
                rows = _widen_object_columns(rows, len(cols))
                df = spark.createDataFrame(rows, schema=cols)
            else:
                df = spark.createDataFrame(data)

    if key_fn is not None:
        df = df.toDF(*[key_fn(c) for c in df.columns])
    if parser_fn is not None:
        df = apply_parser_fn(df, parser_fn,
                             disable_na_as_missing=disable_na_as_missing)
    if column_allowlist is not None:
        df = df.select(*[c for c in df.columns if c in set(column_allowlist)])
    if column_blocklist is not None:
        df = df.drop(*[c for c in df.columns if c in set(column_blocklist)])
    if num_rows is not None:
        df = df.limit(num_rows)
    return df


def write(df: DataFrame, path: str, *, file_type: str | None = None,
          mode: str = "overwrite", partition_by: Iterable[str] | None = None,
          sort_by: Iterable[str] | None = None,
          **options) -> None:
    """``write!`` (reference io.clj:266-284): path-suffix-dispatched sink.

    Layout levers the single-node reference never needed, decisive at scale:
    ``partition_by`` — hive-style directory partitioning, so reads with a
    filter on those columns prune whole directories (``PartitionFilters``
    in the scan); ``sort_by`` — sortWithinPartitions before writing, so
    parquet row-group min/max statistics become selective and filtered
    reads skip row groups inside each file (data skipping). Use
    partition_by for low-cardinality query dimensions, sort_by for the
    high-cardinality range-filtered axis (time, id).
    """
    fmt = file_type or sniff_format(path)[0]
    if sort_by:
        df = df.sortWithinPartitions(*list(sort_by))
    writer = df.write.format(fmt).mode(mode)
    if fmt in ("csv", "json") and "timestampFormat" not in options:
        # fidelity default (found by the json write->read oracle):
        # Spark's text-sink default timestampFormat carries MILLIseconds
        # only, silently truncating the microsecond component on write —
        # at pipeline scale that is irreversible data loss, not a
        # formatting choice. Full microsecond ISO-8601 unless the caller
        # overrides. (The reader side parses variable fractions natively.)
        # timestamp_ntz columns route through the SEPARATE ntz option.
        options["timestampFormat"] = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    if fmt in ("csv", "json") and "timestampNTZFormat" not in options:
        options["timestampNTZFormat"] = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    codec = _sniff_compression(path)
    if codec is not None and fmt in ("csv", "json") \
            and "compression" not in options:
        # '.csv.gz' / '.csv.bz2' paths write compressed part files
        # (reference bzip2.clj's double-suffix write dispatch)
        options["compression"] = codec
    if options:
        writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    try:
        writer.save(path)
    except Exception as exc:
        if fmt == "avro" and ("DATA_SOURCE_NOT_FOUND" in str(exc)
                              or "Failed to find" in str(exc)
                              or "ClassNotFound" in str(exc)):
            # vendored pure-python OCF writer (sources/avro.py)
            # instead of a hard failure; native spark-avro still wins
            # when its jar is present. Partitioned avro layout needs the
            # real datasource — keep that loud.
            if partition_by:
                raise RuntimeError(
                    "vendored avro codec does not support partition_by; "
                    "install spark-avro (spark.jars.packages="
                    "org.apache.spark:spark-avro_2.13:<spark-version>) "
                    "or write parquet") from exc
            # the fallback must not silently diverge
            # from Spark writer semantics — honor every mode, reject
            # options the vendored codec cannot apply.
            if options:
                raise RuntimeError(
                    "vendored avro codec ignores writer options "
                    f"{sorted(options)} — drop them, or install "
                    "spark-avro for option support") from exc
            from . import avro as _avro
            exists = os.path.isdir(path) and any(
                x.endswith(".avro") for x in os.listdir(path))
            if mode == "overwrite":
                if os.path.isdir(path):
                    shutil.rmtree(path)
            elif mode == "append":
                # appending would reuse Spark's partition-id part-NNNNN
                # names and overwrite existing part files — refuse
                # loudly rather than lose data (offsetting the ids
                # would not help: a concurrent writer still collides)
                if exists:
                    raise RuntimeError(
                        "vendored avro codec cannot append to an "
                        "existing avro directory (partition-id part "
                        "files would collide and overwrite data); "
                        "write to a new directory and union on read, "
                        "or install spark-avro") from exc
            elif mode in ("error", "errorifexists", "default"):
                # Spark's ErrorIfExists tests bare path existence (an
                # empty directory still errors) — match it
                if os.path.exists(path):
                    raise RuntimeError(
                        f"path {path} already exists (mode={mode!r})"
                    ) from exc
            elif mode == "ignore":
                if os.path.exists(path):
                    return
            else:
                raise RuntimeError(
                    f"vendored avro codec: unknown write mode {mode!r}"
                ) from exc
            _avro.write_avro_dataset(df, path)
        else:
            raise


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that tolerates TIMESTAMP(NANOS) columns (read as
    microsecond timestamps, truncated; see :func:`_load_inferred`).

    The schema is inferred once per input (see :func:`to_dataset`): a
    repeated read of an unchanged local file or directory reuses the
    schema and nanosecond columns of the first one and launches no Spark
    job. The key is the ``(file, size, mtime_ns)`` of every file Spark
    would read plus the session confs that change inference
    (``binaryAsString``, ``int96AsTimestamp``, ``mergeSchema``, ...);
    remote URIs and globs are inferred every time.
    """
    return _load_inferred(spark, "parquet", {}, path)[0]


def read_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Arrow IPC / feather read (reference arrow.clj:2112,2061).

    The reference's Arrow path is a single-node mmap bridge; same here: the
    file is opened with pyarrow on the driver and handed to Spark zero-copy
    (Arrow-native createDataFrame). For distributed scale use parquet — this
    exists for interchange parity, not as a 100 TB scan path.
    """
    import pyarrow as pa

    try:
        with pa.memory_map(path) as src:
            table = pa.ipc.open_file(src).read_all()
    except pa.ArrowInvalid:
        with pa.OSFile(path) as src:  # stream format fallback
            table = pa.ipc.open_stream(src).read_all()
    try:
        return spark.createDataFrame(table)  # Arrow-native path (Spark 4)
    except Exception:
        return spark.createDataFrame(table.to_pandas())


def write_arrow(df: DataFrame, path: str, *, stream: bool = False) -> None:
    """Arrow IPC / feather write (reference arrow.clj:2430). Collects through
    ``df.toArrow()`` (Arrow batches over the wire) — single-file driver-side
    sink, interchange parity like the reference's."""
    import pyarrow as pa

    table = df.toArrow()
    sink_cls = pa.ipc.new_stream if stream else pa.ipc.new_file
    with pa.OSFile(path, "wb") as f, sink_cls(f, table.schema) as writer:
        writer.write_table(table)


def read_arrow_dataset(spark: SparkSession, path: str | list[str],
                       *, extension: str = ".arrow") -> DataFrame:
    """DISTRIBUTED Arrow IPC read — the out-of-core analog of the
    reference's record-batch streaming / mmap surface (arrow.clj:2345
    ``stream->dataset-seq``, :2451 mmap path), which the single-file
    driver bridge :func:`read_arrow` doesn't cover.

    Spark ships no Arrow-IPC datasource, so the FILE LIST becomes the
    plan's source (one row per file) and an Arrow-batched ``mapInPandas``
    opens each file EXECUTOR-side (:func:`._dataset.scan_units`),
    streaming its record batches without ever materializing a whole
    table: pyarrow mmaps the file, and each batch crosses to the JVM
    through Arrow itself. Parallelism = #files (Arrow IPC is not
    block-splittable — same contract as .gz CSV). Schema comes from the
    first file's footer — a metadata-only driver read."""
    import pyarrow as pa

    files = list_files(path, lambda f: f.endswith(extension), extension)

    def _open(p):
        try:
            return pa.ipc.open_file(pa.memory_map(p))
        except pa.ArrowInvalid:
            return pa.ipc.open_stream(pa.OSFile(p))

    first = _open(files[0])
    schema = spark.createDataFrame(first.schema.empty_table()).schema

    def batches(it):
        for pdf in it:
            for p in pdf["__arrow_file__"]:
                rdr = _open(p)
                if hasattr(rdr, "num_record_batches"):  # file format
                    for i in range(rdr.num_record_batches):
                        yield rdr.get_batch(i).to_pandas()
                else:  # stream format
                    for batch in rdr:
                        yield batch.to_pandas()

    return scan_units(spark, [(f,) for f in files], "__arrow_file__ string",
                      batches, schema)


def write_arrow_dataset(df: DataFrame, path: str) -> list[dict]:
    """DISTRIBUTED Arrow IPC write: one ``part-NNNNN.arrow`` file per
    partition, written EXECUTOR-side by :func:`._dataset.write_parts`
    (no driver collect — the counterpart of :func:`read_arrow_dataset`).
    Returns the manifest [{path, n_rows}, ...]; empty partitions write
    nothing."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    # Fixed Arrow schema derived from the Spark schema — per-batch
    # pa.Table.from_pandas INFERENCE would crash whenever a partition's
    # first batch has an all-NULL column (pandas infers null type) and a
    # later batch doesn't ("table schema does not match").
    arrow_schema = to_arrow_schema(df.schema)

    def write(fh, batches):
        writer, n = None, 0
        for pdf in batches:
            table = pa.Table.from_pandas(pdf, schema=arrow_schema,
                                         preserve_index=False)
            if writer is None:
                writer = pa.ipc.new_file(fh, table.schema)
            writer.write_table(table)
            n += len(pdf)
        writer.close()
        return n

    return write_parts(df, path, ".arrow", "n_rows", write)


def read_excel(spark: SparkSession, path: str, *, sheet=0,
               header: bool = True, n_initial_skip_rows: int = 0,
               ensure_unique_column_names: bool = False) -> DataFrame:
    """Excel read (reference fastexcel.clj:139 / poi.clj:138).

    Like the reference — which shells out to POI/fastexcel — this delegates
    to a spreadsheet library on the DRIVER and hands the frame to Spark.
    Spreadsheets are single-machine artifacts (xlsx caps at ~1M rows);
    they are an ingest convenience, never a scan path. Prefers pandas'
    engines (openpyxl/xlrd) when installed; otherwise falls through to
    the vendored stdlib codecs — :mod:`.xlsx` for .xlsx and :mod:`.xls`
    (BIFF8/CFB) for legacy binary .xls — so both formats ingest in a
    bare environment.

    ``n_initial_skip_rows`` drops sheet rows before the header (reference
    fastexcel_test.clj:54 skip-rows law — report files with banner rows).
    A NULL header cell names its column ``column-<i>``. Duplicate header
    names RAISE unless ``ensure_unique_column_names=True``, which
    suffixes repeats with ``-<col index>`` (reference
    ensure-unique-headers law, poi_test.clj:94/fastexcel_test.clj:73)."""
    import pandas as pd
    try:
        # header=None ALWAYS: asking pandas to bind the header itself
        # mangles duplicate cells to 'a.1' before our law can see them —
        # the documented duplicate-header raise would silently never fire
        # when openpyxl is installed (and fire when it isn't). Reading
        # headerless and applying the same _unique_headers law as the
        # vendored-codec path keeps the file's behavior independent of
        # which optional engine is present.
        frame = pd.read_excel(path, sheet_name=sheet,
                              skiprows=n_initial_skip_rows or None,
                              header=None)
        if header and len(frame):
            hdr_cells = list(frame.iloc[0])
            frame = frame.iloc[1:].reset_index(drop=True).infer_objects()
            frame.columns = _unique_headers(
                [f"column-{i}" if pd.isna(c) else str(c)
                 for i, c in enumerate(hdr_cells)],
                ensure_unique_column_names)
        else:
            frame.columns = [f"column-{i}"
                             for i in range(len(frame.columns))]
    except ImportError:
        if path.lower().endswith(".xls"):
            from . import xls as _xlsmod
            book = _xlsmod.read_workbook(path)
        else:
            from . import xlsx as _xlsx
            book = _xlsx.read_workbook(path)
        names = list(book)
        key = names[sheet] if isinstance(sheet, int) else sheet
        cols, rows = book[key]
        if n_initial_skip_rows:
            allrows = [cols] + rows
            allrows = allrows[n_initial_skip_rows:]
            cols = allrows[0] if allrows else []
            rows = allrows[1:]
        if not header:
            rows = [cols] + rows  # codec split a header; put it back
            cols = [f"column-{i}" for i in range(len(cols))]
        else:
            cols = [c if c is not None else f"column-{i}"
                    for i, c in enumerate(cols)]
        frame = pd.DataFrame(rows, columns=_unique_headers(
            [str(c) for c in cols], ensure_unique_column_names))
    if len(frame) == 0:
        # a header-only sheet carries no cells to infer types from —
        # string columns, like an empty csv read
        from pyspark.sql import types as T
        schema = T.StructType(
            [T.StructField(str(c), T.StringType()) for c in frame.columns])
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(frame)


def _unique_headers(cols: list, allow_fix: bool, *, fn=None,
                    label: str = "column names in header",
                    suffix_all: bool = False) -> list:
    """Reference ensure-unique-headers law, shared by the csv and excel
    paths: duplicate header names raise unless the caller opts into
    suffixing. ``fn(i, name)`` mints the replacement (default
    ``<name>-<column index>``); ``label`` names the source in the error.
    ``suffix_all=True`` suffixes EVERY member of a duplicated group (the
    csv_test.clj law); False keeps the first occurrence's name (the
    poi/fastexcel law)."""
    if len(set(cols)) == len(cols):
        return cols
    if not allow_fix:
        raise ValueError(
            f"duplicate {label}: "
            f"{sorted(c for c in set(cols) if cols.count(c) > 1)} — pass "
            f"ensure_unique_column_names=True to suffix them")
    fn = fn or (lambda i, n: f"{n}-{i}")
    dup = {c for c in set(cols) if cols.count(c) > 1}
    # suffix every repeat; a minted name must not collide with ANY
    # original ('a,a,a-1' must not mint a second 'a-1' — the original
    # keeps its name, the minted one extends) nor an earlier mint
    taken = set(cols)
    out = []
    seen: set = set()
    for i, c in enumerate(cols):
        if c in dup and (suffix_all or c in seen):
            cand = fn(i, c)
            while cand in taken:
                cand = f"{cand}-{i}"
            taken.add(cand)
        else:
            seen.add(c)
            cand = c
        out.append(cand)
    return out


def write_excel(df: DataFrame, path: str, *, sheet_name: str = "Sheet1",
                max_rows: int = 1_048_575) -> None:
    """Excel write (reference poi.clj:138 family ``dataset->workbook!`` /
    ``workbook->file!``).

    DRIVER-side bridge like :func:`read_excel` and like the reference's
    POI path: xlsx hard-caps at ~1M rows, so a distributed sink is
    meaningless — this is an egress convenience for bounded results
    (reports, summaries), guarded loudly at ``max_rows``. Uses the
    vendored stdlib codecs (:mod:`.xlsx`, or :mod:`.xls` BIFF8 when the
    path ends in .xls — matching the reference's HSSF write path,
    poi.clj:138), so it needs no openpyxl/xlwt. Dates/timestamps are
    written as ISO-8601 strings (documented codec policy); numbers and
    booleans keep their types. The .xls container additionally caps at
    65,536 rows and 255 chars per text cell (BIFF8 LABEL format limits,
    both enforced LOUDLY by the codec — never silently truncated)."""
    if path.lower().endswith(".xls"):
        from . import xls as _codec
    else:
        from . import xlsx as _codec

    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"write_excel: result exceeds max_rows={max_rows}; xlsx is a "
            f"bounded-egress format — write parquet/csv for data this size")
    _codec.write_workbook(path, {sheet_name: (df.columns,
                                              [tuple(r) for r in rows])})


def read_jdbc(spark: SparkSession, url: str, table: str, *,
              partition_column: str | None = None,
              lower_bound=None, upper_bound=None,
              num_partitions: int | None = None,
              predicates: list[str] | None = None,
              **options) -> DataFrame:
    """JDBC read (reference delegates to external JDBC libs; SURVEY §2.1).

    Thin guard over ``spark.read.jdbc``. The scale contract: WITHOUT
    ``partition_column`` + bounds (or ``predicates``), Spark reads the whole
    table through ONE connection/task — fine for dimension lookups, wrong
    for facts. This wrapper makes that explicit instead of silent."""
    reader = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    if predicates is not None:
        return spark.read.jdbc(url, table, predicates=predicates,
                               properties={k: str(v) for k, v in options.items()})
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError("partitioned JDBC read needs partition_column, "
                             "lower_bound, upper_bound AND num_partitions")
        return (reader.option("partitionColumn", partition_column)
                      .option("lowerBound", str(lower_bound))
                      .option("upperBound", str(upper_bound))
                      .option("numPartitions", str(num_partitions)).load())
    import warnings
    warnings.warn("read_jdbc without partition_column reads through a single "
                  "connection — pass partition bounds for parallel ingest",
                  UserWarning, stacklevel=2)
    return reader.load()


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str]) -> dict[str, DataFrame]:
    """Load the driver's test tables from an sf directory as a dict."""
    return {n: read_parquet(spark, os.path.join(sf_dir, f"{n}.parquet")) for n in names}


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings")


def register_views(spark: SparkSession, sf_dir: str, names: Iterable[str] = TPCH_TABLES) -> None:
    """Register each table as a temp view so spark.sql() queries run on them."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def _require_local_path(path: str, op: str) -> str:
    """The rename-swap utilities (compact_files / merge_upsert / the shard
    manifest) mutate the filesystem with os.rename/shutil, and the
    ``batch_id`` corpus sinks find earlier batches with os.listdir; both
    only work for LOCAL paths: on an object store or HDFS the staging
    write would succeed and the swap then fail, leaving an orphaned
    staging dir, and a corpus sink would see no history. Fail fast and
    clearly BEFORE any write instead. Scheme-less paths and file:// are
    local (file:// is returned STRIPPED so os.* and
    Spark agree on one spelling); anything like s3://, hdfs://, abfs://,
    gs:// is not — those targets belong in a table format (Delta/Iceberg)
    whose commit protocol is object-store-native."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme == "file":
        return path.split("://", 1)[1]
    if scheme != "":
        raise ValueError(
            f"{op}: target {path!r} is on scheme {scheme!r}, but the "
            f"crash-safe rename swap requires a local filesystem path. "
            f"For object-store/HDFS targets use a transactional table "
            f"format (Delta/Iceberg MERGE) instead.")
    return path


def _swap_dirs(path: str, tag: str) -> tuple[str, str]:
    base = path.rstrip("/")
    return f"{base}.__{tag}_tmp__", f"{base}.__{tag}_old__"


def _recover_swap(path: str, tag: str) -> tuple[str, str]:
    """The staging and backup dirs of the crash-safe swap of ``path``
    (``<path>.__<tag>_tmp__`` / ``<path>.__<tag>_old__``), after undoing
    what a previous run left behind. A run that died between the two
    renames left the intact data at the backup path and possibly no
    ``path`` at all: the backup is restored if ``path`` is missing and
    dropped otherwise. A stale staging dir from a failed write is
    removed. Call it before any read of ``path``. One maintainer per
    path: concurrent runs against one path are not supported."""
    staging, backup = _swap_dirs(path, tag)
    if os.path.isdir(backup):
        if not os.path.isdir(path):
            os.rename(backup, path)
        else:
            shutil.rmtree(backup)
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    return staging, backup


def _swap_in(path: str, staging: str, backup: str) -> None:
    """Replace ``path`` by the fully written ``staging`` dir with two
    renames: ``path`` to ``backup``, then ``staging`` to ``path``. A crash
    between them leaves the data intact at ``backup`` (never half
    deleted, but briefly absent at ``path``), which the next
    :func:`_recover_swap` restores."""
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)


def compact_files(spark: SparkSession, path: str, *,
                  target_file_bytes: int = 512 * 1024 * 1024,
                  fmt: str = "parquet", sort_within_by=None,
                  dry_run: bool = False) -> dict:
    """Small-files compaction — the standing maintenance job of every
    file-based lake (streaming sinks and fine-grained partitions emit
    thousands of tiny files; each costs a task + a footer read, and at
    100 TB the scan becomes scheduler-bound instead of IO-bound).

    Sizes the rewrite from FILE METADATA only (no data scan): target
    partition count = ceil(total_bytes / target_file_bytes), then one
    round-robin repartition write to ``<path>.__compact_tmp__``, swapped
    in by the two-rename protocol of :func:`_swap_in`; the next run
    restores a backup left by a crash between the renames and removes
    stale staging dirs first (:func:`_recover_swap`). Optional
    ``sort_within_by`` re-sorts rows within each output file to restore
    min/max data-skipping after the merge. Returns
    ``{"n_files_before", "n_files_after", "total_bytes", "target_parts"}``;
    ``dry_run`` reports without rewriting and changes nothing on disk,
    recovery included: it reports the files of a backup the next real
    run would restore."""
    import math

    path = _require_local_path(path, "compact_files")
    if dry_run:
        _, backup = _swap_dirs(path, "compact")
        src = backup if os.path.isdir(backup) \
            and not os.path.isdir(path) else path
    else:
        staging, backup = _recover_swap(path, "compact")
        src = path
    files = [f for f in _glob.glob(os.path.join(src, f"*.{fmt}"))
             if os.path.isfile(f)] or \
        [f for f in _glob.glob(os.path.join(src, "part-*")) if os.path.isfile(f)]
    total = sum(os.path.getsize(f) for f in files)
    parts = max(1, math.ceil(total / target_file_bytes))
    report = {"n_files_before": len(files), "total_bytes": total,
              "target_parts": parts, "n_files_after": len(files)}
    if dry_run or len(files) <= parts:
        return report
    df = spark.read.format(fmt).load(path)
    out = df.repartition(parts)
    if sort_within_by is not None:
        cols = [sort_within_by] if isinstance(sort_within_by, str) \
            else list(sort_within_by)
        out = out.sortWithinPartitions(*cols)
    out.write.format(fmt).mode("overwrite").save(staging)
    _swap_in(path, staging, backup)
    report["n_files_after"] = len(
        [f for f in os.listdir(path) if f.startswith("part-")])
    return report


def merge_upsert(spark: SparkSession, target_path: str, source: DataFrame,
                 keys, *, fmt: str = "parquet",
                 when_matched: str = "update",
                 insert_unmatched: bool = True) -> dict:
    """MERGE INTO for plain file targets (Delta/Iceberg MERGE subset,
    copy-on-write): rows in ``source`` whose ``keys`` match a row at
    ``target_path`` update ("update"), are skipped ("ignore"), or delete
    the target row ("delete"); unmatched source rows are inserted when
    ``insert_unmatched``. Unmatched target rows always survive. A missing
    target bootstraps: the first merge against a not-yet-existing path
    writes the (key-unique) source as the initial table. An empty source
    leaves the target (or its absence) untouched.

    Plan shape: ONE write of the merged rows to a staging dir — the target
    left-joined to the source keys (Spark broadcasts the source key set
    when it fits) beside the source split into matched (semi join) and
    unmatched (anti join) rows — swapped in by the same two-rename
    crash-safe protocol as :func:`compact_files` (:func:`_swap_in`; the
    next run restores the backup if a crash lands between the renames).
    Copy-on-write rewrites the whole target: the right shape for bulk
    daily upserts; high-frequency trickle updates belong in a table
    format with file-level pruning (Delta/Iceberg), not raw parquet.

    Source must be key-unique: a ``count(*) over (partition by keys)``
    window rides the staging write, and a duplicate raises before the
    swap. All returned counts are observed on that same write
    (``DataFrame.observe``), so the merge runs no other Spark action.
    Column sets must match by name (order-insensitive). Returns
    {"matched", "inserted", "rows_after"}; ``matched`` counts target rows
    whose key is in the source."""
    stats = _merge_observed(spark, target_path, source, keys, fmt=fmt,
                            when_matched=when_matched,
                            insert_unmatched=insert_unmatched)
    return {k: stats[k] for k in ("matched", "inserted", "rows_after")}


def _clone_session(spark: SparkSession, confs: Mapping):
    """A throwaway JVM clone of ``spark``'s session: same SparkContext
    and catalog, a copy of every SQL conf at call time, plus ``confs``."""
    clone = spark._jsparkSession.cloneSession()
    for key, value in confs.items():
        clone.conf().set(key, value)
    return clone


def _rebind(df: DataFrame, spark: SparkSession, jsession=None) -> DataFrame:
    """``df``'s logical plan as a frame of ``jsession`` (default:
    ``spark``'s own JVM session), seen from Python through ``spark``."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        jsession or spark._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jdf, spark)


def _observe_on_clone(df: DataFrame, *metrics, confs=None):
    """``(df.observe(obs, *metrics), obs)`` with ``df`` rebound to a
    throwaway clone of its session: same SparkContext and catalog, a
    copy of every SQL conf at call time, plus ``confs``. Spark 4.1 keeps
    an unserializable ObservationManager on a session once it has run
    an Observation, and any task that captures that session then fails
    to serialize (a binary LogisticRegression model's training summary
    holds it); observing on the clone leaves the caller's session as it
    was. Actions on the returned frame run on the clone."""
    from pyspark.sql import Observation

    s = df.sparkSession
    clone = _rebind(df, s, _clone_session(s, confs or {}))
    obs = Observation()
    return clone.observe(obs, *metrics), obs


def _batch_history(spark, corpus_path: str, batch_id: int | None,
                   op: str, sub: str = "") -> DataFrame | None:
    """The batches of the ``batch_id``-partitioned table at
    ``corpus_path + sub`` other than ``batch_id`` (every batch when it is
    ``None``), or ``None`` when no such batch is written. The current
    batch is left out by a partition filter, so a replayed batch never
    dedups against its own half-written partition. The batches are found
    with ``os.listdir``, so the path must be local:
    :func:`_require_local_path` raises for any other scheme before
    anything is written, and a ``file://`` path is listed without its
    scheme."""
    path = _require_local_path(corpus_path, op) + sub
    current = f"batch_id={batch_id}"
    if not os.path.isdir(path) or not any(
            f.startswith("batch_id=") and f != current
            for f in os.listdir(path)):
        return None
    hist = spark.read.parquet(path)
    if batch_id is None:
        return hist
    return hist.filter(F.col("batch_id") != batch_id)


def _write_batch(rows: DataFrame, path: str, batch_id: int,
                 batch: DataFrame | None = None) -> dict:
    """Write ``rows`` as partition ``batch_id=N`` of the table at
    ``path`` with dynamic partition overwrite, so a replayed batch
    rewrites its own partition and no other. The conf is set on the
    session clone the write runs on (:func:`_observe_on_clone`), never
    on the caller's session. Returns the write's observation:
    ``rows_out``, the rows written, and with ``batch`` also ``rows_in``,
    the batch's row count. The batch's rows ride the write plan up to
    the observation and are filtered out right after it, so no extra
    job counts them."""
    tagged = rows.withColumn("__w__", F.lit(True))
    metrics = [F.count_if("__w__").alias("rows_out")]
    if batch is not None:
        tagged = tagged.unionByName(batch.withColumn("__w__", F.lit(False)))
        metrics.append(F.count_if(~F.col("__w__")).alias("rows_in"))
    out, obs = _observe_on_clone(
        tagged, *metrics,
        confs={"spark.sql.sources.partitionOverwriteMode": "dynamic"})
    (out.filter("__w__").drop("__w__")
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite").partitionBy("batch_id").parquet(path))
    return obs.get


def _merge_observed(spark: SparkSession, target_path: str,
                    source: DataFrame, keys, *, fmt: str,
                    when_matched: str, insert_unmatched: bool) -> dict:
    """:func:`merge_upsert`; the result also holds ``source_rows``."""
    from pyspark.sql import Window, functions as F

    target_path = _require_local_path(target_path, "merge_upsert")
    keys = [keys] if isinstance(keys, str) else list(keys)
    if when_matched not in ("update", "ignore", "delete"):
        raise ValueError(f"when_matched must be update/ignore/delete, "
                         f"got {when_matched!r}")
    staging, backup = _recover_swap(target_path, "merge")
    # first-run bootstrap: no target yet (the natural first state of a
    # CDC-apply sink) — merging into an empty target makes every source
    # row an unmatched insert
    bootstrap = not os.path.isdir(target_path)
    if bootstrap:
        target = spark.createDataFrame([], source.schema)
    else:
        target = spark.read.format(fmt).load(target_path)
        if set(target.columns) != set(source.columns):
            raise ValueError(
                f"merge_upsert: column sets differ: target-only "
                f"{sorted(set(target.columns) - set(source.columns))}, "
                f"source-only "
                f"{sorted(set(source.columns) - set(target.columns))}")
    cols = target.columns
    source = source.select(*cols)

    # Every source row flows up to the observation, as a matched (__b__
    # 1) or an unmatched (__b__ 2) row, whether or not its mode writes
    # it; __w__ marks the rows written, and the filter on it sits above
    # the observation. Target rows (__b__ 0) carry __hit__ when their
    # key is in the source.
    src = source.withColumn(
        "__kn__", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    hits = source.select(*keys, F.lit(True).alias("__hit__"))
    tkeys = target.select(*keys)
    no_hit = F.lit(None).cast("boolean").alias("__hit__")
    merged = (
        target.join(hits, keys, "left").select(
            *cols, F.lit(0).alias("__b__"), "__hit__",
            F.lit(None).cast("long").alias("__kn__"),
            (F.col("__hit__").isNull() | F.lit(when_matched == "ignore"))
            .alias("__w__"))
        .unionByName(src.join(tkeys, keys, "left_semi").select(
            *cols, F.lit(1).alias("__b__"), no_hit, "__kn__",
            F.lit(when_matched == "update").alias("__w__")))
        .unionByName(src.join(tkeys, keys, "left_anti").select(
            *cols, F.lit(2).alias("__b__"), no_hit, "__kn__",
            F.lit(insert_unmatched).alias("__w__"))))
    b = F.col("__b__")
    # Inferred IS NOT NULL filters reach the semi branch's source scan
    # but not the anti branch's, so the two would shuffle the source
    # separately; without constraint propagation they share one shuffle
    # (one Spark job less per merge).
    merged, obs = _observe_on_clone(
        merged,
        F.count_if((b == 0) & F.col("__hit__").isNotNull()).alias("matched"),
        F.count_if(b == 2).alias("unmatched"),
        F.count_if(b > 0).alias("source_rows"),
        F.max("__kn__").alias("dup"),
        F.count_if("__w__").alias("rows_after"),
        confs={"spark.sql.constraintPropagation.enabled": "false"})
    (merged.filter("__w__").select(*cols)
           .write.format(fmt).mode("overwrite").save(staging))
    m = obs.get
    if (m["dup"] or 0) > 1:
        shutil.rmtree(staging)
        raise ValueError(
            "merge_upsert: source has duplicate merge keys — "
            + ("a bootstrap write would seed a key-ambiguous target; "
               "dedupe the source first" if bootstrap else
               "ambiguous update; dedupe the source first "
               "(e.g. unique_by_column with keep_order_by)"))
    stats = {"matched": m["matched"],
             "inserted": m["unmatched"] if insert_unmatched else 0,
             "rows_after": m["rows_after"],
             "source_rows": m["source_rows"]}
    if not m["source_rows"]:
        shutil.rmtree(staging)
    elif bootstrap:
        os.rename(staging, target_path)
    else:
        _swap_in(target_path, staging, backup)
    return stats


def write_training_shards(df: DataFrame, path: str, *, n_shards: int,
                          order_by, token_col: str | None = None,
                          fmt: str = "parquet") -> dict:
    """Export a training set as ``n_shards`` deterministic, globally
    ordered shard files plus a ``manifest.json`` (per-shard rows, token
    sums, byte sizes) — the contract a downstream tokenizer/loader
    consumes.

    Plan: one ``repartitionByRange(n_shards, order_by)`` range exchange
    (contiguous, ordered shards — NOT round-robin, so resuming/selecting
    a shard range preserves global order) + ``sortWithinPartitions`` +
    one write; the manifest comes from reading the written files' footers
    back with ``input_file_name()`` — one metadata-cheap aggregate over
    the output, no second pass over the input. Written as
    ``_manifest.json``: the underscore prefix keeps it invisible to
    Spark's file index (same convention as ``_SUCCESS``), so the shard
    dir stays loadable as a plain table. Shard boundaries come
    from Spark's range sampler, so shards are approximately (not exactly)
    equal-row."""
    import json as _json

    from pyspark.sql import functions as F

    # the shard WRITE itself is engine-native (any scheme works), but the
    # manifest is written with plain open() — local paths only
    path = _require_local_path(path, "write_training_shards")
    order_by = [order_by] if isinstance(order_by, str) else list(order_by)
    (df.repartitionByRange(n_shards, *[F.col(c) for c in order_by])
       .sortWithinPartitions(*order_by)
       .write.format(fmt).mode("overwrite").save(path))

    spark = df.sparkSession
    back = spark.read.format(fmt).load(path) \
        .withColumn("__file__", F.input_file_name())
    aggs = [F.count(F.lit(1)).alias("rows")]
    if token_col is not None:
        aggs.append(F.sum(token_col).alias("tokens"))
    stats = back.groupBy("__file__").agg(*aggs).collect()
    shards = sorted(
        ({"file": os.path.basename(r["__file__"]), "rows": r["rows"],
          **({"tokens": r["tokens"]} if token_col else {})}
         for r in stats), key=lambda s: s["file"])
    for s in shards:
        fp = os.path.join(path, s["file"])
        if os.path.exists(fp):
            s["bytes"] = os.path.getsize(fp)
    manifest = {"n_shards": len(shards), "order_by": order_by,
                "format": fmt, "total_rows": sum(s["rows"] for s in shards),
                **({"total_tokens": sum(s.get("tokens", 0) for s in shards)}
                   if token_col else {}),
                "shards": shards}
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        _json.dump(manifest, f, indent=2)
    return manifest


def read_fwf(spark: SparkSession, path: str, colspecs, names=None, *,
             schema: "str | None" = None, trim: bool = True,
             n_initial_skip_rows: int = 0) -> DataFrame:
    """Fixed-width-file reader (parity-plus: mainframe/regulatory exports
    still arrive as FWF; pandas has ``read_fwf``, Spark has nothing).
    ``colspecs`` is a list of (start, end) 0-based half-open character
    ranges; ``names`` the column names (defaults to ``column-N``);
    ``schema`` an optional DDL string ("a int, b string") applied with
    try_cast per column (bad parses -> NULL, the reference's
    parse-failure -> missing convention).

    Plan: ONE distributed text scan; every column is a ``substring``
    projection fused into whole-stage codegen — no Python, no shuffle,
    and Catalyst prunes unreferenced columns straight out of the
    projection. Line-skip reuses the monotonic-id prefix drop (no
    single-partition window)."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    if n_initial_skip_rows:
        lines = _skip_lines(lines, n_initial_skip_rows)
    names = list(names) if names is not None else \
        [f"column-{i}" for i in range(len(colspecs))]
    if len(names) != len(colspecs):
        # zip would silently drop the excess specs/names — an off-by-one
        # in either list must fail loudly, not narrow the table
        raise ValueError(
            f"read_fwf: {len(colspecs)} colspecs but {len(names)} names")
    cols = []
    for (start, end), name in zip(colspecs, names):
        c = F.substring(F.col("value"), start + 1, end - start)
        if trim:
            c = F.trim(c)
        cols.append(c.alias(name))
    df = lines.select(*cols)
    if schema is not None:
        from pyspark.sql.types import StructType
        for field in StructType.fromDDL(schema).fields:
            if field.name in names:
                df = df.withColumn(
                    field.name,
                    F.col(f"`{field.name}`").try_cast(field.dataType))
    return df
