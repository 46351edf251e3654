"""Vendored Apache Avro Object Container File codec — stdlib + pandas only.

Implements the public Avro 1.x binary encoding and Object Container File
(OCF) layout (magic ``Obj\\x01``, metadata map with ``avro.schema`` /
``avro.codec``, 16-byte sync marker, blocks of ``count, byte-size, data,
sync``; zigzag-varint longs, IEEE little-endian float/double, length-
prefixed string/bytes, union-index-prefixed nullable values) from the
Apache Avro specification — the same role the vendored xlsx/xls/jpeg/gif
codecs play for their formats: pyspark does not bundle the external
spark-avro datasource, so without its jar ``.avro`` reads/writes route
through these distributed surfaces instead of failing.

Both surfaces run on the shared dataset shell (sources/_dataset.py), like
the Arrow IPC and WARC datasets: the write is one ``part-NNNNN.avro``
file per partition (:func:`._dataset.write_parts`, executor-side, no
driver collect); the read turns a list of (file, byte range) splits into
the plan's source (:func:`._dataset.scan_units`) and decodes blocks
executor-side. The driver touches only the first file's header for the
schema. Deflate codec supported (zlib raw), ``null`` for uncompressed.

Column types: the full flat-table surface — boolean, int/long (with
byte/short widened), float/double, string, binary, date (``date``
logical), timestamp (``timestamp-micros``), timestamp_ntz
(``local-timestamp-micros``) — every field written as a ``["null", T]``
union (Spark fields are nullable). Nested arrays/maps/structs raise a
named error; flatten or use parquet for nested data.

Reference parity anchor: none — the reference (tech.ml.dataset) has no
Avro surface either (SURVEY §2.1); this is parity-plus, format facts
from the public Avro specification only.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

from ._dataset import list_files, scan_units, write_parts

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# primitive binary encoding
# ---------------------------------------------------------------------------


def _write_long(buf: bytearray, n: int) -> None:
    """zigzag varint (Avro spec 'Primitive Types: long')."""
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_long(data: bytes, pos: int) -> tuple[int, int]:
    acc, shift = 0, 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _write_bytes(buf: bytearray, b: bytes) -> None:
    _write_long(buf, len(b))
    buf += b


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(data, pos)
    return data[pos:pos + n], pos + n


# ---------------------------------------------------------------------------
# Spark schema <-> Avro schema JSON
# ---------------------------------------------------------------------------

#: spark simpleString -> avro type (logical types as dicts)
_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "tinyint": "int", "smallint": "int", "int": "int",
    "bigint": "long",
    "float": "float", "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long",
                      "logicalType": "local-timestamp-micros"},
}

_AVRO_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "long", "float": "float",
    "double": "double", "string": "string", "bytes": "binary",
    ("int", "date"): "date",
    ("long", "timestamp-micros"): "timestamp",
    ("long", "local-timestamp-micros"): "timestamp_ntz",
}


def spark_to_avro_schema(schema) -> str:
    """Spark StructType -> Avro record schema JSON (every field a
    ``["null", T]`` union). Raises a named error on nested types."""
    fields = []
    for f in schema.fields:
        ss = f.dataType.simpleString()
        if ss not in _SPARK_TO_AVRO:
            raise ValueError(
                f"vendored avro codec: column {f.name!r} has type {ss!r} — "
                "only flat primitive/date/timestamp columns are supported "
                "(nested data: flatten first, or use parquet)")
        fields.append({"name": f.name,
                       "type": ["null", _SPARK_TO_AVRO[ss]]})
    return json.dumps({"type": "record", "name": "spark_row",
                       "fields": fields})


def avro_to_spark_schema(schema_json: str):
    """Avro record schema JSON -> (spark DDL string, [avro kind per
    field]) where kind is the _AVRO_TO_SPARK key."""
    rec = json.loads(schema_json)
    if rec.get("type") != "record":
        raise ValueError("vendored avro codec: top-level schema must be "
                         f"a record, got {rec.get('type')!r}")
    ddl, kinds = [], []
    for f in rec["fields"]:
        t = f["type"]
        nullable = False
        if isinstance(t, list):            # union — only ["null", T]
            branches = [b for b in t if b != "null"]
            if len(branches) != 1 or len(t) > 2:
                raise ValueError(
                    f"vendored avro codec: field {f['name']!r} has a "
                    "non-trivial union type; only [\"null\", T] unions "
                    "are supported")
            nullable = len(branches) < len(t)
            t = branches[0]
        if isinstance(t, dict):
            key = (t["type"], t.get("logicalType"))
            if key not in _AVRO_TO_SPARK:
                raise ValueError(
                    f"vendored avro codec: field {f['name']!r} type "
                    f"{t!r} unsupported")
            kind = key
        else:
            if t not in _AVRO_TO_SPARK:
                raise ValueError(
                    f"vendored avro codec: field {f['name']!r} type "
                    f"{t!r} unsupported (nested data needs parquet)")
            kind = t
        ddl.append(f"`{f['name']}` {_AVRO_TO_SPARK[kind]}")
        kinds.append((kind, nullable))
    return ", ".join(ddl), kinds


# ---------------------------------------------------------------------------
# row value encode/decode (by avro kind)
# ---------------------------------------------------------------------------


def _encode_value(buf: bytearray, kind, v, nullable: bool = True) -> None:
    """One field value. ``kind`` is the _AVRO_TO_SPARK key; ``v`` is the
    already-normalized python value (int micros/days for temporal
    kinds) or None. The union branch index is written ONLY for
    ``["null", T]``-union fields (``nullable``) — a plain non-union
    field encodes the bare value, per the Avro spec."""
    if not nullable:
        if v is None:
            raise ValueError("vendored avro codec: NULL value in a "
                             "non-nullable (non-union) field")
    elif v is None:
        _write_long(buf, 0)                 # union branch 0: null
        return
    else:
        _write_long(buf, 1)                 # union branch 1: T
    t = kind[0] if isinstance(kind, tuple) else kind
    if t in ("long", "int"):
        _write_long(buf, int(v))
    elif t == "double":
        buf += struct.pack("<d", float(v))
    elif t == "float":
        buf += struct.pack("<f", float(v))
    elif t == "string":
        _write_bytes(buf, str(v).encode("utf-8"))
    elif t == "bytes":
        _write_bytes(buf, bytes(v))
    elif t == "boolean":
        buf.append(1 if v else 0)
    else:  # pragma: no cover - schema gate above
        raise ValueError(f"unsupported avro kind {kind!r}")


def _decode_value(data: bytes, pos: int, kind, nullable: bool = True):
    """Inverse of :func:`_encode_value`: reads the union branch varint
    ONLY for nullable (union) fields — an external writer's plain
    non-union field would otherwise have its first value byte consumed
    as a branch index, silently misaligning the whole block."""
    if nullable:
        branch, pos = _read_long(data, pos)
        if branch == 0:
            return None, pos
    t = kind[0] if isinstance(kind, tuple) else kind
    if t in ("long", "int"):
        return _read_long(data, pos)
    if t == "double":
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if t == "float":
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if t == "string":
        b, pos = _read_bytes(data, pos)
        return b.decode("utf-8"), pos
    if t == "bytes":
        b, pos = _read_bytes(data, pos)
        return bytearray(b), pos
    if t == "boolean":
        return data[pos] == 1, pos + 1
    raise ValueError(f"unsupported avro kind {kind!r}")  # pragma: no cover


# ---------------------------------------------------------------------------
# Object Container File layer
# ---------------------------------------------------------------------------


def write_file(fobj, schema_json: str, row_blocks, *,
               codec: str = "deflate") -> int:
    """Write an OCF: header (magic, metadata map, sync) then one block
    per non-empty element of ``row_blocks`` (an iterable of lists of
    row tuples, values pre-normalized). Returns rows written."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro codec must be 'null' or 'deflate', "
                         f"got {codec!r}")
    kinds = avro_to_spark_schema(schema_json)[1]  # (kind, nullable) pairs
    sync = os.urandom(16)
    head = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(),
            "avro.codec": codec.encode()}
    _write_long(head, len(meta))
    for k, v in meta.items():
        _write_bytes(head, k.encode())
        _write_bytes(head, v)
    _write_long(head, 0)                    # end of map
    head += sync
    fobj.write(bytes(head))
    total = 0
    for rows in row_blocks:
        if not rows:
            continue
        body = bytearray()
        for row in rows:
            for (kind, nullable), v in zip(kinds, row):
                _encode_value(body, kind, v, nullable)
        data = bytes(body) if codec == "null" else \
            zlib.compress(bytes(body), 6)[2:-4]   # raw deflate per spec
        blk = bytearray()
        _write_long(blk, len(rows))
        _write_long(blk, len(data))
        fobj.write(bytes(blk) + data + sync)
        total += len(rows)
    return total


def read_header(path: str):
    """Driver-side metadata read: (schema_json, codec, sync, data_pos)."""
    with open(path, "rb") as f:
        head = f.read(1 << 20)              # headers are tiny; 1 MiB cap
    if head[:4] != MAGIC:
        raise ValueError(f"{path}: not an Avro object container file "
                         "(bad magic)")
    pos, meta = 4, {}
    while True:
        n, pos = _read_long(head, pos)
        if n == 0:
            break
        if n < 0:                           # size-prefixed block form
            _, pos = _read_long(head, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(head, pos)
            v, pos = _read_bytes(head, pos)
            meta[k.decode()] = v
    sync = head[pos:pos + 16]
    schema_json = meta["avro.schema"].decode()
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"{path}: avro codec {codec!r} unsupported by "
                         "the vendored reader (null/deflate only)")
    return schema_json, codec, sync, pos + 16


def read_file(path: str):
    """Yield (rows, kinds) per block for a whole file."""
    yield from read_file_range(path, 0, os.path.getsize(path))


def read_file_range(path: str, start: int, end: int):
    """Yield (rows, kinds) for every block whose header begins at a
    block boundary ``p`` with ``start <= p < end`` — the Hadoop split
    contract that makes one giant OCF scan out across tasks: a boundary
    is the byte right after a sync marker, each split decodes exactly
    the blocks it owns (running past ``end`` to finish its last block),
    and every block is consumed exactly once across disjoint splits.
    Boundary discovery scans the window for the file's 16-byte random
    sync marker (the spec's splitting mechanism; a payload collision is
    a 2^-128 event, the same odds every Avro splitter accepts)."""
    schema_json, codec, sync, data_start = read_header(path)
    kinds = avro_to_spark_schema(schema_json)[1]  # (kind, nullable) pairs
    fsize = os.path.getsize(path)
    end = min(end, fsize)
    with open(path, "rb") as f:
        if start <= data_start:
            p = data_start
        else:
            f.seek(start - 16)           # a sync ENDING at start is ours
            win = f.read(end - (start - 16))
            i = win.find(sync)
            if i == -1:
                return                   # no boundary in this split
            p = start - 16 + i + 16
            if p >= end:
                return
        while p < end:
            f.seek(p)
            head = f.read(20)            # two varints, <= 10 bytes each
            if len(head) < 2:
                break
            count, off = _read_long(head, 0)
            size, off = _read_long(head, off)
            if count < 0 or size < 0 or p + off + size + 16 > fsize:
                # corrupt varints (a flipped bit can decode to a huge
                # count) must fail loudly, not spin or over-allocate
                raise ValueError(
                    f"{path}: corrupt block header at offset {p} "
                    f"(count={count}, size={size})")
            f.seek(p + off)
            block = f.read(size)
            if f.read(16) != sync:
                raise ValueError(f"{path}: sync marker mismatch mid-file "
                                 "(corrupt, truncated, or a false split "
                                 "boundary)")
            p = p + off + size + 16
            if codec == "deflate":
                block = zlib.decompress(block, wbits=-15)
            rows, bp = [], 0
            for _ in range(count):
                row = []
                for kind, nullable in kinds:
                    v, bp = _decode_value(block, bp, kind, nullable)
                    row.append(v)
                rows.append(tuple(row))
            yield rows, kinds


# ---------------------------------------------------------------------------
# distributed dataset surfaces (on the shared sources/_dataset.py shell)
# ---------------------------------------------------------------------------

_BLOCK_ROWS = 4096


def _normalize_cell(kind, v):
    """pandas cell -> avro-encodable python value (None for NA)."""
    import pandas as pd
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return None
    if isinstance(kind, tuple):
        t, logical = kind
        if logical == "date":
            return (pd.Timestamp(v) - pd.Timestamp("1970-01-01")).days
        # timestamp-micros / local-timestamp-micros
        ts = pd.Timestamp(v)
        return ts.value // 1000
    return v


def write_avro_dataset(df, path: str, *, codec: str = "deflate"
                       ) -> list[dict]:
    """DISTRIBUTED Avro write: one ``part-NNNNN.avro`` OCF per partition,
    written EXECUTOR-side by :func:`._dataset.write_parts` (no driver
    collect). Returns [{path, n_rows}, ...]."""
    schema_json = spark_to_avro_schema(df.schema)
    kinds = [k for k, _ in avro_to_spark_schema(schema_json)[1]]
    # (normalization needs only the kind — the writer's own schema is
    # always ["null", T] unions, so write_file sees nullable=True)

    def write(fh, batches):
        def blocks():
            for pdf in batches:
                cols = [[_normalize_cell(kind, v)
                         for v in pdf[c].tolist()]
                        for kind, c in zip(kinds, pdf.columns)]
                rows = list(zip(*cols))
                for i in range(0, len(rows), _BLOCK_ROWS):
                    yield rows[i:i + _BLOCK_ROWS]

        return write_file(fh, schema_json, blocks(), codec=codec)

    return write_parts(df, path, ".avro", "n_rows", write)


def read_avro_dataset(spark, path: str | list[str],
                      *, extension: str = ".avro",
                      split_bytes: int = 32 << 20):
    """DISTRIBUTED Avro read: the (file, byte-range) split list becomes
    the plan's source and each split decodes its blocks executor-side
    (:func:`._dataset.scan_units`), with block-level splitting:
    unlike Arrow IPC or .gz CSV, Avro OCF is sync-marker splittable, so
    one giant file still fans out across the cluster (``split_bytes``
    per task, the parquet ``maxPartitionBytes`` analog — a 100 GB
    single-file drop is ~3200 parallel tasks, not one). Schema comes
    from the first file's header (driver metadata-only read)."""
    import pandas as pd

    files = list_files(path, lambda f: f.endswith(extension), extension)
    schema_json, _, _, _ = read_header(files[0])
    ddl, kinds = avro_to_spark_schema(schema_json)
    rec = json.loads(schema_json)
    names = [f["name"] for f in rec["fields"]]

    splits = []
    for fp in files:
        fsize = os.path.getsize(fp)
        n = max(1, -(-fsize // split_bytes))
        step = -(-fsize // n)
        splits += [(fp, i * step, min((i + 1) * step, fsize))
                   for i in range(n)]
    expect = (tuple(names), tuple(kinds))

    def batches(it):
        checked: set[str] = set()
        for pdf in it:
            for p, s, e in zip(pdf["__avro_file__"], pdf["__start__"],
                               pdf["__end__"]):
                if p not in checked:
                    # every file must carry the FIRST file's schema —
                    # same types in a different field order (or extra /
                    # renamed fields) would otherwise be silently mapped
                    # positionally into the wrong columns
                    sj = read_header(p)[0]
                    rec_p = json.loads(sj)
                    got = (tuple(f["name"] for f in rec_p["fields"]),
                           tuple(avro_to_spark_schema(sj)[1]))
                    if got != expect:
                        raise ValueError(
                            f"vendored avro codec: {p} schema "
                            f"(fields {list(got[0])}) does not match the "
                            f"dataset schema from the first file "
                            f"(fields {list(expect[0])}) — mixed-schema "
                            "avro directories are not mergeable")
                    checked.add(p)
                for rows, _ in read_file_range(p, int(s), int(e)):
                    data = {}
                    for i, (name, (kind, _n)) in enumerate(
                            zip(names, kinds)):
                        vals = [r[i] for r in rows]
                        if isinstance(kind, tuple):
                            t, logical = kind
                            if logical == "date":
                                data[name] = pd.Series(
                                    pd.to_datetime(vals, unit="D").date
                                    if vals else [], dtype=object)
                            else:
                                data[name] = pd.to_datetime(
                                    pd.Series(vals, dtype="float64"),
                                    unit="us")
                        elif kind in ("int", "long"):
                            data[name] = pd.Series(vals, dtype="Int64")
                        elif kind == "boolean":
                            data[name] = pd.Series(vals, dtype="boolean")
                        else:
                            data[name] = pd.Series(vals, dtype=object)
                    yield pd.DataFrame(data, columns=names)

    return scan_units(spark, splits,
                      "__avro_file__ string, __start__ long, __end__ long",
                      batches, ddl)
