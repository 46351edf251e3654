"""Output checks, run outside the timed region.

Query results are compared with their DuckDB oracle on the same files the
query read. Floats compare with a relative tolerance: Spark's naive sums
and DuckDB's compensated sums of values near 1e10 differ in the 4th
decimal, which a fixed number of decimals reads as a wrong result.

Sink results are compared with their closed-form law (``upsert_law``,
``dedup_law``)."""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _sort_key(row):
    # None first, then by type name so mixed int/str columns still order
    return tuple((0, "", 0) if v is None else
                 (1, "num", v) if isinstance(v, (int, float)) else
                 (1, type(v).__name__, v) for v in row)


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same, a, b))
    num = (int, float)
    if (isinstance(a, num) and isinstance(b, num)
            and not isinstance(a, bool) and not isinstance(b, bool)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def rows_match(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when both results hold the same rows (any order, columns
    matched by name, floats within tolerance); else a short reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} != {len(rows_b)}"
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    na = sorted((tuple(_norm(r[i]) for i in ia) for r in rows_a), key=_sort_key)
    nb = sorted((tuple(_norm(r[i]) for i in ib) for r in rows_b), key=_sort_key)
    for ra, rb in zip(na, nb):
        if not _same(ra, rb):
            return f"row {ra} != {rb}"
    return None


class Oracle:
    """One DuckDB connection per table directory, views named as tables."""

    def __init__(self):
        self._cons: dict[str, duckdb.DuckDBPyConnection] = {}

    def query(self, data_dir: str, sql: str):
        con = self._cons.get(data_dir)
        if con is None:
            con = self._cons[data_dir] = duckdb.connect()
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{f}')")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self):
        for con in self._cons.values():
            con.close()
        self._cons.clear()


def upsert_law(base, batches, target_rows, key: str) -> str | None:
    """Each key holds the row of the last batch that carried it; keys no
    batch carried keep their base row."""
    want = {r[key]: r for r in base}
    for b in batches:
        for r in b:
            want[r[key]] = r
    if len(target_rows) != len(want):
        return f"target rows {len(target_rows)} != {len(want)}"
    for r in target_rows:
        w = want.get(r[key])
        if w is None:
            return f"unexpected key {r[key]}"
        if not _same(tuple(_norm(r[c]) for c in sorted(w)),
                     tuple(_norm(w[c]) for c in sorted(w))):
            return f"key {r[key]}: {r} != {w}"
    return None


def dedup_law(batches, corpus_rows) -> str | None:
    """Each distinct text is accepted once, in the earliest batch that
    carried it."""
    first: dict[str, int] = {}
    for i, b in enumerate(batches):
        for t in b:
            first.setdefault(t, i)
    seen: dict[str, int] = {}
    for text, batch_id in corpus_rows:
        if text in seen:
            return f"text accepted twice (batches {seen[text]}, {batch_id})"
        seen[text] = batch_id
    if seen != first:
        missing = len(set(first) - set(seen))
        return f"{missing} texts missing or {len(seen)} in the wrong batch"
    return None
