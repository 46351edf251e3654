"""Input tables of the benchmark.

The base tables are the project's test tables, committed under
``perfbench/tables/sf<scale>/`` (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``): the same bytes the registry queries and
their DuckDB oracles are checked on. Every run of every workload reads
them unchanged; the run's own seed only picks operation order and sink
batch contents (``SinkBatches``).

Two derived inputs are written once into the git-ignored cache: the sink
workload's upsert target, ten key-offset copies of ``orders``
(``replicate_orders``), and ``lineitem`` as gzip TSV for the ingest read.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
SCALES = ("0.01", "0.001")


def replicate_orders(base_dir: str, copies: int) -> pa.Table:
    """``copies`` copies of ``orders`` with the order and customer keys
    offset per copy, so every key stays unique and joins keep their
    selectivity."""
    orders = pq.read_table(os.path.join(base_dir, "orders.parquet"))
    n_ord = orders.num_rows
    n_cust = base_rows(base_dir, "customer")
    parts = []
    for c in range(copies):
        tb = orders.set_column(0, "o_orderkey",
                               pc.add(orders["o_orderkey"], c * n_ord))
        tb = tb.set_column(1, "o_custkey", pc.add(tb["o_custkey"], c * n_cust))
        parts.append(tb)
    return pa.concat_tables(parts)


def ensure_data(cache_dir: str, sf: str) -> dict[str, str]:
    """Return the table directories of every workload: ``base`` (the
    committed tables at ``sf``), and, derived once into ``cache_dir``,
    ``x10`` (the orders replica) and ``tsv`` (``base`` lineitem as gzip
    TSV in four files)."""
    base = os.path.join(TABLES, f"sf{sf}")
    if not os.path.isfile(os.path.join(base, "lineitem.parquet")):
        raise FileNotFoundError(f"no committed tables in {base}")
    root = os.path.join(cache_dir, f"sf{sf}")
    dirs = {"base": base, "x10": os.path.join(root, "x10"),
            "tsv": os.path.join(root, "tsv")}
    done = os.path.join(root, "DONE")
    if os.path.exists(done):
        return dirs
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(dirs["x10"])
    pq.write_table(replicate_orders(base, 10),
                   os.path.join(dirs["x10"], "orders.parquet"))
    os.makedirs(dirs["tsv"])
    import pyarrow.csv as pcsv
    li = pq.read_table(os.path.join(base, "lineitem.parquet"))
    step = -(-li.num_rows // 4)
    for i in range(4):
        path = os.path.join(dirs["tsv"], f"part-{i:05d}.tsv.gz")
        with pa.CompressedOutputStream(path, "gzip") as out:
            pcsv.write_csv(li.slice(i * step, step), out,
                           pcsv.WriteOptions(delimiter="\t",
                                             quoting_style="none"))
    with open(done, "w") as f:
        f.write("ok\n")
    return dirs


def base_rows(data_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(data_dir, f"{table}.parquet")) \
        .metadata.num_rows


class SinkBatches:
    """CDC upsert batches over ``orders`` and text-dedup batches drawn from
    ``texts``, made on demand from ``seed``, so a run can apply any number
    of them.

    Each upsert batch updates ``changed`` existing keys (new price) and
    inserts ``new`` keys above the current maximum. Each dedup batch
    samples ``doc_batch`` texts with replacement, so it repeats texts sent
    earlier and the sink's history probe has real work."""

    def __init__(self, orders: pa.Table, texts: list[str], seed: int, *,
                 changed: int, new: int, doc_batch: int):
        self.orders, self.texts = orders, texts
        self.changed, self.new, self.doc_batch = changed, new, doc_batch
        self.upsert_rng = np.random.default_rng([seed, 0])
        self.dedup_rng = np.random.default_rng([seed, 1])
        self.next_key = pc.max(orders["o_orderkey"]).as_py() + 1
        self.n_dedup = 0

    def upsert(self) -> pa.Table:
        rng, n_ord = self.upsert_rng, self.orders.num_rows
        old = self.orders.take(pa.array(
            rng.choice(n_ord, self.changed, replace=False)))
        fresh = self.orders.take(pa.array(rng.integers(0, n_ord, self.new)))
        keys = np.arange(self.next_key, self.next_key + self.new,
                         dtype=np.int64)
        self.next_key += self.new
        fresh = fresh.set_column(0, "o_orderkey", pa.array(keys))
        batch = pa.concat_tables([old, fresh])
        prices = np.round(rng.uniform(1000, 500_000, batch.num_rows), 2)
        return batch.set_column(
            batch.schema.get_field_index("o_totalprice"), "o_totalprice",
            pa.array(prices))

    def dedup(self) -> pa.Table:
        b, size = self.n_dedup, self.doc_batch
        self.n_dedup += 1
        idx = self.dedup_rng.integers(0, len(self.texts), size)
        return pa.table({
            "doc_id": np.arange(b * size, (b + 1) * size, dtype=np.int64),
            "text": [self.texts[i] for i in idx]})
