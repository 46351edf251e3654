"""The query registry: one record per query, declared where it is built.

A family module (``registry/<family>.py``) declares each query as a
builder ``(spark, sf_dir) -> DataFrame`` with its DuckDB oracle directly
above it::

    @query(oracle="SELECT ... FROM lineitem ...")
    def my_query(spark, sf_dir):
        ...

``query`` records ``Query(build, oracle)`` in ``REGISTRY`` under the
function's name. ``__spark_entry__.ORDER`` decides which registered
queries the driver contract exposes and in what order.

This module imports no family module, so the families can import the
shared helpers below without a cycle.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from tech_ml_dataset_spark import dtutil as dtu
from tech_ml_dataset_spark.sources.io import read_parquet


class Query(NamedTuple):
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


REGISTRY: dict[str, Query] = {}


def query(oracle: str | None = None):
    """Register the decorated builder under its function name, with its
    DuckDB oracle SQL (``None`` for a rows-only query)."""
    def register(fn):
        if fn.__name__ in REGISTRY:
            raise ValueError(f"query {fn.__name__!r} is registered twice")
        REGISTRY[fn.__name__] = Query(fn, oracle)
        return fn
    return register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _doc_slice(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """The ids of the first ``n`` documents (``doc_id < n``), spread for a
    CPU-bound decode with ``n`` as the row bound — the slice and the bound
    are one literal, so they cannot drift apart."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < n) \
        .select("doc_id")
    return dtu.ensure_parallelism(docs, "doc_id", n_rows=n)


def _scratch_dir(prefix: str) -> str:
    """A fresh temporary directory for a builder's fixture files, removed
    when the process exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(lambda p=d: shutil.rmtree(p, ignore_errors=True))
    return d


def _r4(c) -> F.Column:
    return F.round(c, 4)


def _r4b(c) -> F.Column:
    """Binary-consistent 4-decimal round. Spark's round(x, 4) rounds the
    SHORTEST DECIMAL REPR (BigDecimal.valueOf, HALF_UP) while DuckDB rounds
    the exact binary value — per-row products regularly land on midpoints
    where they disagree by 1e-4. round(x*1e4)/1e4 makes both engines round
    the same double."""
    return F.round(c * 10000) / 10000


def _ckpt_sort(df: DataFrame, *cols) -> DataFrame:
    """Materialize the slim output once (lazy ``dtu.materialize``) before
    the determinism orderBy (guide §2.4): the range partitioner's bounds
    sampling re-executes the sort's child lineage, and for these queries
    that child is an expensive Python stage (codec / archive-fetch
    mapInPandas, the induction recurrence) with NO shuffle boundary
    between it and the sort — so it ran twice per action (measured
    pdf_extract_docs 1.67 s -> 1.05 s through the checkpoint). The
    sampling job is the first reader and stores the rows the sort reads.
    The checkpointed frame is each query's final slim projection
    (ids/hashes/flags/features — never payload bytes), so the
    materialization stays bounded at any scale."""
    return dtu.materialize(df, eager=False).orderBy(*cols)
