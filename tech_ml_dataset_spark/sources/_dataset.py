"""The Python-boundary shell of the vendored dataset formats (Arrow IPC,
Avro, WARC and its CDX / columnar indexes), written once.

Spark has no datasource for these formats, so each read turns a list of
work units (files, or byte ranges of files) into the plan's source and
decodes every unit executor-side in one ``mapInPandas`` pass, and each
write encodes one ``part-NNNNN<suffix>`` file per partition executor-side
and collects a small manifest. Executors must see the filesystem (true of
any cluster FS or object-store mount). Stdlib only at import time: the
modules that use these helpers are imported by executors too.
"""

from __future__ import annotations

import glob
import itertools
import os


def list_files(path, keep, what: str) -> list[str]:
    """The files a dataset read covers: the sorted entries of directory
    ``path`` whose name passes ``keep(name)``, the sorted matches of a
    glob (``[path]`` itself when nothing matches, so a missing file
    fails loudly in the reader), or a list as given. Raises
    ``ValueError("no <what> files under ...")`` when that leaves none."""
    if isinstance(path, str):
        if os.path.isdir(path):
            files = sorted(os.path.join(path, f) for f in os.listdir(path)
                           if keep(f))
        else:
            files = sorted(glob.glob(path)) or [path]
    else:
        files = list(path)
    if not files:
        raise ValueError(f"no {what} files under {path!r}")
    return files


def scan_units(spark, units: list[tuple], ddl: str, batches, schema):
    """One task per work unit: ``units`` becomes a local relation of
    ``ddl`` columns, spread by ``repartition(len(units))``, and
    ``batches`` (a ``mapInPandas`` function over those columns) decodes
    each unit into ``schema`` rows. A single unit needs no exchange: the
    one-row local relation is already one partition, and
    ``repartition(1)`` would plan a degenerate ``Exchange
    SinglePartition``."""
    units_df = spark.createDataFrame(units, ddl)
    if len(units) > 1:
        units_df = units_df.repartition(len(units))
    return units_df.mapInPandas(batches, schema)


def write_parts(df, path: str, suffix: str, count_col: str,
                write) -> list[dict]:
    """Write each partition of ``df`` to ``<path>/part-<pid:05d><suffix>``
    executor-side in one ``mapInPandas`` pass, with no driver collect of
    the rows. ``write(fh, batches)`` encodes the partition's non-empty
    pandas batches into the binary file ``fh`` and returns how many
    ``count_col`` units it wrote. The file is opened on the partition's
    first row, so an empty partition writes nothing. Returns the
    manifest ``[{"path": ..., count_col: n}, ...]``, one entry per file."""
    os.makedirs(path, exist_ok=True)

    def sink(it):
        import pandas as pd
        from pyspark import TaskContext

        rows = (pdf for pdf in it if not pdf.empty)
        first = next(rows, None)
        if first is None:
            return
        out = os.path.join(
            path, f"part-{TaskContext.get().partitionId():05d}{suffix}")
        with open(out, "wb") as fh:
            n = write(fh, itertools.chain([first], rows))
        if n:
            yield pd.DataFrame({"path": [out], count_col: [n]})

    manifest = df.mapInPandas(sink, f"path string, {count_col} long")
    return [r.asDict() for r in manifest.collect()]
