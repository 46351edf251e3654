"""The local session's Python worker daemon (`tech_ml_dataset_spark._daemon`):
zip importers re-read an archive only when it changed, and Python UDFs
run whatever the driver's working directory."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from tech_ml_dataset_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_zip_importer_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"tmd_zip_a": "VALUE = 1\n"})
    reads = []
    read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("tmd_zip_a").VALUE == 1
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"tmd_zip_a": "VALUE = 1\n",
                             "tmd_zip_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("tmd_zip_b").VALUE == 2

        os.remove(archive)
        importlib.invalidate_caches()  # a removed archive does not raise
        importlib.invalidate_caches()
    finally:
        sys.modules.pop("tmd_zip_a", None)
        sys.modules.pop("tmd_zip_b", None)
        sys.path_importer_cache.pop(archive, None)


def test_worker_task_rereads_no_archive(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        calls = []
        read = zipimport._read_directory

        def counting_read(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "reads long").collect()
    assert [r["reads"] for r in rows] == [0]


def test_python_udf_runs_from_foreign_cwd(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql.functions import pandas_udf
from tech_ml_dataset_spark import get_spark

spark = get_spark("foreign-cwd", master="local[1]",
                  extra_conf={{"spark.driver.memory": "1g"}})

@pandas_udf("long")
def plus_one(s):
    return s + 1

print("ROWS", sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "ROWS [1, 2, 3]" in out.stdout, out.stderr[-2000:]
