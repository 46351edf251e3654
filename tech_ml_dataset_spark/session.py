"""SparkSession factory tuned for this engine.

The reference (tech.ml.dataset) is a single-JVM in-memory library whose
parallelism is the fork-join pool (reference: src/tech/v3/dataset/reductions.clj
pgroups usage). On Spark the equivalent knobs are partition counts and AQE;
we default them so local[N] testing mirrors the multi-executor layout we
design for: shuffle partitions sized to cores, AQE for runtime coalescing
and skew-join handling, Arrow for every Python<->JVM batch boundary.

Local sessions also run Spark's Python workers through ``_daemon``. A
Python task otherwise pays about 0.25 s of worker CPU before its UDF runs
(measured on 4 cores, Python 3.11): the per-task
``importlib.invalidate_caches()`` re-reads ``pyspark.zip``'s directory
once per zip importer, 16 times. The daemon re-reads an archive only when
it changed.

Local driver JVMs start from a dynamic class-data-sharing (CDS) archive
(``_cds``): the JVM maps the classes an earlier session loaded, already
parsed and verified, instead of loading them from Spark's jars. The first
session without an archive writes one when its JVM exits (about 10-13 s
and 140-250 MB, once per checkout and heap mode); later sessions map it.
Archives live in ``.jvm-cds/`` under the checkout root, named by the
launch classpath (java binary and Spark jars, with sizes and mtimes) and
by the compressed-oops mode (heap below or from 32 GiB). For the launch
only, ``SPARK_CONF_DIR`` points at an empty directory there: the JVM
dumps no archive while a non-empty directory is on the classpath. Nothing
is archived or changed for a non-local master, a running JVM, a conf dir
holding anything but ``*.template`` files, ``HADOOP_CONF_DIR`` /
``YARN_CONF_DIR`` / ``SPARK_DIST_CLASSPATH``, ``spark.driver.extraClassPath``,
an unwritable ``.jvm-cds/``, or ``spark.driver.extraJavaOptions`` that
already name ``-Xshare``, ``SharedArchiveFile`` or
``ArchiveClassesAtExit``: pass ``-Xshare:off`` there to opt out.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import _cds

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the class-data-sharing archive of local driver JVMs, one per checkout
_CDS_DIR = os.path.join(_PACKAGE_PARENT, ".jvm-cds")

_DEFAULTS = {
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # dynamic broadcast). Essential at 100 TB where static estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for every pandas_udf / mapInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: we want NULL-on-bad-cast semantics like the reference's
    # parse-failure -> missing convention (io/column_parsers.clj:92-102).
    "spark.sql.ansi.enabled": "false",
    # Generated-class cache (static conf, default 100 entries): a session
    # running a large query suite (the 157-entry bench; any long-lived
    # driver re-planning hot shapes) evicts compiled classes between
    # repeats and re-pays 5-9 s of Janino/JIT per heavy plan — measured:
    # corpus_composition 11.8 s evicted vs 1.9 s cached, with identical
    # code. 1000 entries of generated bytecode is a few tens of MB on the
    # driver: cheap insurance at any scale.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Timestamps in test parquet are ns-precision; read without truncation error.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def get_spark(
    app_name: str = "tech-ml-dataset-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured; on a real cluster pass
    ``master=None`` with spark-submit providing the master URL.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local: match cores. Cluster: callers should size to 2-3x total cores
        # (or rely on AQE coalescing from a higher initial number).
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    if master.startswith("local"):
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        conf.setdefault("spark.ui.enabled", "false")
        # Each Python task would re-read pyspark.zip 16 times (~0.25 s of
        # CPU); the daemon's zip importers re-read only changed archives.
        # Workers must import the package whatever the driver's cwd.
        conf.setdefault("spark.python.daemon.module", "tech_ml_dataset_spark._daemon")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            filter(None, [conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_PARENT]))
    conf_dir = _cds.prepare(conf, master, _CDS_DIR)
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _cds.launch_env(conf_dir):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
