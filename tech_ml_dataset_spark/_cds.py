"""A dynamic class-data-sharing (CDS) archive for local driver JVMs.

``prepare`` appends to ``spark.driver.extraJavaOptions`` either
``-XX:SharedArchiveFile`` (an archive exists) or ``-XX:ArchiveClassesAtExit``
(the JVM dumps one at exit, to a temp name of its own), and returns the
empty directory to launch with as ``SPARK_CONF_DIR``: the JVM refuses to
dump while a non-empty directory is on the classpath, and Spark's conf dir
is on it. ``launch_env`` sets that directory for the launch only.

An archive's name keys on the classpath it was dumped with (the java
binary, every jar in ``$SPARK_HOME/jars``, each with its size and mtime,
and the conf dir's path) and on the heap's compressed-oops mode: an
archive dumped with a heap below 32 GiB is not mapped by a JVM with a
larger one, and the reverse.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import uuid

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

# the first 4 bytes of a complete dynamic archive, 0xf00baba8 little-endian.
# The JVM writes the header last: while it dumps they read 00000000
MAGIC = b"\xa8\xab\x0b\xf0"
# the dump's per-class warnings would otherwise reach stdout
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# options that already decide sharing; -Xshare:off is the opt-out
OWN_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# environment variables that put more entries on the launch classpath
CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# a JVM size as -Xmx reads spark.driver.memory: no suffix means bytes
_SIZE = re.compile(r"\s*(\d+)([kmgt]?)\s*", re.IGNORECASE)
_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}


def prepare(conf: dict, master: str, cache_dir: str) -> str | None:
    """Add the archive's flags to ``conf`` and return the conf dir to
    launch with, or return None and leave ``conf`` as it was when sharing
    cannot apply: a non-local master, a JVM already running, a classpath
    with more than the jars and a conf dir of ``*.template`` files, the
    caller's own sharing flags, or a cache dir that cannot be written."""
    opts = conf.get("spark.driver.extraJavaOptions", "")
    if (not master.startswith("local") or SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or any(os.environ.get(v) for v in CLASSPATH_ENV)
            or conf.get("spark.driver.extraClassPath")
            or any(flag in opts for flag in OWN_FLAGS)):
        return None
    spark_home = os.environ.get("SPARK_HOME") or _find_spark_home()
    if not _templates_only(os.environ.get("SPARK_CONF_DIR")
                           or os.path.join(spark_home, "conf")):
        return None
    empty = os.path.join(cache_dir, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if not os.access(cache_dir, os.W_OK):
            return None
        digest = _classpath_digest(spark_home, empty)
        key = f"{digest}-{_oops_mode(conf)}"
        archive = _archive(cache_dir, digest, key)
    except OSError:
        return None
    flag = (f"-XX:SharedArchiveFile={archive}" if archive else
            "-XX:ArchiveClassesAtExit="
            + os.path.join(cache_dir, f"{key}.{uuid.uuid4().hex}.tmp"))
    conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, [opts, flag, QUIET]))
    return empty


@contextlib.contextmanager
def launch_env(conf_dir: str | None):
    """``SPARK_CONF_DIR`` set to ``conf_dir`` inside the block (unchanged
    when it is None), the caller's value restored after it."""
    if conf_dir is None:
        yield
        return
    prior = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if prior is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = prior


def _templates_only(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _java() -> str | None:
    """The java binary ``bin/spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else None


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{path} {st.st_size} {st.st_mtime_ns}"


def _classpath_digest(spark_home: str, conf_dir: str) -> str:
    java = _java()
    if java is None:
        raise FileNotFoundError("java")
    jars = os.path.join(spark_home, "jars")
    parts = [conf_dir, _stamp(java)] + [_stamp(os.path.join(jars, name))
                                        for name in sorted(os.listdir(jars))]
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()[:16]


def _oops_mode(conf: dict) -> str:
    """``coops`` below a 32 GiB heap (``spark.driver.memory``, default
    1g), ``nocoops`` at or above it or with ``-XX:-UseCompressedOops``."""
    if "-XX:-UseCompressedOops" in conf.get("spark.driver.extraJavaOptions", ""):
        return "nocoops"
    m = _SIZE.fullmatch(conf.get("spark.driver.memory", "1g"))
    heap = int(m.group(1)) << _SHIFT[m.group(2).lower()] if m else 0
    return "nocoops" if heap >= 32 << 30 else "coops"


def _complete(path: str, size: int | None = None) -> bool:
    """The file starts with the archive magic (and has ``size`` bytes)."""
    try:
        with open(path, "rb") as f:
            return (f.read(4) == MAGIC
                    and (size is None or os.fstat(f.fileno()).st_size == size))
    except OSError:
        return False


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _archive(cache_dir: str, digest: str, key: str) -> str | None:
    """The complete archive for ``key``, or None.

    A finished dump ``<key>.<token>.tmp`` is adopted by renaming it to
    ``<key>-<size>.jsa``, the largest first (its session loaded the most
    classes). A later session checks the magic and that size, since a
    truncated archive crashes the JVM that maps it. Files of other
    classpath digests, damaged archives and, once an archive exists, the
    key's other dumps are removed. A dump without the magic is left alone
    while no archive exists: its JVM may still be writing it.
    """
    names = sorted(os.listdir(cache_dir))
    for name in names:
        if name != "conf" and not name.startswith(digest + "-"):
            _remove(os.path.join(cache_dir, name))
    archive = None
    for name in names:
        if name.startswith(key + "-") and name.endswith(".jsa"):
            path = os.path.join(cache_dir, name)
            size = name[len(key) + 1:-len(".jsa")]
            if archive is None and size.isdigit() and _complete(path, int(size)):
                archive = path
            else:
                _remove(path)
    temps = sorted((os.path.join(cache_dir, n) for n in names
                    if n.startswith(key + ".") and n.endswith(".tmp")),
                   key=os.path.getsize, reverse=True)
    for tmp in temps:
        if archive is None and _complete(tmp):
            final = os.path.join(cache_dir, f"{key}-{os.path.getsize(tmp)}.jsa")
            try:
                os.replace(tmp, final)
            except FileNotFoundError:  # another session adopted it first
                continue
            archive = final
        elif archive is not None:
            _remove(tmp)
    return archive
