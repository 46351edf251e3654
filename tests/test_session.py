"""The local session's Python worker daemon (`tech_ml_dataset_spark._daemon`):
zip importers re-read an archive only when it changed, and Python UDFs
run whatever the driver's working directory. The local driver JVM's
class-data-sharing archive (`tech_ml_dataset_spark._cds`): keyed on the
launch classpath, adopted only when complete, and never used where it
cannot apply."""

import glob
import importlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import SparkContext

from tech_ml_dataset_spark import _cds, _daemon

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


# ---- class-data sharing: no Spark, a fake SPARK_HOME and java ----------

_FLAG = re.compile(r"-XX:(SharedArchiveFile|ArchiveClassesAtExit)=(\S+)")


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A SPARK_HOME of two fake jars and a conf dir of templates, a fake
    JAVA_HOME, no JVM running and no extra classpath from the environment."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    for var in (*_cds.CLASSPATH_ENV, "SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return home


def _prepare(cache, conf=None, master="local[1]"):
    """``(conf dir, flag name, archive path, extraJavaOptions)``; the last
    three are None when no flag was added."""
    conf = {"spark.driver.memory": "1g", **(conf or {})}
    before = dict(conf)
    conf_dir = _cds.prepare(conf, master, str(cache))
    if conf_dir is None:
        assert conf == before
        return None, None, None, None
    opts = conf["spark.driver.extraJavaOptions"]
    assert _cds.QUIET in opts
    flag, path = _FLAG.search(opts).groups()
    return conf_dir, flag, path, opts


def _key(path):
    return os.path.basename(path).split(".")[0]


def _write_archive(path, size=64):
    with open(path, "wb") as f:
        f.write(_cds.MAGIC + b"\0" * (size - 4))


def test_cds_key_follows_jars_java_and_heap_mode(fake_home, tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    conf_dir, flag, path, _ = _prepare(cache)
    assert flag == "ArchiveClassesAtExit" and conf_dir == str(cache / "conf")
    assert os.listdir(conf_dir) == [] and not os.path.exists(path)
    key = _key(path)
    assert _key(_prepare(cache)[2]) == key  # each session dumps to its own temp
    jar = fake_home / "jars" / "a.jar"

    jar.write_bytes(b"jar2")  # size
    sized = _key(_prepare(cache)[2])
    os.utime(jar, ns=(1, 1))  # mtime
    touched = _key(_prepare(cache)[2])
    java = tmp_path / "jdk2" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java")
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk2"))
    other_java = _key(_prepare(cache)[2])
    assert len({key, sized, touched, other_java}) == 4

    big = _key(_prepare(cache, {"spark.driver.memory": "48g"})[2])
    assert big.endswith("-nocoops") and other_java.endswith("-coops")
    assert big.split("-")[0] == other_java.split("-")[0]


def test_cds_adopts_only_a_complete_dump(fake_home, tmp_path):
    cache = tmp_path / "cache"
    key = _key(_prepare(cache)[2])
    tmp = cache / f"{key}.writing.tmp"
    tmp.write_bytes(b"\0" * 64)  # the JVM writes the magic last
    _, flag, _, _ = _prepare(cache)
    assert flag == "ArchiveClassesAtExit" and tmp.exists()

    _write_archive(tmp)
    _, flag, path, _ = _prepare(cache)
    assert flag == "SharedArchiveFile"
    assert path == str(cache / f"{key}-64.jsa") and not tmp.exists()
    _write_archive(cache / f"{key}.late.tmp")  # a later duplicate dump
    assert _prepare(cache)[2] == path
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}-64.jsa"])


@pytest.mark.parametrize("damage", ["truncated", "no magic"])
def test_cds_damaged_archive_is_removed(fake_home, tmp_path, damage):
    cache = tmp_path / "cache"
    key = _key(_prepare(cache)[2])
    archive = cache / f"{key}-128.jsa"
    if damage == "truncated":
        _write_archive(archive, 64)
    else:
        archive.write_bytes(b"\0" * 128)
    _, flag, _, _ = _prepare(cache)
    assert flag == "ArchiveClassesAtExit" and not archive.exists()


def test_cds_removes_stale_archives(fake_home, tmp_path):
    cache = tmp_path / "cache"
    key = _key(_prepare(cache)[2])
    digest = key.split("-")[0]
    other_mode = cache / f"{digest}-nocoops-64.jsa"
    _write_archive(cache / f"{key}-64.jsa")
    _write_archive(other_mode)
    for name in ("0123456789abcdef-coops-64.jsa", "0123456789abcdef-coops.x.tmp"):
        _write_archive(cache / name)
    assert _prepare(cache)[1] == "SharedArchiveFile"
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}-64.jsa", other_mode.name])


def test_cds_unwritable_cache_adds_no_flags(fake_home, tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("")
    assert _prepare(blocker / "cache")[0] is None


@pytest.mark.parametrize("case", [
    "conf file", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "extraClassPath",
    "-Xshare:off", "SharedArchiveFile", "ArchiveClassesAtExit", "yarn master",
    "running JVM"])
def test_cds_opt_outs_add_no_flags(fake_home, tmp_path, monkeypatch, case):
    conf, master = {}, "local[1]"
    if case == "conf file":
        (fake_home / "conf" / "spark-defaults.conf").write_text("")
    elif case in _cds.CLASSPATH_ENV:
        monkeypatch.setenv(case, str(tmp_path))
    elif case == "extraClassPath":
        conf["spark.driver.extraClassPath"] = str(tmp_path)
    elif case == "yarn master":
        master = "yarn"
    elif case == "running JVM":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    else:
        flag = case if case.startswith("-") else f"-XX:{case}={tmp_path}/a.jsa"
        conf["spark.driver.extraJavaOptions"] = f"-Xms1g {flag}"
    assert _prepare(tmp_path / "cache", conf, master)[0] is None
    assert not (tmp_path / "cache").exists()


def test_cds_appends_to_caller_options(fake_home, tmp_path):
    opts = "-Xms1024m -XX:TieredStopAtLevel=1 -Djava.io.tmpdir=/x"
    _, _, _, out = _prepare(tmp_path / "cache", {"spark.driver.extraJavaOptions": opts})
    assert out.startswith(opts + " -XX:ArchiveClassesAtExit=")


@pytest.mark.parametrize("prior", [None, "/etc/spark"])
def test_cds_launch_env_restores_conf_dir(monkeypatch, prior):
    if prior is None:
        monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    else:
        monkeypatch.setenv("SPARK_CONF_DIR", prior)
    with pytest.raises(RuntimeError):
        with _cds.launch_env("/empty"):
            assert os.environ["SPARK_CONF_DIR"] == "/empty"
            raise RuntimeError
    assert os.environ.get("SPARK_CONF_DIR") == prior
    with _cds.launch_env(None):
        assert os.environ.get("SPARK_CONF_DIR") == prior


# ---- class-data sharing: driver processes of their own -----------------

_CDS_CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
import tech_ml_dataset_spark.session as session
session._CDS_DIR = {cache!r}
prior = os.environ.get("SPARK_CONF_DIR")
spark = session.get_spark("cds", master="local[1]",
                          extra_conf={{"spark.driver.memory": "1g"}})
assert os.environ.get("SPARK_CONF_DIR") == prior
print("OPTS", spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"))
print("PROBE", spark.conf.get("spark.tmd.probe", None))
print("ROWS", spark.range(3).groupBy().count().first()[0])
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{{pid}}/maps") as f:
    print("MAPPED", json.dumps(sorted({{l.split()[-1] for l in f
                                       if l.rstrip().endswith(".jsa")}})))
"""


def _cds_child(cache, cwd, env=None):
    """Run a local session in a process of its own; the process exits
    once its JVM has exited (and written any archive)."""
    env = {k: v for k, v in (env or os.environ).items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _CDS_CHILD.format(repo=REPO, cache=str(cache))],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    assert "ROWS 3" in out.stdout, out.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                 if line.split(" ", 1)[0] in ("OPTS", "PROBE", "MAPPED"))
    lines["MAPPED"] = json.loads(lines["MAPPED"])
    return lines


@pytest.fixture(scope="module")
def cds_archive(tmp_path_factory):
    """An archive dumped by a first session's JVM at exit, then adopted."""
    cache = tmp_path_factory.mktemp("cds") / "cache"
    first = _cds_child(cache, cache.parent)
    assert "-XX:ArchiveClassesAtExit=" in first["OPTS"]
    (dump,) = glob.glob(str(cache / "*.tmp"))
    key = _key(dump)
    archive = _cds._archive(str(cache), key.split("-")[0], key)
    assert archive == str(cache / f"{key}-{os.path.getsize(archive)}.jsa")
    return archive


def test_cds_driver_maps_the_archive(cds_archive, tmp_path):
    out = _cds_child(os.path.dirname(cds_archive), tmp_path)
    assert f"-XX:SharedArchiveFile={cds_archive}" in out["OPTS"]
    assert cds_archive in out["MAPPED"]


@pytest.mark.parametrize("damage", ["truncated", "garbage"])
def test_cds_driver_skips_a_damaged_archive(cds_archive, tmp_path, damage):
    """Damaged in place: the archive's key includes its cache dir's path."""
    cache = os.path.dirname(cds_archive)
    good = str(tmp_path / "good.jsa")
    shutil.move(cds_archive, good)
    try:
        shutil.copyfile(good, cds_archive)
        if damage == "truncated":  # the first half: the magic is intact
            os.truncate(cds_archive, os.path.getsize(good) // 2)
        else:
            with open(cds_archive, "r+b") as f:
                f.write(os.urandom(4096))
        out = _cds_child(cache, tmp_path)
        assert "-XX:ArchiveClassesAtExit=" in out["OPTS"]
        assert not any(p.startswith(cache) for p in out["MAPPED"])
        assert not os.path.exists(cds_archive)
        assert not glob.glob(str(tmp_path / "hs_err_pid*.log"))
    finally:  # leave the fixture's one archive for the next test
        for name in os.listdir(cache):
            if name != "conf":
                os.remove(os.path.join(cache, name))
        shutil.move(good, cds_archive)


def test_cds_driver_skips_a_real_conf_dir(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.tmd.probe  42\n")
    env = dict(os.environ, SPARK_CONF_DIR=str(conf_dir))
    out = _cds_child(tmp_path / "cache", tmp_path, env)
    assert out["PROBE"] == "42"
    assert not any(flag in out["OPTS"] for flag in _cds.OWN_FLAGS)
    assert not any(p.startswith(str(tmp_path)) for p in out["MAPPED"])
    assert not (tmp_path / "cache").exists()
