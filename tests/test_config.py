"""Session conf: the scale-oriented defaults must actually take effect."""

import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

import pytest


def test_arrow_and_aqe_defaults(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_default_fifo_scheduler(spark):
    """No scheduler pools: validate's concurrent driver threads share
    Spark's default FIFO queue."""
    assert spark.conf.get("spark.scheduler.mode", "FIFO") == "FIFO"
    assert spark.sparkContext.getConf().get("spark.scheduler.allocation.file") is None


def test_workers_import_the_drivers_pyspark(spark):
    """On a local master the workers run ``drivel_spark.pydaemon``:
    pyspark comes from a directory at the driver's version, and no
    ``zipimporter`` is left for the per-task ``invalidate_caches()`` to
    re-read (the stock daemon leaves 16)."""
    import pyspark

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark as worker_pyspark

        zips = [v for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)]
        for _ in batches:
            yield pd.DataFrame({"file": [worker_pyspark.__file__],
                                "version": [worker_pyspark.__version__],
                                "zips": [len(zips)]})

    row = spark.range(1).mapInPandas(
        probe, "file string, version string, zips long").collect()[0]
    assert os.path.isfile(row.file), row.file  # not a member of an archive
    assert row.version == pyspark.__version__
    assert row.zips == 0


def _zip_package(dest, package, version):
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with zipfile.ZipFile(dest, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", f'__version__: str = "{version}"\n')


def _dir_package(root, package, version):
    os.makedirs(os.path.join(root, package))
    open(os.path.join(root, package, "__init__.py"), "w").close()
    with open(os.path.join(root, package, "version.py"), "w") as fh:
        fh.write(f"__version__ = '{version}'\n")


@pytest.fixture
def fake_spark_path(tmp_path):
    """A daemon path as the JVM builds it: pyspark.zip, the py4j zip and
    a jar, then a site directory holding py4j at the archive's version.
    The test puts its own pyspark in the site directory."""
    lib, site = tmp_path / "lib", str(tmp_path / "site")
    _zip_package(str(lib / "pyspark.zip"), "pyspark", "4.1.2")
    _zip_package(str(lib / "py4j-0.10.9.9-src.zip"), "py4j", "0.10.9.9")
    _zip_package(str(tmp_path / "jars" / "spark-core.jar"), "org", "0")
    _dir_package(site, "py4j", "0.10.9.9")
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
                str(tmp_path / "jars" / "spark-core.jar")]
    cache = dict(sys.path_importer_cache)
    yield archives, site
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)


@pytest.mark.parametrize("site_version,dropped", [("4.1.2", True), ("4.0.1", False)])
def test_jvm_archives_dropped_only_for_the_same_pyspark(fake_spark_path, site_version, dropped):
    from drivel_spark.pydaemon import jvm_archives

    archives, site = fake_spark_path
    _dir_package(site, "pyspark", site_version)
    path = [os.path.dirname(site)] + archives + [site]
    got = jvm_archives(path, os.pathsep.join(archives))
    assert got == (archives if dropped else [])


@pytest.mark.parametrize("master,daemon", [
    ("local", True), ("local[2]", True), ("local[*, 3]", True),
    ("local-cluster[1,1,1024]", False), ("spark://host:7077", False), ("yarn", False), ("", False),
])
def test_daemon_module_only_on_local_masters(master, daemon):
    from drivel_spark.config import PACKAGE_ROOT, _daemon_conf

    conf = _daemon_conf({"spark.master": master, "spark.executorEnv.PYTHONPATH": "/libs"})
    assert conf == ({
        "spark.python.daemon.module": "drivel_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT + os.pathsep + "/libs",
    } if daemon else {})


def test_spark_submit_py_files_from_another_directory(tmp_path):
    """``spark-submit --py-files drivel_spark.zip`` run outside the repo:
    the daemon imports this package from the zip the driver imports it
    from, the workers keep an executor PYTHONPATH given to spark-submit,
    and a Python job runs."""
    home = os.environ.get("SPARK_HOME")
    spark_submit = os.path.join(home, "bin", "spark-submit") if home else shutil.which("spark-submit")
    if not spark_submit or not os.path.exists(spark_submit):
        pytest.skip("no Spark distribution with spark-submit")
    from drivel_spark.config import PACKAGE_ROOT

    bundle = tmp_path / "drivel_spark.zip"
    with zipfile.ZipFile(bundle, "w") as z:
        for root, _, files in os.walk(os.path.join(PACKAGE_ROOT, "drivel_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, PACKAGE_ROOT))
    libs = tmp_path / "libs"
    libs.mkdir()
    (libs / "extra_mod.py").write_text("VALUE = 'from libs'\n")
    script = tmp_path / "job.py"
    script.write_text(
        "import json\n"
        "from drivel_spark.config import build_session\n"
        "spark = build_session('py-files-test')\n"
        "def probe(batches):\n"
        "    import drivel_spark, extra_mod, pyspark\n"
        "    for b in batches:\n"
        "        yield b.assign(pkg=drivel_spark.__file__, pyspark=pyspark.__file__,\n"
        "                       extra=extra_mod.VALUE)\n"
        "row = spark.range(1).mapInPandas(\n"
        "    probe, 'id long, pkg string, pyspark string, extra string').collect()[0]\n"
        "print(json.dumps({'pkg': row.pkg, 'pyspark': row.pyspark, 'extra': row.extra, 'daemon':\n"
        "    spark.sparkContext.getConf().get('spark.python.daemon.module')}))\n"
        "spark.stop()\n"
    )
    work = tmp_path / "cwd"
    work.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]", "--conf", "spark.ui.enabled=false",
         "--conf", f"spark.executorEnv.PYTHONPATH={libs}",
         "--py-files", str(bundle), str(script)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["daemon"] == "drivel_spark.pydaemon"
    assert got["pkg"].startswith(str(bundle) + os.sep)
    assert os.path.isfile(got["pyspark"]), got["pyspark"]
    assert got["extra"] == "from libs"


# --- the JVM class archive (AppCDS) ----------------------------------------

_CDS_SCRIPT = """
import json, sys
from pyspark import SparkContext
from drivel_spark.config import build_session
spark = build_session("cds-test", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
assert spark.range(1000).count() == 1000
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
    mapped = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
conf = spark.sparkContext.getConf()
opts = conf.get("spark.driver.extraJavaOptions") or ""
print(json.dumps({"mapped": mapped, "marker": conf.get("spark.drivel.marker"),
                  "cds": [o for o in opts.split() if "Archive" in o or o.startswith(("-Xshare", "-Xlog"))]}))
spark.stop()
"""


def _cds_session(home, conf_dir):
    """One session in a fresh interpreter whose ``~`` is ``home``: the
    user's own archive cache is never touched."""
    from drivel_spark.config import _CLASSPATH_ENV, PACKAGE_ROOT

    env = {k: v for k, v in os.environ.items()
           if k not in _CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS")}
    env.update(HOME=str(home), SPARK_CONF_DIR=str(conf_dir), PYTHONPATH=PACKAGE_ROOT)
    proc = subprocess.run([sys.executable, "-c", _CDS_SCRIPT], env=env, cwd=home,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc


def _conf_dir(path, files):
    path.mkdir()
    for name, text in files.items():
        (path / name).write_text(text)
    return path


def _cache(home):
    return home / ".cache" / "drivel-spark" / "jvm"


def test_class_archive_recorded_once_then_mapped(tmp_path):
    """The first session records the archive at exit and publishes one
    ``spark-<key>.jsa``; the next session maps it.  The conf dir holds
    only a template, so both launch with an empty one instead."""
    conf_dir = _conf_dir(tmp_path / "conf", {"spark-defaults.conf.template": "spark.x y\n"})
    first = json.loads(_cds_session(tmp_path, conf_dir).stdout.strip().splitlines()[-1])
    assert any(o.startswith("-XX:ArchiveClassesAtExit=") for o in first["cds"]), first
    files = sorted(os.listdir(_cache(tmp_path)))
    jsa = [f for f in files if f.endswith(".jsa")]
    assert len(jsa) == 1 and jsa[0].startswith("spark-"), files
    assert not [f for f in files if f.endswith(".tmp")], files
    second = json.loads(_cds_session(tmp_path, conf_dir).stdout.strip().splitlines()[-1])
    archive = str(_cache(tmp_path) / jsa[0])
    assert f"-XX:SharedArchiveFile={archive}" in second["cds"], second
    assert archive in second["mapped"], second
    os.remove(archive)  # 160+ MB


def test_class_archive_never_hides_a_real_conf_dir(tmp_path):
    """A conf dir holding a real ``spark-defaults.conf``: no archive flag
    and no cache, and the session sees the conf's marker."""
    conf_dir = _conf_dir(tmp_path / "conf", {"spark-defaults.conf": "spark.drivel.marker seen\n"})
    got = json.loads(_cds_session(tmp_path, conf_dir).stdout.strip().splitlines()[-1])
    assert got["cds"] == [] and got["marker"] == "seen", got
    assert not _cache(tmp_path).exists()


def test_refused_class_archive_warns_on_stderr_only(tmp_path):
    """An archive the JVM cannot use (recorded for another classpath)
    sits at the archive path: the JVM's warning goes to stderr, and
    stdout holds only the script's own line."""
    import glob

    from pyspark.find_spark_home import _find_spark_home

    from drivel_spark.config import _cds_key, _java_binary

    jars = os.path.join(_find_spark_home(), "jars")
    archive = _cache(tmp_path) / f"spark-{_cds_key(_java_binary(), jars)}.jsa"
    archive.parent.mkdir(parents=True)
    subprocess.run([_java_binary(), f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off",
                    "-cp", glob.glob(os.path.join(jars, "spark-launcher*.jar"))[0],
                    "org.apache.spark.launcher.Main"], capture_output=True, timeout=120)
    assert archive.exists()
    proc = _cds_session(tmp_path, _conf_dir(tmp_path / "conf", {}))
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, proc.stdout
    got = json.loads(lines[0])
    assert any(o.startswith("-XX:SharedArchiveFile=") for o in got["cds"]), got
    assert str(archive) not in got["mapped"], got
    assert "[warning][cds" in proc.stderr, proc.stderr[-4000:]


def _launch_here(tmp_path, monkeypatch):
    """Make ``_cds_launch`` see a local JVM launch with ``~`` under
    ``tmp_path`` and an empty conf dir; returns the (created) cache."""
    from pyspark import SparkContext

    from drivel_spark.config import _CLASSPATH_ENV

    home = tmp_path / "home"
    _cache(home).mkdir(parents=True)
    monkeypatch.setenv("HOME", str(home))
    monkeypatch.setenv("SPARK_CONF_DIR", str(_conf_dir(tmp_path / "conf", {})))
    for k in _CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return _cache(home)


@pytest.mark.parametrize("version, size, kept", [
    (11, 9000, True),  # whole: the last region ends at 8192 + 800
    (11, 8991, False),  # one byte short
    (11, 100, False),  # not even the region table
    (12, 100, True),  # an unknown version is the JVM's to judge
])
def test_truncated_class_archive_is_recorded_again(tmp_path, monkeypatch, capsys,
                                                   version, size, kept):
    """A JDK 17 archive shorter than its header's regions is removed and
    recorded again; a whole one, or another version, goes to the JVM."""
    import struct

    from pyspark.find_spark_home import _find_spark_home

    from drivel_spark.config import _cds_key, _cds_launch, _java_binary

    cache = _launch_here(tmp_path, monkeypatch)
    jars = os.path.join(_find_spark_home(), "jars")
    archive = cache / f"spark-{_cds_key(_java_binary(), jars)}.jsa"
    head = bytearray(max(size, 4096))
    struct.pack_into("<I4xI", head, 0, 0xF00BABA8, version)
    for i, (offset, used) in enumerate([(4096, 3000), (0, 0), (8192, 800)]):
        struct.pack_into("<QQQ", head, 40 + 72 * i, offset, 7, used)
    archive.write_bytes(bytes(head[:size]))
    opts, _, record = _cds_launch("local[2]", {})
    if kept:
        assert f"-XX:SharedArchiveFile={archive}" in opts.split() and record is None
        assert archive.stat().st_size == size
    else:
        assert record[1] == str(archive) and not archive.exists()
        assert f"-XX:ArchiveClassesAtExit={record[0]}" in opts.split()
        assert "truncated class archive" in capsys.readouterr().err


def test_class_archive_key_and_stale_tmp_cleanup(tmp_path, monkeypatch):
    """The key follows every jar's size and mtime; a recording session
    removes ``.tmp`` archives past the cut-off and keeps fresh ones."""
    from drivel_spark.config import CDS_STALE_TMP_S, _cds_key, _cds_launch, _java_binary

    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"x" * 10)
    java = _java_binary()
    key = _cds_key(java, str(jars))
    assert _cds_key(java, str(jars)) == key
    (jars / "b.jar").write_bytes(b"x" * 11)
    sized = _cds_key(java, str(jars))
    os.utime(jars / "b.jar", (1e9, 1e9))
    assert len({key, sized, _cds_key(java, str(jars))}) == 3

    cache = _launch_here(tmp_path, monkeypatch)
    now = time.time()
    for name, age in (("old.jsa.1.tmp", CDS_STALE_TMP_S + 60), ("fresh.jsa.2.tmp", 60)):
        (cache / name).write_bytes(b"")
        os.utime(cache / name, (now - age, now - age))
    opts, env, (tmp, archive) = _cds_launch("local[2]", {})
    assert f"-XX:ArchiveClassesAtExit={tmp}" in opts.split()
    assert env == {} and tmp.endswith(".tmp") and not os.path.exists(archive)
    assert sorted(os.listdir(cache)) == ["empty-conf", "fresh.jsa.2.tmp"]
    opts, _, _ = _cds_launch("local[2]", {"spark.driver.extraJavaOptions": "-Dcaller=1"})
    assert opts.startswith("-Dcaller=1 -XX:ArchiveClassesAtExit=")
    assert _cds_launch("yarn", {}) is None
    assert _cds_launch("local[2]", {"spark.driver.extraJavaOptions": "-Xshare:off"}) is None
