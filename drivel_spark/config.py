"""SparkSession construction with the engine's scale-oriented defaults.

One place owns the conf so local tests, bench runs, and spark-submit
jobs agree: AQE on (runtime coalesce + skew-join split), Arrow on
(every UDF in this engine is pandas/Arrow-vectorized), shuffle
partitions scaled with cores, Arrow batches capped so wide binary
(audio) columns don't blow executor memory (SURVEY.md §7.4).  Job
scheduling is Spark's default FIFO: concurrent jobs come from driver
threads, and FIFO backfills the cores the head job leaves idle.  On
``local[...]`` masters the Python workers run from
``drivel_spark.pydaemon`` (see there), on the pyspark the driver runs.
A local JVM this call launches maps Spark's classes from an AppCDS
archive in a per-user cache, and records that archive when there is
none yet (``_cds_launch``).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import shutil
import struct
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Batch sizing for Python-boundary Arrow streams.  r01–r05 capped
# maxRecordsPerBatch at 256 rows so ~130KB/clip binary audio rows
# couldn't blow worker memory — but that row cap applied to EVERY
# Arrow-batch Python UDF (mapInArrow, pandas_udf) in the engine, so
# narrow tables (600k-row lineitem, documents) crossed in thousands of
# tiny batches whose per-batch JVM framing + Python dispatch dominated
# (measured r06: grouped_profile 2.0s → 0.7s, schema_diff 3.3s → 2.6s
# at 8192).
# Spark 4's BYTE cap (`spark.sql.execution.arrow.maxBytesPerBatch`,
# verified live: 8MB cap → ~47×100KB rows per batch) bounds wide-row
# batches directly, so the row cap can be raised to 8192 while audio
# payload batches stay ≈32MB (~250 clips) — the same protection the
# old row cap gave, without taxing narrow rows.
DEFAULT_ARROW_BATCH = 8192
DEFAULT_ARROW_BATCH_BYTES = 32 << 20
# Parquet vectorized-reader batch: 1024 rows ≈ 4× the old 256 (less
# per-batch overhead on narrow scans) while a worst-case 130KB-row
# binary scan still bounds at ~130MB per in-flight task batch.  (Spark
# has no byte cap for this reader, so the row count stays conservative;
# 4096 would be ~0.5GB/task on audio tables.)
DEFAULT_PARQUET_BATCH = 1024

# Scan-split sizing: with per-row pandas-UDF work (SNR decode) the cost
# of a partition is driven by ROW COUNT, not bytes; the 128MB default
# packs a GB-scale audio table into ~a dozen partitions and caps
# parallelism below the core count.  32MB keeps ≳2 waves of tasks per
# core on local[32] for multi-GB inputs while still giving ~full-size
# splits to 100TB tables on a 1000-executor cluster (tune per deploy
# through build_session(extra_conf=...)).
DEFAULT_MAX_PARTITION_BYTES = "33554432"

# the directory or zip this package is imported from: the daemon module
# must import from there too, whatever the JVM's working directory
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# A new JVM spends most of its start loading and verifying the same
# ~15,000 classes from Spark's jars; JDK 17 maps them from a dynamic
# AppCDS archive instead (perfbench on a 4-core host: session 5.2-6.5 s
# -> 2.6-3.2 s).  The archive lives under CDS_DIR (relative to $HOME),
# one per java binary and jars dir, 160-200 MB each.
CDS_DIR = os.path.join(".cache", "drivel-spark", "jvm")
# a recording JVM writes its tmp file only at exit, in seconds, so an
# older one was left by a killed run
CDS_STALE_TMP_S = 600
# how long the exit hook waits for a recording JVM to write its archive
CDS_EXIT_WAIT_S = 120
# a caller flag that already decides class sharing turns the archive off
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# the launcher puts these on the JVM classpath, maybe as non-empty
# directories: recording then aborts VM start, and using is refused
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES")
# the JVM logs warnings to stdout, whose last line is a verb's JSON
# result: the cds tags go to stderr, and a recording run drops its
# per-class "Skipping ...: Signed JAR" warnings (tag set exactly "cds")
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"
_CDS_RECORD_LOG = _CDS_LOG + " -Xlog:cds=error:stderr"
# JDK 17's dynamic archive header: magic (offset 0) and version (8),
# then 7 region records of 72 bytes from offset 40, each starting with
# the region's file offset, a u64 and its used size (little-endian u64)
_CDS_MAGIC, _CDS_VERSION, _CDS_REGIONS = 0xF00BABA8, 11, 7


def _is_local(master: str | None) -> bool:
    return bool(master) and re.fullmatch(r"local(\[.+\])?", master) is not None


def _java_binary() -> str | None:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else
    ``java`` on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _cds_key(java: str, jars_dir: str) -> str:
    """Archive key: the java binary's realpath, size and mtime and every
    jar's name, size and mtime.  The JVM validates an archive itself; the
    key keeps two installs from replacing each other's archive."""
    h = hashlib.sha256()
    st = os.stat(java)
    h.update(f"{os.path.realpath(java)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _archive_truncated(path: str) -> bool:
    """Whether the JDK 17 dynamic archive at ``path`` is shorter than its
    header's regions; JDK 17.0.20 dies with SIGBUS mapping one.  Another
    magic or version is left to the JVM to judge."""
    with open(path, "rb") as fh:
        head = fh.read(4096)
        size = os.fstat(fh.fileno()).st_size
    if len(head) < 12 or struct.unpack_from("<I4xI", head) != (_CDS_MAGIC, _CDS_VERSION):
        return False
    if len(head) < 40 + 72 * _CDS_REGIONS:  # the header itself is cut
        return True
    regions = (struct.unpack_from("<3Q", head, 40 + 72 * i) for i in range(_CDS_REGIONS))
    return size < max(offset + used for offset, _, used in regions)


def _remove_stale_tmp(cache: str) -> None:
    """Delete ``*.tmp`` archives killed recorders left behind."""
    cutoff = time.time() - CDS_STALE_TMP_S
    for e in os.scandir(cache):
        try:
            if e.name.endswith(".tmp") and e.stat().st_mtime < cutoff:
                os.remove(e.path)
        except FileNotFoundError:  # another recorder removed it
            pass


def _cds_launch(master: str | None, conf: dict) -> tuple[str, dict, tuple | None] | None:
    """How to launch the JVM with the class archive: (the driver's java
    options, the caller's with the archive's appended; env for the
    launch; (tmp path, archive path) when this JVM records the archive),
    or None to launch as without it.

    Only a local JVM this call launches gets the archive, and only when
    the launcher's classpath holds no non-empty directory (see
    ``_CLASSPATH_ENV``).  The conf dir comes first on that classpath; a
    dir of ``*.template`` files only, which Spark never reads, is swapped
    for an empty one."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if (not _is_local(master) or SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ or "PYSPARK_SUBMIT_ARGS" in os.environ
            or conf.get("spark.driver.extraClassPath")
            or any(os.environ.get(k) for k in _CLASSPATH_ENV)
            or any(f in opts for f in _CDS_FLAGS for opts in (
                conf.get("spark.driver.extraJavaOptions", ""), os.environ.get("SPARK_SUBMIT_OPTS", "")))):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        conf_files = os.listdir(conf_dir)
    except OSError:  # no conf dir: nothing on the classpath
        conf_files = []
    if any(not f.endswith(".template") for f in conf_files):
        return None
    java = _java_binary()
    if java is None:
        return None
    cache = os.path.join(os.path.expanduser("~"), CDS_DIR)
    empty_conf = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        archive = os.path.join(cache, f"spark-{_cds_key(java, os.path.join(spark_home, 'jars'))}.jsa")
        if os.path.exists(archive) and _archive_truncated(archive):
            print(f"drivel-spark: removing a truncated class archive: {archive}", file=sys.stderr)
            os.remove(archive)
        if os.path.exists(archive):
            opts, record = f"-XX:SharedArchiveFile={shlex.quote(archive)} {_CDS_LOG}", None
        else:
            _remove_stale_tmp(cache)
            # concurrent recorders write their own tmp files; the last rename wins
            record = (f"{archive}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp", archive)
            opts = f"-XX:ArchiveClassesAtExit={shlex.quote(record[0])} {_CDS_RECORD_LOG}"
    except OSError as e:
        print(f"drivel-spark: starting the JVM without a class archive: {e}", file=sys.stderr)
        return None
    opts = " ".join(filter(None, (conf.get("spark.driver.extraJavaOptions"), opts)))
    return opts, ({"SPARK_CONF_DIR": empty_conf} if conf_files else {}), record


@contextmanager
def _environ(env: dict):
    """``os.environ`` updated with ``env`` inside the block only."""
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _publish_at_exit(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """At interpreter exit, end the recording JVM (it exits when its
    stdin closes) and wait while it writes ``tmp``; then rename that onto
    ``archive`` if the JVM exited cleanly, so a reader only ever sees a
    whole file.  ``proc`` is kept here because callers may drop the
    gateway that holds it."""
    def publish():
        if proc.stdin:
            proc.stdin.close()
        try:
            code = proc.wait(timeout=CDS_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            return
        if code == 0 and os.path.exists(tmp):
            os.replace(tmp, archive)

    atexit.register(publish)


def _submitted_conf() -> dict:
    """The conf of the JVM spark-submit already started, or {} when no
    JVM is up yet (``PYSPARK_SUBMIT_ARGS`` launches it later)."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def _daemon_conf(conf: dict) -> dict:
    """Run the Python workers from ``drivel_spark.pydaemon`` on a local
    master, where they share the driver's files; ``PACKAGE_ROOT`` goes
    in front of any executor PYTHONPATH ``conf`` already sets.
    Executors elsewhere may not have this package before a task ships
    it, so any other master keeps Spark's stock daemon."""
    if not _is_local(conf.get("spark.master")):
        return {}
    pythonpath = [PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH", "")]
    return {
        "spark.python.daemon.module": "drivel_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in pythonpath if p),
    }


def build_session(
    app_name: str = "drivel-spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    under_submit = (
        "PYSPARK_GATEWAY_PORT" in os.environ  # spark-submit's PythonRunner gateway
        or "PYSPARK_SUBMIT_ARGS" in os.environ
    )
    if master is None and not under_submit:
        # under spark-submit the master comes from the submit args; only
        # default to local[] when building a session programmatically
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # 2× cores: enough parallelism for local mode without tiny-task
        # overhead; cluster deployments override per data volume
        shuffle_partitions = max(2 * cores, 8)
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(DEFAULT_ARROW_BATCH_BYTES))
        .config("spark.sql.parquet.columnarReaderBatchSize", str(DEFAULT_PARQUET_BATCH))
        .config("spark.sql.files.maxPartitionBytes", DEFAULT_MAX_PARTITION_BYTES)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = _submitted_conf()
    if master is not None:
        conf["spark.master"] = master
    for k, v in _daemon_conf(conf).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    cds = _cds_launch(master, extra_conf or {})
    if cds is None:
        return builder.getOrCreate()
    opts, env, record = cds
    builder = builder.config("spark.driver.extraJavaOptions", opts)
    with _environ(env):
        spark = builder.getOrCreate()
    if record is not None:
        from pyspark import SparkContext

        _publish_at_exit(SparkContext._gateway.proc, *record)
    return spark
