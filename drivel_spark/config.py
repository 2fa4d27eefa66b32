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
"""

from __future__ import annotations

import os
import re

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
    if not re.fullmatch(r"local(\[.+\])?", conf.get("spark.master", "")):
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
    return builder.getOrCreate()
