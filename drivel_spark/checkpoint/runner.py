"""Resumable runs: per-file units + a commit table, one protocol.

The two runners — :func:`resumable_profile` and
:func:`resumable_screen` — share one resume protocol, :func:`_resume`
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"):

1. enumerate the table's input files (the lineage units) and take
   each one's identity, ``(path, size, mtime)``, from one Hadoop
   ``listStatus`` per parent directory;
2. restore a unit only when its latest commit carries the same
   identity → only new or changed files are ever scheduled for scan
   (skipped files are pruned at plan time by reading only the
   remaining paths — no wasted IO on restart);
3. the runner's ``compute`` scans the remaining files (all at once,
   or ``max_files`` at a time) and returns one blob + metrics per
   file; every scanned file commits, a zero-row file with the
   runner's empty blob (else every restart would rescan it);
4. re-read the commit table, verify every blob's ``sha256`` against
   its ``accumulator_digest``, and hand the runner ``{unit: blob}``
   for ALL units (previous runs' blobs + this run's) to finalize.

The profile runner keys its accumulators by ``input_file_name()``
through the profiler's keyed pass (profiling/profiler.py), so one
mapInArrow pass yields per-file partials even when Spark packs
several files into one partition or splits one file across
partitions; the driver folds them into one accumulator per file
(``fold_keyed``): there are about as many partials as input splits,
too few to pay for a shuffle and a merge task.
"""

from __future__ import annotations

import hashlib
import pickle
import re
from typing import Callable, Optional
from urllib.parse import unquote

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import GLOB_CHARS, read_table
from ..profiling.accumulator import ProfilerOptions, TableAccumulator
from ..profiling.profiler import TableProfile, fold_keyed, keyed_accumulators
from .store import CheckpointStore, make_commit_row

# a glob character, which a literal path escapes with a backslash
_GLOB_CHAR = re.compile(f"([{re.escape(GLOB_CHARS)}])")


def _identities(spark: SparkSession, units: list[str]) -> dict[str, str]:
    """``{unit: "size=<bytes>,mtime=<ms>"}`` from one ``listStatus``
    per parent directory: driver-side Hadoop calls, no Spark job.  The
    units are grouped in Python and the classes resolved once, since
    every py4j call is a round trip."""
    sc = spark.sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    Path, URI = jvm.org.apache.hadoop.fs.Path, jvm.java.net.URI
    by_dir: dict[str, list[str]] = {}
    for u in units:
        by_dir.setdefault(u.rsplit("/", 1)[0], []).append(u)
    out = {}
    for parent, members in by_dir.items():
        path = Path(URI(parent))
        listed = {st.getPath().getName(): st for st in path.getFileSystem(conf).listStatus(path)}
        for u in members:  # unit URIs are percent-encoded, names are not
            st = listed[unquote(u.rsplit("/", 1)[1])]
            out[u] = f"size={st.getLen()},mtime={st.getModificationTime()}"
    return out


def _literal_path(unit: str) -> str:
    """The path a reader globs to exactly the file ``unit`` (a
    percent-encoded ``inputFiles()`` URI) names: decoded, with Hadoop's
    glob characters escaped.  (Spark's internal ``__globPaths__=false``
    is no way out: for several paths it reads the others again once
    per path that has a glob character.)"""
    return _GLOB_CHAR.sub(r"\\\1", unquote(unit))


def _resume(
    spark: SparkSession,
    full: DataFrame,
    table_path: str,
    store: CheckpointStore,
    run: str,
    compute: Callable[[DataFrame], dict[str, tuple[bytes, dict]]],
    empty: tuple[bytes, dict],
    max_files: Optional[int] = None,
) -> tuple[dict[str, bytes], dict]:
    """The resume protocol of the module docstring over ``full``, the
    table read from ``table_path``.  ``compute`` gets uncommitted
    files as one DataFrame (the full table's schema) and returns
    ``{unit: (blob, metrics)}``; a unit it leaves out has no rows and
    commits ``empty``.  ``max_files`` splits the remaining files into
    chunks that are computed and committed one after another.
    Returns ``{unit: blob}`` in unit order and the resume stats.

    A file rewritten in place that keeps both its size and its mtime
    tick is not detected, and restores its old blob."""
    units = sorted(full.inputFiles())
    ident = _identities(spark, units)
    snapshot = hashlib.sha256(
        "\n".join(f"{u}\t{ident[u]}" for u in units).encode()
    ).hexdigest()[:16]

    def current() -> dict:  # each unit's latest commit, if its identity still holds
        return {
            r.unit: r
            for r in store.committed(run).itertuples()
            if ident.get(r.unit) == r.input_snapshot
        }

    rows = current()
    todo = [u for u in units if u not in rows]
    if todo:
        reader = spark.read.schema(full.schema)
        sc = spark.sparkContext
        root = sc._jvm.org.apache.hadoop.fs.Path(table_path)
        if root.getFileSystem(sc._jsc.hadoopConfiguration()).isDirectory(root):
            # a partitioned table's Hive columns come from the paths
            # below the table root; without it they read as NULL (a
            # file or a glob is no directory, and reads as before)
            reader = reader.option("basePath", table_path)
        step = max_files or len(todo)
        for i in range(0, len(todo), step):
            chunk = todo[i : i + step]
            results = compute(reader.parquet(*map(_literal_path, chunk)))
            store.append(
                [make_commit_row(run, u, ident[u], *results.get(u, empty)) for u in chunk]
            )
        rows = current()

    missing = [u for u in units if u not in rows]
    if missing:
        raise RuntimeError(f"units missing after commit: {missing}")
    for u in units:
        if hashlib.sha256(rows[u].acc).hexdigest() != rows[u].accumulator_digest:
            raise ValueError(f"checkpoint blob of unit {u} does not match its digest")
    stats = {
        "n_units": len(units),
        "n_recomputed": len(todo),
        "n_restored": len(units) - len(todo),
        "snapshot": snapshot,
    }
    return {u: rows[u].acc for u in units}, stats


def resumable_profile(
    spark: SparkSession,
    table_path: str,
    store: CheckpointStore,
    run_id: str,
    columns: Optional[list[str]] = None,
    opts: ProfilerOptions = ProfilerOptions(),
    max_files: Optional[int] = None,
) -> tuple[TableProfile, dict]:
    """Profile a parquet table resumably.  Returns (profile, stats) where
    stats reports how many units were recomputed vs restored.  Each
    file commits one accumulator (an empty one for a zero-row file),
    so the profile's ``n_partitions`` is the unit count.  A restored
    accumulator profiled over other columns than ``columns`` (names
    or types) raises ``ValueError``: its run id belongs to another
    projection."""
    full = read_table(spark, table_path)
    proj = full.select(*columns) if columns is not None else full
    empty = TableAccumulator(
        [(f.name, f.dataType.simpleString()) for f in proj.schema.fields], opts
    )
    want = {c: a.dtype for c, a in empty.cols.items()}

    def compute(df):
        partials = keyed_accumulators(df, F.input_file_name(), columns, opts).collect()
        results = {}
        for unit, acc in fold_keyed((r["key"], r["acc"]) for r in partials).items():
            acc.n_partitions = 1  # one lineage unit
            metrics = {
                "n_rows": acc.n_rows,
                "n_null": {c: a.n_null for c, a in acc.cols.items()},
            }
            results[unit] = (acc.to_bytes(), metrics)
        return results

    empty_metrics = {"n_rows": 0, "n_null": {c: 0 for c in empty.cols}}
    blobs, stats = _resume(
        spark, full, table_path, store, run_id, compute,
        (empty.to_bytes(), empty_metrics), max_files,
    )
    merged = None
    for unit, blob in blobs.items():
        acc = TableAccumulator.from_bytes(blob)
        got = {c: a.dtype for c, a in acc.cols.items()}
        if got != want:
            raise ValueError(
                f"checkpoint unit {unit} of run {run_id!r} was profiled over "
                f"columns {got}, not the requested {want}; use a new run id or store"
            )
        merged = acc if merged is None else merged.merge(acc)
    return TableProfile(merged, opts), stats


def resumable_screen(
    spark: SparkSession,
    table_path: str,
    store: CheckpointStore,
    run_id: str,
    kinds: Optional[list[str]] = None,
) -> tuple[pd.DataFrame, dict]:
    """Fused audio-QA screening (ops/multimodal.py screen_report),
    resumable with the same per-file unit model as
    :func:`resumable_profile` — the operational mode for content-level
    QA at 10^12 clips, where a decode pass over the corpus takes long
    enough that interruption is the norm, not the exception
    (north_rule: "each partition's result commits with lineage +
    metrics ... so interrupted runs resume without recomputation").

    Per uncommitted file: ONE fused decode pass keyed by
    ``input_file_name()`` reduces to per-(file, kind) counts
    (n_clips, n_flagged under the kind's published policy,
    n_undecodable under FUSED_SCREEN_BAD semantics), committed to the
    store as that file's blob.  Corpus totals are sums over file
    partials, identical to a one-shot fused run (pinned by tests); a
    restart reads only the files with no commit for their current
    identity — skipped files are pruned at plan time, no wasted decode.

    The kind SET is part of the run key (sorted, so caller order does
    not matter — per-kind counts in each blob are order-independent);
    resuming with a DIFFERENT set recomputes from scratch instead of
    mixing incompatible blobs.  Returns (per-kind totals frame in the
    screen-stream report shape, stats dict).
    """
    from ..ops.multimodal import FUSED_SCREEN_FIELDS, screen_count_aggs, screen_report

    kinds = list(kinds or FUSED_SCREEN_FIELDS)
    zero = {"n_clips": 0, "n_undec": 0}
    for kind in kinds:
        zero[f"f_{kind}"] = zero[f"b_{kind}"] = 0
    n_decoded = 0

    def compute(df):
        nonlocal n_decoded
        rep = screen_report(
            df.withColumn("__unit", F.input_file_name()), kinds, id_cols=["__unit"]
        )
        agg = rep.groupBy("__unit").agg(*screen_count_aggs(kinds)).toPandas()
        results = {}
        for _, rec in agg.iterrows():
            counts = {k: int(rec[k]) for k in zero}
            metrics = {
                "n_clips": counts["n_clips"],
                "n_flagged_total": sum(counts[f"f_{k}"] for k in kinds),
            }
            results[rec["__unit"]] = (pickle.dumps(counts, protocol=4), metrics)
            n_decoded += counts["n_clips"]
        return results

    run = f"{run_id}:screen[{','.join(sorted(kinds))}]"
    empty = (pickle.dumps(zero, protocol=4), {"n_clips": 0, "n_flagged_total": 0})
    full = read_table(spark, table_path)
    blobs, stats = _resume(spark, full, table_path, store, run, compute, empty)
    parts = [pickle.loads(b) for b in blobs.values()]
    totals = pd.DataFrame(
        [
            (
                kind,
                sum(p["n_clips"] for p in parts),
                sum(p[f"f_{kind}"] for p in parts),
                sum(p[f"b_{kind}"] for p in parts),
            )
            for kind in kinds
        ],
        columns=["kind", "n_clips", "n_flagged", "n_undecodable"],
    )
    undecs = [p.get("n_undec") for p in parts]
    # clips actually decoded THIS call (restored blobs cost no decode)
    # — the honest base for a throughput rate on resume
    stats["n_clips_recomputed"] = n_decoded
    # corpus-wide undecodable count (fused-run output parity); None
    # when a pre-upgrade store blob lacks the field
    stats["n_undecodable"] = (
        int(sum(undecs)) if all(u is not None for u in undecs) else None
    )
    return totals, stats
