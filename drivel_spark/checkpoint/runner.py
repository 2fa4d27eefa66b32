"""Resumable runs: per-file units + a commit table, one protocol.

The two runners — :func:`resumable_profile` and
:func:`resumable_screen` — share one resume protocol, :func:`_resume`
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"):

1. enumerate the table's input files (the lineage units) and derive
   the snapshot id from them;
2. anti-set against the commit table → only *uncommitted* files are
   ever scheduled for scan (skipped files are pruned at plan time by
   reading only the remaining paths — no wasted IO on restart);
3. the runner's ``compute`` scans the remaining files once and returns
   one blob + metrics per file; every remaining file commits, a
   zero-row file with the runner's empty blob (else every restart
   would rescan it);
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
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..profiling.accumulator import ProfilerOptions, TableAccumulator
from ..profiling.profiler import (
    TableProfile,
    fold_accumulators,
    fold_keyed,
    keyed_accumulators,
)
from .store import CheckpointStore, make_commit_row


def _snapshot_id(units: list[str]) -> str:
    return hashlib.sha256("\n".join(units).encode()).hexdigest()[:16]


def _resume(
    spark: SparkSession,
    table_path: str,
    store: CheckpointStore,
    run: str,
    compute: Callable[[DataFrame], tuple[dict, tuple[bytes, dict]]],
) -> tuple[dict[str, bytes], dict]:
    """The resume protocol of the module docstring.  ``compute`` gets
    the uncommitted files as one DataFrame (the full table's schema)
    and returns ``{unit: (blob, metrics)}`` plus the ``(blob,
    metrics)`` to commit for a unit with no rows.  Returns ``{unit:
    blob}`` in unit order and the resume stats."""
    full = spark.read.parquet(table_path)
    units = sorted(full.inputFiles())
    snapshot = _snapshot_id(units)

    done = store.committed(run, snapshot)
    done_units = set(done["unit"]) if not done.empty else set()
    todo = [u for u in units if u not in done_units]
    if todo:
        reader = spark.read.schema(full.schema)
        sc = spark.sparkContext
        root = sc._jvm.org.apache.hadoop.fs.Path(table_path)
        if root.getFileSystem(sc._jsc.hadoopConfiguration()).isDirectory(root):
            # a partitioned table's Hive columns come from the paths
            # below the table root; without it they read as NULL (a
            # file or a glob is no directory, and reads as before)
            reader = reader.option("basePath", table_path)
        results, empty = compute(reader.parquet(*todo))
        store.append(
            [make_commit_row(run, u, snapshot, *results.get(u, empty)) for u in todo]
        )

    committed = store.committed(run, snapshot)
    rows = {r.unit: r for r in committed.itertuples()}
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
) -> tuple[TableProfile, dict]:
    """Profile a parquet table resumably.  Returns (profile, stats) where
    stats reports how many units were recomputed vs restored.  Each
    file commits one accumulator (an empty one for a zero-row file),
    so the profile's ``n_partitions`` is the unit count."""

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
        proj = df.select(*columns) if columns is not None else df
        empty = TableAccumulator(
            [(f.name, f.dataType.simpleString()) for f in proj.schema.fields], opts
        )
        metrics = {"n_rows": 0, "n_null": {c: 0 for c in empty.cols}}
        return results, (empty.to_bytes(), metrics)

    blobs, stats = _resume(spark, table_path, store, run_id, compute)
    return TableProfile(fold_accumulators(blobs.values()), opts), stats


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
    restart reads only the files the commit table hasn't seen —
    skipped files are pruned at plan time, no wasted decode.

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
        empty = (pickle.dumps(zero, protocol=4), {"n_clips": 0, "n_flagged_total": 0})
        return results, empty

    run = f"{run_id}:screen[{','.join(sorted(kinds))}]"
    blobs, stats = _resume(spark, table_path, store, run, compute)
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
