"""Resumable runs: per-file units + a commit table, one protocol.

The three runners — :func:`resumable_profile`,
:func:`resumable_screen` and :func:`resumable_rows` — share one resume
protocol, :func:`_resume`
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"):

1. enumerate the table's data files (the lineage units: its input
   files less the parquet summary files, which hold no rows) and take
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
import json
import re
from typing import Callable, Optional
from urllib.parse import unquote

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import _SUMMARIES, GLOB_CHARS, read_table
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


def _json_blob(blob: dict) -> bytes:
    """A unit's JSON blob, keys sorted: equal results, equal digests."""
    return json.dumps(blob, sort_keys=True).encode()


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
    # parquet summary files are listed but hold no rows of their own
    units = sorted(u for u in full.inputFiles() if u.rsplit("/", 1)[1] not in _SUMMARIES)
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


def _screen_passes(df: DataFrame, kinds: list[str]) -> list[tuple[list[str], DataFrame, list]]:
    """``(kinds, report, aggregations)`` per decode pass over ``df``
    (which carries the unit as ``__unit``): one fused ``screen_report``
    for the fused-capable kinds, one op pass for each other kind.
    Every aggregation list gives ``n_clips`` and per kind ``f_{kind}``
    (flagged), ``b_{kind}`` (undecodable) and ``q_{kind}`` (the flagged
    ``clip_id``s, sorted); the fused one adds ``n_undec``."""
    from ..ops.multimodal import (
        AUDIO_SCREENS, FUSED_SCREEN_FIELDS, screen_count_aggs, screen_report,
        screen_undecodable_col,
    )

    def flagged_ids(kind):
        flag = F.expr(AUDIO_SCREENS[kind][1])
        return F.sort_array(F.collect_list(F.when(flag, F.col("clip_id")))).alias(f"q_{kind}")

    ids = ["__unit", "clip_id"]
    fused = [k for k in kinds if k in FUSED_SCREEN_FIELDS]
    passes = []
    if fused:
        aggs = screen_count_aggs(fused) + [flagged_ids(k) for k in fused]
        passes.append((fused, screen_report(df, fused, id_cols=ids), aggs))
    for kind in (k for k in kinds if k not in FUSED_SCREEN_FIELDS):
        op, flag = AUDIO_SCREENS[kind]
        rep = op(df, id_cols=ids)
        aggs = [
            F.count(F.lit(1)).alias("n_clips"),
            F.count(F.when(F.expr(flag), 1)).alias(f"f_{kind}"),
            F.count(F.when(F.col(screen_undecodable_col(rep)).isNull(), 1)).alias(f"b_{kind}"),
            flagged_ids(kind),
        ]
        passes.append(([kind], rep, aggs))
    return passes


def resumable_screen(
    spark: SparkSession,
    table_path: str,
    store: CheckpointStore,
    run_id: str,
    kinds: Optional[list[str]] = None,
    quarantine_dir: Optional[str] = None,
    max_files: Optional[int] = None,
) -> tuple[pd.DataFrame, dict]:
    """Audio-QA screening (ops/multimodal.py ``AUDIO_SCREENS``,
    default: every fused-capable kind), resumable with the same
    per-file unit model as :func:`resumable_profile` — the operational
    mode for content-level QA at 10^12 clips, where a decode pass over
    the corpus takes long enough that interruption is the norm, not
    the exception (north_rule: "each partition's result commits with
    lineage + metrics ... so interrupted runs resume without
    recomputation").  ``screen --checkpoint`` and ``screen-stream``
    both run it.

    Per chunk of uncommitted files (``max_files`` at a time): the
    fused-capable kinds run in ONE ``screen_report`` decode pass, every
    other kind in one pass of its own op, each grouped by
    ``input_file_name()`` into per-(file, kind) counts (n_clips,
    n_flagged under the kind's published policy, n_undecodable) plus
    the file's flagged ``clip_id``s.  They commit as that file's JSON
    blob.  Corpus totals are sums over file partials, identical to the
    one-shot screens (pinned by tests); a restart reads only the files
    with no commit for their current identity — skipped files are
    pruned at plan time, no wasted decode.

    The kind SET is part of the run key (sorted, so caller order does
    not matter); resuming with a DIFFERENT set recomputes from scratch
    instead of mixing incompatible blobs.  With ``quarantine_dir``,
    every unit's flagged ``(clip_id, kind)`` pairs are written there
    (overwrite), so it holds exactly the current table's flags.
    Returns (per-kind totals frame: kind, n_clips, n_flagged,
    n_undecodable, in ``kinds`` order; stats dict).
    """
    from ..io import local_df
    from ..ops.multimodal import AUDIO_SCREENS, FUSED_SCREEN_FIELDS

    kinds = list(FUSED_SCREEN_FIELDS) if kinds is None else list(kinds)
    for kind in kinds:
        if kind not in AUDIO_SCREENS:
            raise ValueError(f"unknown screen {kind!r}; one of {sorted(AUDIO_SCREENS)}")
    if not kinds:
        raise ValueError("need at least one screen kind")
    has_fused = any(k in FUSED_SCREEN_FIELDS for k in kinds)

    def empty_blob() -> dict:
        return {
            "n_undec": 0 if has_fused else None,  # clips the fused pass could not decode
            "counts": {k: [0, 0, 0] for k in kinds},  # n_clips, n_flagged, n_undecodable
            "flagged": {k: [] for k in kinds},  # flagged clip ids
        }

    n_decoded = 0

    def compute(df):
        nonlocal n_decoded
        blobs: dict[str, dict] = {}
        for pass_kinds, rep, aggs in _screen_passes(df.withColumn("__unit", F.input_file_name()), kinds):
            for r in rep.groupBy("__unit").agg(*aggs).collect():
                fields = r.asDict()
                blob = blobs.setdefault(r["__unit"], empty_blob())
                if "n_undec" in fields:  # the fused pass
                    blob["n_undec"] = fields["n_undec"]
                for k in pass_kinds:
                    blob["counts"][k] = [r["n_clips"], r[f"f_{k}"], r[f"b_{k}"]]
                    blob["flagged"][k] = r[f"q_{k}"]
        results = {}
        for unit, blob in blobs.items():
            n_clips = max(c[0] for c in blob["counts"].values())
            n_decoded += n_clips
            metrics = {
                "n_clips": n_clips,
                "n_flagged_total": sum(c[1] for c in blob["counts"].values()),
            }
            results[unit] = (_json_blob(blob), metrics)
        return results

    run = f"{run_id}:screen[{','.join(sorted(kinds))}]"
    empty = (_json_blob(empty_blob()), {"n_clips": 0, "n_flagged_total": 0})
    full = read_table(spark, table_path)
    raw, stats = _resume(spark, full, table_path, store, run, compute, empty, max_files)
    parts = []
    for unit, b in raw.items():
        try:
            parts.append(json.loads(b))
        except ValueError:
            raise ValueError(
                f"checkpoint unit {unit} of run {run!r} holds no JSON screen counts "
                "(a store written before screens committed JSON); pass a new checkpoint store"
            ) from None
    totals = pd.DataFrame(
        [(k, *(sum(p["counts"][k][i] for p in parts) for i in range(3))) for k in kinds],
        columns=["kind", "n_clips", "n_flagged", "n_undecodable"],
    )
    if quarantine_dir is not None:
        pairs = [(cid, k) for p in parts for k in kinds for cid in p["flagged"][k]]
        id_type = full.schema["clip_id"].dataType.simpleString()
        local_df(spark, pairs, f"clip_id {id_type}, kind string").write.mode(
            "overwrite"
        ).parquet(quarantine_dir)
    # clips actually decoded THIS call (restored blobs cost no decode)
    # — the honest base for a throughput rate on resume
    stats["n_clips_recomputed"] = n_decoded
    # corpus-wide undecodable count of the fused pass; None when no
    # fused-capable kind ran (each kind's own count is in the totals)
    stats["n_undecodable"] = sum(p["n_undec"] for p in parts) if has_fused else None
    return totals, stats


def resumable_rows(
    spark: SparkSession,
    table_path: str,
    store: CheckpointStore,
    run_id: str,
    constraints: list,
    scope: Column,
    keep: list[str],
    quarantine_dir: Optional[str] = None,
    max_files: Optional[int] = None,
) -> tuple[pd.DataFrame, dict]:
    """Row-level validation, resumable with the same per-file unit model
    as :func:`resumable_profile`; ``validate-stream`` runs it.

    One pass over the uncommitted files (``max_files`` at a time), with
    nothing persisted: the batch engine's ``flag_rows`` and
    ``row_violation_aggs`` (constraints/validate.py), grouped by
    (``input_file_name()``, scope).  The same aggregation gathers each
    file's violating rows (``keep`` plus ``failed``) as Spark JSON
    strings, so keep those columns narrow.  Each file commits one JSON
    blob (its per-scope counts and violating rows); its metrics are
    ``n_rows`` and ``viol.<constraint>``, which ``history
    --stream-checkpoint`` scores.  A NULL scope raises the batch
    engine's ``ValueError`` before anything commits.

    The run key covers the constraints, the scope expression and
    ``keep``, so a resume with other ones recomputes instead of mixing
    blobs.  Only row-level constraints: a dataset-level one needs the
    whole table (the ``reconcile`` verb runs uniqueness and referential
    checks) and raises ``ValueError``.  Returns the whole table's
    row-level report, equal to ``validate(...).passfail_pdf()`` with the
    same constraints and scope, and the resume stats.  With
    ``quarantine_dir``, every unit's violating rows are written there
    (overwrite), so it holds exactly the current table's violations.
    """
    from pyspark.sql.types import ArrayType, StringType

    from ..constraints.validate import failed_names, flag_rows, passfail_frame, row_violation_aggs
    from ..io import local_df

    row_cs = [c for c in constraints if c.is_row_level]
    if len(row_cs) != len(constraints):
        raise ValueError(
            "resumable_rows handles row-level constraints only; run dataset-level "
            "checks (unique/referential/drift) with the batch engine (the reconcile verb)"
        )
    if not row_cs:
        raise ValueError("need at least one row-level constraint")
    names = [c.name for c in row_cs]
    cols = ["__scope", "n_rows", *(f"__v_{i}" for i in range(len(row_cs))), "__v_any"]
    row_json = F.to_json(F.struct(*keep, "failed"))
    aggs = row_violation_aggs(row_cs) + [
        F.sort_array(F.collect_list(F.when(F.size("failed") > 0, row_json))).alias("__rows")
    ]

    def metrics(scopes: list) -> dict:
        tot = [sum(s[i] for s in scopes) for i in range(1, len(cols))]
        return {"n_rows": tot[0], "viol": dict(zip([*names, "_rows_any_violation"], tot[1:]))}

    def compute(df):
        flagged = flag_rows(
            df.withColumn("__unit", F.input_file_name()), row_cs, scope, ["__unit", *keep]
        ).withColumn("failed", failed_names(row_cs))
        got = flagged.groupBy("__unit", "__scope").agg(*aggs).collect()
        # the batch engine's NULL-scope check, before anything commits
        wide = pd.DataFrame([[r[c] for c in cols] for r in got], columns=cols)
        passfail_frame(wide, names, scope)
        blobs: dict[str, dict] = {}
        for r in got:
            blob = blobs.setdefault(r["__unit"], {"scopes": [], "rows": []})
            blob["scopes"].append([r[c] for c in cols])
            blob["rows"] += r["__rows"]
        for blob in blobs.values():
            blob["scopes"].sort()
            blob["rows"].sort()
        return {u: (_json_blob(b), metrics(b["scopes"])) for u, b in blobs.items()}

    key = json.dumps([[c.name, str(c.predicate())] for c in row_cs] + [str(scope), list(keep)])
    run = f"{run_id}:rows[{hashlib.sha256(key.encode()).hexdigest()[:16]}]"
    empty = (_json_blob({"scopes": [], "rows": []}), metrics([]))
    full = read_table(spark, table_path)
    raw, stats = _resume(spark, full, table_path, store, run, compute, empty, max_files)
    parts = [json.loads(b) for b in raw.values()]
    wide = pd.DataFrame([s for p in parts for s in p["scopes"]], columns=cols)
    report = passfail_frame(wide.groupby("__scope", as_index=False).sum(), names, scope)
    if quarantine_dir is not None:
        schema = full.select(*keep).schema.add("failed", ArrayType(StringType()))
        rows = local_df(spark, [(j,) for p in parts for j in p["rows"]], "j string")
        rows.select(F.from_json("j", schema).alias("r")).select("r.*").write.mode(
            "overwrite"
        ).parquet(quarantine_dir)
    return report, stats
