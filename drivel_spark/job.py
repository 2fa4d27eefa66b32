"""spark-submit entrypoint: every verb of the engine behind one CLI.

``VERBS`` is the table of verbs: ``@verb(name, *arguments)`` enters a
``cmd_*`` function in it with its argparse arguments, and ``main()``
builds the parser from the table and dispatches through it.  A
``cmd_*(args)`` called directly takes the parser's default for every
argument ``args`` leaves out, so argparse is the one source of
defaults.  The steps the verbs share are one helper each:

- the session, ``Run.spark``: the caller's active session, else a new
  one from ``build_session``, got on first use (``describe --schema``
  starts no JVM);
- reading a table, ``Run.table`` / ``Run.clips_ref``;
- writing an output dir, ``_write`` / ``_written``;
- the checkpoint refusals, ``Run.refuse_checkpoint``;
- the clock, ``_timed``, which fills ``wall_s`` and ``phases``.

Core verbs
----------
prepare   Write the deterministic synthetic clips + transcripts tables
          to parquet once (seeded; every column is f(row index), so the
          bytes are identical at any parallelism).  Takes data
          generation out of the timed path.
baseline  Profile a prepared CLEAN table and pickle the TableProfile —
          the drift reference for later batches.
validate  The timed job: pass 1 (schema + stats profile, optionally
          resumable from a checkpoint store) and pass 2 (all
          constraints: enum / range / not-null / uuid-format row checks
          in ONE scan, clip_id uniqueness exact-confirm shuffle,
          clip<->transcript referential anti-join, KS/PSI drift vs the
          baseline profile, and — with audio — the decoded-PCM SNR>=30dB
          per-row invariant).  Prints ONE JSON line with wall seconds,
          clips/sec and the pass/fail summary.

validate-stream / reconcile
          Row-level validation on the per-file commit store
          (checkpoint/): each invocation validates only the clip files
          that are new or changed and overwrites one flat pass/fail
          report.  Once ``reconcile`` has added the dataset-level rows
          (uniqueness, referential), the report equals the batch
          engine's on the same input.
profile-stream / screen-stream
          Incremental profile / audio-QA screen on the per-file commit
          store that ``validate --checkpoint`` and ``screen
          --checkpoint`` use (checkpoint/): each invocation processes
          only new or changed files, commits one blob per file and
          prints the result over every committed file.

Pass/fail rows use a STABLE scope (pmod(xxhash64(clip_id), n_scopes)),
so the report is byte-identical across parallelism levels and file
layouts.

Example:
    spark-submit --master local[8] --py-files drivel_spark.zip \
        drivel_spark/job.py prepare --n-rows 20000 --out /tmp/clipsdb
    spark-submit --master local[8] --py-files drivel_spark.zip \
        drivel_spark/job.py validate --data /tmp/clipsdb --check-audio
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import cache, cached_property

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# read_table is looked up on the module at each call, so a wrapper set on
# drivel_spark.io (perfbench's trace) sees every read
from drivel_spark import io as dio
from drivel_spark.checkpoint import CheckpointStore, resumable_profile, resumable_screen
from drivel_spark.config import build_session
from drivel_spark.constraints import (
    Drift,
    Enum,
    Format,
    NotNull,
    Range,
    Referential,
    Unique,
    scope_of,
    validate,
)
from drivel_spark.constraints.audio import audio_check, audio_row_source
from drivel_spark.constraints.validate import (
    GLOBAL_SCOPE,
    PASSFAIL_COLS,
    PASSFAIL_SCHEMA,
    n_violation_rows,
    normalize_passfail,
    passfail_df,
    passfail_digest,
)
from drivel_spark.fixtures import (
    CODEC_ENUM,
    SR_VALUES,
    ClipFixtureSpec,
    build_clips,
    build_transcripts,
)
from drivel_spark.ops import screen_report
from drivel_spark.ops.multimodal import (
    AUDIO_SCREENS,
    FUSED_SCREEN_FIELDS,
    screen_count_aggs,
    screen_undecodable_col,
)
from drivel_spark.profiling import ProfilerOptions, profile

PROFILE_COLUMNS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
# the narrow triage columns a violation row keeps (not the audio bytes:
# the violating clip is re-fetchable by id), then its failed-constraint list
KEEP_COLUMNS = ["clip_id", "sr_hz", "dur_ms", "codec"]
VIOLATION_COLUMNS = KEEP_COLUMNS + ["failed"]

# ---- the table of verbs ----------------------------------------------------

VERBS: dict[str, tuple] = {}  # name -> (cmd_* function, its argparse arguments)


def _arg(*flags: str, **kw) -> tuple:
    """One argparse argument of a verb: ``add_argument``'s parameters."""
    return flags, kw


def verb(name: str, *arguments: tuple):
    """Enter ``fn(args, run)`` in ``VERBS`` as ``name``, with its
    argparse ``arguments``; the entry, and the name this returns, is
    ``cmd(args)``, which calls ``fn`` with ``with_defaults(name, args)``
    and a new ``Run``."""

    def register(fn):
        def cmd(args) -> dict:
            return fn(with_defaults(name, args), Run(name))

        cmd.__name__ = cmd.__qualname__ = fn.__name__
        cmd.__doc__ = fn.__doc__
        VERBS[name] = (cmd, arguments)
        return cmd

    return register


@cache
def _verb_parser(name: str) -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(add_help=False)
    for flags, kw in VERBS[name][1]:
        p.add_argument(*flags, **kw)
    return p


def parser() -> argparse.ArgumentParser:
    """The CLI: one subcommand per entry of ``VERBS``."""
    p = argparse.ArgumentParser(prog="drivel-spark-job")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in VERBS:
        sub.add_parser(name, parents=[_verb_parser(name)])
    return p


def with_defaults(name: str, args) -> argparse.Namespace:
    """A copy of ``args`` (a Namespace, or any object with attributes)
    in which every argument of verb ``name`` that it lacks holds its
    parser default."""
    given = {k: v for k, v in vars(args).items() if not k.startswith("__")}
    defaults = {a.dest: a.default for a in _verb_parser(name)._actions}
    return argparse.Namespace(**{**defaults, **given})


class Run:
    """One call of a verb: its name and its Spark session."""

    def __init__(self, name: str):
        self.name = name

    @cached_property
    def spark(self) -> SparkSession:
        """The caller's active session, else a new one, got on first use.
        ``build_session`` on a live session would re-apply its runtime
        confs over the caller's (``shuffle.partitions``, ``timeZone``)."""
        return SparkSession.getActiveSession() or build_session(f"drivel-{self.name}")

    def table(self, ref: str, where: str | None = None):
        """``ref`` (a path or a catalog ref), with ``where`` pushed to its scan."""
        df = dio.read_table(self.spark, ref)
        return df.filter(where) if where else df

    def clips_ref(self, args) -> str:
        """``--clips``, else ``<--data>/clips``."""
        if not (args.clips or args.data):
            raise SystemExit(f"{self.name} needs --data (db dir) or --clips (table ref)")
        return args.clips or f"{args.data}/clips"

    def refuse_checkpoint(self, checkpoint: str, ref: str | None = None) -> None:
        """Refuse, before anything runs, a ``--checkpoint`` the per-file
        commit store cannot use: one for a catalog table ``ref``, or a
        Structured Streaming checkpoint dir (``metadata`` + ``offsets/``)
        an earlier version of the verb left there."""
        if ref is not None and dio.is_table_ref(ref):
            raise SystemExit("--checkpoint needs a parquet path for --clips: a resumable run commits "
                             "one unit per file, which a catalog table ref does not expose")
        if os.path.isfile(os.path.join(checkpoint, "metadata")) and os.path.isdir(
            os.path.join(checkpoint, "offsets")
        ):
            raise SystemExit(
                f"{checkpoint} holds a Structured Streaming checkpoint; {self.name} now keeps "
                "a per-file commit store there: pass a new --checkpoint dir"
            )


@contextmanager
def _timed(into: dict | None = None, key: str = "wall_s"):
    """Time the block into ``into[key]`` (a new dict by default, which
    ``as`` binds), in seconds to 3 places: a verb's ``wall_s`` or one of
    its ``phases``.  The one clock of the verbs."""
    into = {} if into is None else into
    t0 = time.time()
    yield into
    into[key] = round(time.time() - t0, 3)


def _write(df, path: str, by: tuple = ()) -> None:
    """Overwrite the parquet dir ``path`` with ``df``, hive-partitioned on ``by``."""
    w = df.write.mode("overwrite")
    (w.partitionBy(*by) if by else w).parquet(path)


def _written(df, path: str, by: tuple = ()):
    """``_write``, then the table that was written, read back."""
    _write(df, path, by)
    return df.sparkSession.read.parquet(path)


def _csv(s: str | None) -> list[str]:
    return [k.strip() for k in (s or "").split(",") if k.strip()]


def _weights(spec: str) -> dict[str, float]:
    """``--weights key=w,key=w``."""
    weights = {}
    for part in spec.split(","):
        k, eq, w = part.partition("=")
        if not eq or not k:
            raise SystemExit(f"--weights entry {part!r} is not key=weight")
        weights[k.strip()] = float(w)
    return weights


def _nan_none(v):
    """NaN as None: ``json.dumps`` would write a bare NaN, which is not JSON."""
    return None if isinstance(v, float) and v != v else v


def _round(v, ndigits: int):
    return None if v is None else round(v, ndigits)


def _rate(n, wall: float):
    return round(n / wall, 1) if wall > 0 else None


def _unpickle(path: str):
    with open(path, "rb") as fh:
        return pickle.load(fh)


def _meta(db: str) -> dict:
    with open(f"{db}/meta.json") as fh:
        return json.load(fh)


def _dataset_checks(res) -> list[dict]:
    return [{k: d[k] for k in ("constraint", "n_violations", "passed")} for d in res.dataset]


def _anomaly(r) -> dict:
    """One scored row of ``metric_anomaly_report`` for the JSON line."""
    return {
        "metric": r["metric"],
        "value": r["value"],
        "hist_median": r["hist_median"],
        "robust_z": _round(r["robust_z"], 4),
        "rel_change": _round(r["rel_change"], 4),
    }


# arguments several verbs share
_SEED = _arg("--seed", type=int, default=42)
_DATA_DB = _arg("--data", default=None, help="db dir containing /clips")
_CLIPS = _arg("--clips", default=None, help="override clips table (path or iceberg:db.tbl ref)")
_WHERE = _arg("--where", default=None, help="SQL predicate pushed to the clips scan")
_COLUMNS = _arg("--columns", default=None, help="comma-separated subset")
_ID_COL = _arg("--id-col", default="doc_id")
_SOURCE = _arg("--source", required=True, help="growing clips parquet dir")
_STORE = _arg("--checkpoint", required=True, help="per-file commit store dir")
_N_SCOPES = _arg("--n-scopes", type=int, default=64)
_BASELINE = _arg("--baseline", default=None)
_CHECK_AUDIO = _arg("--check-audio", action="store_true")
_CHECK_PCM_SIZE = _arg("--check-pcm-size", action="store_true")


# ---- the verbs ---------------------------------------------------------------


@verb("prepare",
      _arg("--n-rows", type=int, default=20000),
      _arg("--partitions", type=int, default=128),
      _SEED,
      _arg("--variant", default="default"),
      _arg("--no-audio", action="store_true"),
      _arg("--shared-seg-every", type=int, default=0,
           help="plant one common 750ms PCM segment into every "
                "k-th eligible clip (the jingle fixture hook, "
                "for dup-segments)"),
      _arg("--out", required=True))
def cmd_prepare(args, run) -> dict:
    spec = ClipFixtureSpec(
        seed=args.seed, variant=args.variant, with_audio=not args.no_audio,
        shared_seg_every=args.shared_seg_every,
    )
    with _timed() as t:
        for name, build in (("clips", build_clips), ("transcripts", build_transcripts)):
            _write(build(run.spark, args.n_rows, args.partitions, spec), f"{args.out}/{name}")
    meta = {
        "n_rows": args.n_rows,
        "partitions": args.partitions,
        "seed": args.seed,
        "variant": args.variant,
        "with_audio": not args.no_audio,
        "shared_seg_every": args.shared_seg_every,
        "prepare_wall_s": t["wall_s"],
    }
    with open(f"{args.out}/meta.json", "w") as fh:
        json.dump(meta, fh)
    return meta


@verb("segment",
      _DATA_DB,
      _CLIPS,
      _arg("--out", required=True, help="segments table dir"),
      _arg("--seg-ms", type=int, default=500),
      _arg("--min-tail-ms", type=int, default=200),
      _WHERE)
def cmd_segment(args, run) -> dict:
    """Table-scale audio chunking: clips → fixed-duration training
    segments (ops/multimodal.py segment_clips), written as a new table.
    Optional --where pushes a predicate to the clips scan so a daily
    run segments one slice without reading the rest — same discipline
    as validate --where.  One narrow scan, re-encode in the producing
    partition, no shuffle."""
    from drivel_spark.ops import segment_clips

    clips = run.table(run.clips_ref(args), args.where)
    with _timed() as t:
        out = _written(
            segment_clips(clips, seg_ms=args.seg_ms, min_tail_ms=args.min_tail_ms), args.out
        )
    counts = out.agg(
        F.count(F.when(out["seg_idx"].isNotNull(), 1)).alias("segs"),
        F.count(F.when(out["seg_idx"].isNull(), 1)).alias("bad"),
    ).collect()[0]
    n_segments = int(counts["segs"])
    return {
        "job": run.name,
        "seg_ms": args.seg_ms,
        "min_tail_ms": args.min_tail_ms,
        "n_segments": n_segments,
        "n_undecodable": int(counts["bad"]),
        "wall_s": t["wall_s"],
        "segments_per_sec": _rate(n_segments, t["wall_s"]),
        "out": args.out,
    }


@verb("screen",
      _DATA_DB,
      _CLIPS,
      _arg("--kind", required=True,
           help=f"one of {sorted(AUDIO_SCREENS)}, or a comma "
                "list of fused-capable kinds for a one-decode "
                "fused run"),
      _arg("--out", default=None, help="optional per-clip report table dir"),
      _arg("--flag", default=None,
           help="SQL predicate over the report columns "
                "(default: the screen's published policy)"),
      _WHERE,
      _arg("--checkpoint", default=None,
           help="per-file lineage store dir: commit each file's "
                "screen counts so an interrupted corpus screen "
                "resumes without re-decoding"),
      _arg("--run-id", default=None, help="lineage run id (default 'screen')"))
def cmd_screen(args, run) -> dict:
    """One CLI for the whole audio-QA screen family: run the chosen
    per-clip screen over a clips table, optionally persist the per-clip
    report, and print flagged/undecodable counts.  --where pushes a
    predicate to the clips scan (slice-only daily runs, same discipline
    as validate --where); --flag overrides the default policy predicate
    with any SQL expression over the report's columns.  Every screen is
    one narrow scan → Arrow map — no shuffle at any table size.

    A comma list of fused-capable kinds (``--kind quality,dropout,hum``)
    runs them FUSED (ops/multimodal.py screen_report): one decode per
    clip for the whole set, per-kind counts under ``per_kind`` in the
    JSON line, their published flag policies applied (--flag is
    single-kind only)."""
    ref = run.clips_ref(args)
    kinds = _csv(args.kind)
    if args.checkpoint:
        return _screen_resumable(args, run, ref, kinds)
    if len(kinds) > 1:
        return _screen_fused(args, run, ref, kinds)
    if args.kind not in AUDIO_SCREENS:
        raise SystemExit(
            f"unknown screen {args.kind!r}; one of {sorted(AUDIO_SCREENS)}"
        )
    op, default_flag = AUDIO_SCREENS[args.kind]
    clips = run.table(ref, args.where)
    flag = args.flag or default_flag
    with _timed() as t:
        rep = op(clips)
        if args.out:
            rep = _written(rep, args.out)
        row = rep.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.col(screen_undecodable_col(rep)).isNull(), 1)
            ).alias("bad"),
            F.count(F.when(F.expr(flag), 1)).alias("flagged"),
        ).collect()[0]
    return {
        "job": run.name,
        "kind": args.kind,
        "flag": flag,
        "n_clips": int(row["n"]),
        "n_flagged": int(row["flagged"]),
        "n_undecodable": int(row["bad"]),
        "wall_s": t["wall_s"],
        "clips_per_sec": _rate(row["n"], t["wall_s"]),
        "out": args.out,
    }


def _screen_resumable(args, run, ref: str, kinds: list[str]) -> dict:
    """--checkpoint arm of cmd_screen: per-file lineage commits via
    checkpoint/runner.py resumable_screen, so an interrupted corpus
    screen restarts without re-decoding committed files.  Any
    AUDIO_SCREENS kinds; --where/--flag/--out don't compose with
    file-level lineage and are rejected loudly, same discipline as
    validate --where."""
    for opt in ("where", "flag", "out"):
        if vars(args)[opt]:
            raise SystemExit(f"--{opt} does not compose with --checkpoint "
                             "(per-file lineage covers the whole table)")
    run.refuse_checkpoint(args.checkpoint, ref)
    with _timed() as t:
        totals, stats = resumable_screen(
            run.spark, ref, CheckpointStore(args.checkpoint), args.run_id or run.name, kinds=kinds,
        )
    # rate over clips actually decoded this call — a mostly-resumed
    # run must not report restored files as throughput (ADVICE r05)
    n_rec = stats.get("n_clips_recomputed")
    return {
        "job": run.name,
        "kinds": kinds,
        "n_clips": int(totals["n_clips"].max()),
        "n_flagged_total": int(totals["n_flagged"].sum()),
        "n_undecodable": stats.get("n_undecodable"),
        "per_kind": {
            r["kind"]: {"n_flagged": int(r["n_flagged"]),
                        "n_undecodable": int(r["n_undecodable"])}
            for _, r in totals.iterrows()
        },
        "wall_s": t["wall_s"],
        "clips_per_sec": _rate(n_rec, t["wall_s"]) if n_rec else None,
        "resume": stats,
    }


def _screen_fused(args, run, ref: str, kinds: list[str]) -> dict:
    """Multi-kind arm of cmd_screen: the whole set in ONE decode pass
    via the fused kernel, all counts in one aggregation job."""
    if args.flag:
        raise SystemExit("--flag overrides a single screen's policy; "
                         "drop it for a fused multi-kind run")
    bad_kinds = [k for k in kinds if k not in FUSED_SCREEN_FIELDS]
    if bad_kinds:
        raise SystemExit(
            f"not fused-capable: {bad_kinds}; a multi-kind run supports "
            f"{sorted(FUSED_SCREEN_FIELDS)} (run others one --kind at a time)"
        )
    clips = run.table(ref, args.where)
    with _timed() as t:
        rep = screen_report(clips, kinds)
        if args.out:
            rep = _written(rep, args.out)
        row = rep.agg(*screen_count_aggs(kinds)).collect()[0]
    return {
        "job": run.name,
        "kinds": kinds,
        "n_clips": int(row["n_clips"]),
        "n_flagged_total": int(sum(row[f"f_{k}"] for k in kinds)),
        "n_undecodable": int(row["n_undec"]),
        "per_kind": {
            k: {"n_flagged": int(row[f"f_{k}"]),
                "n_undecodable": int(row[f"b_{k}"])}
            for k in kinds
        },
        "wall_s": t["wall_s"],
        "clips_per_sec": _rate(row["n_clips"], t["wall_s"]),
        "out": args.out,
    }


@verb("dup-segments",
      _DATA_DB,
      _CLIPS,
      _arg("--out", required=True, help="duplicated-span table dir"),
      _arg("--win-ms", type=int, default=500),
      _arg("--hop-ms", type=int, default=250),
      _arg("--within-clip", action="store_true",
           help="also flag repetition inside a single clip"),
      _WHERE)
def cmd_dup_segments(args, run) -> dict:
    """Repeated-audio-segment audit at the CLI: clips -> maximal
    duplicated PCM spans per clip (ops/multimodal.py
    audio_dup_segments -- the jingle/segment-bank detector), spans
    written as a table plus a one-line JSON summary.  Optional --where
    pushes a predicate to the clips scan (same discipline as
    validate/segment --where); --within-clip also flags repetition
    inside a single clip (default counts cross-clip duplication
    only)."""
    from drivel_spark.ops import audio_dup_segments

    clips = run.table(run.clips_ref(args), args.where)
    with _timed() as t:
        spans = audio_dup_segments(
            clips, win_ms=args.win_ms, hop_ms=args.hop_ms, cross_clip_only=not args.within_clip,
        )
        out = _written(spans, args.out)
    agg = out.agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.countDistinct("clip_id").alias("n_clips_with_dups"),
        F.coalesce(F.sum("span_len"), F.lit(0)).alias("dup_ms_total"),
    ).collect()[0]
    return {
        "job": run.name,
        "win_ms": args.win_ms,
        "hop_ms": args.hop_ms,
        "cross_clip_only": not args.within_clip,
        "n_spans": int(agg["n_spans"]),
        "n_clips_with_dups": int(agg["n_clips_with_dups"]),
        "dup_ms_total": int(agg["dup_ms_total"]),
        "wall_s": t["wall_s"],
        "out": args.out,
    }


def _profile_columns(df, columns_arg) -> list:
    """Shared default column policy for the baseline and diff verbs —
    they MUST agree or a vanilla baseline→diff round-trip reports
    phantom additions/removals: PROFILE_COLUMNS where present, plus
    every other non-binary column (so schema additions are caught
    without paying a byte-payload scan); --columns overrides."""
    if columns_arg:
        requested = _csv(columns_arg)
        unknown = [c for c in requested if c not in df.columns]
        if unknown:
            # a typo'd/stale name must fail loudly: silently dropping it
            # yields a partial profile and a misleading baseline/diff
            raise SystemExit(
                f"--columns: unknown column(s) {unknown}; "
                f"table has {df.columns}"
            )
        return requested
    return [c for c in PROFILE_COLUMNS if c in df.columns] + [
        f.name
        for f in df.schema.fields
        if f.name not in PROFILE_COLUMNS
        and f.dataType.simpleString() != "binary"
    ]


@verb("baseline",
      _arg("--data", required=True),
      _arg("--out", required=True),
      _COLUMNS,
      _arg("--by", default=None,
           help="grouped baseline: one profile per value of this "
                "category column (per-codec drift reference)"))
def cmd_baseline(args, run) -> dict:
    df = run.table(f"{args.data}/clips")
    cols = _profile_columns(df, args.columns)
    if args.by:
        # grouped baseline: {group: TableProfile} via the one-scan
        # per-group fold (profiling/grouped.py) — the per-codec drift
        # reference the north rule's codec/sr frequency maps imply
        from drivel_spark.profiling import grouped_profile

        gp = grouped_profile(df, args.by, columns=[c for c in cols if c != args.by])
        with open(args.out, "wb") as fh:
            pickle.dump({"by": args.by, "groups": gp}, fh)
        return {
            "baseline": args.out,
            "by": args.by,
            "n_groups": len(gp),
            "n_rows": int(sum(p.n_rows for p in gp.values())),
        }
    prof = profile(df, columns=cols, opts=ProfilerOptions())
    with open(args.out, "wb") as fh:
        pickle.dump(prof, fh)
    return {"baseline": args.out, "n_rows": prof.acc.n_rows}


@verb("diff",
      _DATA_DB,
      _CLIPS,
      _arg("--baseline", required=True,
           help="baseline profile pickle from the `baseline` verb"),
      _COLUMNS,
      _arg("--gate", action="store_true",
           help="classify each change with a backward-compat "
                "severity (profiling/compat.py) and emit the "
                "table-level verdict / gate_passed fields"))
def cmd_diff(args, run) -> dict:
    """Structural schema diff of the current batch against a stored
    baseline profile (profiling/diff.py): which columns moved —
    added / removed / type changed / nulls appeared / numeric range or
    string length escaped the envelope / format or enum moved — at the
    cost of ONE profile scan of the current table; the baseline side is
    the already-reduced pickle from `baseline`, so no second data pass
    exists at any scale.  Default column set matches the `baseline`
    verb's so a vanilla baseline→diff round-trip reports only real
    changes; --columns overrides for arbitrary tables."""
    from drivel_spark.profiling import diff_profiles

    ref = run.clips_ref(args)
    baseline = _unpickle(args.baseline)
    df = run.table(ref)
    out = {"job": run.name, "data": ref, "baseline": args.baseline}
    if isinstance(baseline, dict) and "groups" in baseline:
        if args.gate:
            # fail loudly instead of silently ignoring the flag: the
            # compat severity map is defined over table-level diffs
            raise SystemExit(
                "diff --gate needs a table-level baseline; this pickle "
                "is a grouped baseline (baseline --by). Re-run baseline "
                "without --by to gate, or run diff without --gate for "
                "the per-group drift report."
            )
        # grouped baseline → per-group drift report (grouped_drift):
        # per-group KS/PSI/W1/chi2 + added/removed groups, one scan
        from drivel_spark.profiling import grouped_drift, grouped_profile

        by = baseline["by"]
        cols = _profile_columns(df, args.columns)
        gp = grouped_profile(df, by, columns=[c for c in cols if c != by])
        rows = [
            {k: _nan_none(round(v, 6) if isinstance(v, float) else v) for k, v in r.items()}
            for r in grouped_drift(baseline["groups"], gp).to_dict("records")
        ]
        return {
            **out,
            "by": by,
            "n_groups": len(gp),
            "n_report_rows": len(rows),
            "groups_changed": sorted({r["group"] for r in rows if r["status"] != "both"}),
            "report": rows,
        }
    prof = profile(df, columns=_profile_columns(df, args.columns))
    if not args.gate:
        changes = diff_profiles(prof, baseline)
        return {**out, "n_rows": prof.acc.n_rows, "n_changes": len(changes), "changes": changes}
    # compat gate: same diff rows + a severity each, folded to the
    # table-level verdict — the CI decision "may this batch land"
    from drivel_spark.profiling import compat_report, compat_verdict

    changes = compat_report(prof, baseline)
    return {**out, "n_rows": prof.acc.n_rows, "n_changes": len(changes), "changes": changes,
            **compat_verdict(changes)}


def _constraints(baseline) -> list:
    cs = [
        Enum("sr_enum", "sr_hz", tuple(int(v) for v in sorted(SR_VALUES.tolist()))),
        Range("dur_range", "dur_ms", 200, 30000),
        Enum("codec_enum", "codec", tuple(sorted(CODEC_ENUM))),
        NotNull("transcript_not_null", "transcript"),
        Format("clip_id_uuid", "clip_id", "uuid"),
        Unique("clip_id_unique", "clip_id"),
        Referential(
            "clip_has_transcript", "clip_id", "transcripts", "clip_id"
        ),
    ]
    if baseline is not None:
        cs += [
            Drift("dur_drift", "dur_ms", 0.1, 0.2),
            Drift("sr_drift", "sr_hz", 0.1, 0.2),
        ]
    return cs


@verb("mix",
      _arg("--data", required=True, help="source table (path or iceberg: ref)"),
      _arg("--by", required=True, help="source/group column"),
      _ID_COL,
      _arg("--weights", required=True, help="key=w,key=w target shares"),
      _arg("--budget", type=float, default=None,
           help="total kept rows (or --size-col units); default = largest exact-proportion budget"),
      _arg("--size-col", default=None, help="token/size column for the budget"),
      _SEED,
      _arg("--out", default=None, help="write survivors here (parquet)"))
def cmd_mix(args, run) -> dict:
    """Data-mixture composition as a job verb (ops/mixing.py): sample a
    source table down to target per-group shares under a row/token
    budget and write the survivors; the achieved-mixture report prints
    in the JSON line.  --weights is ``key=w,key=w``; --size-col switches
    the budget to token units; the sample itself is the deterministic
    md5 filter — reruns write the identical row set."""
    from drivel_spark.ops import mix_corpora, mixture_plan, mixture_report

    weights = _weights(args.weights)
    df = run.table(args.data)
    with _timed() as t:
        plan = mixture_plan(
            df, args.by, weights, budget=args.budget, size_col=args.size_col
        )
        if args.out:
            _write(mix_corpora(df, args.by, args.id_col, weights, seed=args.seed, plan=plan),
                   args.out)
        report = mixture_report(
            df, args.by, args.id_col, weights, budget=args.budget,
            size_col=args.size_col, seed=args.seed,
        ).orderBy("source").collect()
    return {
        "job": run.name,
        "by": args.by,
        "budget": plan.budget,
        "size_col": args.size_col,
        "seed": args.seed,
        "wall_s": t["wall_s"],
        "out": args.out,
        "report": [
            {
                "source": r["source"],
                "available": r["available"],
                "target_share": round(r["target_share"], 6),
                "rate": round(r["rate"], 6),
                "kept": r["kept"],
                "achieved_share": _round(r["achieved_share"], 6),
            }
            for r in report
        ],
    }


@verb("suggest",
      _arg("--data", required=True, help="CLEAN table (path or iceberg: ref)"),
      _COLUMNS,
      _arg("--margin", type=float, default=0.0,
           help="widen numeric ranges by this fraction of the span"),
      _arg("--quantile-range", default=None,
           help="'p_lo,p_hi' — robust numeric envelopes from the "
                "KLL sketch instead of exact min/max"),
      _arg("--with-drift", action="store_true",
           help="also emit drift gates (validate needs --baseline)"),
      _arg("--with-distribution", action="store_true",
           help="also emit entropy gates at each enum column's "
                "observed Shannon entropy ±25%%"),
      _arg("--out", required=True, help="spec-file JSON path"))
def cmd_suggest(args, run) -> dict:
    """Constraint suggestion — the infer-then-check loop as a CLI
    stage (the reference's describe, aimed at validate instead of a
    human): profile a CLEAN table, derive the constraint set the
    profile implies (constraints/spec.from_profile: not-null, numeric
    ranges — exact or quantile-robust — enum/format/length, optional
    drift gates), and write it as a version-controlled spec-file JSON
    that `validate --constraints` re-applies verbatim.  One profile
    scan; the suggestion itself is O(columns) driver work."""
    from drivel_spark.constraints import from_profile
    from drivel_spark.constraints.specfile import from_spec_json, to_spec_json

    qr = None
    if args.quantile_range:
        parts = args.quantile_range.split(",")
        if len(parts) != 2:
            raise SystemExit("--quantile-range must be 'p_lo,p_hi'")
        qr = (float(parts[0]), float(parts[1]))
    df = run.table(args.data)
    cols = _csv(args.columns) or None
    with _timed() as t:
        prof = profile(df, columns=cols)
        constraints = from_profile(
            prof,
            columns=cols,
            numeric_margin=args.margin,
            with_drift=args.with_drift,
            quantile_range=qr,
            with_distribution=args.with_distribution,
        )
        try:
            doc = to_spec_json(constraints)
            from_spec_json(doc)  # self-check: the file must re-parse
        except ValueError as e:
            raise SystemExit(f"suggested suite is not spec-representable: {e}")
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=2)
            fh.write("\n")
    return {
        "job": run.name,
        "n_rows": prof.n_rows,
        "n_constraints": len(constraints),
        "types": sorted({e["type"] for e in doc["constraints"]}),
        "quantile_range": qr,
        "margin": args.margin,
        "with_drift": args.with_drift,
        "wall_s": t["wall_s"],
        "out": args.out,
    }


@verb("leakage",
      _arg("--data", required=True, help="corpus table (path or iceberg: ref)"),
      _ID_COL,
      _arg("--text-col", default="text"),
      _arg("--weights", required=True, help="key=w,key=w split shares"),
      _SEED,
      _arg("--group-col", default=None,
           help="key the split on this column (leakage-safe groups)"),
      _arg("--near", action="store_true",
           help="also run the MinHash near-dup tier (row-keyed only)"),
      _arg("--threshold", type=float, default=0.8, help="Jaccard threshold for --near"),
      _arg("--out", default=None, help="write leak tables here (/exact and /near)"))
def cmd_leakage(args, run) -> dict:
    """Cross-split contamination audit as a job verb (ops/splits.py):
    exact tier = verbatim duplicates (normalized-text md5) straddling
    a split boundary; ``--near`` adds the MinHash tier (lightly-edited
    twins, Jaccard ≥ --threshold, row-keyed splits).  The JSON line
    carries the leak totals; --out writes the full leak table for
    triage.  Zero leakage = exit evidence the train/eval boundary is
    clean before an export ships."""
    from drivel_spark.ops import release_shingles, split_leakage, split_leakage_near

    if args.near and args.group_col:
        raise SystemExit(
            "--near is row-keyed (split re-derived from the id); "
            "for group-keyed splits run the exact tier only"
        )
    weights = _weights(args.weights)
    df = run.table(args.data)
    result = {"job": run.name, "seed": args.seed, "group_col": args.group_col}
    with _timed(result):
        leaks = split_leakage(
            df, args.id_col, args.text_col, weights,
            seed=args.seed, group_col=args.group_col,
        )
        agg = leaks.agg(
            F.count(F.lit(1)).alias("k"),
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("d"),
        ).collect()[0]
        result["n_leaking_fingerprints"] = int(agg["k"])
        result["n_leaking_docs"] = int(agg["d"])
        if args.out:
            _write(leaks, f"{args.out}/exact")
            result["out"] = args.out
        if args.near:
            pairs = split_leakage_near(
                df, args.id_col, args.text_col, weights,
                seed=args.seed, threshold=args.threshold,
            )
            try:
                if args.out:
                    _write(pairs, f"{args.out}/near")
                result["n_near_leak_pairs"] = int(pairs.count())
            finally:
                release_shingles(pairs)  # the persisted MinHash pair table
            result["near_threshold"] = args.threshold
    return result


@verb("shuffle",
      _arg("--data", required=True, help="source table (path or iceberg: ref)"),
      _ID_COL,
      _SEED,
      _arg("--shards", type=int, default=None,
           help="round-robin shard count; written hive-partitioned by shard"),
      _arg("--partitions", type=int, default=None,
           help="row-id assignment bucket count (defaults to input partitions)"),
      _arg("--where", default=None, help="SQL predicate pushed to the source scan"),
      _arg("--out", required=True))
def cmd_shuffle(args, run) -> dict:
    """Deterministic corpus shuffle as a job verb (ops/splits.py
    deterministic_shuffle): the pre-training export step — assign
    every row a global shuffle position from a pure md5 total order
    (no RNG state, so reruns/resumes write byte-identical shards) and
    optionally round-robin-shard the permutation, written
    hive-partitioned by ``shard``.  The JSON line reports an
    order-independent permutation digest (bit_xor of
    xxhash64(pos, id)) so two runs — or two cluster sizes — can be
    compared without diffing the data."""
    from drivel_spark.ops import deterministic_shuffle

    df = run.table(args.data, args.where)
    with _timed() as t:
        shuffled = deterministic_shuffle(
            df, args.id_col, seed=args.seed, n_shards=args.shards, num_partitions=args.partitions,
        )
        out = _written(shuffled, args.out, ("shard",) if args.shards else ())
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64(shuffle_pos, {args.id_col}))").alias("digest"),
    ).collect()[0]
    result = {
        "job": run.name,
        "id_col": args.id_col,
        "seed": args.seed,
        "n_rows": int(stats["n"]),
        "permutation_digest": format(int(stats["digest"]) & (2**64 - 1), "016x"),
        "wall_s": t["wall_s"],
        "rows_per_sec": _rate(stats["n"], t["wall_s"]),
        "out": args.out,
    }
    if args.shards:
        bal = (
            out.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.min("cnt").alias("mn"),
                F.max("cnt").alias("mx"),
                F.count(F.lit(1)).alias("k"),
            )
            .collect()[0]
        )
        result["shards"] = int(bal["k"])
        result["shard_rows_min"] = int(bal["mn"])
        result["shard_rows_max"] = int(bal["mx"])
    return result


@verb("describe",
      _arg("--data", default=None, help="path or iceberg:db.tbl"),
      _arg("--schema", default=None,
           help="describe a JSON Schema file instead of scanning data "
                "(the reference's --from-schema, main.rs:30-32)"),
      _COLUMNS,
      _arg("--json-schema", action="store_true"),
      _arg("--extended", action="store_true",
           help="lossless JSON Schema (keeps bounds the reference drops)"),
      _arg("--infer-enum", action="store_true",
           help="enable the enum post-pass (reference main.rs:34-37)"),
      _arg("--enum-max-uniq", type=float, default=0.1,
           help="max unique/count ratio for enum (main.rs:38-41)"),
      _arg("--enum-min-n", type=int, default=1,
           help="min sample size for enum (main.rs:42-45)"))
def cmd_describe(args, run) -> dict:
    """The reference's `drivel describe` at table scale: one profile
    scan → human-readable schema (reference schema.rs:535-595) or JSON
    Schema draft 2020-12 (schema.rs:644-754) on stdout (stderr for the
    text so the stdout JSON line stays parseable).

    CLI parity with the reference verbs (main.rs:30-51): `--schema`
    describes a parsed JSON Schema document instead of scanning data
    (`--from-schema`), and `--infer-enum` + `--enum-max-uniq` +
    `--enum-min-n` gate the enum post-pass (opt-in, like the
    reference; the library API defaults to on)."""
    if args.schema:
        # fixed-schema path: parse → emit, no Spark scan at all
        from drivel_spark.core import describe as core_describe
        from drivel_spark.core import parse_json_schema, to_json_schema

        with open(args.schema) as fh:
            node = parse_json_schema(json.load(fh))
        if args.json_schema:
            text = json.dumps(to_json_schema(node, extended=args.extended), indent=2)
        else:
            text = core_describe(node)
        sys.stderr.write(text + "\n")
        cols = sorted({**node.required, **node.optional}) if node.kind == "object" else []
        return {"job": run.name, "source": "schema", "columns": cols}

    if not args.data:
        raise SystemExit("describe: need --data or --schema")
    opts = ProfilerOptions(
        infer_enum=args.infer_enum,
        enum_max_unique_ratio=args.enum_max_uniq,
        enum_min_sample_size=args.enum_min_n,
    )
    prof = profile(run.table(args.data), columns=_csv(args.columns) or None, opts=opts)
    if args.json_schema:
        text = json.dumps(prof.to_json_schema(extended=args.extended), indent=2)
    else:
        text = prof.describe()
    sys.stderr.write(text + "\n")
    return {
        "job": run.name,
        "n_rows": prof.n_rows,
        "n_partitions": prof.n_partitions,
        "columns": prof.columns(),
    }


@verb("produce",
      _arg("--data", default=None, help="infer the schema from this table"),
      _arg("--schema", default=None, help="or parse this JSON Schema file"),
      _arg("--n-rows", type=int, default=1000),
      _SEED,
      _arg("--out", required=True))
def cmd_produce(args, run) -> dict:
    """The reference's `drivel produce -n N`, distributed and seeded:
    infer a profile from --data (or parse a JSON Schema from --schema),
    then generate n rows that re-infer to the same schema."""
    from drivel_spark.produce.generator import produce_df, produce_from_profile

    if args.schema:
        from drivel_spark.core import parse_json_schema

        with open(args.schema) as fh:
            node = parse_json_schema(json.load(fh))
        out_df = produce_df(run.spark, node, args.n_rows, seed=args.seed)
    else:
        prof = profile(run.table(args.data))
        out_df = produce_from_profile(run.spark, prof, args.n_rows, seed=args.seed)
    return {"job": run.name, "n_rows": _written(out_df, args.out).count(), "out": args.out}


def _suite(args, meta: dict, baseline, clips, spec: str | None = None) -> tuple:
    """``(constraints, flags)`` of validate and validate-delta.  The
    constraints: the built-in suite, or a version-controlled ``spec``
    file (constraints/specfile.py) that REPLACES it, plus the opt-in
    payload tiers below the SNR decode, ``--check-wav-header`` (magics +
    declared fmt/sr/sizes) and ``--check-pcm-size`` (byte-length
    arithmetic), both pure Catalyst byte arithmetic in the scan
    (constraints/audio.py).  ``flags``: with ``--check-audio`` on an
    audio table, what the SNR decode pass (``audio_row_source``)
    evaluates; None without."""
    from drivel_spark.constraints import PcmSizeConsistency, WavHeaderCheck, load_spec_file

    cs = load_spec_file(spec) if spec else _constraints(baseline)
    if "bytes" not in clips.columns:
        return cs, None
    if args.check_wav_header:
        cs.append(WavHeaderCheck("wav_header", "bytes"))
    if args.check_pcm_size:
        cs.append(PcmSizeConsistency("pcm_size_consistency", "bytes"))
    if args.check_audio and meta.get("with_audio"):
        flags, cs = audio_check(cs)
        return cs, flags
    return cs, None


def _write_report(report: str, passfail, violations) -> None:
    """``{report}/passfail`` (one file, written from the driver-side
    report frame's local relation) + ``{report}/violations`` — the
    layout a later ``validate-delta --prev-report`` reads back."""
    _write(passfail.coalesce(1), f"{report}/passfail")
    _write(violations, f"{report}/violations")


@verb("validate",
      _arg("--data", required=True),
      _CLIPS,
      _arg("--transcripts", default=None,
           help="override transcripts table (path or iceberg:db.tbl ref)"),
      _BASELINE,
      _arg("--checkpoint", default=None),
      _arg("--run-id", default="run0"),
      _CHECK_AUDIO,
      _CHECK_PCM_SIZE,
      _arg("--check-wav-header", action="store_true",
           help="structural RIFF/fmt/data header tier: magics, mono/"
                "16-bit, header sr == metadata sr, declared sizes — "
                "decode-free Catalyst byte arithmetic"),
      _arg("--constraints", help="JSON constraint-spec file replacing the built-in suite"),
      _N_SCOPES,
      _arg("--report", default=None),
      _arg("--where", default=None,
           help="SQL predicate pushed to the clips scan — validate "
                "only the matching slice (e.g. one partition)"),
      _arg("--quarantine-out", default=None,
           help="write row-level violations (kept cols + failed "
                "constraint list) to this parquet dir for triage"),
      _arg("--clean-out", default=None,
           help="enforcement: write FULL source rows that passed "
                "every row-level constraint to this parquet dir "
                "(violating clip_ids excluded via left_anti)"),
      _arg("--slice-dims", default=None,
           help="comma list of kept columns (e.g. codec,sr_hz): "
                "attribute row-level violations to dim slices "
                "(ops/audit.py violation_slice_report); top-10 on "
                "stdout, full report to <report>/slices"),
      _arg("--history-window", type=int, default=None,
           help="with --checkpoint: after the run commits, score "
                "THIS run's metrics against the trailing N runs in "
                "the store (constraints/history.py) and report "
                "anomalies in the output JSON"),
      _arg("--history-max-rel", type=float, default=None,
           help="with --history-window: also flag metrics whose "
                "run-over-run relative change exceeds this"),
      _arg("--slice-per-constraint", action="store_true",
           help="with --slice-dims: score each failed constraint "
                "against its own base rate (constraint_slice_report) "
                "instead of the pooled any-violation rate"))
def cmd_validate(args, run) -> dict:
    # every bad flag combination is refused before the first Spark job
    clips_ref = run.clips_ref(args)
    if args.checkpoint:
        run.refuse_checkpoint(args.checkpoint, clips_ref)
        if args.where:
            raise SystemExit(
                "--where with --checkpoint is unsupported: the resumable "
                "profile would cover the full table while constraints "
                "cover only the slice"
            )
    elif args.history_window:
        raise SystemExit("--history-window requires --checkpoint")
    dims = _csv(args.slice_dims)
    missing = [d for d in dims if d not in VIOLATION_COLUMNS]
    if missing:
        raise SystemExit(
            f"--slice-dims {missing} not in the violation report's "
            f"kept columns {VIOLATION_COLUMNS}; add them to "
            "keep_columns or pick from those"
        )
    meta = _meta(args.data)
    baseline = _unpickle(args.baseline) if args.baseline else None
    check_audio = bool(args.check_audio and meta.get("with_audio"))

    # timed region: everything a production run does per batch —
    # scan, pass-1 profile, pass-2 constraints, report materialization.
    phases: dict[str, float] = {}
    with _timed() as t:
        # the daily operation at scale: validate one partition/slice;
        # the --where predicate reaches the parquet scan (PushedFilters),
        # so the job never reads the other slices' bytes
        clips = run.table(clips_ref, args.where)
        transcripts = run.table(args.transcripts or f"{args.data}/transcripts")

        # ---- pass 1: schema + stats profile (optionally resumable) ---
        # launched on a driver thread so its scan overlaps pass 2;
        # validate() resolves the future at report-assembly time
        prof_pool = ThreadPoolExecutor(max_workers=1)
        if args.checkpoint:  # (profile, resume stats)
            fut_prof = prof_pool.submit(
                resumable_profile, run.spark, clips_ref, CheckpointStore(args.checkpoint),
                run_id=args.run_id, columns=PROFILE_COLUMNS,
            )
        else:
            fut_prof = prof_pool.submit(lambda: (profile(clips, columns=PROFILE_COLUMNS), None))

        # ---- pass 2: constraints --------------------------------------
        constraints, flags = _suite(args, meta, baseline, clips, args.constraints)
        df, ds_df = clips, None
        if flags is not None:
            # the SNR decode reads the payload in the Python workers
            # (constraints/audio.py audio_row_source); the dataset-level
            # jobs keep their column-pruned JVM scans via ds_df
            df, ds_df = audio_row_source(clips, meta["n_rows"], seed=meta["seed"], flags=flags), clips

        with _timed(phases, "pass2_concurrent_s"):
            res = validate(
                df,
                constraints,
                scope=scope_of("clip_id", args.n_scopes),
                ref_tables={"transcripts": transcripts},
                profile=lambda: fut_prof.result()[0],
                baseline_profile=baseline,
                keep_columns=KEEP_COLUMNS,
                ds_df=ds_df,
            )
        with _timed(phases, "profile_join_s"):
            resume_stats = fut_prof.result()[1]
            prof_pool.shutdown()
        # the report was built on the driver inside validate(); the
        # violation-row count is its _rows_any_violation constraint, so no
        # job touches the flags here
        with _timed(phases, "reports_s"):
            passfail = res.passfail_pdf()
            n_violations = n_violation_rows(passfail)
        if args.report:
            _write_report(args.report, res.passfail, res.violations)

    n_rows = meta["n_rows"]
    if args.where:
        # slice validation: throughput must be measured on rows actually
        # scanned, not the full-table metadata count
        n_rows = int(passfail[passfail.constraint == "_rows_any_violation"]["n_rows"].sum())

    # ---- enforcement mode (outside the timed region) ----------------
    # --quarantine-out writes the violating rows (kept columns + the
    # `failed` constraint list) for triage; --clean-out gates the data
    # through: FULL source rows minus every row that failed a row-level
    # constraint, excluded via a left_anti join on clip_id rather than
    # by re-materializing full-width flag rows — at table scale the
    # violating-key side is the small one, so AQE broadcasts it and the
    # clean write stays a single pass over the source.  Dataset-level
    # findings (duplicate keys, orphans, drift) stay report-level:
    # which COPY of a duplicate to drop is dedup's decision, not a
    # row-local verdict.
    enforce: dict | None = None
    if args.quarantine_out or args.clean_out:
        enforce = {}
        with _timed(enforce, "enforce_wall_s"):
            if args.quarantine_out:
                enforce["quarantine_out"] = args.quarantine_out
                enforce["n_quarantined"] = _written(res.violations, args.quarantine_out).count()
            if args.clean_out:
                bad_ids = res.violations.select("clip_id").dropDuplicates(["clip_id"])
                clean = _written(clips.join(bad_ids, "clip_id", "left_anti"), args.clean_out)
                enforce["clean_out"] = args.clean_out
                enforce["n_clean"] = clean.count()

    # ---- violation slice attribution (outside the timed region) -----
    # --slice-dims codec,sr_hz: which dim combination concentrates the
    # row-level violations (ops/audit.py).  Numerators come from the
    # already-materialized violations table (keep-columns carry the
    # dims), denominators from a dims-only narrow scan — the payload
    # bytes and the constraint exprs (incl. the SNR decode) never
    # re-evaluate.
    slices_out: list | None = None
    if dims:
        from drivel_spark.ops import (
            constraint_slice_report,
            top_violation_slices,
            violation_slice_report_from_tables,
        )

        if args.slice_per_constraint:
            # each failed constraint scored against its OWN base rate
            srep = constraint_slice_report(
                clips, res.violations, dims, failed_col="failed",
                max_order=min(2, len(dims)),
            )
        else:
            srep = violation_slice_report_from_tables(
                clips, res.violations, dims, max_order=min(2, len(dims))
            )
        top = top_violation_slices(srep, 10)
        if args.report:
            _write(srep.coalesce(1), f"{args.report}/slices")
        slices_out = [
            {
                **(
                    {"constraint": r["constraint"]}
                    if "constraint" in top.columns
                    else {}
                ),
                **{d: r[d] for d in dims},
                # 1 = dim aggregated out ("any"), disambiguating a
                # genuine NULL dim value in the row above
                **{f"g_{d}": int(r[f"g_{d}"]) for d in dims},
                "slice_order": int(r["slice_order"]),
                "n_rows": int(r["n_rows"]),
                "n_viol": int(r["n_viol"]),
                "lift": _round(r["lift"], 4),
                "excess": round(float(r["excess"]), 2),
            }
            for r in top.collect()
        ]

    history_out = None
    if args.history_window:
        # close the loop on a checkpointed run: after this run's
        # commits land, score THIS run's metrics against the trailing
        # runs already in the store (constraints/history.py) — "the
        # data passed its constraints, but is tonight's run normal?"
        from drivel_spark.constraints import (
            load_metrics_history,
            metric_anomaly_report,
        )

        hrep = metric_anomaly_report(
            load_metrics_history(run.spark, args.checkpoint),
            window=args.history_window,
            k=3.0,
            min_history=2,
            max_rel_change=args.history_max_rel,
        )
        mine = hrep.where(F.col("run_id") == args.run_id).collect()
        history_out = {
            "n_metrics": len(mine),
            "n_hist_runs": int(max((r["n_hist"] for r in mine), default=0)),
            "anomalies": [_anomaly(r) for r in mine if r["is_anomaly"] or r["rel_anomaly"]],
        }

    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "where": args.where,
        "n_rows": n_rows,
        "wall_s": t["wall_s"],
        "clips_per_sec": _rate(n_rows, t["wall_s"]),
        "n_passfail_rows": int(len(passfail)),
        "passfail_digest": passfail_digest(passfail),  # must match across parallelism levels
        "n_violation_rows": n_violations,
        "all_passed": bool(res.all_passed()),
        "dataset_checks": _dataset_checks(res),
        "resume": resume_stats,
        "check_audio": check_audio,
        "phases": phases,
        "enforce": enforce,
        "violation_slices": slices_out,
        "history": history_out,
    }


@verb("history",
      _arg("--checkpoint", default=None,
           help="commit-table dir accumulated by validate/profile "
                "--checkpoint runs"),
      _arg("--stream-checkpoint", default=None,
           help="validate-stream commit store: score each committed "
                "file's violation counts + row count against the "
                "files committed before it"),
      _arg("--window", type=int, default=10, help="trailing runs in the reference window"),
      _arg("--k", type=float, default=3.0,
           help="robust fence multiplier (median +/- k*1.4826*MAD)"),
      _arg("--min-history", type=int, default=3,
           help="runs required before a verdict (younger -> NULL)"),
      _arg("--max-rel-change", type=float, default=None,
           help="also flag |value - prev| / |prev| above this"),
      _arg("--abs-tol", type=float, default=0.0,
           help="absolute deviation floor under BOTH detectors — "
                "count metrics stepping by <= this never alarm"),
      _arg("--metrics", default=None, help="comma-separated metric-name subset"),
      _arg("--out", default=None, help="write the full scored report parquet here"))
def cmd_history(args, run) -> dict:
    """Run-over-run metric anomaly audit (constraints/history.py): read
    the checkpoint commit table accumulated by repeated ``validate
    --checkpoint`` / resumable-profile runs, flatten each run's
    committed metrics (n_rows, n_any_violation, per-column null
    counts), and score EVERY run's metrics against the trailing window
    of its own history — robust median/MAD fences plus an optional
    relative-change guard.  Answers the question thresholds can't:
    "is tonight's run normal for this pipeline?"  With
    ``--stream-checkpoint`` each file a ``validate-stream`` store
    committed is one run instead.  One window shuffle over a
    metadata-scale table; the accumulator blobs are pruned out of the
    scan."""
    from drivel_spark.constraints import (
        dead_constraints,
        load_metrics_history,
        load_stream_batch_history,
        metric_anomalies,
        metric_anomaly_report,
    )

    stream = args.stream_checkpoint
    if stream and args.checkpoint:
        raise SystemExit(
            "history: pass --checkpoint (batch commit table) OR "
            "--stream-checkpoint (validate-stream commit store), not both"
        )
    if not (stream or args.checkpoint):
        raise SystemExit("history: --checkpoint or --stream-checkpoint required")
    with _timed() as t:
        if stream:
            # per-file canary: each committed file's viol.<constraint> /
            # n_rows scored against the files committed before it
            hist = load_stream_batch_history(run.spark, stream)
        else:
            hist = load_metrics_history(run.spark, args.checkpoint)
        if args.metrics:
            hist = hist.where(F.col("metric").isin(_csv(args.metrics)))
        rep = metric_anomaly_report(
            hist,
            window=args.window,
            k=args.k,
            min_history=args.min_history,
            max_rel_change=args.max_rel_change,
            abs_tolerance=args.abs_tol or 0.0,
            seq_col="run_seq",
        ).persist()
        try:
            n_scored = rep.count()
            if n_scored == 0:
                raise SystemExit(
                    f"history: no committed metrics under {stream or args.checkpoint}"
                )
            n_runs = rep.select("run_id").distinct().count()
            n_metrics = rep.select("metric").distinct().count()
            flagged = (
                metric_anomalies(rep)
                .orderBy(F.desc_nulls_last("robust_z"), "metric", "run_seq")
                .limit(50)
                .collect()
            )
            if args.out:
                _write(rep.coalesce(1), args.out)
        finally:
            rep.unpersist()
        dead = None
        if stream:
            # coverage complement: checks that never fired across the
            # observed files are either redundant or mis-specified
            dead = sorted(
                {r["constraint"]: r["n_runs"] for r in
                 dead_constraints(hist).collect()}.items()
            )
    return {
        "job": run.name,
        "source": stream or args.checkpoint,
        "mode": "stream-files" if stream else "checkpoint-runs",
        "dead_constraints": dead,
        "n_runs": n_runs,
        "n_metrics": n_metrics,
        "n_scored": n_scored,
        "n_anomalies": len(flagged),
        "window": args.window,
        "k": args.k,
        "max_rel_change": args.max_rel_change,
        "anomalies": [
            {"run_id": r["run_id"], **_anomaly(r),
             "is_anomaly": r["is_anomaly"], "rel_anomaly": r["rel_anomaly"]}
            for r in flagged
        ],
        "wall_s": t["wall_s"],
    }


@verb("validate-delta",
      _arg("--data", required=True, help="NEW snapshot db dir"),
      _arg("--old-data", required=True, help="previous snapshot db dir"),
      _arg("--prev-report", required=True,
           help="report dir a prior `validate --report` (or "
                "validate-delta --report) wrote for the old snapshot"),
      _BASELINE,
      _CHECK_AUDIO,
      _CHECK_PCM_SIZE,
      _arg("--check-wav-header", action="store_true"),
      _arg("--n-scopes", type=int, default=64, help="must match the previous report's value"),
      _arg("--report", default=None,
           help="write the MERGED report here (chains into the "
                "next day's --prev-report)"))
def cmd_validate_delta(args, run) -> dict:
    """Delta validation (constraints/delta.py): validate a refreshed
    snapshot by re-running the row-level pass ONLY over the scopes
    touched by churn vs the previous snapshot, carrying the untouched
    scopes' report rows (and violation rows) forward from the previous
    ``--report`` directory, and recomputing every dataset-level check
    globally.  The merged report byte-matches a full ``validate`` of
    the new snapshot (same passfail_digest) — pinned by
    tests/test_delta_validate.py — while the decode-bearing scan
    touches only the churned fraction of the table.  Requires the
    previous report to have been produced with the same constraint
    suite, seed, and --n-scopes."""
    from drivel_spark.constraints import churned_scopes, validate_delta

    meta = _meta(args.data)
    if _meta(args.old_data).get("seed") != meta.get("seed"):
        raise SystemExit(
            "validate-delta: old and new snapshots were prepared with "
            "different seeds; carried report rows would not match"
        )
    baseline = _unpickle(args.baseline) if args.baseline else None
    check_audio = bool(args.check_audio and meta.get("with_audio"))

    phases: dict[str, float] = {}
    with _timed() as t:
        clips = run.table(f"{args.data}/clips")
        old_clips = run.table(f"{args.old_data}/clips")
        transcripts = run.table(f"{args.data}/transcripts")

        # ---- churn detection: narrow (key, hash) compare --------------
        with _timed(phases, "churn_detect_s"):
            dirty, churn = churned_scopes(old_clips, clips, "clip_id", args.n_scopes)

        # ---- pass-1 profile over the full new snapshot (cheap scan; feeds
        # the Unique HLL context and Drift, exactly as full validate does)
        prof_pool = ThreadPoolExecutor(max_workers=1)
        fut_prof = prof_pool.submit(profile, clips, columns=PROFILE_COLUMNS)

        constraints, flags = _suite(args, meta, baseline, clips)
        prepare_row_df = None
        if flags is not None:
            # applied AFTER the dirty-scope filter, so the decode scales
            # with churn, not table size
            def prepare_row_df(df):  # noqa: F811
                return audio_row_source(df, meta["n_rows"], seed=meta["seed"], flags=flags)

        with _timed(phases, "delta_validate_s"):
            res = validate_delta(
                clips,
                [c for c in constraints if c.is_row_level],
                [c for c in constraints if not c.is_row_level],
                key_col="clip_id",
                n_scopes=args.n_scopes,
                dirty_scopes=dirty,
                churn=churn,
                prev_passfail=run.spark.read.parquet(f"{args.prev_report}/passfail"),
                prev_violations=run.spark.read.parquet(f"{args.prev_report}/violations"),
                prepare_row_df=prepare_row_df,
                ref_tables={"transcripts": transcripts},
                profile=fut_prof.result,
                baseline_profile=baseline,
                keep_columns=KEEP_COLUMNS,
            )
        prof_pool.shutdown()

        passfail = res.passfail_pdf
        digest = passfail_digest(passfail)
        if args.report:
            with _timed(phases, "report_write_s"):
                _write_report(args.report, passfail_df(run.spark, passfail), res.violations)
    n_total = int(meta["n_rows"])
    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "n_rows": n_total,
        "n_rows_revalidated": int(res.n_rows_revalidated),
        "revalidate_fraction": round(
            res.n_rows_revalidated / n_total, 6
        ) if n_total else 0.0,
        "n_dirty_scopes": len(res.dirty_scopes),
        "n_scopes": args.n_scopes,
        "churn": res.churn,
        "wall_s": t["wall_s"],
        "clips_per_sec": _rate(n_total, t["wall_s"]),
        "n_passfail_rows": int(len(passfail)),
        "passfail_digest": digest,  # must equal full validate's digest
        "n_violation_rows": n_violation_rows(passfail),
        "all_passed": bool(res.all_passed()),
        "dataset_checks": _dataset_checks(res),
        "check_audio": check_audio,
        "phases": phases,
    }


def _flat_report(run, report: str):
    """The pass/fail rows of the flat ``--report`` dir that
    ``validate-stream`` and ``reconcile`` share (none when it does not
    exist yet).  A dir of ``batch_id=N`` partitions (the layout of the
    Structured Streaming ``validate-stream``) is refused before
    anything is computed."""
    import pandas as pd

    sc = run.spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    fs = Path(report).getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.globStatus(Path(f"{report}/batch_id=*")):
        raise SystemExit(
            f"{report} holds batch_id=N report partitions; {run.name} now keeps one "
            "flat pass/fail report there: pass a new --report dir"
        )
    if not fs.exists(Path(report)):
        return pd.DataFrame(columns=PASSFAIL_COLS)
    return run.spark.read.schema(PASSFAIL_SCHEMA).parquet(report).toPandas()


def _write_flat_report(spark, report: str, fresh, kept):
    """Overwrite ``report`` with a verb's ``fresh`` rows plus the
    ``kept`` rows the other verb wrote; returns the report frame."""
    import pandas as pd

    totals = normalize_passfail(pd.concat([fresh, kept], ignore_index=True))
    _write(passfail_df(spark, totals).coalesce(1), report)
    return totals


@verb("validate-stream",
      _SOURCE,
      _arg("--report", required=True,
           help="flat pass/fail report dir shared with reconcile "
                "(row-level rows overwritten)"),
      _STORE,
      _N_SCOPES,
      _arg("--max-files-per-trigger", type=int, default=None,
           help="files validated and committed per chunk (default: all)"),
      _arg("--constraints", help="JSON constraint-spec file (row-level types only)"),
      _arg("--quarantine-out", default=None,
           help="streaming gate: write the violating rows (triage "
                "columns + failed list) of every committed file to "
                "this dir (overwritten)"))
def cmd_validate_stream(args, run) -> dict:
    """Incremental row-level validation on the per-file commit store
    (checkpoint/runner.py resumable_rows): each invocation validates
    only the clip files with no commit for their current (path, size,
    mtime), ``--max-files-per-trigger`` files per commit, overwrites
    ``--report`` with the whole table's row-level pass/fail rows (the
    GLOBAL_SCOPE rows ``reconcile`` wrote stay) and ``--quarantine-out``
    with every committed file's violating rows, and prints the digest
    of the report — which equals the batch engine's digest on the same
    input (pinned by tests/test_streaming.py)."""
    from drivel_spark.checkpoint import resumable_rows

    run.refuse_checkpoint(args.checkpoint)
    with _timed() as t:
        old = _flat_report(run, args.report)
        if args.constraints:
            # same contract-file front-end as batch validate; the stream
            # accepts ROW-LEVEL specs only (resumable_rows raises on
            # dataset-level entries — uniqueness/referential belong to the
            # reconcile verb)
            from drivel_spark.constraints import load_spec_file

            row_cs = load_spec_file(args.constraints)
        else:
            # the batch suite's row-level half; its dataset-level checks
            # belong to the reconcile verb
            row_cs = [c for c in _constraints(None) if c.is_row_level]
        rows, stats = resumable_rows(
            run.spark, args.source, CheckpointStore(args.checkpoint), run.name,
            row_cs, scope_of("clip_id", args.n_scopes), keep=KEEP_COLUMNS,
            quarantine_dir=args.quarantine_out, max_files=args.max_files_per_trigger,
        )
        totals = _write_flat_report(
            run.spark, args.report, rows, old[old.partition_id == GLOBAL_SCOPE]
        )
    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "n_rows_total": int(rows.loc[rows.constraint == "_rows_any_violation", "n_rows"].sum()),
        "wall_s": t["wall_s"],
        "n_report_rows": int(len(totals)),
        "cumulative_digest": passfail_digest(totals),
        "n_violation_rows_total": n_violation_rows(totals),
        "resume": stats,
    }


@verb("screen-stream",
      _SOURCE,
      _arg("--report", required=True,
           help="per-kind totals of every committed file (overwritten)"),
      _STORE,
      _arg("--kinds", default="quality,dropout,hum", help="comma list from AUDIO_SCREENS, or 'all'"),
      _arg("--max-files-per-trigger", type=int, default=None,
           help="files screened and committed per chunk (default: all)"),
      _arg("--quarantine-out", default=None,
           help="write the flagged clip ids (+ the flagging screen "
                "kind) of every committed file to this dir (overwritten)"))
def cmd_screen_stream(args, run) -> dict:
    """Incremental audio-QA screening on the per-file commit store
    (checkpoint/runner.py resumable_screen, the store ``screen
    --checkpoint`` uses): each invocation decodes only the clip files
    with no commit for their current (path, size, mtime),
    ``--max-files-per-trigger`` files per commit, writes the per-kind
    (kind, n_clips, n_flagged, n_undecodable) totals of every committed
    file to ``--report`` and their flagged (clip_id, kind) pairs to
    ``--quarantine-out`` (both overwritten), and prints the totals —
    which equal the batch ``screen`` verb's counts over the same files
    (pinned by tests/test_streaming.py).  Decode being the dominant
    cost of every screen, this is the verb that keeps content-level QA
    O(new data) on a continuously-growing corpus."""
    run.refuse_checkpoint(args.checkpoint)
    kinds = sorted(AUDIO_SCREENS) if args.kinds == "all" else _csv(args.kinds)
    with _timed() as t:
        totals, stats = resumable_screen(
            run.spark, args.source, CheckpointStore(args.checkpoint), run.name, kinds,
            quarantine_dir=args.quarantine_out, max_files=args.max_files_per_trigger,
        )
        _write(dio.local_df(
            run.spark, totals.itertuples(index=False),
            "kind string, n_clips long, n_flagged long, n_undecodable long",
        ), args.report)
        totals = totals.sort_values("kind").reset_index(drop=True)
    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "kinds": kinds,
        "n_clips_total": int(totals["n_clips"].max()),
        "n_flagged_total": int(totals["n_flagged"].sum()),
        "wall_s": t["wall_s"],
        "cumulative_digest": passfail_digest(totals),
        "per_kind": {
            r["kind"]: int(r["n_flagged"]) for _, r in totals.iterrows()
        },
        "resume": stats,
    }


@verb("reconcile",
      _arg("--source", required=True, help="the streamed clips parquet dir"),
      _arg("--report", required=True,
           help="the validate-stream report dir (its GLOBAL_SCOPE "
                "rows are overwritten)"),
      _arg("--transcripts", default=None,
           help="transcripts table (path or iceberg:db.tbl) for the "
                "referential check; omitted = uniqueness only"))
def cmd_reconcile(args, run) -> dict:
    """Dataset-level reconciliation for a validated stream: row checks
    run incrementally (``validate-stream``); exact global uniqueness
    (and clip↔transcript referential completeness, when a transcripts
    table is given) run HERE as a periodic batch over the same source
    table.  The GLOBAL_SCOPE result rows replace those of the shared
    flat ``--report`` (a reconciliation is a snapshot of the current
    table) and its row-level rows stay, so the report after stream +
    reconcile equals the full batch engine's pass/fail table on the
    same data (pinned by tests/test_streaming.py)."""
    with _timed() as t:
        old = _flat_report(run, args.report)
        clips = run.table(args.source)
        cs: list = [Unique("clip_id_unique", "clip_id")]
        ref_tables = {}
        if args.transcripts:
            ref_tables["transcripts"] = run.table(args.transcripts)
            cs.append(
                Referential("clip_has_transcript", "clip_id", "transcripts", "clip_id")
            )
        res = validate(clips, cs, ref_tables=ref_tables)
        totals = _write_flat_report(
            run.spark, args.report, res.passfail_pdf(), old[old.partition_id != GLOBAL_SCOPE]
        )
    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "wall_s": t["wall_s"],
        "dataset_checks": _dataset_checks(res),
        "n_report_rows": int(len(totals)),
        "cumulative_digest": passfail_digest(totals),
    }


@verb("track-stream",
      _SOURCE,
      _arg("--key", default="codec", help="bounded-cardinality key column"),
      _arg("--value", default="dur_ms", help="numeric column to track"),
      _arg("--checkpoint", required=True),
      _arg("--out", required=True, help="per-batch update rows dir"),
      _arg("--max-files-per-trigger", type=int, default=None))
def cmd_track_stream(args, run) -> dict:
    """Keyed online tracking via applyInPandasWithState: per-key
    running column stats over a growing source, state in the streaming
    state store (streaming/stateful.py).  Prints the current per-key
    rows; re-invocation with the same checkpoint resumes the counters."""
    from drivel_spark.fixtures import CLIPS_SCHEMA
    from drivel_spark.streaming import latest_stats, running_stats_stream

    with _timed() as t:
        running_stats_stream(
            run.spark,
            args.source,
            CLIPS_SCHEMA,
            args.key,
            args.value,
            args.checkpoint,
            args.out,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        # an empty source runs zero batches: no update rows, no out dir.
        # NULL stats (all-null keys) round-trip as NaN doubles through
        # parquet
        rows = [
            {k: _nan_none(v) for k, v in r.asDict().items()}
            for r in latest_stats(run.spark, args.out, args.key).orderBy(args.key).collect()
        ] if os.path.isdir(args.out) else []
    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "key": args.key,
        "value": args.value,
        "n_keys": len(rows),
        "wall_s": t["wall_s"],
        "stats": rows,
    }


@verb("window-stream",
      _arg("--source", required=True, help="growing parquet dir"),
      _arg("--schema",
           default="event_id long, ts timestamp, user_id long, "
                   "event_type string, value double, props string",
           help="source schema (streaming reads need one); default: events table"),
      _arg("--event-col", default="ts", help="event-time timestamp column"),
      _arg("--value", default="value", help="numeric column to aggregate"),
      _arg("--key", default=None, help="optional sub-group column"),
      _arg("--window", default="10 minutes"),
      _arg("--slide", default=None, help="slide < window → sliding windows"),
      _arg("--watermark", default="10 minutes", help="max allowed lateness"),
      _arg("--checkpoint", required=True),
      _arg("--out", required=True, help="finalized per-window rows dir"),
      _arg("--max-files-per-trigger", type=int, default=None))
def cmd_window_stream(args, run) -> dict:
    """Event-time windowed aggregation with watermark over a growing
    source (streaming/windows.py): append-mode per-window stats,
    finalized exactly once when the watermark closes the window; late
    rows beyond the watermark are dropped.  Re-invocation with the same
    checkpoint resumes the watermark + open-window state."""
    from drivel_spark.streaming import load_windowed_stats, windowed_stats_stream

    with _timed() as t:
        windowed_stats_stream(
            run.spark,
            args.source,
            args.schema,
            args.event_col,
            args.value,
            args.checkpoint,
            args.out,
            window=args.window,
            slide=args.slide,
            watermark=args.watermark,
            key_col=args.key,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        order = ["window_start"] + ([args.key] if args.key else [])
        rows = [
            {k: str(v) if k in ("window_start", "window_end") else _nan_none(v)
             for k, v in r.asDict().items()}
            for r in load_windowed_stats(run.spark, args.out).orderBy(*order).collect()
        ] if os.path.isdir(args.out) else []
    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "event_col": args.event_col,
        "value": args.value,
        "window": args.window,
        "watermark": args.watermark,
        "n_windows": len(rows),
        "wall_s": t["wall_s"],
        "windows": rows,
    }


@verb("profile-stream",
      _SOURCE,
      _STORE,
      _COLUMNS,
      _arg("--max-files-per-trigger", type=int, default=None,
           help="files profiled and committed per chunk (default: all)"))
def cmd_profile_stream(args, run) -> dict:
    """Incremental profile on the per-file commit store
    (checkpoint/runner.py resumable_profile, the store ``validate
    --checkpoint`` uses): profiles only the files with no commit for
    their current (path, size, mtime), ``--max-files-per-trigger`` files
    per commit, and prints the profile of everything committed (equal
    to the batch profile on the exact fields, pinned by
    tests/test_streaming.py)."""
    run.refuse_checkpoint(args.checkpoint)
    store = CheckpointStore(args.checkpoint)
    with _timed() as t:
        prof, stats = resumable_profile(
            run.spark, args.source, store, run_id=run.name,
            columns=_csv(args.columns) or PROFILE_COLUMNS, max_files=args.max_files_per_trigger,
        )
        sys.stderr.write(prof.describe() + "\n")
    return {
        "job": run.name,
        "master": run.spark.sparkContext.master,
        "n_rows_total": prof.n_rows,
        "wall_s": t["wall_s"],
        "columns": prof.columns(),
        "n_state_commits": len(store.commit_files()),
        "resume": stats,
    }


def main(argv=None) -> None:
    args = parser().parse_args(argv)
    out = VERBS[args.cmd][0](args)
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
