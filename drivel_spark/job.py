"""spark-submit entrypoint: the end-to-end profile + validate job
(BASELINE.json north_rule: "run via spark-submit --py-files on a
multi-executor cluster at two cluster sizes").

Subcommands
-----------
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

validate-stream
          The Structured-Streaming front-end (streaming/): each
          invocation processes only files the checkpoint hasn't seen
          (availableNow), appends incremental validation deltas and
          prints cumulative totals that match the batch engine on the
          same input.
profile-stream / screen-stream
          Incremental profile / audio-QA screen on the per-file commit
          store that ``validate --checkpoint`` and ``screen
          --checkpoint`` use (checkpoint/): each invocation processes
          only new or changed files, commits one blob per file and
          prints the result over every committed file.

Scaling protocol (BASELINE.md): `prepare` once, then run `validate` on
the SAME input at --master local[8] and local[32]; efficiency =
(thr_32 / thr_8) / 4.  Pass/fail rows use a STABLE scope
(pmod(xxhash64(clip_id), n_scopes)), so the report is byte-identical
across parallelism levels.

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

from pyspark.sql import functions as F

from drivel_spark.config import build_session
from drivel_spark.constraints import (
    Drift,
    Enum,
    Format,
    NotNull,
    Range,
    Referential,
    Unique,
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
from drivel_spark.profiling import ProfilerOptions, profile
from drivel_spark.checkpoint import CheckpointStore, resumable_profile, resumable_screen
from drivel_spark.io import is_table_ref

PROFILE_COLUMNS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]


def cmd_prepare(args) -> dict:
    spark = build_session("drivel-prepare")
    spec = ClipFixtureSpec(
        seed=args.seed, variant=args.variant, with_audio=not args.no_audio,
        shared_seg_every=args.shared_seg_every,
    )
    t0 = time.time()
    clips = build_clips(spark, args.n_rows, args.partitions, spec)
    clips.write.mode("overwrite").parquet(f"{args.out}/clips")
    build_transcripts(spark, args.n_rows, args.partitions, spec).write.mode(
        "overwrite"
    ).parquet(f"{args.out}/transcripts")
    meta = {
        "n_rows": args.n_rows,
        "partitions": args.partitions,
        "seed": args.seed,
        "variant": args.variant,
        "with_audio": not args.no_audio,
        "shared_seg_every": args.shared_seg_every,
        "prepare_wall_s": round(time.time() - t0, 3),
    }
    with open(f"{args.out}/meta.json", "w") as fh:
        json.dump(meta, fh)
    return meta


def cmd_segment(args) -> dict:
    """Table-scale audio chunking: clips → fixed-duration training
    segments (ops/multimodal.py segment_clips), written as a new table.
    Optional --where pushes a predicate to the clips scan so a daily
    run segments one slice without reading the rest — same discipline
    as validate --where.  One narrow scan, re-encode in the producing
    partition, no shuffle."""
    from drivel_spark.io import read_table
    from drivel_spark.ops import segment_clips

    if not args.clips and not args.data:
        raise SystemExit("segment needs --data (db dir) or --clips (table ref)")
    spark = build_session("drivel-segment")
    ref = args.clips or f"{args.data}/clips"
    clips = read_table(spark, ref)
    if args.where:
        clips = clips.filter(args.where)
    t0 = time.time()
    segs = segment_clips(
        clips, seg_ms=args.seg_ms, min_tail_ms=args.min_tail_ms
    )
    segs.write.mode("overwrite").parquet(args.out)
    wall = time.time() - t0
    out = spark.read.parquet(args.out)
    counts = out.agg(
        F.count(F.when(out["seg_idx"].isNotNull(), 1)).alias("segs"),
        F.count(F.when(out["seg_idx"].isNull(), 1)).alias("bad"),
    ).collect()[0]
    n_segments, n_undecodable = int(counts["segs"]), int(counts["bad"])
    return {
        "job": "segment",
        "seg_ms": args.seg_ms,
        "min_tail_ms": args.min_tail_ms,
        "n_segments": n_segments,
        "n_undecodable": n_undecodable,
        "wall_s": round(wall, 3),
        "segments_per_sec": round(n_segments / wall, 1) if wall > 0 else None,
        "out": args.out,
    }


from drivel_spark.ops.multimodal import AUDIO_SCREENS  # noqa: E402


def cmd_screen(args) -> dict:
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
    from drivel_spark.io import read_table

    if not args.clips and not args.data:
        raise SystemExit("screen needs --data (db dir) or --clips (table ref)")
    kinds = [k.strip() for k in args.kind.split(",") if k.strip()]
    if getattr(args, "checkpoint", None):
        return _screen_resumable(args, kinds)
    if len(kinds) > 1:
        return _screen_fused(args, kinds)
    if args.kind not in AUDIO_SCREENS:
        raise SystemExit(
            f"unknown screen {args.kind!r}; one of {sorted(AUDIO_SCREENS)}"
        )
    op, default_flag = AUDIO_SCREENS[args.kind]
    spark = build_session("drivel-screen")
    ref = args.clips or f"{args.data}/clips"
    clips = read_table(spark, ref)
    if args.where:
        clips = clips.filter(args.where)
    t0 = time.time()
    rep = op(clips)
    if args.out:
        rep.write.mode("overwrite").parquet(args.out)
        rep = spark.read.parquet(args.out)
    from drivel_spark.ops.multimodal import screen_undecodable_col

    flag = args.flag or default_flag
    row = rep.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(F.col(screen_undecodable_col(rep)).isNull(), 1)
        ).alias("bad"),
        F.count(F.when(F.expr(flag), 1)).alias("flagged"),
    ).collect()[0]
    wall = time.time() - t0
    return {
        "job": "screen",
        "kind": args.kind,
        "flag": flag,
        "n_clips": int(row["n"]),
        "n_flagged": int(row["flagged"]),
        "n_undecodable": int(row["bad"]),
        "wall_s": round(wall, 3),
        "clips_per_sec": round(row["n"] / wall, 1) if wall > 0 else None,
        "out": args.out,
    }


def _refuse_catalog_checkpoint(ref: str) -> None:
    if is_table_ref(ref):
        raise SystemExit("--checkpoint needs a parquet path for --clips: a resumable run commits "
                         "one unit per file, which a catalog table ref does not expose")


def _screen_resumable(args, kinds: list[str]) -> dict:
    """--checkpoint arm of cmd_screen: per-file lineage commits via
    checkpoint/runner.py resumable_screen, so an interrupted corpus
    screen restarts without re-decoding committed files.  Any
    AUDIO_SCREENS kinds; --where/--flag/--out don't compose with
    file-level lineage and are rejected loudly, same discipline as
    validate --where."""
    for opt in ("where", "flag", "out"):
        if getattr(args, opt, None):
            raise SystemExit(f"--{opt} does not compose with --checkpoint "
                             "(per-file lineage covers the whole table)")
    ref = args.clips or f"{args.data}/clips"
    _refuse_catalog_checkpoint(ref)
    spark = build_session("drivel-screen")
    t0 = time.time()
    totals, stats = resumable_screen(
        spark, ref, CheckpointStore(args.checkpoint),
        getattr(args, "run_id", None) or "screen", kinds=kinds,
    )
    wall = time.time() - t0
    n = int(totals["n_clips"].max())
    # rate over clips actually decoded this call — a mostly-resumed
    # run must not report restored files as throughput (ADVICE r05)
    n_rec = stats.get("n_clips_recomputed")
    return {
        "job": "screen",
        "kinds": kinds,
        "n_clips": n,
        "n_flagged_total": int(totals["n_flagged"].sum()),
        "n_undecodable": stats.get("n_undecodable"),
        "per_kind": {
            r["kind"]: {"n_flagged": int(r["n_flagged"]),
                        "n_undecodable": int(r["n_undecodable"])}
            for _, r in totals.iterrows()
        },
        "wall_s": round(wall, 3),
        "clips_per_sec": (
            round(n_rec / wall, 1) if wall > 0 and n_rec else None
        ),
        "resume": stats,
    }


def _screen_fused(args, kinds: list[str]) -> dict:
    """Multi-kind arm of cmd_screen: the whole set in ONE decode pass
    via the fused kernel, all counts in one aggregation job."""
    from drivel_spark.io import read_table
    from drivel_spark.ops.multimodal import FUSED_SCREEN_FIELDS, screen_count_aggs
    from drivel_spark.ops import screen_report

    if args.flag:
        raise SystemExit("--flag overrides a single screen's policy; "
                         "drop it for a fused multi-kind run")
    bad_kinds = [k for k in kinds if k not in FUSED_SCREEN_FIELDS]
    if bad_kinds:
        raise SystemExit(
            f"not fused-capable: {bad_kinds}; a multi-kind run supports "
            f"{sorted(FUSED_SCREEN_FIELDS)} (run others one --kind at a time)"
        )
    spark = build_session("drivel-screen")
    ref = args.clips or f"{args.data}/clips"
    clips = read_table(spark, ref)
    if args.where:
        clips = clips.filter(args.where)
    t0 = time.time()
    rep = screen_report(clips, kinds)
    if args.out:
        rep.write.mode("overwrite").parquet(args.out)
        rep = spark.read.parquet(args.out)
    row = rep.agg(*screen_count_aggs(kinds)).collect()[0]
    wall = time.time() - t0
    return {
        "job": "screen",
        "kinds": kinds,
        "n_clips": int(row["n_clips"]),
        "n_flagged_total": int(
            sum(row[f"f_{k}"] for k in kinds)
        ),
        "n_undecodable": int(row["n_undec"]),
        "per_kind": {
            k: {"n_flagged": int(row[f"f_{k}"]),
                "n_undecodable": int(row[f"b_{k}"])}
            for k in kinds
        },
        "wall_s": round(wall, 3),
        "clips_per_sec": round(row["n_clips"] / wall, 1) if wall > 0 else None,
        "out": args.out,
    }


def cmd_dup_segments(args) -> dict:
    """Repeated-audio-segment audit at the CLI: clips -> maximal
    duplicated PCM spans per clip (ops/multimodal.py
    audio_dup_segments -- the jingle/segment-bank detector), spans
    written as a table plus a one-line JSON summary.  Optional --where
    pushes a predicate to the clips scan (same discipline as
    validate/segment --where); --within-clip also flags repetition
    inside a single clip (default counts cross-clip duplication
    only)."""
    from drivel_spark.io import read_table
    from drivel_spark.ops import audio_dup_segments

    if not args.clips and not args.data:
        raise SystemExit("dup-segments needs --data (db dir) or --clips (table ref)")
    spark = build_session("drivel-dup-segments")
    ref = args.clips or f"{args.data}/clips"
    clips = read_table(spark, ref)
    if args.where:
        clips = clips.filter(args.where)
    t0 = time.time()
    spans = audio_dup_segments(
        clips,
        win_ms=args.win_ms,
        hop_ms=args.hop_ms,
        cross_clip_only=not args.within_clip,
    )
    spans.write.mode("overwrite").parquet(args.out)
    wall = time.time() - t0
    out = spark.read.parquet(args.out)
    agg = out.agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.countDistinct("clip_id").alias("n_clips_with_dups"),
        F.coalesce(F.sum("span_len"), F.lit(0)).alias("dup_ms_total"),
    ).collect()[0]
    return {
        "job": "dup-segments",
        "win_ms": args.win_ms,
        "hop_ms": args.hop_ms,
        "cross_clip_only": not args.within_clip,
        "n_spans": int(agg["n_spans"]),
        "n_clips_with_dups": int(agg["n_clips_with_dups"]),
        "dup_ms_total": int(agg["dup_ms_total"]),
        "wall_s": round(wall, 3),
        "out": args.out,
    }


def _profile_columns(df, columns_arg) -> list:
    """Shared default column policy for the baseline and diff verbs —
    they MUST agree or a vanilla baseline→diff round-trip reports
    phantom additions/removals: PROFILE_COLUMNS where present, plus
    every other non-binary column (so schema additions are caught
    without paying a byte-payload scan); --columns overrides."""
    if columns_arg:
        requested = [c for c in columns_arg.split(",") if c]
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


def cmd_baseline(args) -> dict:
    from drivel_spark.io import read_table

    spark = build_session("drivel-baseline")
    df = read_table(spark, f"{args.data}/clips")
    cols = _profile_columns(df, getattr(args, "columns", None))
    by = getattr(args, "by", None)
    if by:
        # grouped baseline: {group: TableProfile} via the one-scan
        # per-group fold (profiling/grouped.py) — the per-codec drift
        # reference the north rule's codec/sr frequency maps imply
        from drivel_spark.profiling import grouped_profile

        gp = grouped_profile(df, by, columns=[c for c in cols if c != by])
        with open(args.out, "wb") as fh:
            pickle.dump({"by": by, "groups": gp}, fh)
        return {
            "baseline": args.out,
            "by": by,
            "n_groups": len(gp),
            "n_rows": int(sum(p.n_rows for p in gp.values())),
        }
    prof = profile(df, columns=cols, opts=ProfilerOptions())
    with open(args.out, "wb") as fh:
        pickle.dump(prof, fh)
    return {"baseline": args.out, "n_rows": prof.acc.n_rows}


def cmd_diff(args) -> dict:
    """Structural schema diff of the current batch against a stored
    baseline profile (profiling/diff.py): which columns moved —
    added / removed / type changed / nulls appeared / numeric range or
    string length escaped the envelope / format or enum moved — at the
    cost of ONE profile scan of the current table; the baseline side is
    the already-reduced pickle from `baseline`, so no second data pass
    exists at any scale.  Default column set matches the `baseline`
    verb's so a vanilla baseline→diff round-trip reports only real
    changes; --columns overrides for arbitrary tables."""
    spark = build_session("drivel-diff")
    from drivel_spark.io import read_table
    from drivel_spark.profiling import diff_profiles

    with open(args.baseline, "rb") as fh:
        baseline = pickle.load(fh)
    if not args.clips and not args.data:
        raise SystemExit("diff needs --data or --clips")
    ref = args.clips or f"{args.data}/clips"
    df = read_table(spark, ref)
    if isinstance(baseline, dict) and "groups" in baseline:
        if getattr(args, "gate", False):
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
        rep = grouped_drift(baseline["groups"], gp)
        rows = [
            {
                k: (None if v is None or (isinstance(v, float) and v != v)
                    else (round(v, 6) if isinstance(v, float) else v))
                for k, v in r.items()
            }
            for r in rep.to_dict("records")
        ]
        return {
            "job": "diff",
            "data": ref,
            "baseline": args.baseline,
            "by": by,
            "n_groups": len(gp),
            "n_report_rows": len(rows),
            "groups_changed": sorted(
                {r["group"] for r in rows if r["status"] != "both"}
            ),
            "report": rows,
        }
    cols = _profile_columns(df, args.columns)
    prof = profile(df, columns=cols)
    if getattr(args, "gate", False):
        # compat gate: same diff rows + a severity each, folded to the
        # table-level verdict — the CI decision "may this batch land"
        from drivel_spark.profiling import compat_report, compat_verdict

        changes = compat_report(prof, baseline)
        out = {
            "job": "diff",
            "data": ref,
            "baseline": args.baseline,
            "n_rows": prof.acc.n_rows,
            "n_changes": len(changes),
            "changes": changes,
        }
        out.update(compat_verdict(changes))
        return out
    changes = diff_profiles(prof, baseline)
    return {
        "job": "diff",
        "data": ref,
        "baseline": args.baseline,
        "n_rows": prof.acc.n_rows,
        "n_changes": len(changes),
        "changes": changes,
    }


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


def cmd_mix(args) -> dict:
    """Data-mixture composition as a job verb (ops/mixing.py): sample a
    source table down to target per-group shares under a row/token
    budget and write the survivors; the achieved-mixture report prints
    in the JSON line.  --weights is ``key=w,key=w``; --size-col switches
    the budget to token units; the sample itself is the deterministic
    md5 filter — reruns write the identical row set."""
    from drivel_spark.io import read_table
    from drivel_spark.ops import mix_corpora, mixture_plan, mixture_report

    spark = build_session("drivel-mix")
    df = read_table(spark, args.data)
    weights = {}
    for part in args.weights.split(","):
        k, _, w = part.partition("=")
        if not _ or not k:
            raise SystemExit(f"--weights entry {part!r} is not key=weight")
        weights[k.strip()] = float(w)
    t0 = time.time()
    plan = mixture_plan(
        df, args.by, weights, budget=args.budget, size_col=args.size_col
    )
    sampled = mix_corpora(
        df, args.by, args.id_col, weights, seed=args.seed, plan=plan
    )
    if args.out:
        sampled.write.mode("overwrite").parquet(args.out)
    report = (
        mixture_report(
            df, args.by, args.id_col, weights, budget=args.budget,
            size_col=args.size_col, seed=args.seed,
        )
        .orderBy("source")
        .collect()
    )
    wall = time.time() - t0
    return {
        "job": "mix",
        "by": args.by,
        "budget": plan.budget,
        "size_col": args.size_col,
        "seed": args.seed,
        "wall_s": round(wall, 3),
        "out": args.out,
        "report": [
            {
                "source": r["source"],
                "available": r["available"],
                "target_share": round(r["target_share"], 6),
                "rate": round(r["rate"], 6),
                "kept": r["kept"],
                "achieved_share": round(r["achieved_share"], 6)
                if r["achieved_share"] is not None
                else None,
            }
            for r in report
        ],
    }


def cmd_suggest(args) -> dict:
    """Constraint suggestion — the infer-then-check loop as a CLI
    stage (the reference's describe, aimed at validate instead of a
    human): profile a CLEAN table, derive the constraint set the
    profile implies (constraints/spec.from_profile: not-null, numeric
    ranges — exact or quantile-robust — enum/format/length, optional
    drift gates), and write it as a version-controlled spec-file JSON
    that `validate --constraints` re-applies verbatim.  One profile
    scan; the suggestion itself is O(columns) driver work."""
    from drivel_spark.constraints import from_profile
    from drivel_spark.constraints.specfile import to_spec_json
    from drivel_spark.io import read_table

    spark = build_session("drivel-suggest")
    df = read_table(spark, args.data)
    cols = args.columns.split(",") if args.columns else None
    qr = None
    if args.quantile_range:
        parts = args.quantile_range.split(",")
        if len(parts) != 2:
            raise SystemExit("--quantile-range must be 'p_lo,p_hi'")
        qr = (float(parts[0]), float(parts[1]))
    t0 = time.time()
    prof = profile(df, columns=cols)
    constraints = from_profile(
        prof,
        columns=cols,
        numeric_margin=args.margin,
        with_drift=args.with_drift,
        quantile_range=qr,
        with_distribution=getattr(args, "with_distribution", False),
    )
    doc = None
    try:
        from drivel_spark.constraints.specfile import from_spec_json

        doc = to_spec_json(constraints)
        from_spec_json(doc)  # self-check: the file must re-parse
    except ValueError as e:
        raise SystemExit(f"suggested suite is not spec-representable: {e}")
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=2)
        fh.write("\n")
    return {
        "job": "suggest",
        "n_rows": prof.n_rows,
        "n_constraints": len(constraints),
        "types": sorted({e["type"] for e in doc["constraints"]}),
        "quantile_range": qr,
        "margin": args.margin,
        "with_drift": args.with_drift,
        "wall_s": round(time.time() - t0, 3),
        "out": args.out,
    }


def cmd_leakage(args) -> dict:
    """Cross-split contamination audit as a job verb (ops/splits.py):
    exact tier = verbatim duplicates (normalized-text md5) straddling
    a split boundary; ``--near`` adds the MinHash tier (lightly-edited
    twins, Jaccard ≥ --threshold, row-keyed splits).  The JSON line
    carries the leak totals; --out writes the full leak table for
    triage.  Zero leakage = exit evidence the train/eval boundary is
    clean before an export ships."""
    from drivel_spark.io import read_table
    from drivel_spark.ops import release_shingles, split_leakage, split_leakage_near

    spark = build_session("drivel-leakage")
    df = read_table(spark, args.data)
    weights = {}
    for part in args.weights.split(","):
        k, _, w = part.partition("=")
        if not _ or not k:
            raise SystemExit(f"--weights entry {part!r} is not key=weight")
        weights[k.strip()] = float(w)
    t0 = time.time()
    leaks = split_leakage(
        df, args.id_col, args.text_col, weights,
        seed=args.seed, group_col=args.group_col,
    )
    agg = leaks.agg(
        F.count(F.lit(1)).alias("k"),
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("d"),
    ).collect()[0]
    result = {
        "job": "leakage",
        "seed": args.seed,
        "group_col": args.group_col,
        "n_leaking_fingerprints": int(agg["k"]),
        "n_leaking_docs": int(agg["d"]),
    }
    if args.out:
        leaks.write.mode("overwrite").parquet(f"{args.out}/exact")
        result["out"] = args.out
    if args.near:
        if args.group_col:
            raise SystemExit(
                "--near is row-keyed (split re-derived from the id); "
                "for group-keyed splits run the exact tier only"
            )
        pairs = split_leakage_near(
            df, args.id_col, args.text_col, weights,
            seed=args.seed, threshold=args.threshold,
        )
        try:
            if args.out:
                pairs.write.mode("overwrite").parquet(f"{args.out}/near")
            result["n_near_leak_pairs"] = int(pairs.count())
        finally:
            release_shingles(pairs)  # the persisted MinHash pair table
        result["near_threshold"] = args.threshold
    result["wall_s"] = round(time.time() - t0, 3)
    return result


def cmd_shuffle(args) -> dict:
    """Deterministic corpus shuffle as a job verb (ops/splits.py
    deterministic_shuffle): the pre-training export step — assign
    every row a global shuffle position from a pure md5 total order
    (no RNG state, so reruns/resumes write byte-identical shards) and
    optionally round-robin-shard the permutation for
    ``write_partitioned(..., ["shard"])``.  The JSON line reports an
    order-independent permutation digest (bit_xor of
    xxhash64(pos, id)) so two runs — or two cluster sizes — can be
    compared without diffing the data."""
    from drivel_spark.io import read_table, write_partitioned
    from drivel_spark.ops import deterministic_shuffle

    spark = build_session("drivel-shuffle")
    df = read_table(spark, args.data)
    if args.where:
        df = df.filter(args.where)
    t0 = time.time()
    shuffled = deterministic_shuffle(
        df,
        args.id_col,
        seed=args.seed,
        n_shards=args.shards,
        num_partitions=args.partitions,
    )
    if args.shards:
        write_partitioned(shuffled, args.out, ["shard"])
    else:
        shuffled.write.mode("overwrite").parquet(args.out)
    wall = time.time() - t0
    out = spark.read.parquet(args.out)
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"bit_xor(xxhash64(shuffle_pos, {args.id_col}))"
        ).alias("digest"),
    ).collect()[0]
    result = {
        "job": "shuffle",
        "id_col": args.id_col,
        "seed": args.seed,
        "n_rows": int(stats["n"]),
        "permutation_digest": format(int(stats["digest"]) & (2**64 - 1), "016x"),
        "wall_s": round(wall, 3),
        "rows_per_sec": round(stats["n"] / wall, 1) if wall > 0 else None,
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


def cmd_describe(args) -> dict:
    """The reference's `drivel describe` at table scale: one profile
    scan → human-readable schema (reference schema.rs:535-595) or JSON
    Schema draft 2020-12 (schema.rs:644-754) on stdout (stderr for the
    text so the stdout JSON line stays parseable).

    CLI parity with the reference verbs (main.rs:30-51): `--schema`
    describes a parsed JSON Schema document instead of scanning data
    (`--from-schema`), and `--infer-enum` + `--enum-max-uniq` +
    `--enum-min-n` gate the enum post-pass (opt-in, like the
    reference; the library API defaults to on)."""
    import json as _json

    if getattr(args, "schema", None):
        # fixed-schema path: parse → emit, no Spark scan at all
        from drivel_spark.core import describe as core_describe
        from drivel_spark.core import parse_json_schema, to_json_schema

        with open(args.schema) as fh:
            node = parse_json_schema(_json.load(fh))
        if args.json_schema:
            sys.stderr.write(
                _json.dumps(to_json_schema(node, extended=args.extended), indent=2) + "\n"
            )
        else:
            sys.stderr.write(core_describe(node) + "\n")
        cols = sorted({**node.required, **node.optional}) if node.kind == "object" else []
        return {"job": "describe", "source": "schema", "columns": cols}

    if not args.data:
        raise SystemExit("describe: need --data or --schema")

    from drivel_spark.io import read_table

    spark = build_session("drivel-describe")
    df = read_table(spark, args.data)
    cols = args.columns.split(",") if args.columns else None
    opts = ProfilerOptions(
        infer_enum=bool(getattr(args, "infer_enum", False)),
        enum_max_unique_ratio=float(getattr(args, "enum_max_uniq", 0.1)),
        enum_min_sample_size=int(getattr(args, "enum_min_n", 1)),
    )
    prof = profile(df, columns=cols, opts=opts)
    if args.json_schema:
        doc = prof.to_json_schema(extended=args.extended)
        sys.stderr.write(_json.dumps(doc, indent=2) + "\n")
    else:
        sys.stderr.write(prof.describe() + "\n")
    return {
        "job": "describe",
        "n_rows": prof.n_rows,
        "n_partitions": prof.n_partitions,
        "columns": prof.columns(),
    }


def cmd_produce(args) -> dict:
    """The reference's `drivel produce -n N`, distributed and seeded:
    infer a profile from --data (or parse a JSON Schema from --schema),
    then generate n rows that re-infer to the same schema."""
    spark = build_session("drivel-produce")
    if args.schema:
        import json as _json

        from drivel_spark.core import parse_json_schema
        from drivel_spark.produce.generator import produce_df

        with open(args.schema) as fh:
            node = parse_json_schema(_json.load(fh))
        out_df = produce_df(spark, node, args.n_rows, seed=args.seed)
    else:
        from drivel_spark.io import read_table
        from drivel_spark.produce.generator import produce_from_profile

        src = read_table(spark, args.data)
        prof = profile(src)
        out_df = produce_from_profile(spark, prof, args.n_rows, seed=args.seed)
    out_df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    return {"job": "produce", "n_rows": n, "out": args.out}


def _append_byte_tiers(constraints: list, args, df) -> None:
    """The opt-in payload tiers below the SNR decode, shared by validate
    and validate-delta: ``--check-wav-header`` (magics + declared
    fmt/sr/sizes) and ``--check-pcm-size`` (byte-length arithmetic),
    both pure Catalyst byte arithmetic in the scan, no decode
    (constraints/audio.py)."""
    if "bytes" not in df.columns:
        return
    from drivel_spark.constraints import PcmSizeConsistency, WavHeaderCheck

    if getattr(args, "check_wav_header", False):
        constraints.append(WavHeaderCheck("wav_header", "bytes"))
    if getattr(args, "check_pcm_size", False):
        constraints.append(PcmSizeConsistency("pcm_size_consistency", "bytes"))


def _write_report(report: str, passfail, violations) -> None:
    """``{report}/passfail`` (one file, written from the driver-side
    report frame's local relation) + ``{report}/violations`` — the
    layout a later ``validate-delta --prev-report`` reads back."""
    passfail.coalesce(1).write.mode("overwrite").parquet(f"{report}/passfail")
    violations.write.mode("overwrite").parquet(f"{report}/violations")


def cmd_validate(args) -> dict:
    spark = build_session("drivel-validate")
    with open(f"{args.data}/meta.json") as fh:
        meta = json.load(fh)
    baseline = None
    if args.baseline:
        with open(args.baseline, "rb") as fh:
            baseline = pickle.load(fh)

    # timed region: everything a production run does per batch —
    # scan, pass-1 profile, pass-2 constraints, report materialization.
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time()
    phases: dict[str, float] = {}
    from drivel_spark.io import read_table

    clips_ref = getattr(args, "clips", None) or f"{args.data}/clips"
    if args.checkpoint:
        _refuse_catalog_checkpoint(clips_ref)
    transcripts_ref = getattr(args, "transcripts", None) or f"{args.data}/transcripts"
    clips = read_table(spark, clips_ref)
    transcripts = read_table(spark, transcripts_ref)
    where = getattr(args, "where", None)
    if where:
        if args.checkpoint:
            raise SystemExit(
                "--where with --checkpoint is unsupported: the resumable "
                "profile would cover the full table while constraints "
                "cover only the slice"
            )
        # the daily operation at scale: validate one partition/slice;
        # the predicate reaches the parquet scan (PushedFilters), so
        # the job never reads the other slices' bytes
        clips = clips.filter(where)

    # ---- pass 1: schema + stats profile (optionally resumable) -------
    # launched on a driver thread so its scan overlaps pass 2;
    # validate() resolves the future at report-assembly time
    prof_pool = ThreadPoolExecutor(max_workers=1)
    resume_stats = None
    if args.checkpoint:
        store = CheckpointStore(args.checkpoint)

        def _prof():
            return resumable_profile(
                spark, clips_ref, store, run_id=args.run_id,
                columns=PROFILE_COLUMNS,
            )

        fut_prof = prof_pool.submit(_prof)
        prof_provider = lambda: fut_prof.result()[0]  # noqa: E731
    else:
        fut_prof = prof_pool.submit(profile, clips, columns=PROFILE_COLUMNS)
        prof_provider = fut_prof.result

    # ---- pass 2: constraints ------------------------------------------
    df = clips
    if getattr(args, "constraints", None):
        # a version-controlled contract file REPLACES the built-in
        # profile-shaped suite (constraints/specfile.py); --check-audio
        # and --check-pcm-size still append their opt-in tiers
        from drivel_spark.constraints.specfile import load_spec_file

        constraints = load_spec_file(args.constraints)
    else:
        constraints = _constraints(baseline)
    _append_byte_tiers(constraints, args, df)
    ds_df = None
    if args.check_audio and meta.get("with_audio") and "bytes" in df.columns:
        # the SNR decode reads the payload in the Python workers
        # (constraints/audio.py audio_row_source); the dataset-level
        # jobs keep their column-pruned JVM scans via ds_df
        flags, constraints = audio_check(constraints)
        ds_df = df
        df = audio_row_source(df, meta["n_rows"], seed=meta["seed"], flags=flags)

    scope = F.pmod(F.xxhash64(F.col("clip_id")), F.lit(args.n_scopes)).cast("long")
    t1 = time.time()
    res = validate(
        df,
        constraints,
        scope=scope,
        ref_tables={"transcripts": transcripts},
        profile=prof_provider,
        baseline_profile=baseline,
        keep_columns=["clip_id", "sr_hz", "dur_ms", "codec"],
        ds_df=ds_df,
    )
    phases["pass2_concurrent_s"] = round(time.time() - t1, 3)

    t1 = time.time()
    prof = prof_provider()
    if args.checkpoint:
        resume_stats = fut_prof.result()[1]
    prof_pool.shutdown()
    phases["profile_join_s"] = round(time.time() - t1, 3)

    # the report was built on the driver inside validate(); the
    # violation-row count is its _rows_any_violation constraint, so no
    # job touches the flags here
    t1 = time.time()
    passfail = res.passfail_pdf()
    n_violations = n_violation_rows(passfail)
    phases["reports_s"] = round(time.time() - t1, 3)
    if args.report:
        _write_report(args.report, res.passfail, res.violations)
    wall = time.time() - t0

    n_rows = meta["n_rows"]
    if where:
        # slice validation: throughput must be measured on rows actually
        # scanned, not the full-table metadata count
        n_rows = int(passfail[passfail.constraint == "_rows_any_violation"]["n_rows"].sum())
    digest = passfail_digest(passfail)

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
    quarantine_out = getattr(args, "quarantine_out", None)
    clean_out = getattr(args, "clean_out", None)
    enforce: dict | None = None
    if quarantine_out or clean_out:
        t1 = time.time()
        enforce = {}
        if quarantine_out:
            res.violations.write.mode("overwrite").parquet(quarantine_out)
            enforce["quarantine_out"] = quarantine_out
            enforce["n_quarantined"] = int(
                spark.read.parquet(quarantine_out).count()
            )
        if clean_out:
            bad_ids = res.violations.select("clip_id").dropDuplicates(
                ["clip_id"]
            )
            clips.join(bad_ids, "clip_id", "left_anti").write.mode(
                "overwrite"
            ).parquet(clean_out)
            enforce["clean_out"] = clean_out
            enforce["n_clean"] = int(spark.read.parquet(clean_out).count())
        enforce["enforce_wall_s"] = round(time.time() - t1, 3)

    # ---- violation slice attribution (outside the timed region) -----
    # --slice-dims codec,sr_hz: which dim combination concentrates the
    # row-level violations (ops/audit.py).  Numerators come from the
    # already-materialized violations table (keep-columns carry the
    # dims), denominators from a dims-only narrow scan — the payload
    # bytes and the constraint exprs (incl. the SNR decode) never
    # re-evaluate.
    slices_out: list | None = None
    if getattr(args, "slice_dims", None):
        from drivel_spark.ops import (
            constraint_slice_report,
            top_violation_slices,
            violation_slice_report_from_tables,
        )

        dims = [d.strip() for d in args.slice_dims.split(",") if d.strip()]
        missing = [d for d in dims if d not in res.violations.columns]
        if missing:
            raise SystemExit(
                f"--slice-dims {missing} not in the violation report's "
                f"kept columns {res.violations.columns}; add them to "
                "keep_columns or pick from those"
            )
        if getattr(args, "slice_per_constraint", False):
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
            srep.coalesce(1).write.mode("overwrite").parquet(
                f"{args.report}/slices"
            )
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
                "lift": None if r["lift"] is None else round(float(r["lift"]), 4),
                "excess": round(float(r["excess"]), 2),
            }
            for r in top.collect()
        ]

    history_out = None
    if getattr(args, "history_window", None):
        # close the loop on a checkpointed run: after this run's
        # commits land, score THIS run's metrics against the trailing
        # runs already in the store (constraints/history.py) — "the
        # data passed its constraints, but is tonight's run normal?"
        if not args.checkpoint:
            raise SystemExit("--history-window requires --checkpoint")
        from drivel_spark.constraints import (
            load_metrics_history,
            metric_anomaly_report,
        )

        hist = load_metrics_history(spark, args.checkpoint)
        hrep = metric_anomaly_report(
            hist,
            window=int(args.history_window),
            k=3.0,
            min_history=2,
            max_rel_change=getattr(args, "history_max_rel", None),
        )
        mine = hrep.where(F.col("run_id") == args.run_id).collect()
        history_out = {
            "n_metrics": len(mine),
            "n_hist_runs": int(max((r["n_hist"] for r in mine), default=0)),
            "anomalies": [
                {
                    "metric": r["metric"],
                    "value": r["value"],
                    "hist_median": r["hist_median"],
                    "robust_z": None
                    if r["robust_z"] is None
                    else round(r["robust_z"], 4),
                    "rel_change": None
                    if r["rel_change"] is None
                    else round(r["rel_change"], 4),
                }
                for r in mine
                if (r["is_anomaly"] or r["rel_anomaly"])
            ],
        }

    return {
        "job": "validate",
        "master": spark.sparkContext.master,
        "where": where,
        "n_rows": n_rows,
        "wall_s": round(wall, 3),
        "clips_per_sec": round(n_rows / wall, 1),
        "n_passfail_rows": int(len(passfail)),
        "passfail_digest": digest,  # must match across parallelism levels
        "n_violation_rows": n_violations,
        "all_passed": bool(res.all_passed()),
        "dataset_checks": [
            {k: d[k] for k in ("constraint", "n_violations", "passed")}
            for d in res.dataset
        ],
        "resume": resume_stats,
        "check_audio": bool(args.check_audio and meta.get("with_audio")),
        "phases": phases,
        "enforce": enforce,
        "violation_slices": slices_out,
        "history": history_out,
    }


def cmd_history(args) -> dict:
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

    spark = build_session("drivel-history")
    t0 = time.time()
    stream = getattr(args, "stream_checkpoint", None)
    if stream and args.checkpoint:
        raise SystemExit(
            "history: pass --checkpoint (batch commit table) OR "
            "--stream-checkpoint (validate-stream commit store), not both"
        )
    if stream:
        # per-file canary: each committed file's viol.<constraint> /
        # n_rows scored against the files committed before it
        hist = load_stream_batch_history(spark, stream)
    elif args.checkpoint:
        hist = load_metrics_history(spark, args.checkpoint)
    else:
        raise SystemExit("history: --checkpoint or --stream-checkpoint required")
    if args.metrics:
        wanted = [m.strip() for m in args.metrics.split(",") if m.strip()]
        hist = hist.where(F.col("metric").isin(wanted))
    rep = metric_anomaly_report(
        hist,
        window=args.window,
        k=args.k,
        min_history=args.min_history,
        max_rel_change=args.max_rel_change,
        abs_tolerance=getattr(args, "abs_tol", 0.0) or 0.0,
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
            rep.coalesce(1).write.mode("overwrite").parquet(args.out)
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
        "job": "history",
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
            {
                "run_id": r["run_id"],
                "metric": r["metric"],
                "value": r["value"],
                "hist_median": r["hist_median"],
                "robust_z": None
                if r["robust_z"] is None
                else round(r["robust_z"], 4),
                "rel_change": None
                if r["rel_change"] is None
                else round(r["rel_change"], 4),
                "is_anomaly": r["is_anomaly"],
                "rel_anomaly": r["rel_anomaly"],
            }
            for r in flagged
        ],
        "wall_s": round(time.time() - t0, 3),
    }


def cmd_validate_delta(args) -> dict:
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
    spark = build_session("drivel-validate-delta")
    with open(f"{args.data}/meta.json") as fh:
        meta = json.load(fh)
    with open(f"{args.old_data}/meta.json") as fh:
        old_meta = json.load(fh)
    if old_meta.get("seed") != meta.get("seed"):
        raise SystemExit(
            "validate-delta: old and new snapshots were prepared with "
            "different seeds; carried report rows would not match"
        )
    baseline = None
    if args.baseline:
        with open(args.baseline, "rb") as fh:
            baseline = pickle.load(fh)

    from concurrent.futures import ThreadPoolExecutor

    from drivel_spark.constraints import churned_scopes, validate_delta
    from drivel_spark.constraints.delta import scope_of
    from drivel_spark.io import read_table

    t0 = time.time()
    phases: dict[str, float] = {}
    clips = read_table(spark, f"{args.data}/clips")
    old_clips = read_table(spark, f"{args.old_data}/clips")
    transcripts = read_table(spark, f"{args.data}/transcripts")

    # ---- churn detection: narrow (key, hash) compare ------------------
    t1 = time.time()
    dirty, churn = churned_scopes(
        old_clips, clips, "clip_id", args.n_scopes
    )
    phases["churn_detect_s"] = round(time.time() - t1, 3)

    # ---- pass-1 profile over the full new snapshot (cheap scan; feeds
    # the Unique HLL context and Drift, exactly as full validate does)
    prof_pool = ThreadPoolExecutor(max_workers=1)
    fut_prof = prof_pool.submit(profile, clips, columns=PROFILE_COLUMNS)

    constraints = _constraints(baseline)
    _append_byte_tiers(constraints, args, clips)

    prepare_row_df = None
    if args.check_audio and meta.get("with_audio") and "bytes" in clips.columns:
        flags, constraints = audio_check(constraints)

        # applied AFTER the dirty-scope filter, so the decode scales
        # with churn, not table size
        def prepare_row_df(df):  # noqa: F811
            return audio_row_source(
                df, meta["n_rows"], seed=meta["seed"], flags=flags
            )

    row_cs = [c for c in constraints if c.is_row_level]
    ds_cs = [c for c in constraints if not c.is_row_level]

    prev_passfail = spark.read.parquet(f"{args.prev_report}/passfail")
    prev_violations = spark.read.parquet(f"{args.prev_report}/violations")

    t1 = time.time()
    res = validate_delta(
        clips,
        row_cs,
        ds_cs,
        key_col="clip_id",
        n_scopes=args.n_scopes,
        dirty_scopes=dirty,
        churn=churn,
        prev_passfail=prev_passfail,
        prev_violations=prev_violations,
        prepare_row_df=prepare_row_df,
        ref_tables={"transcripts": transcripts},
        profile=fut_prof.result,
        baseline_profile=baseline,
        keep_columns=["clip_id", "sr_hz", "dur_ms", "codec"],
    )
    phases["delta_validate_s"] = round(time.time() - t1, 3)
    prof_pool.shutdown()

    passfail = res.passfail_pdf
    digest = passfail_digest(passfail)
    if args.report:
        t1 = time.time()
        _write_report(args.report, passfail_df(spark, passfail), res.violations)
        phases["report_write_s"] = round(time.time() - t1, 3)
    wall = time.time() - t0
    n_total = int(meta["n_rows"])

    return {
        "job": "validate-delta",
        "master": spark.sparkContext.master,
        "n_rows": n_total,
        "n_rows_revalidated": int(res.n_rows_revalidated),
        "revalidate_fraction": round(
            res.n_rows_revalidated / n_total, 6
        ) if n_total else 0.0,
        "n_dirty_scopes": len(res.dirty_scopes),
        "n_scopes": args.n_scopes,
        "churn": res.churn,
        "wall_s": round(wall, 3),
        "clips_per_sec": round(n_total / wall, 1),
        "n_passfail_rows": int(len(passfail)),
        "passfail_digest": digest,  # must equal full validate's digest
        "n_violation_rows": n_violation_rows(passfail),
        "all_passed": bool(res.all_passed()),
        "dataset_checks": [
            {k: d[k] for k in ("constraint", "n_violations", "passed")}
            for d in res.dataset
        ],
        "check_audio": bool(args.check_audio and meta.get("with_audio")),
        "phases": phases,
    }


def cmd_validate_stream(args) -> dict:
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

    _refuse_stream_checkpoint(args.checkpoint, "validate-stream")
    spark = build_session("drivel-validate-stream")
    t0 = time.time()
    old = _flat_report(spark, args.report, "validate-stream")
    if getattr(args, "constraints", None):
        # same contract-file front-end as batch validate; the stream
        # accepts ROW-LEVEL specs only (resumable_rows raises on
        # dataset-level entries — uniqueness/referential belong to the
        # reconcile verb)
        from drivel_spark.constraints.specfile import load_spec_file

        row_cs = load_spec_file(args.constraints)
    else:
        # the batch suite's row-level half; its dataset-level checks
        # belong to the reconcile verb
        row_cs = [c for c in _constraints(None) if c.is_row_level]
    scope = F.pmod(F.xxhash64(F.col("clip_id")), F.lit(args.n_scopes)).cast("long")
    rows, stats = resumable_rows(
        spark, args.source, CheckpointStore(args.checkpoint), "validate-stream",
        row_cs, scope,
        # quarantine the narrow triage columns, not the audio bytes —
        # the violating clip is re-fetchable by id
        keep=["clip_id", "sr_hz", "dur_ms", "codec"],
        quarantine_dir=getattr(args, "quarantine_out", None),
        max_files=args.max_files_per_trigger,
    )
    totals = _write_flat_report(
        spark, args.report, rows, old[old.partition_id == GLOBAL_SCOPE]
    )
    wall = time.time() - t0
    return {
        "job": "validate-stream",
        "master": spark.sparkContext.master,
        "n_rows_total": int(rows.loc[rows.constraint == "_rows_any_violation", "n_rows"].sum()),
        "wall_s": round(wall, 3),
        "n_report_rows": int(len(totals)),
        "cumulative_digest": passfail_digest(totals),
        "n_violation_rows_total": n_violation_rows(totals),
        "resume": stats,
    }


def _flat_report(spark, report: str, verb: str):
    """The pass/fail rows of the flat ``--report`` dir that
    ``validate-stream`` and ``reconcile`` share (none when it does not
    exist yet).  A dir of ``batch_id=N`` partitions (the layout of the
    Structured Streaming ``validate-stream``) is refused before
    anything is computed."""
    import pandas as pd

    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    fs = Path(report).getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.globStatus(Path(f"{report}/batch_id=*")):
        raise SystemExit(
            f"{report} holds batch_id=N report partitions; {verb} now keeps one "
            "flat pass/fail report there: pass a new --report dir"
        )
    if not fs.exists(Path(report)):
        return pd.DataFrame(columns=PASSFAIL_COLS)
    return spark.read.schema(PASSFAIL_SCHEMA).parquet(report).toPandas()


def _write_flat_report(spark, report: str, fresh, kept):
    """Overwrite ``report`` with a verb's ``fresh`` rows plus the
    ``kept`` rows the other verb wrote; returns the report frame."""
    import pandas as pd

    totals = normalize_passfail(pd.concat([fresh, kept], ignore_index=True))
    passfail_df(spark, totals).coalesce(1).write.mode("overwrite").parquet(report)
    return totals


def cmd_screen_stream(args) -> dict:
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
    from drivel_spark.io import local_df

    _refuse_stream_checkpoint(args.checkpoint, "screen-stream")
    kinds = (
        sorted(AUDIO_SCREENS)
        if args.kinds == "all"
        else [k.strip() for k in args.kinds.split(",") if k.strip()]
    )
    spark = build_session("drivel-screen-stream")
    t0 = time.time()
    totals, stats = resumable_screen(
        spark, args.source, CheckpointStore(args.checkpoint), "screen-stream", kinds,
        quarantine_dir=getattr(args, "quarantine_out", None),
        max_files=args.max_files_per_trigger,
    )
    local_df(
        spark, totals.itertuples(index=False),
        "kind string, n_clips long, n_flagged long, n_undecodable long",
    ).write.mode("overwrite").parquet(args.report)
    totals = totals.sort_values("kind").reset_index(drop=True)
    wall = time.time() - t0
    return {
        "job": "screen-stream",
        "master": spark.sparkContext.master,
        "kinds": kinds,
        "n_clips_total": int(totals["n_clips"].max()),
        "n_flagged_total": int(totals["n_flagged"].sum()),
        "wall_s": round(wall, 3),
        "cumulative_digest": passfail_digest(totals),
        "per_kind": {
            r["kind"]: int(r["n_flagged"]) for _, r in totals.iterrows()
        },
        "resume": stats,
    }


def cmd_reconcile(args) -> dict:
    """Dataset-level reconciliation for a validated stream: row checks
    run incrementally (``validate-stream``); exact global uniqueness
    (and clip↔transcript referential completeness, when a transcripts
    table is given) run HERE as a periodic batch over the same source
    table.  The GLOBAL_SCOPE result rows replace those of the shared
    flat ``--report`` (a reconciliation is a snapshot of the current
    table) and its row-level rows stay, so the report after stream +
    reconcile equals the full batch engine's pass/fail table on the
    same data (pinned by tests/test_streaming.py)."""
    from drivel_spark.io import read_table

    spark = build_session("drivel-reconcile")
    t0 = time.time()
    old = _flat_report(spark, args.report, "reconcile")
    clips = read_table(spark, args.source)
    cs: list = [Unique("clip_id_unique", "clip_id")]
    ref_tables = {}
    if args.transcripts:
        ref_tables["transcripts"] = read_table(spark, args.transcripts)
        cs.append(
            Referential("clip_has_transcript", "clip_id", "transcripts", "clip_id")
        )
    res = validate(clips, cs, ref_tables=ref_tables)
    totals = _write_flat_report(
        spark, args.report, res.passfail_pdf(), old[old.partition_id != GLOBAL_SCOPE]
    )
    wall = time.time() - t0
    return {
        "job": "reconcile",
        "master": spark.sparkContext.master,
        "wall_s": round(wall, 3),
        "dataset_checks": [
            {k: d[k] for k in ("constraint", "n_violations", "passed")}
            for d in res.dataset
        ],
        "n_report_rows": int(len(totals)),
        "cumulative_digest": passfail_digest(totals),
    }


def _refuse_stream_checkpoint(checkpoint: str, verb: str) -> None:
    """Refuse a Structured Streaming checkpoint dir (``metadata`` +
    ``offsets/``) written by an earlier ``verb``, before anything is
    written: the verb keeps a per-file commit store there now."""
    if os.path.isfile(os.path.join(checkpoint, "metadata")) and os.path.isdir(
        os.path.join(checkpoint, "offsets")
    ):
        raise SystemExit(
            f"{checkpoint} holds a Structured Streaming checkpoint; {verb} now keeps "
            "a per-file commit store there: pass a new --checkpoint dir"
        )


def cmd_profile_stream(args) -> dict:
    """Incremental profile on the per-file commit store
    (checkpoint/runner.py resumable_profile, the store ``validate
    --checkpoint`` uses): profiles only the files with no commit for
    their current (path, size, mtime), ``--max-files-per-trigger`` files
    per commit, and prints the profile of everything committed (equal
    to the batch profile on the exact fields, pinned by
    tests/test_streaming.py)."""
    _refuse_stream_checkpoint(args.checkpoint, "profile-stream")
    spark = build_session("drivel-profile-stream")
    t0 = time.time()
    cols = args.columns.split(",") if args.columns else PROFILE_COLUMNS
    prof, stats = resumable_profile(
        spark, args.source, CheckpointStore(args.checkpoint), run_id="profile-stream",
        columns=cols, max_files=args.max_files_per_trigger,
    )
    sys.stderr.write(prof.describe() + "\n")
    wall = time.time() - t0
    return {
        "job": "profile-stream",
        "master": spark.sparkContext.master,
        "n_rows_total": prof.n_rows,
        "wall_s": round(wall, 3),
        "columns": prof.columns(),
        "n_state_commits": len(
            [f for f in os.listdir(args.checkpoint) if f.endswith(".parquet")]
        ),
        "resume": stats,
    }


def cmd_track_stream(args) -> dict:
    """Keyed online tracking via applyInPandasWithState: per-key
    running column stats over a growing source, state in the streaming
    state store (streaming/stateful.py).  Prints the current per-key
    rows; re-invocation with the same checkpoint resumes the counters."""
    from drivel_spark.fixtures import CLIPS_SCHEMA
    from drivel_spark.streaming import latest_stats, running_stats_stream

    spark = build_session("drivel-track-stream")
    t0 = time.time()
    running_stats_stream(
        spark,
        args.source,
        CLIPS_SCHEMA,
        args.key,
        args.value,
        args.checkpoint,
        args.out,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if not os.path.isdir(args.out):
        # an empty source runs zero batches: no update rows, no out dir
        rows = []
    else:
        import math

        current = latest_stats(spark, args.out, args.key).orderBy(args.key)
        # NULL stats (all-null keys) round-trip as NaN doubles through
        # parquet; json.dumps would emit literal NaN (invalid JSON)
        rows = [
            {
                k: (None if isinstance(v, float) and math.isnan(v) else v)
                for k, v in r.asDict().items()
            }
            for r in current.collect()
        ]
    return {
        "job": "track-stream",
        "master": spark.sparkContext.master,
        "key": args.key,
        "value": args.value,
        "n_keys": len(rows),
        "wall_s": round(time.time() - t0, 3),
        "stats": rows,
    }


def cmd_window_stream(args) -> dict:
    """Event-time windowed aggregation with watermark over a growing
    source (streaming/windows.py): append-mode per-window stats,
    finalized exactly once when the watermark closes the window; late
    rows beyond the watermark are dropped.  Re-invocation with the same
    checkpoint resumes the watermark + open-window state."""
    import math

    from drivel_spark.streaming import load_windowed_stats, windowed_stats_stream

    spark = build_session("drivel-window-stream")
    t0 = time.time()
    windowed_stats_stream(
        spark,
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
    if not os.path.isdir(args.out):
        rows = []
    else:
        order = ["window_start"] + ([args.key] if args.key else [])
        rows = [
            {
                k: (
                    None
                    if isinstance(v, float) and math.isnan(v)
                    else str(v) if k in ("window_start", "window_end") else v
                )
                for k, v in r.asDict().items()
            }
            for r in load_windowed_stats(spark, args.out).orderBy(*order).collect()
        ]
    return {
        "job": "window-stream",
        "master": spark.sparkContext.master,
        "event_col": args.event_col,
        "value": args.value,
        "window": args.window,
        "watermark": args.watermark,
        "n_windows": len(rows),
        "wall_s": round(time.time() - t0, 3),
        "windows": rows,
    }


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="drivel-spark-job")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("prepare")
    sp.add_argument("--n-rows", type=int, default=20000)
    sp.add_argument("--partitions", type=int, default=128)
    sp.add_argument("--seed", type=int, default=42)
    sp.add_argument("--variant", default="default")
    sp.add_argument("--no-audio", action="store_true")
    sp.add_argument("--shared-seg-every", type=int, default=0,
                    help="plant one common 750ms PCM segment into every "
                         "k-th eligible clip (the jingle fixture hook, "
                         "for dup-segments)")
    sp.add_argument("--out", required=True)

    sm = sub.add_parser("mix")
    sm.add_argument("--data", required=True, help="source table (path or iceberg: ref)")
    sm.add_argument("--by", required=True, help="source/group column")
    sm.add_argument("--id-col", default="doc_id")
    sm.add_argument("--weights", required=True, help="key=w,key=w target shares")
    sm.add_argument("--budget", type=float, default=None,
                    help="total kept rows (or --size-col units); default = largest exact-proportion budget")
    sm.add_argument("--size-col", default=None, help="token/size column for the budget")
    sm.add_argument("--seed", type=int, default=42)
    sm.add_argument("--out", default=None, help="write survivors here (parquet)")

    sg2 = sub.add_parser("suggest")
    sg2.add_argument("--data", required=True, help="CLEAN table (path or iceberg: ref)")
    sg2.add_argument("--columns", default=None, help="comma-separated subset")
    sg2.add_argument("--margin", type=float, default=0.0,
                     help="widen numeric ranges by this fraction of the span")
    sg2.add_argument("--quantile-range", default=None,
                     help="'p_lo,p_hi' — robust numeric envelopes from the "
                          "KLL sketch instead of exact min/max")
    sg2.add_argument("--with-drift", action="store_true",
                     help="also emit drift gates (validate needs --baseline)")
    sg2.add_argument("--with-distribution", action="store_true",
                     help="also emit entropy gates at each enum column's "
                          "observed Shannon entropy ±25%")
    sg2.add_argument("--out", required=True, help="spec-file JSON path")

    sl = sub.add_parser("leakage")
    sl.add_argument("--data", required=True, help="corpus table (path or iceberg: ref)")
    sl.add_argument("--id-col", default="doc_id")
    sl.add_argument("--text-col", default="text")
    sl.add_argument("--weights", required=True, help="key=w,key=w split shares")
    sl.add_argument("--seed", type=int, default=42)
    sl.add_argument("--group-col", default=None,
                    help="key the split on this column (leakage-safe groups)")
    sl.add_argument("--near", action="store_true",
                    help="also run the MinHash near-dup tier (row-keyed only)")
    sl.add_argument("--threshold", type=float, default=0.8,
                    help="Jaccard threshold for --near")
    sl.add_argument("--out", default=None,
                    help="write leak tables here (/exact and /near)")

    sh = sub.add_parser("shuffle")
    sh.add_argument("--data", required=True, help="source table (path or iceberg: ref)")
    sh.add_argument("--id-col", default="doc_id")
    sh.add_argument("--seed", type=int, default=42)
    sh.add_argument("--shards", type=int, default=None,
                    help="round-robin shard count; written hive-partitioned by shard")
    sh.add_argument("--partitions", type=int, default=None,
                    help="row-id assignment bucket count (defaults to input partitions)")
    sh.add_argument("--where", default=None,
                    help="SQL predicate pushed to the source scan")
    sh.add_argument("--out", required=True)

    ss = sub.add_parser("segment")
    ss.add_argument("--data", default=None, help="db dir containing /clips")
    ss.add_argument("--clips", default=None,
                    help="override clips table (path or iceberg:db.tbl ref)")
    ss.add_argument("--out", required=True, help="segments table dir")
    ss.add_argument("--seg-ms", type=int, default=500)
    ss.add_argument("--min-tail-ms", type=int, default=200)
    ss.add_argument("--where", default=None,
                    help="SQL predicate pushed to the clips scan")

    sc = sub.add_parser("screen")
    sc.add_argument("--data", default=None, help="db dir containing /clips")
    sc.add_argument("--clips", default=None,
                    help="override clips table (path or iceberg:db.tbl ref)")
    sc.add_argument("--kind", required=True,
                    help=f"one of {sorted(AUDIO_SCREENS)}, or a comma "
                         "list of fused-capable kinds for a one-decode "
                         "fused run")
    sc.add_argument("--out", default=None,
                    help="optional per-clip report table dir")
    sc.add_argument("--flag", default=None,
                    help="SQL predicate over the report columns "
                         "(default: the screen's published policy)")
    sc.add_argument("--where", default=None,
                    help="SQL predicate pushed to the clips scan")
    sc.add_argument("--checkpoint", default=None,
                    help="per-file lineage store dir: commit each file's "
                         "screen counts so an interrupted corpus screen "
                         "resumes without re-decoding (fused kinds only)")
    sc.add_argument("--run-id", default=None,
                    help="lineage run id (default 'screen')")

    sd = sub.add_parser("dup-segments")
    sd.add_argument("--data", default=None, help="db dir containing /clips")
    sd.add_argument("--clips", default=None,
                    help="override clips table (path or iceberg:db.tbl ref)")
    sd.add_argument("--out", required=True, help="duplicated-span table dir")
    sd.add_argument("--win-ms", type=int, default=500)
    sd.add_argument("--hop-ms", type=int, default=250)
    sd.add_argument("--within-clip", action="store_true",
                    help="also flag repetition inside a single clip")
    sd.add_argument("--where", default=None,
                    help="SQL predicate pushed to the clips scan")

    sb = sub.add_parser("baseline")
    sb.add_argument("--data", required=True)
    sb.add_argument("--out", required=True)
    sb.add_argument("--columns", default=None, help="comma-separated subset")
    sb.add_argument("--by", default=None,
                    help="grouped baseline: one profile per value of this "
                         "category column (per-codec drift reference)")

    sv = sub.add_parser("validate")
    sv.add_argument("--data", required=True)
    sv.add_argument("--clips", default=None,
                    help="override clips table (path or iceberg:db.tbl ref)")
    sv.add_argument("--transcripts", default=None,
                    help="override transcripts table (path or iceberg:db.tbl ref)")
    sv.add_argument("--baseline", default=None)
    sv.add_argument("--checkpoint", default=None)
    sv.add_argument("--run-id", default="run0")
    sv.add_argument("--check-audio", action="store_true")
    sv.add_argument("--check-pcm-size", action="store_true")
    sv.add_argument("--check-wav-header", action="store_true",
                    help="structural RIFF/fmt/data header tier: magics, mono/"
                         "16-bit, header sr == metadata sr, declared sizes — "
                         "decode-free Catalyst byte arithmetic")
    sv.add_argument("--constraints", help="JSON constraint-spec file replacing the built-in suite")
    sv.add_argument("--n-scopes", type=int, default=64)
    sv.add_argument("--report", default=None)
    sv.add_argument("--where", default=None,
                    help="SQL predicate pushed to the clips scan — validate "
                         "only the matching slice (e.g. one partition)")
    sv.add_argument("--quarantine-out", default=None,
                    help="write row-level violations (kept cols + failed "
                         "constraint list) to this parquet dir for triage")
    sv.add_argument("--clean-out", default=None,
                    help="enforcement: write FULL source rows that passed "
                         "every row-level constraint to this parquet dir "
                         "(violating clip_ids excluded via left_anti)")
    sv.add_argument("--slice-dims", default=None,
                    help="comma list of kept columns (e.g. codec,sr_hz): "
                         "attribute row-level violations to dim slices "
                         "(ops/audit.py violation_slice_report); top-10 on "
                         "stdout, full report to <report>/slices")
    sv.add_argument("--history-window", type=int, default=None,
                    help="with --checkpoint: after the run commits, score "
                         "THIS run's metrics against the trailing N runs in "
                         "the store (constraints/history.py) and report "
                         "anomalies in the output JSON")
    sv.add_argument("--history-max-rel", type=float, default=None,
                    help="with --history-window: also flag metrics whose "
                         "run-over-run relative change exceeds this")
    sv.add_argument("--slice-per-constraint", action="store_true",
                    help="with --slice-dims: score each failed constraint "
                         "against its own base rate (constraint_slice_report) "
                         "instead of the pooled any-violation rate")

    shy = sub.add_parser("history")
    shy.add_argument("--checkpoint", default=None,
                     help="commit-table dir accumulated by validate/profile "
                          "--checkpoint runs")
    shy.add_argument("--stream-checkpoint", default=None,
                     help="validate-stream commit store: score each committed "
                          "file's violation counts + row count against the "
                          "files committed before it")
    shy.add_argument("--window", type=int, default=10,
                     help="trailing runs in the reference window")
    shy.add_argument("--k", type=float, default=3.0,
                     help="robust fence multiplier (median +/- k*1.4826*MAD)")
    shy.add_argument("--min-history", type=int, default=3,
                     help="runs required before a verdict (younger -> NULL)")
    shy.add_argument("--max-rel-change", type=float, default=None,
                     help="also flag |value - prev| / |prev| above this")
    shy.add_argument("--abs-tol", type=float, default=0.0,
                     help="absolute deviation floor under BOTH detectors — "
                          "count metrics stepping by <= this never alarm")
    shy.add_argument("--metrics", default=None,
                     help="comma-separated metric-name subset")
    shy.add_argument("--out", default=None,
                     help="write the full scored report parquet here")

    svd = sub.add_parser("validate-delta")
    svd.add_argument("--data", required=True, help="NEW snapshot db dir")
    svd.add_argument("--old-data", required=True, help="previous snapshot db dir")
    svd.add_argument("--prev-report", required=True,
                     help="report dir a prior `validate --report` (or "
                          "validate-delta --report) wrote for the old snapshot")
    svd.add_argument("--baseline", default=None)
    svd.add_argument("--check-audio", action="store_true")
    svd.add_argument("--check-pcm-size", action="store_true")
    svd.add_argument("--check-wav-header", action="store_true")
    svd.add_argument("--n-scopes", type=int, default=64,
                     help="must match the previous report's value")
    svd.add_argument("--report", default=None,
                     help="write the MERGED report here (chains into the "
                          "next day's --prev-report)")

    sdf = sub.add_parser("diff")
    sdf.add_argument("--data", default=None, help="db dir containing /clips")
    sdf.add_argument("--clips", default=None,
                     help="override clips table (path or iceberg:db.tbl ref)")
    sdf.add_argument("--baseline", required=True,
                     help="baseline profile pickle from the `baseline` verb")
    sdf.add_argument("--columns", default=None, help="comma-separated subset")
    sdf.add_argument("--gate", action="store_true",
                     help="classify each change with a backward-compat "
                          "severity (profiling/compat.py) and emit the "
                          "table-level verdict / gate_passed fields")

    sd = sub.add_parser("describe")
    sd.add_argument("--data", default=None, help="path or iceberg:db.tbl")
    sd.add_argument("--schema", default=None,
                    help="describe a JSON Schema file instead of scanning data "
                         "(the reference's --from-schema, main.rs:30-32)")
    sd.add_argument("--columns", default=None, help="comma-separated subset")
    sd.add_argument("--json-schema", action="store_true")
    sd.add_argument("--extended", action="store_true",
                    help="lossless JSON Schema (keeps bounds the reference drops)")
    sd.add_argument("--infer-enum", action="store_true",
                    help="enable the enum post-pass (reference main.rs:34-37)")
    sd.add_argument("--enum-max-uniq", type=float, default=0.1,
                    help="max unique/count ratio for enum (main.rs:38-41)")
    sd.add_argument("--enum-min-n", type=int, default=1,
                    help="min sample size for enum (main.rs:42-45)")

    sg = sub.add_parser("produce")
    sg.add_argument("--data", default=None, help="infer the schema from this table")
    sg.add_argument("--schema", default=None, help="or parse this JSON Schema file")
    sg.add_argument("--n-rows", type=int, default=1000)
    sg.add_argument("--seed", type=int, default=42)
    sg.add_argument("--out", required=True)

    svs = sub.add_parser("validate-stream")
    svs.add_argument("--source", required=True, help="growing clips parquet dir")
    svs.add_argument("--report", required=True,
                     help="flat pass/fail report dir shared with reconcile "
                          "(row-level rows overwritten)")
    svs.add_argument("--checkpoint", required=True, help="per-file commit store dir")
    svs.add_argument("--n-scopes", type=int, default=64)
    svs.add_argument("--max-files-per-trigger", type=int, default=None,
                     help="files validated and committed per chunk (default: all)")
    svs.add_argument("--constraints",
                     help="JSON constraint-spec file (row-level types only)")
    svs.add_argument("--quarantine-out", default=None,
                     help="streaming gate: write the violating rows (triage "
                          "columns + failed list) of every committed file to "
                          "this dir (overwritten)")

    sss = sub.add_parser("screen-stream")
    sss.add_argument("--source", required=True, help="growing clips parquet dir")
    sss.add_argument("--report", required=True,
                     help="per-kind totals of every committed file (overwritten)")
    sss.add_argument("--checkpoint", required=True, help="per-file commit store dir")
    sss.add_argument("--kinds", default="quality,dropout,hum",
                     help="comma list from AUDIO_SCREENS, or 'all'")
    sss.add_argument("--max-files-per-trigger", type=int, default=None,
                     help="files screened and committed per chunk (default: all)")
    sss.add_argument("--quarantine-out", default=None,
                     help="write the flagged clip ids (+ the flagging screen "
                          "kind) of every committed file to this dir (overwritten)")

    sr = sub.add_parser("reconcile")
    sr.add_argument("--source", required=True, help="the streamed clips parquet dir")
    sr.add_argument("--report", required=True,
                    help="the validate-stream report dir (its GLOBAL_SCOPE "
                         "rows are overwritten)")
    sr.add_argument("--transcripts", default=None,
                    help="transcripts table (path or iceberg:db.tbl) for the "
                         "referential check; omitted = uniqueness only")

    st = sub.add_parser("track-stream")
    st.add_argument("--source", required=True, help="growing clips parquet dir")
    st.add_argument("--key", default="codec", help="bounded-cardinality key column")
    st.add_argument("--value", default="dur_ms", help="numeric column to track")
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--out", required=True, help="per-batch update rows dir")
    st.add_argument("--max-files-per-trigger", type=int, default=None)

    sw = sub.add_parser("window-stream")
    sw.add_argument("--source", required=True, help="growing parquet dir")
    sw.add_argument(
        "--schema",
        default="event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
        help="source schema (streaming reads need one); default: events table",
    )
    sw.add_argument("--event-col", default="ts", help="event-time timestamp column")
    sw.add_argument("--value", default="value", help="numeric column to aggregate")
    sw.add_argument("--key", default=None, help="optional sub-group column")
    sw.add_argument("--window", default="10 minutes")
    sw.add_argument("--slide", default=None, help="slide < window → sliding windows")
    sw.add_argument("--watermark", default="10 minutes", help="max allowed lateness")
    sw.add_argument("--checkpoint", required=True)
    sw.add_argument("--out", required=True, help="finalized per-window rows dir")
    sw.add_argument("--max-files-per-trigger", type=int, default=None)

    sps = sub.add_parser("profile-stream")
    sps.add_argument("--source", required=True, help="growing clips parquet dir")
    sps.add_argument("--checkpoint", required=True, help="per-file commit store dir")
    sps.add_argument("--columns", default=None, help="comma-separated subset")
    sps.add_argument("--max-files-per-trigger", type=int, default=None,
                     help="files profiled and committed per chunk (default: all)")

    args = p.parse_args(argv)
    out = {
        "prepare": cmd_prepare,
        "segment": cmd_segment,
        "screen": cmd_screen,
        "dup-segments": cmd_dup_segments,
        "leakage": cmd_leakage,
        "shuffle": cmd_shuffle,
        "suggest": cmd_suggest,
        "mix": cmd_mix,
        "baseline": cmd_baseline,
        "validate": cmd_validate,
        "history": cmd_history,
        "validate-delta": cmd_validate_delta,
        "diff": cmd_diff,
        "describe": cmd_describe,
        "produce": cmd_produce,
        "validate-stream": cmd_validate_stream,
        "screen-stream": cmd_screen_stream,
        "reconcile": cmd_reconcile,
        "track-stream": cmd_track_stream,
        "window-stream": cmd_window_stream,
        "profile-stream": cmd_profile_stream,
    }[args.cmd](args)
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
