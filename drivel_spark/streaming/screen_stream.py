"""Incremental audio-QA screening via Structured Streaming.

The batch ``screen`` job verb (job.py cmd_screen) runs one screen from
the AUDIO_SCREENS family (ops/multimodal.py) over a snapshot of the
clips table; at 10^12-clip scale new clips arrive continuously and
re-decoding the whole corpus per arrival is O(history) — and decode is
the expensive part of every screen, so re-running it over old clips is
far worse than re-running the cheap metadata constraints.  This module
runs the SAME screen ops over a stream of clip files:

* ``readStream`` file source — each micro-batch sees only NEW files
  (exactly-once via ``checkpointLocation``, same discipline as
  validate_stream);
* per micro-batch, the selected screens run as ONE fused narrow-scan →
  Arrow-map pass (ops/multimodal.py screen_report: one decode + one
  shared rFFT per clip) whenever every kind is fused-capable, falling
  back to one pass per screen otherwise (no shuffle either way; the
  per-clip reports are never joined — every flag predicate reduces in
  a single aggregation to the per-kind summaries);
* per-batch DELTA rows (kind, n_clips, n_flagged, n_undecodable) are
  committed to ``report_dir/batch_id=N`` with partition-overwrite, so
  an at-least-once foreachBatch replay rewrites the same delta instead
  of appending a duplicate — cumulative totals stay exactly-once and
  the streaming state itself is EMPTY (no watermark, no state store
  growth);
* optional quarantine: the per-clip ids flagged by each screen (plus
  the flagging ``kind``) go to ``quarantine_dir/batch_id=N`` under the
  same overwrite discipline — the enforcement analog of
  ``validate_stream(quarantine_dir=...)``, but for content-level audio
  defects no metadata constraint can see.

Cumulative counts are a trivial SUM over the report table
(:func:`cumulative_screen`), NOT a rescan of the audio — so "how many
clips has the hum screen ever flagged" stays O(batches × kinds) however
large the corpus grows.

Reference parity note: the reference engine (hgrsd/drivel) is strictly
batch (main.rs: read file / stdin → infer → emit); streaming screens
are a beyond-reference addition in the spirit of its infer-then-check
loop applied to a continuously-arriving corpus.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.multimodal import (
    AUDIO_SCREENS,
    FUSED_SCREEN_FIELDS,
    screen_count_aggs,
    screen_report,
    screen_undecodable_col,
)
from .sink import read_batch_dirs

SCREEN_REPORT_SCHEMA = (
    "kind string, n_clips long, n_flagged long, n_undecodable long"
)


def _resolve(kinds: list[str], flags: Optional[dict]) -> list[tuple]:
    """(kind, op, flag_sql) triples; unknown kinds fail fast on the
    driver before any stream starts."""
    flags = flags or {}
    out = []
    for kind in kinds:
        if kind not in AUDIO_SCREENS:
            raise ValueError(
                f"unknown screen {kind!r}; one of {sorted(AUDIO_SCREENS)}"
            )
        op, default_flag = AUDIO_SCREENS[kind]
        out.append((kind, op, flags.get(kind) or default_flag))
    if not out:
        raise ValueError("need at least one screen kind")
    return out


def screen_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    kinds: list[str],
    report_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
    flags: Optional[dict] = None,
    quarantine_dir: Optional[str] = None,
    id_cols: Optional[list[str]] = None,
):
    """Start (and with ``available_now`` run to completion) the
    incremental screening stream.  Returns the StreamingQuery.

    ``kinds`` selects screens from ``AUDIO_SCREENS``; ``flags``
    optionally overrides a screen's published flag policy with any SQL
    expression over that screen's report columns (same override the
    batch ``screen --flag`` verb offers).  ``id_cols`` (default
    ``["clip_id"]``) are carried into the quarantine rows.

    The fused-capable subset of ``kinds`` (≥2 of FUSED_SCREEN_FIELDS)
    is decoded ONCE per micro-batch through the fused screen_report
    kernel with all its flag/undecodable counts in one aggregation;
    the remaining kinds each decode the batch once more (persisted so
    those passes and the quarantine filter share one read of the
    source files).  ``kinds='all'`` therefore costs 1 + n_non_fused
    decode passes, not len(kinds).
    """
    screens = _resolve(kinds, flags)
    ids = list(id_cols or ["clip_id"])

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    # fused subset: every screen whose math lives in the shared
    # per-clip kernels runs in ONE decode pass (ops/multimodal.py
    # screen_report) with all its flag/undecodable counts in one
    # shuffle-free aggregation; the remaining kinds fall back to one
    # Arrow pass each.  `--kinds all` thus costs (1 + n_non_fused)
    # decode passes per micro-batch, not len(kinds).  Counts stay
    # identical to the per-screen ops (FUSED_SCREEN_BAD carries the
    # two guard quirks).  Fusing a single kind buys nothing — it stays
    # on its own op.
    fused_screens = [s for s in screens if s[0] in FUSED_SCREEN_FIELDS]
    rest_screens = [s for s in screens if s[0] not in FUSED_SCREEN_FIELDS]
    if len(fused_screens) < 2:
        fused_screens, rest_screens = [], list(screens)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        spark = batch_df.sparkSession
        persisted = []
        try:
            if rest_screens:
                # the per-op passes (and the quarantine filter) re-scan
                # the batch: share one read of the source files
                batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
                persisted.append(batch_df)
                if batch_df.isEmpty():
                    return
            counts: dict = {}
            flagged = []
            if fused_screens:
                fused = [kind for kind, _, _ in fused_screens]
                rep = screen_report(batch_df, fused, id_cols=ids)
                if quarantine_dir is not None:
                    # the quarantine projection is a second job over the
                    # (small, bytes-free) metric report: keep the single
                    # decode pass single by persisting its output
                    rep = rep.persist(StorageLevel.MEMORY_AND_DISK)
                    persisted.append(rep)
                row = rep.agg(*screen_count_aggs(fused, flags)).collect()[0]
                if row["n_clips"] == 0 and not rest_screens:
                    return
                for kind in fused:
                    counts[kind] = (int(row["n_clips"]), int(row[f"f_{kind}"]),
                                    int(row[f"b_{kind}"]))
                if quarantine_dir is not None:
                    flag_arr = F.array_compact(
                        F.array(
                            *[
                                F.when(F.expr(flag), F.lit(kind)).otherwise(
                                    F.lit(None)
                                )
                                for kind, _, flag in fused_screens
                            ]
                        )
                    )
                    flagged.append(
                        rep.select(*ids, F.explode(flag_arr).alias("kind"))
                    )
            for kind, op, flag in rest_screens:
                r = op(batch_df)
                row = r.agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.count(F.when(F.expr(flag), 1)).alias("__f"),
                    F.count(
                        F.when(F.col(screen_undecodable_col(r)).isNull(), 1)
                    ).alias("__b"),
                ).collect()[0]
                counts[kind] = (int(row["__n"]), int(row["__f"]),
                                int(row["__b"]))
                if quarantine_dir is not None:
                    flagged.append(
                        r.filter(F.expr(flag)).select(
                            *ids, F.lit(kind).alias("kind")
                        )
                    )
            from ..io import local_df

            # Arrow local relation (io.local_df): a list-createDataFrame
            # + coalesce(1) here cost ~3.2s/batch at local[32] (its 32
            # pickled slices evaluate sequentially through one Python
            # runner each); the arrow relation writes in ~0.1s
            report = local_df(
                spark,
                [(kind, *counts[kind]) for kind, _, _ in screens],
                SCREEN_REPORT_SCHEMA,
            )
            # idempotent per-batch commit: overwrite THIS batch's dir
            report.coalesce(1).write.mode("overwrite").parquet(
                f"{report_dir}/batch_id={int(batch_id)}"
            )
            if quarantine_dir is not None:
                q = flagged[0]
                for fdf in flagged[1:]:
                    q = q.unionByName(fdf)
                q.write.mode("overwrite").parquet(
                    f"{quarantine_dir}/batch_id={int(batch_id)}"
                )
        finally:
            for df in persisted:
                df.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def cumulative_screen(spark: SparkSession, report_dir: str) -> DataFrame:
    """Fold the per-batch delta rows into corpus-lifetime totals per
    screen kind — a tiny aggregation over the report table (O(batches ×
    kinds) rows), never a rescan of the audio.  A report dir with no
    ``batch_id=*`` commits yet yields an empty DataFrame with the
    report schema."""
    rep = read_batch_dirs(spark, report_dir, SCREEN_REPORT_SCHEMA)
    return rep.groupBy("kind").agg(
        F.sum("n_clips").alias("n_clips"),
        F.sum("n_flagged").alias("n_flagged"),
        F.sum("n_undecodable").alias("n_undecodable"),
    )
