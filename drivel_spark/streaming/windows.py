"""Event-time windowed streaming aggregation with watermark-driven
late-data handling — the standard Structured Streaming construct the
foreachBatch modules (file-grain deltas) and applyInPandasWithState
(per-key running counters) deliberately don't cover: "per 10-minute
event-time window, what are this key's stats, finalized once the
watermark passes the window end".

Semantics (all stock Spark, no custom state):

* ``withWatermark(event_col, delay)`` bounds how late a row may arrive:
  the watermark trails the max event time seen by ``delay``, windows
  whose end < watermark are FINAL, and rows older than the watermark
  are dropped — that bound is what lets the state store evict closed
  windows, so state is O(open windows × keys), not O(stream length).
* ``groupBy(F.window(event_col, size, slide))`` is the event-time
  bucketing; the aggregation underneath is an ordinary partial+final
  hash agg (map-side combine per micro-batch partition).
* append output mode emits each window exactly once, when it closes —
  the right contract for a downstream table of per-window results.

At 10^12 rows none of this accumulates: each micro-batch shuffles only
its own rows on (window, key), and the state store holds only windows
the watermark hasn't closed.

``windowed_stats`` is batch/stream agnostic (watermark is applied only
on a streaming DataFrame), so the SAME plan is the streaming query, the
batch oracle in the tests, and the driver contract query — stream ≡
batch is pinned by construction plus the late-row drop test.

Reference parity note: the reference engine (hgrsd/drivel,
reference/src) is a single-pass batch CLI with no streaming surface;
this module is part of the beyond-reference scale layer (SURVEY.md §2,
streaming row).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import batch_dir_sink, read_batch_dirs

__all__ = [
    "windowed_stats",
    "windowed_stats_stream",
    "load_windowed_stats",
    "session_stats",
    "dedup_stream",
]

WINDOWED_STATS_FIELDS = (
    "window_start timestamp, window_end timestamp, "
    "n bigint, n_null bigint, vmin double, vmax double, mean double"
)


def windowed_stats(
    df: DataFrame,
    event_col: str,
    value_col: str,
    window: str = "10 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
    key_col: Optional[str] = None,
) -> DataFrame:
    """Per-event-time-window (count, nulls, min, max, mean) of
    ``value_col``, optionally sub-grouped by ``key_col``.

    Works on BOTH batch and streaming DataFrames with identical
    results for on-time data: on a stream the watermark is attached
    (bounding state + dropping late rows); on a batch frame the same
    ``F.window`` bucketing runs without one, which is exactly the
    oracle the tests compare the streamed output against.  Sliding
    windows (``slide`` < ``window``) assign each row to every window
    containing it.
    """
    if df.isStreaming:
        df = df.withWatermark(event_col, watermark)
    win = (
        F.window(F.col(event_col), window, slide)
        if slide
        else F.window(F.col(event_col), window)
    )
    keys = [win.alias("w")] + ([F.col(key_col)] if key_col else [])
    v = F.col(value_col).cast("double")
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(v.isNull(), 1)).alias("n_null"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.avg(v).alias("mean"),
    )
    cols = [
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
    ]
    if key_col:
        cols.append(F.col(key_col))
    return agg.select(*cols, "n", "n_null", "vmin", "vmax", "mean")


def windowed_stats_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    event_col: str,
    value_col: str,
    checkpoint_dir: str,
    out_dir: str,
    window: str = "10 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
    key_col: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Run :func:`windowed_stats` over a growing parquet directory with
    an ``availableNow`` trigger in APPEND mode: each window's row is
    emitted exactly once, after the watermark passes its end.  Batches
    commit to ``out_dir/batch_id=N`` (overwrite per batch — idempotent
    under foreachBatch replay, same contract as the other stream
    sinks); re-invocation with the same checkpoint resumes the
    watermark and open-window state, so a window spanning two
    invocations still emits exactly once.

    Note the append-mode contract: windows the final watermark has not
    passed stay open (un-emitted) until later data advances it — by
    design, since emitting them early would double-count on resume.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    out = windowed_stats(
        stream, event_col, value_col, window, slide, watermark, key_col
    )

    commit = batch_dir_sink(out_dir)

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_stats(
    df: DataFrame,
    event_col: str,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    key_col: Optional[str] = None,
    value_col: Optional[str] = None,
) -> DataFrame:
    """Session windows: rows separated by less than ``gap`` of event
    time coalesce into one dynamic-length window per key — the
    user-activity / recording-session construct fixed windows can't
    express.  Built on stock ``F.session_window`` (merging window
    state, watermark-evicted), so the same scale contract as
    :func:`windowed_stats` holds: state is O(open sessions).

    Batch/stream agnostic like :func:`windowed_stats` — the batch form
    is the tests' oracle.  Output: session_start, session_end,
    duration_s, (key), n rows, and min/max/mean of ``value_col`` when
    given.
    """
    if df.isStreaming:
        df = df.withWatermark(event_col, watermark)
    win = F.session_window(F.col(event_col), gap)
    keys = [win.alias("w")] + ([F.col(key_col)] if key_col else [])
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        v = F.col(value_col).cast("double")
        aggs += [F.min(v).alias("vmin"), F.max(v).alias("vmax"), F.avg(v).alias("mean")]
    agg = df.groupBy(*keys).agg(*aggs)
    cols = [
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        (F.unix_timestamp(F.col("w.end")) - F.unix_timestamp(F.col("w.start"))).alias(
            "duration_s"
        ),
    ]
    if key_col:
        cols.append(F.col(key_col))
    stat_cols = ["n"] + (["vmin", "vmax", "mean"] if value_col else [])
    return agg.select(*cols, *stat_cols)


def dedup_stream(
    stream_df: DataFrame,
    id_cols: list[str],
    event_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """In-flight exactly-once-per-id dedup on a stream: emits the FIRST
    arrival of each id, drops re-deliveries that arrive within the
    watermark horizon — the ingest-side guard that keeps an at-least-
    once upstream (retried uploads, replayed queue segments) from
    double-counting clips before they reach the table.

    Uses stock ``dropDuplicatesWithinWatermark``: per-id state is
    evicted once the watermark passes, so state is O(ids per horizon),
    not O(stream length) — the property that makes streaming dedup
    viable at 10^12 rows (a full-history dropDuplicates would pin
    every id forever).  A duplicate arriving AFTER the horizon is by
    contract not caught here; the batch exact-dedup pass
    (ops/dedup.py) owns cross-horizon duplicates.
    """
    return stream_df.withWatermark(event_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )


def load_windowed_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """All finalized windows from a :func:`windowed_stats_stream`
    output dir.  Append mode emits each window exactly once, so this
    is a plain union of the per-batch commits (no newest-row dedup
    needed, unlike ``latest_stats``).  An out_dir with no ``batch_id=*``
    subdirectories yet (pre-created dir, or checkpoint resume before any
    window closed) yields an empty DataFrame with the stats schema
    instead of PATH_NOT_FOUND (ADVICE r04)."""
    return read_batch_dirs(spark, out_dir, WINDOWED_STATS_FIELDS)
