"""Incremental constraint validation via Structured Streaming.

The batch engine (constraints/validate.py) validates a snapshot; at
10^12-clip scale new clips arrive continuously and re-validating the
whole table per arrival is O(history).  This module runs the SAME
compiled row-level constraint predicates over a stream of clip files:

* ``readStream`` file source (parquet here; an Iceberg streaming source
  is the same one-line conf swap as the batch reader) — each
  micro-batch sees only NEW files;
* the batch engine's own report builder (constraints/validate.py:
  ``flag_rows``, ``row_violation_aggs``, ``passfail_frame`` and, for
  the quarantine gate, ``violation_rows``) applied per micro-batch
  inside ``foreachBatch`` — every predicate a JVM boolean column, one
  hash agg per scope, the driver-side unpivot with its NULL-scope check;
* per-batch pass/fail DELTA rows appended to the report table with the
  micro-batch id — cumulative state is a trivial SUM over the report,
  so the streaming state itself stays empty (no watermark, no state
  store growth at 10^12 rows);
* Spark's ``checkpointLocation`` gives exactly-once file tracking: a
  restarted stream resumes after the last committed batch without
  reprocessing — the streaming analog of the engine's batch
  checkpoint store (checkpoint/runner.py).

Dataset-level constraints (uniqueness, referential) are intentionally
NOT streamed: exact global uniqueness over an unbounded stream needs
unbounded state.  The production pattern is per-batch row checks here
plus periodic batch reconciliation with the exact engine — the
``reconcile`` job verb (job.py cmd_reconcile) runs that batch half and
commits its GLOBAL_SCOPE rows into this stream's report dir (reserved
partition ``batch_id=-1``), so the cumulative report equals the full
batch validate on the same data (pinned by tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constraints.spec import Constraint
from ..constraints.validate import (
    PASSFAIL_SCHEMA,
    flag_rows,
    passfail_df,
    passfail_frame,
    row_violation_aggs,
    violation_rows,
)
from .sink import read_batch_dirs


def validate_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    constraints: list[Constraint],
    scope: Column,
    report_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
    quarantine_dir: Optional[str] = None,
    keep_columns: Optional[list[str]] = None,
):
    """Start (and with ``available_now`` run to completion) the
    incremental validation stream.  Returns the StreamingQuery.

    ``scope`` must be a STABLE expression of the data (e.g.
    ``pmod(xxhash64(clip_id), n)``) so per-batch delta rows aggregate
    consistently across restarts and file layouts.

    ``quarantine_dir`` turns the stream into a GATE: each micro-batch
    additionally writes its violating rows (``keep_columns`` — default
    all source columns — plus the ``failed`` constraint list) to
    ``quarantine_dir/batch_id=N``, the enforcement analog of batch
    ``validate --quarantine-out``.  The per-batch partition overwrite
    gives the same exactly-once discipline as the report deltas: an
    at-least-once foreachBatch replay rewrites the same rows instead
    of appending duplicates.
    """
    row_cs = [c for c in constraints if c.is_row_level]
    if len(row_cs) != len(constraints):
        raise ValueError(
            "validate_stream handles row-level constraints only; run "
            "dataset-level checks (unique/referential/drift) via the "
            "batch engine's periodic reconciliation"
        )
    if not row_cs:
        raise ValueError("need at least one row-level constraint")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    keep = list(keep_columns or stream.columns) if quarantine_dir else []
    flagged = flag_rows(stream, row_cs, scope, keep)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if quarantine_dir is not None:
            # the flags are evaluated once and feed both sinks: persist
            # the micro-batch so the quarantine filter doesn't re-run
            # expensive predicates (audio decode) a second time
            from pyspark import StorageLevel

            batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
            violation_rows(batch_df, row_cs, keep).write.mode("overwrite").parquet(
                f"{quarantine_dir}/batch_id={int(batch_id)}"
            )
        wide = batch_df.groupBy("__scope").agg(*row_violation_aggs(row_cs)).toPandas()
        if quarantine_dir is not None:
            batch_df.unpersist()
        if wide.empty:
            return
        report = passfail_frame(wide, [c.name for c in row_cs], scope)
        # batch_id lives in the directory name, not the rows: each
        # micro-batch OVERWRITES its own partition, so an at-least-once
        # foreachBatch replay rewrites the same delta instead of
        # appending a duplicate — cumulative totals stay exactly-once
        passfail_df(spark, report).coalesce(1).write.mode("overwrite").parquet(
            f"{report_dir}/batch_id={int(batch_id)}"
        )

    writer = flagged.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def cumulative_passfail(spark: SparkSession, report_dir: str) -> DataFrame:
    """Fold the per-batch delta rows into the batch engine's pass/fail
    shape: totals per (scope, constraint) over everything streamed so
    far — a tiny aggregation over the report table, NOT a rescan of
    the data.  A report dir with no commits yet gives no rows."""
    rep = read_batch_dirs(spark, report_dir, PASSFAIL_SCHEMA)
    return (
        rep.groupBy("partition_id", "constraint")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_violations").alias("n_violations"),
        )
        .select(
            "partition_id",
            "constraint",
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )
