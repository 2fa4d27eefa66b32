"""Custom keyed stateful streaming via ``applyInPandasWithState``.

The incremental validation (``validate-stream``, checkpoint/runner.py
``resumable_rows``) keeps no streaming state at all: its cumulative
answer is a sum over per-file partials in the commit store, which
scales to 10^12 rows with zero state growth.  What that pattern cannot
do is *per-key online tracking* — "what is codec X's running null
ratio / value envelope RIGHT NOW, updated the moment a micro-batch
touches that key" — without re-reading the store every batch.  That
is exactly the shape Spark's ``applyInPandasWithState`` exists for:
bounded keyed state (a few counters per key) maintained by the state
store, updated per micro-batch per key, emitted on change.

This module tracks per-key running column statistics (count, nulls,
min / max, sum → mean) with O(1) state per key:

* state lives in the streaming state store, checkpointed with the
  query — a restarted stream resumes its counters exactly (pinned by
  tests);
* only keys touched by a micro-batch emit rows (update semantics), so
  downstream alerting reads a trickle, not a table scan;
* state size is five scalars per key — at 10^12 rows with bounded key
  cardinality (codecs, sample rates, sources) the store stays KB-sized,
  the one regime where keyed streaming state is safe.  Unbounded keys
  (clip_id) belong to the per-file partials + ``reconcile`` pattern
  instead — see ``resumable_rows``.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = [
    "running_stats",
    "running_stats_stream",
    "latest_stats",
    "RUNNING_STATS_FIELDS",
]

_STATE_SCHEMA = "n long, n_null long, vmin double, vmax double, vsum double"
RUNNING_STATS_FIELDS = "n long, n_null long, vmin double, vmax double, mean double"


def running_stats(stream_df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key running (count, nulls, min, max, mean) over a streaming
    DataFrame.  Returns the update stream: one row per (touched key,
    micro-batch) carrying that key's statistics over EVERYTHING seen so
    far.  State: five scalars per key in the state store.

    ``value_col`` must be numeric (raises otherwise — a silently-
    coerced string column would corrupt the counters).  NaN is folded
    into the null count and excluded from min/max/sum, matching the
    batch profiler's pandas-side convention (accumulator.py) — NOT
    Spark SQL's NaN ordering; the pinned batch-equivalence contract in
    the tests states the same fold.
    """
    from pyspark.sql.types import NumericType

    vtype = stream_df.schema[value_col].dataType
    if not isinstance(vtype, NumericType):
        raise ValueError(
            "running_stats needs a numeric value column; "
            f"{value_col} is {vtype.simpleString()}"
        )
    key_type = stream_df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, " + RUNNING_STATS_FIELDS

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            n, n_null, vmin, vmax, vsum = state.get
        else:
            n, n_null = 0, 0
            vmin, vmax, vsum = float("inf"), float("-inf"), 0.0
        for pdf in pdfs:
            vals = pdf[value_col].to_numpy(dtype=np.float64, na_value=np.nan)
            n += len(vals)
            finite = vals[~np.isnan(vals)]
            n_null += len(vals) - len(finite)
            if len(finite):
                vmin = min(vmin, float(finite.min()))
                vmax = max(vmax, float(finite.max()))
                vsum += float(finite.sum())
        state.update((n, n_null, vmin, vmax, vsum))
        n_vals = n - n_null
        yield pd.DataFrame(
            [
                {
                    key_col: key[0],
                    "n": n,
                    "n_null": n_null,
                    "vmin": vmin if n_vals else None,
                    "vmax": vmax if n_vals else None,
                    "mean": vsum / n_vals if n_vals else None,
                }
            ]
        )

    return (
        stream_df.select(key_col, F.col(value_col).cast("double").alias(value_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, _STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
        )
    )


def running_stats_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    key_col: str,
    value_col: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Run :func:`running_stats` over a growing parquet directory with
    an ``availableNow`` trigger, committing each micro-batch's update
    rows to ``out_dir/batch_id=N`` (overwrite per batch — idempotent
    under foreachBatch replay, streaming/sink.py).  The newest batch_id row per key IS that key's current
    state; a later invocation with the same checkpoint resumes the
    state store and keeps counting."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    updates = running_stats(stream, key_col, value_col)

    from .sink import batch_dir_sink

    commit = batch_dir_sink(out_dir)

    q = (
        updates.writeStream.outputMode("update")
        .foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def latest_stats(spark: SparkSession, out_dir: str, key_col: str) -> DataFrame:
    """Current per-key state from a :func:`running_stats_stream` output
    dir: the newest batch_id row per key."""
    df = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch_id=*")
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.desc("batch_id"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch_id")
    )
