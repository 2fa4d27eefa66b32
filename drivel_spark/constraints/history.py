"""Run-over-run metric anomaly detection (metric-repository checks).

A validation engine that re-runs nightly accumulates a HISTORY of
profile metrics (row counts, null counts, violation counts — the
``metrics_json`` column every checkpoint commit row already carries,
checkpoint/store.py).  A threshold constraint answers "is this value
in range?"; the history check answers the question thresholds can't:
"is this value NORMAL for this pipeline?" — today's n_rows against the
trailing month of n_rows, with no hand-set bound.

Beyond-reference scale operator (the reference validates one snapshot
at a time); the pattern is the metric-repository anomaly detection of
production data-quality systems.  Two detectors, both over a trailing
window of the metric's own history:

- **robust fences**: |value − median(hist)| > k · 1.4826 · MAD(hist).
  Median/MAD instead of mean/std so past anomalies cannot drag the
  fence open (same rationale as ops/selection.py robust_outliers);
  MAD = 0 (over half the window identical) degenerates to flagging
  ANY deviation from the median, matching robust_outliers' semantics.
- **relative change**: |value − prev| / |prev| > max_rel_change — the
  "row count halved overnight" detector, independent of the window.

Scale shape: the history table is O(#runs × #metrics) — kilobytes next
to the data being validated — so the whole report is one window shuffle
partitioned by metric.  The trailing statistics are computed with a
``collect_list`` ROWS frame (bounded by ``window``, default 10) folded
through pure Catalyst array lambdas (array_sort / transform /
element_at): no Python UDF, no second shuffle, O(window log window)
per row.  Every run is scored against ITS OWN past, so one pass audits
the entire history, not just the newest run.
"""

from __future__ import annotations

import json
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "metric_anomaly_report",
    "metric_anomalies",
    "load_metrics_history",
    "load_stream_batch_history",
]


def _sorted_median(arr: Column, n: Column) -> Column:
    """Interpolated median of an already-sorted array<double> column:
    middle element for odd n, mean of the two middles for even n
    (matches exact ``median``/``quantile_cont(0.5)`` semantics)."""
    mid = ((n + F.lit(1)) / F.lit(2)).cast("int")
    lo = (n / F.lit(2)).cast("int")
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(
        F.when(n % 2 == 1, F.element_at(arr, mid)).otherwise(
            (F.element_at(arr, lo) + F.element_at(arr, lo + F.lit(1)))
            / F.lit(2.0)
        )
    )


MAD_SCALE = 1.4826  # MAD -> sigma under normality, as ops/selection.py


def metric_anomaly_report(
    history: DataFrame,
    window: int = 10,
    k: float = 3.0,
    min_history: int = 3,
    max_rel_change: Optional[float] = None,
    abs_tolerance: float = 0.0,
    seq_col: str = "run_seq",
    metric_col: str = "metric",
    value_col: str = "value",
) -> DataFrame:
    """Score every (run, metric) against the trailing ``window`` runs of
    that metric's own history.

    Input: one row per (run, metric) with an orderable ``seq_col``
    (run sequence number, date, committed_at).  Output adds:

    - ``n_hist`` — trailing runs available (current row excluded)
    - ``hist_median`` / ``hist_mad`` — robust center/spread of the window
    - ``robust_z`` — |value − median| / (1.4826 · MAD); NULL when MAD = 0
    - ``is_anomaly`` — robust_z > k, or ANY deviation when MAD = 0
      (degenerate window); NULL while n_hist < ``min_history`` (a young
      pipeline has no "normal" yet — the caller sees "no judgment",
      not a false PASS)
    - ``rel_change`` — (value − prev) / |prev|; NULL on the first run
      or when prev = 0
    - ``rel_anomaly`` — |rel_change| > max_rel_change (NULL column when
      ``max_rel_change`` is None)

    ``abs_tolerance`` is an absolute floor under both detectors: a
    deviation |value − median| (resp. |value − prev|) within it never
    alarms.  Count metrics need this — a violation count stepping 1→0
    over an all-1s window is a MAD-0 "deviation" and a 100% relative
    change, yet operationally nothing happened.  Default 0.0 keeps the
    strict semantics.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    w_hist = (
        Window.partitionBy(metric_col)
        .orderBy(seq_col)
        .rowsBetween(-int(window), -1)
    )
    w_lag = Window.partitionBy(metric_col).orderBy(seq_col)
    v = F.col(value_col).cast("double")
    vals = F.array_sort(F.collect_list(v).over(w_hist))
    out = (
        history.withColumn("__vals", vals)
        .withColumn("n_hist", F.size("__vals").cast("long"))
        .withColumn(
            "hist_median", _sorted_median(F.col("__vals"), F.col("n_hist"))
        )
        .withColumn(
            "__devs",
            F.array_sort(
                F.transform(
                    F.col("__vals"),
                    lambda x: F.abs(x - F.col("hist_median")),
                )
            ),
        )
        .withColumn(
            "hist_mad", _sorted_median(F.col("__devs"), F.col("n_hist"))
        )
        .withColumn(
            "robust_z",
            F.when(
                F.col("hist_mad") > 0,
                F.abs(v - F.col("hist_median"))
                / (F.lit(MAD_SCALE) * F.col("hist_mad")),
            ),
        )
        .withColumn(
            "is_anomaly",
            F.when(F.col("n_hist") < int(min_history), F.lit(None).cast("boolean"))
            .when(
                F.abs(v - F.col("hist_median")) <= float(abs_tolerance),
                F.lit(False),
            )
            .when(F.col("hist_mad") > 0, F.col("robust_z") > float(k))
            .otherwise(v != F.col("hist_median")),
        )
        .withColumn("__prev", F.lag(v).over(w_lag))
        .withColumn(
            "rel_change",
            F.when(
                F.col("__prev").isNotNull() & (F.col("__prev") != 0),
                (v - F.col("__prev")) / F.abs(F.col("__prev")),
            ),
        )
        .withColumn(
            "rel_anomaly",
            F.lit(None).cast("boolean")
            if max_rel_change is None
            else F.when(
                F.col("rel_change").isNotNull(),
                (F.abs(F.col("rel_change")) > float(max_rel_change))
                & (F.abs(v - F.col("__prev")) > float(abs_tolerance)),
            ),
        )
        .drop("__vals", "__devs", "__prev")
    )
    return out


def metric_anomalies(report: DataFrame) -> DataFrame:
    """Rows of a :func:`metric_anomaly_report` flagged by EITHER
    detector (NULL-judgment rows — young history — are not flagged)."""
    return report.where(
        F.coalesce(F.col("is_anomaly"), F.lit(False))
        | F.coalesce(F.col("rel_anomaly"), F.lit(False))
    )


def _unit_metrics(
    spark: SparkSession,
    checkpoint_path: str,
    run_ids: Optional[Sequence[str]] = None,
) -> DataFrame:
    """The commit table's per-unit ``metrics_json`` (checkpoint/store.py
    COMMIT_COLUMNS), flattened: one row per (run_id, unit, metric) with
    the unit's ``committed_at``.  Nested per-column counters flatten to
    dotted names (``n_null.codec``); idempotent unit re-commits are
    deduplicated latest-wins exactly as ``CheckpointStore.committed``
    does.

    Driver-light by construction: the commit table holds one row per
    (run, input file) — metadata-scale — and the heavy ``acc`` blob
    column is never read (column pruning keeps it out of the scan).
    """
    df = spark.read.parquet(checkpoint_path).select(
        "run_id", "unit", "status", "metrics_json", "committed_at"
    )
    df = df.where(F.col("status") == "committed")
    if run_ids is not None:
        df = df.where(F.col("run_id").isin(list(run_ids)))
    # latest wins per (run, unit): idempotent re-commit dedup
    w = Window.partitionBy("run_id", "unit").orderBy(F.desc("committed_at"))
    latest = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )

    def _flatten(d: dict, prefix: str = "") -> dict:
        out: dict[str, float] = {}
        for key, val in d.items():
            name = f"{prefix}{key}"
            if isinstance(val, dict):
                out.update(_flatten(val, f"{name}."))
            elif isinstance(val, bool):
                continue
            elif isinstance(val, (int, float)):
                out[name] = float(val)
        return out

    import pandas as pd

    def _explode(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    metrics = json.loads(r.metrics_json)
                except (TypeError, ValueError):
                    continue
                for name, val in _flatten(metrics).items():
                    rows.append(
                        (r.run_id, r.unit, float(r.committed_at), name, val)
                    )
            yield pd.DataFrame(
                rows, columns=["run_id", "unit", "committed_at", "metric", "value"]
            )

    return latest.mapInPandas(
        _explode,
        "run_id string, unit string, committed_at double, metric string, value double",
    )


def load_metrics_history(
    spark: SparkSession,
    checkpoint_path: str,
    run_ids: Optional[Sequence[str]] = None,
) -> DataFrame:
    """A run-level metric history from the checkpoint commit table: one
    row per (run_id, metric) with the metric summed over the run's
    committed units (:func:`_unit_metrics`) and ``run_seq`` = the run's
    first commit time (runs are sequenced by when they happened, not
    by id).  The result feeds :func:`metric_anomaly_report` directly.
    """
    return _unit_metrics(spark, checkpoint_path, run_ids).groupBy("run_id", "metric").agg(
        F.min("committed_at").alias("run_seq"),
        F.sum("value").alias("value"),
    )


def load_stream_batch_history(spark: SparkSession, checkpoint_path: str) -> DataFrame:
    """Per-file metric history from a ``validate-stream`` commit store
    (checkpoint/runner.py ``resumable_rows``): each committed file is
    one run, its ``run_id`` the file and its ``run_seq`` its
    ``committed_at``, with the file's metrics — ``n_rows`` and one
    ``viol.<constraint>`` per row constraint (violations summed over
    the file's scopes, ``_rows_any_violation`` included).  The result
    feeds :func:`metric_anomaly_report` directly — the streaming
    canary: "did this file suddenly violate 100x more than the files
    before it?"  A rewritten file scores its latest commit.

    Scale shape: reads only the commit table's metadata columns, one
    row per file, never the data.
    """
    return _unit_metrics(spark, checkpoint_path).select(
        F.col("unit").alias("run_id"),
        F.col("committed_at").alias("run_seq"),
        "metric",
        "value",
    )


def dead_constraints(history: DataFrame, min_runs: int = 3) -> DataFrame:
    """Constraints that have NEVER fired: ``viol.*`` metrics (as loaded
    by :func:`load_stream_batch_history`) whose violation count is zero
    in every observed run, once at least ``min_runs`` runs exist.

    A check that hasn't fired across a month of runs is either
    guaranteed by construction upstream (drop it — it costs a predicate
    in every scan and audits nothing) or mis-specified so its predicate
    CANNOT fire (fix it — it silently audits nothing).  Either way the
    suite owner should know; this is the coverage complement of the
    anomaly report.

    The synthetic ``_rows_any_violation`` counter is excluded — it is
    the report's row accounting, not a user constraint.  One
    partial+final aggregation over the metadata-scale history table.
    """
    return (
        history.where(
            F.col("metric").startswith("viol.")
            & (F.col("metric") != "viol._rows_any_violation")
        )
        .groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.max("value").alias("max_value"),
        )
        .where(
            (F.col("n_runs") >= int(min_runs)) & (F.col("max_value") == 0)
        )
        .select(
            F.expr("substring(metric, 6)").alias("constraint"),
            "n_runs",
        )
    )
