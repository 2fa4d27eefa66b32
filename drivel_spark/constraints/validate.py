"""Pass 2: constraint evaluation → per-partition pass/fail rows +
violation DataFrames (BASELINE.json north_star).

Physical shape, designed for 10^12 rows:

* ALL row-level constraints evaluate in ONE scan: each compiles to a
  JVM boolean column, a single ``groupBy(partition_scope)`` computes
  every violation count map-side-partially (Catalyst partial+final
  hash agg).  No Python touches row data.
* The pass/fail report is O(scopes × constraints) rows, so it is built
  once on the driver: the wide per-scope aggregate (one row per scope,
  one column per constraint) is collected and unpivoted in pandas, and
  the dataset-level rows are appended.
* Violation rows come from the same predicate columns
  (``filter(size(failed) > 0)``) — Catalyst reuses the scan via
  whole-stage codegen; filters/pruning still push down to parquet.
* Each dataset-level kind is one check function, ``_<kind>(c, ctx)``
  in the ``_CHECKS`` table: it builds its plan, runs its action(s) and
  returns its result dict and violation table.  ``validate()`` first
  checks every such constraint's inputs (a check for its kind, its ref
  table, profile, baseline), so a bad suite fails before any Spark
  job; then it submits the row-flag aggregate (or a plain count) and
  the checks to one thread pool, where their jobs overlap.
* Uniqueness = HLL sketch pre-estimate (from the profile pass, free)
  + exact confirm via hash-shuffle ``groupBy(key).count().filter(>1)``;
  AQE splits skewed keys.
* Referential completeness = ``left_anti`` join per direction (small
  dimension sides should be broadcast by AQE automatically).
* Drift = driver-side sketch-vs-sketch math (drift.py), no data pass.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .drift import drift_column
from .spec import (
    Constraint,
    CorrelationBound,
    DistinctRatio,
    Drift,
    EntropyBound,
    FunctionalDependency,
    GroupBound,
    Monotonic,
    MutualInformationBound,
    QuantileBound,
    Referential,
    Unique,
)

GLOBAL_SCOPE = -1  # partition_id for dataset-level constraint rows

PASSFAIL_COLS = ["partition_id", "constraint", "n_rows", "n_violations", "passed"]
PASSFAIL_SCHEMA = (
    "partition_id long, constraint string, n_rows long, n_violations long, passed boolean"
)


@dataclass
class ValidationResult:
    """Pass/fail report + violation rows of one ``validate()`` call.

    The report is built once on the driver before ``validate()``
    returns: ``passfail_pdf()`` is that pandas frame (PASSFAIL_COLS,
    sorted by constraint, partition_id) and ``passfail`` is the same
    rows as an Arrow local relation, so reading or writing it never
    re-runs the aggregation."""

    passfail: DataFrame
    violations: DataFrame  # input rows + failed: array<string>
    dataset: list[dict[str, Any]] = dc_field(default_factory=list)
    violation_tables: dict[str, DataFrame] = dc_field(default_factory=dict)
    _pdf: Any = None  # the report frame passfail_pdf() returns

    def all_passed(self) -> bool:
        ds_ok = all(d.get("passed", True) for d in self.dataset)
        return bool(self._pdf["passed"].all()) and ds_ok

    def passfail_pdf(self):
        """Deterministically-ordered pandas report (for byte-comparisons)."""
        return self._pdf


def passfail_frame(wide, row_names: list[str], scope: Column, ds_rows=()):
    """The sorted PASSFAIL_COLS report: ``wide`` (the collected per-scope
    aggregate: ``__scope``, ``n_rows``, one ``__v_i`` per row constraint
    and ``__v_any``; None without row constraints) unpivoted to one row
    per (scope, constraint), plus the dataset-level ``ds_rows``."""
    import pandas as pd

    frames = []
    if wide is not None:
        if wide["__scope"].isna().any():
            # a NULL partition_id cannot be reported, and dropping it
            # would undercount
            raise ValueError(
                f"scope expression {scope} produced NULL for some rows; use "
                "a null-safe, layout-stable scope (e.g. pmod(xxhash64(id), n))"
            )
        cols = [f"__v_{i}" for i in range(len(row_names))] + ["__v_any"]
        for name, col in zip([*row_names, "_rows_any_violation"], cols):
            frames.append(
                pd.DataFrame(
                    {
                        "partition_id": wide["__scope"],
                        "constraint": name,
                        "n_rows": wide["n_rows"],
                        "n_violations": wide[col],
                        "passed": wide[col] == 0,
                    }
                )
            )
    if ds_rows:
        frames.append(pd.DataFrame(ds_rows, columns=PASSFAIL_COLS))
    return normalize_passfail(
        pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=PASSFAIL_COLS)
    )


def normalize_passfail(pdf):
    """A report frame in the one order and dtypes every pass/fail digest
    is taken over: PASSFAIL_COLS, sorted by (constraint, partition_id)."""
    out = pdf[PASSFAIL_COLS].astype(
        {"partition_id": "int64", "n_rows": "int64", "n_violations": "int64", "passed": "bool"}
    )
    return out.sort_values(["constraint", "partition_id"]).reset_index(drop=True)


def passfail_df(spark, pdf) -> DataFrame:
    """A report frame as an Arrow local relation (built on the driver,
    no Spark job)."""
    from ..io import local_df

    return local_df(spark, zip(*(pdf[c].tolist() for c in PASSFAIL_COLS)), PASSFAIL_SCHEMA)


class RowPredicate(Constraint):
    """Escape hatch: any boolean Column as a row-level constraint (used
    for the audio-integrity checks built in constraints/audio.py)."""

    def __init__(self, name: str, column: str, expr: Column):
        object.__setattr__(self, "name", name)
        object.__setattr__(self, "column", column)
        object.__setattr__(self, "_expr", expr)

    def predicate(self) -> Column:
        return self._expr


def n_violation_rows(pdf) -> int:
    """Rows failing ≥1 row-level constraint: the report's
    ``_rows_any_violation`` counts (no extra scan)."""
    return int(pdf.loc[pdf.constraint == "_rows_any_violation", "n_violations"].sum())


def passfail_digest(pdf) -> str:
    """16 hex digits of sha256 over a report frame's CSV, in the frame's
    order (``normalize_passfail``'s for a pass/fail report): equal
    across parallelism levels and file layouts for a stable scope."""
    import hashlib

    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()[:16]


def flag_rows(df: DataFrame, row_cs: list, scope: Column, keep=()) -> DataFrame:
    """``keep``, the scope as ``__scope`` and one boolean flag column per
    row constraint (``__p_i``, true = passed): the projection every
    row-level engine (batch and stream) aggregates."""
    return df.select(
        *keep,
        scope.alias("__scope"),
        *[c.predicate().alias(f"__p_{i}") for i, c in enumerate(row_cs)],
    )


def row_violation_aggs(row_cs: list) -> list[Column]:
    """The per-scope aggregation list over the flag columns: row count,
    one violation counter per constraint (``__v_i``), and the
    any-violation counter (``__v_any``)."""
    any_fail = ~F.col("__p_0")
    for i in range(1, len(row_cs)):
        any_fail = any_fail | ~F.col(f"__p_{i}")
    return [
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum((~F.col(f"__p_{i}")).cast("long")).alias(f"__v_{i}")
            for i in range(len(row_cs))
        ],
        F.sum(any_fail.cast("long")).alias("__v_any"),
    ]


def failed_names(row_cs: list) -> Column:
    """Over the flag columns: the names of the row constraints a row
    fails (an empty array when it passes them all)."""
    return F.array_compact(
        F.array(*[F.when(~F.col(f"__p_{i}"), F.lit(c.name)) for i, c in enumerate(row_cs)])
    )


def violation_rows(flagged: DataFrame, row_cs: list, keep: list[str]) -> DataFrame:
    """The flagged rows failing ≥1 row constraint: ``keep`` plus
    ``failed``, the names of the constraints each row fails."""
    failed = failed_names(row_cs).alias("failed")
    return flagged.select(*keep, failed).filter(F.size("failed") > 0)


def validate(
    df: DataFrame,
    constraints: list[Constraint],
    scope: Optional[Column] = None,
    ref_tables: Optional[dict[str, DataFrame]] = None,
    profile=None,
    baseline_profile=None,
    keep_columns: Optional[list[str]] = None,
    cache_flags: bool = True,
    ds_df: Optional[DataFrame] = None,
) -> ValidationResult:
    """Evaluate constraints; return pass/fail rows + violation rows.

    ``scope`` partitions the pass/fail report (default: physical
    partition via ``spark_partition_id()``; pass a stable column
    expression for layout-independent reports).
    ``ref_tables`` supplies the right side of Referential constraints.
    ``profile``/``baseline_profile`` are TableProfiles of this batch /
    of the baseline, used by Unique (HLL pre-gate) and Drift;
    ``profile`` may also be a zero-arg callable returning the
    TableProfile, letting the caller run the profile scan concurrently
    with this pass (it is called once, by the first check that needs
    it, and always before ``validate()`` returns).
    ``ds_df``: evaluate DATASET-level constraints (uniqueness,
    referential, group bounds, …) against this frame instead of ``df``.
    They are column-pruned scans; when ``df``'s row-level source is
    opaque to Catalyst (e.g. a mapInArrow decode pass), pass the cheap
    narrow source here so each dataset job scans only the columns it
    needs instead of re-running the opaque pass.  Must hold the same
    rows (same table) as ``df``.
    A dataset-level constraint with no check, or without the ref table
    or profile it needs, raises ``ValueError`` before any Spark job.
    """
    row_cs = [c for c in constraints if c.is_row_level]
    ds_cs = [c for c in constraints if not c.is_row_level]
    ds_src = ds_df if ds_df is not None else df
    checks = [_check_of(c, ref_tables, profile, baseline_profile) for c in ds_cs]

    scope_col = scope if scope is not None else F.spark_partition_id()

    # ---- one-scan row-level evaluation ----------------------------------
    # Every predicate is evaluated EXACTLY ONCE (the audio-SNR check
    # reads a score that audio_row_source's mapInArrow decode computed
    # upstream): the narrow flagged projection (kept columns + scope +
    # one boolean per constraint) is persisted, and both the pass/fail
    # aggregation and the violations filter read it.  At cluster scale
    # this intermediate would be a written table; MEMORY_AND_DISK is
    # the local analog.
    if row_cs:
        keep = keep_columns or df.columns
        flagged = flag_rows(df, row_cs, scope_col, keep)
        if cache_flags:
            from pyspark import StorageLevel

            flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)
        # rows failing ≥1 constraint fold into the same single
        # aggregation — callers get the violation-row count without
        # a second job over the (cached) flags
        agg = flagged.groupBy("__scope").agg(*row_violation_aggs(row_cs))
        violations = violation_rows(flagged, row_cs, keep)
    else:
        agg = None
        violations = df.limit(0).withColumn("failed", F.array().cast("array<string>"))

    # ---- dataset-level constraints --------------------------------------
    # All independent Spark actions run CONCURRENTLY from driver
    # threads: the heavy row-flag materialization (decode UDFs), the
    # uniqueness shuffle, and each referential anti-join overlap
    # instead of queueing — Spark's FIFO scheduler backfills the cores
    # the head job leaves idle with the later jobs' tasks.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        # the per-scope aggregation goes first — it is the heaviest job
        # (the audio-decode scan when present), it materializes the
        # persisted flags cache as a side effect, and its per-scope
        # n_rows sum IS the exact row count, so no separate count()
        # pass over the flags is needed.  It (or the plain count) is
        # submitted before any check, so a check waiting on n_total()
        # never holds the thread it needs, and Spark's FIFO queue
        # normally runs its stages ahead of the checks' jobs.
        ctx = _Context(
            ds_src,
            ref_tables or {},
            profile,
            baseline_profile,
            wide=pool.submit(agg.toPandas) if row_cs else None,
            count=pool.submit(ds_src.count) if ds_cs and not row_cs else None,
        )
        futs = [pool.submit(check, c, ctx) for c, check in zip(ds_cs, checks)]
        checked = [f.result() for f in futs]
        wide = ctx.wide.result() if row_cs else None
    ctx.profile()  # also when no check read it: a failing profile fails here

    ds_rows = [
        (GLOBAL_SCOPE, c.name, res.get("n_rows", ctx.n_total()), res["n_violations"], res["passed"])
        for c, (res, _) in zip(ds_cs, checked)
    ]
    pdf = passfail_frame(wide, [c.name for c in row_cs], scope_col, ds_rows)
    return ValidationResult(
        passfail_df(df.sparkSession, pdf),
        violations,
        [res for res, _ in checked],
        {c.name: vtab for c, (_, vtab) in zip(ds_cs, checked) if vtab is not None},
        _pdf=pdf,
    )


class _Context:
    """What the dataset-level checks share: the frame they scan
    (``ds``), the ref tables, the two profiles and the exact row count
    (from the row-flag aggregate future ``wide``, else from ``count``)."""

    def __init__(self, ds, ref_tables, profile, baseline, wide, count):
        self.ds, self.ref_tables, self.baseline = ds, ref_tables, baseline
        self.wide, self._count = wide, count
        self._profile, self._lock = profile, threading.Lock()

    def profile(self):
        """The caller's profile; a zero-arg callable is called once."""
        with self._lock:
            if callable(self._profile):
                self._profile = self._profile()
            return self._profile

    def n_total(self) -> int:
        if self.wide is not None:
            return int(self.wide.result()["n_rows"].sum())
        return self._count.result()


def _check_of(c: Constraint, ref_tables, profile, baseline_profile):
    """The check function of dataset-level constraint ``c``, once the
    inputs it needs are known to be there."""
    check = next((_CHECKS[t] for t in type(c).__mro__ if t in _CHECKS), None)
    if check is None:
        raise ValueError(f"unknown dataset constraint {type(c)}")
    if isinstance(c, Referential) and c.ref_table not in (ref_tables or {}):
        raise ValueError(f"Referential constraint {c.name} needs ref_tables[{c.ref_table!r}]")
    if isinstance(c, (DistinctRatio, QuantileBound)) and c.method != "exact" and profile is None:
        raise ValueError(f"{type(c).__name__} {c.name} (sketch) needs profile")
    if isinstance(c, Drift) and (profile is None or baseline_profile is None):
        raise ValueError(f"Drift constraint {c.name} needs profile + baseline_profile")
    return check


def _out_of_bounds(value, c) -> bool:
    """A gated statistic fails when it is undefined (None) or outside
    ``[c.lo, c.hi]`` (a None bound is open)."""
    return (
        value is None
        or (c.lo is not None and value < float(c.lo))
        or (c.hi is not None and value > float(c.hi))
    )


def _column_acc(profile, column: str):
    """``column``'s profile accumulator, or None when it was not profiled."""
    if profile is None or column not in profile.acc.cols:
        return None
    return profile.column(column)


def _unique(c: Unique, ctx: _Context):
    """HLL pre-estimate (free, from the profile scan) + exact confirm
    (hash repartition groupBy — the only correct answer at enforce
    level; the sketch only contextualizes the report)."""
    dup_keys = (
        ctx.ds.groupBy(c.column)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
    row = dup_keys.agg(
        F.count(F.lit(1)).alias("k"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("r"),
    ).collect()[0]
    hll = getattr(_column_acc(ctx.profile(), c.column), "hll", None)
    n_dup_keys = int(row["k"])
    n_violations = int(row["r"]) - n_dup_keys  # rows beyond the first per key
    return (
        {
            "constraint": c.name,
            "type": "unique",
            "column": c.column,
            "n_rows": ctx.n_total(),
            "hll_estimate": round(hll.estimate()) if hll is not None else None,
            "n_duplicate_keys": n_dup_keys,
            "n_violations": n_violations,
            "passed": n_violations == 0,
        },
        dup_keys,
    )


def _referential(c: Referential, ctx: _Context):
    ref = ctx.ref_tables[c.ref_table]
    orphans = ctx.ds.join(
        ref.select(F.col(c.ref_column).alias(c.column)).dropDuplicates([c.column]),
        on=c.column,
        how="left_anti",
    )
    n_orphans = orphans.count()
    return (
        {
            "constraint": c.name,
            "type": "referential",
            "column": c.column,
            "ref": f"{c.ref_table}.{c.ref_column}",
            "n_rows": ctx.n_total(),
            "n_violations": n_orphans,
            "passed": n_orphans == 0,
        },
        orphans,
    )


_GROUP_AGG_FNS = {
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": lambda col: F.count(F.lit(1)),
}


def group_bound_table(df: DataFrame, c: GroupBound) -> DataFrame:
    """Per-group aggregate + bound verdict for a GroupBound constraint:
    one partial+final groupBy shuffle on ``group_col`` (map-side
    combine bounds shuffle volume at the group cardinality, not the
    row count), returning (group_key, value, n_rows, passed)."""
    val = _GROUP_AGG_FNS[c.agg](F.col(c.column)).cast("double").alias("value")
    ok = F.lit(True)
    if c.lo is not None:
        ok = ok & (F.col("value") >= F.lit(float(c.lo)))
    if c.hi is not None:
        ok = ok & (F.col("value") <= F.lit(float(c.hi)))
    return (
        df.groupBy(F.col(c.group_col).alias("group_key"))
        .agg(val, F.count(F.lit(1)).alias("n_rows"))
        .withColumn("passed", ok)
    )


def _group_bound(c: GroupBound, ctx: _Context):
    gtab = group_bound_table(ctx.ds, c)
    row = gtab.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.sum((~F.col("passed")).cast("long")), F.lit(0)).alias("n_fail"),
    ).collect()[0]
    n_groups, n_fail = int(row["n_groups"]), int(row["n_fail"])
    return (
        {
            "constraint": c.name,
            "type": "group_bound",
            "column": c.column,
            "group_col": c.group_col,
            "agg": c.agg,
            "lo": c.lo,
            "hi": c.hi,
            "n_rows": n_groups,
            "n_violations": n_fail,
            "passed": n_fail == 0,
        },
        gtab.filter(~F.col("passed")),
    )


def _functional_dependency(c: FunctionalDependency, ctx: _Context):
    """FD check: n_violations = keys bound to more than one dependent
    value; the violation table lists those keys with their binding
    counts."""
    bad_keys = (
        ctx.ds.select(F.col(c.column).alias("key"), F.col(c.determines).alias("dep"))
        .distinct()
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_bindings"))
        .filter(F.col("n_bindings") > 1)
    )
    row = bad_keys.agg(
        F.count(F.lit(1)).alias("k"),
        F.coalesce(F.sum("n_bindings"), F.lit(0)).alias("b"),
    ).collect()[0]
    n_bad_keys = int(row["k"])
    return (
        {
            "constraint": c.name,
            "type": "functional_dependency",
            "column": c.column,
            "determines": c.determines,
            "n_violating_keys": n_bad_keys,
            "n_bindings": int(row["b"]),
            "n_violations": n_bad_keys,
            "passed": n_bad_keys == 0,
        },
        bad_keys,
    )


def _distinct_ratio(c: DistinctRatio, ctx: _Context):
    """Distinct-ratio check: ratio = distinct non-null values / non-null
    rows (NULLs neither count as values nor depress an id-column's
    ratio).  Exact counts both in one scan; sketch reads the profile's
    HLL.  Empty input (no non-null rows) fails."""
    if c.method == "exact":
        row = ctx.ds.agg(
            F.countDistinct(F.col(c.column)).alias("d"),
            F.sum(F.col(c.column).isNotNull().cast("long")).alias("nn"),
        ).collect()[0]
        d, nn = int(row["d"]), int(row["nn"] or 0)
    else:
        acc = _column_acc(ctx.profile(), c.column)
        hll = getattr(acc, "hll", None)
        d = int(round(hll.estimate())) if hll is not None else 0
        nn = (acc.n - acc.n_null) if acc is not None else 0
    ratio = (d / nn) if nn else None
    failed = _out_of_bounds(ratio, c)
    return {
        "constraint": c.name,
        "type": "distinct_ratio",
        "column": c.column,
        "method": c.method,
        "n_distinct": d if nn else None,
        "n_nonnull": nn,
        "ratio": ratio,
        "lo": c.lo,
        "hi": c.hi,
        "n_violations": int(failed),
        "passed": not failed,
    }, None


def _monotonic(c: Monotonic, ctx: _Context):
    """Ordering check: n_violations = violating adjacent pairs; the
    violation table lists them."""
    from ..ops.timeseries import monotonic_violations

    pairs = monotonic_violations(
        ctx.ds, c.column, list(c.order_by), group_col=c.group_col, strict=c.strict
    )
    n_bad = pairs.count()
    return {
        "constraint": c.name,
        "type": "monotonic",
        "column": c.column,
        "order_by": list(c.order_by),
        "group_col": c.group_col,
        "strict": c.strict,
        "n_violations": int(n_bad),
        "passed": n_bad == 0,
    }, pairs


def _entropy_bound(c: EntropyBound, ctx: _Context):
    """Entropy gate: the gated statistic is entropy_bits, or
    normalized_entropy when c.normalized.  A column with no non-null
    values fails loudly (entropy of nothing is a broken contract, not
    a pass)."""
    from ..ops.infostats import column_entropy

    row = column_entropy(ctx.ds, [c.column]).collect()[0]
    value = row["normalized_entropy"] if c.normalized else row["entropy_bits"]
    failed = _out_of_bounds(value, c)
    return {
        "constraint": c.name,
        "type": "entropy_bound",
        "column": c.column,
        "normalized": c.normalized,
        "n_nonnull": int(row["n_nonnull"]),
        "n_distinct": int(row["n_distinct"]),
        "entropy_bits": row["entropy_bits"],
        "value": value,
        "lo": c.lo,
        "hi": c.hi,
        "n_violations": int(failed),
        "passed": not failed,
    }, None


def _correlation_bound(c: CorrelationBound, ctx: _Context):
    """Correlation gate: undefined corr (constant column or <2 complete
    pairs) fails loudly."""
    from ..ops.infostats import _pearson

    a, b = c.column, c.other
    row = ctx.ds.agg(
        _pearson(a, b).alias("corr"),
        F.count(F.when(F.col(a).isNotNull() & F.col(b).isNotNull(), 1)).alias("n"),
    ).collect()[0]
    value = row["corr"]
    failed = _out_of_bounds(value, c)
    return {
        "constraint": c.name,
        "type": "correlation_bound",
        "column": c.column,
        "other": c.other,
        "n": int(row["n"]),
        "corr": value,
        "lo": c.lo,
        "hi": c.hi,
        "n_violations": int(failed),
        "passed": not failed,
    }, None


def _mutual_information_bound(c: MutualInformationBound, ctx: _Context):
    """Mutual-information gate: gated statistic is mi_bits, or nmi when
    c.normalized.  No observed (non-null, non-null) pairs fails
    loudly."""
    from ..ops.infostats import mutual_information

    row = mutual_information(ctx.ds, c.column, c.other).collect()[0]
    n = int(row["n"])
    value = None if n == 0 else (row["nmi"] if c.normalized else row["mi_bits"])
    failed = _out_of_bounds(value, c)
    return {
        "constraint": c.name,
        "type": "mutual_information_bound",
        "column": c.column,
        "other": c.other,
        "normalized": c.normalized,
        "n": n,
        "n_pairs": int(row["n_pairs"]),
        "mi_bits": row["mi_bits"] if n else None,
        "nmi": row["nmi"] if n else None,
        "value": value,
        "lo": c.lo,
        "hi": c.hi,
        "n_violations": int(failed),
        "passed": not failed,
    }, None


def _quantile_bound(c: QuantileBound, ctx: _Context):
    """QuantileBound: exact runs the refinement search, sketch reads the
    pass-1 profile's KLL (no job).  A value of None FAILS — a quantile
    bound over no data is a broken contract, never a silent pass."""
    if c.method == "exact":
        from ..ops.selection import exact_quantile

        try:
            value = exact_quantile(ctx.ds, c.column, c.q)
        except ValueError:  # no non-null values → fail
            value = None
        value = None if value is None else float(value)
    else:
        kll = getattr(_column_acc(ctx.profile(), c.column), "kll", None)
        value = float(kll.quantile(c.q)) if kll is not None and kll.n else None
    failed = _out_of_bounds(value, c)
    return {
        "constraint": c.name,
        "type": "quantile_bound",
        "column": c.column,
        "q": c.q,
        "method": c.method,
        "value": value,
        "lo": c.lo,
        "hi": c.hi,
        "n_violations": int(failed),
        "passed": not failed,
    }, None


def _drift(c: Drift, ctx: _Context):
    """Drift: this batch's profile sketches against the baseline's
    (drift.py), no job."""
    metrics = drift_column(ctx.baseline.column(c.column), ctx.profile().column(c.column))
    ks, psi = metrics.get("ks"), metrics.get("psi")
    w1, chi2 = metrics.get("w1"), metrics.get("chi2")
    failed = (
        (ks is not None and ks > c.max_ks)
        or (psi is not None and psi > c.max_psi)
        or (c.max_w1 is not None and w1 is not None and w1 > c.max_w1)
        or (c.max_chi2 is not None and chi2 is not None and chi2 > c.max_chi2)
    )
    return {
        "constraint": c.name,
        "type": "drift",
        "column": c.column,
        "ks": ks,
        "psi": psi,
        "w1": w1,
        "chi2": chi2,
        "max_ks": c.max_ks,
        "max_psi": c.max_psi,
        "max_w1": c.max_w1,
        "max_chi2": c.max_chi2,
        "n_violations": int(failed),
        "passed": not failed,
    }, None


# one check per dataset-level kind: (result dict, violation table or
# None); a subclass takes its nearest base's check
_CHECKS = {
    Unique: _unique,
    Referential: _referential,
    GroupBound: _group_bound,
    FunctionalDependency: _functional_dependency,
    DistinctRatio: _distinct_ratio,
    Monotonic: _monotonic,
    EntropyBound: _entropy_bound,
    CorrelationBound: _correlation_bound,
    MutualInformationBound: _mutual_information_bound,
    QuantileBound: _quantile_bound,
    Drift: _drift,
}
