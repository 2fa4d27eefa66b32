"""Delta validation: re-run the expensive row-level pass only on the
scopes touched by churn, carry the untouched scopes' report rows
forward, and keep every dataset-level check globally exact.

The 10^12-row daily-ingest reality (reference scope: hgrsd/drivel runs
its infer-then-check loop over whatever it is handed — this module
decides WHAT to hand it): a refresh that adds/changes/removes 0.1% of
keys should not pay a full decode pass over the other 99.9%.  The
report scope key is ``pmod(hash(key), n_scopes)``, so churn maps to a
bounded set of "dirty" scopes:

* a scope with NO added/changed/removed key holds an identical row
  multiset in both snapshots ⇒ its per-scope pass/fail counts and its
  violation rows are byte-identical ⇒ carried forward from the
  previous report without touching a row;
* dirty scopes are re-validated over their FULL current rows (not just
  the churned keys — per-scope counts are totals);
* dataset-level constraints (uniqueness, referential, drift) are
  recomputed over the whole new snapshot: they are key-only /
  sketch-sized passes, and global exactness is non-negotiable — a
  duplicate pair can span a clean and a dirty scope.

The contract, pinned by tests and the ``validate-delta`` job verb:
**merged report ≡ full validate of the new snapshot** (same pass/fail
rows, same digest, same violation-row multiset), while the decode-
bearing row pass scans only the dirty scopes' rows.  Requires the
previous report to have been produced with the same constraint suite
and the same ``n_scopes``.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .validate import GLOBAL_SCOPE, normalize_passfail, validate


def scope_of(key_col: str, n_scopes: int) -> Column:
    """The stable report-scope expression: ``pmod(xxhash64(key),
    n_scopes)`` — layout-independent, so the same key lands in the
    same scope across snapshots, masters, and file layouts."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_scopes)).cast("long")


def churned_scopes(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    n_scopes: int,
    compare_cols: Optional[list[str]] = None,
    scope: Optional[Column] = None,
) -> tuple[list[int], dict[str, int]]:
    """Dirty-scope ids + churn summary in ONE aggregation action.

    ``snapshot_diff`` (ops/audit.py) reduces both snapshots to
    ``(key, status)``; grouping that by the scope of the key yields at
    most ``n_scopes`` rows, so the driver-side collect is bounded by
    the report size, never the data size.  A scope is dirty when any
    non-``unchanged`` key hashes into it.
    """
    from drivel_spark.ops.audit import snapshot_diff

    d = snapshot_diff(old, new, key_col, compare_cols)
    s = scope if scope is not None else scope_of(key_col, n_scopes)
    per_scope = (
        d.groupBy(s.alias("__scope"))
        .pivot("status", ["added", "removed", "changed", "unchanged"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .collect()
    )
    churn = {f"n_{k}": 0 for k in ("added", "removed", "changed", "unchanged")}
    dirty: list[int] = []
    for row in per_scope:
        for k in ("added", "removed", "changed", "unchanged"):
            churn[f"n_{k}"] += int(row[k])
        if row["added"] or row["removed"] or row["changed"]:
            dirty.append(int(row["__scope"]))
    return sorted(dirty), churn


@dataclass
class DeltaValidationResult:
    passfail_pdf: Any  # pandas frame, PASSFAIL_COLS, deterministic order
    violations: DataFrame
    dataset: list[dict[str, Any]] = dc_field(default_factory=list)
    dirty_scopes: list[int] = dc_field(default_factory=list)
    churn: dict[str, int] = dc_field(default_factory=dict)
    n_rows_revalidated: int = 0

    def all_passed(self) -> bool:
        ds_ok = all(d.get("passed", True) for d in self.dataset)
        return bool(self.passfail_pdf["passed"].all()) and ds_ok


def validate_delta(
    new_df: DataFrame,
    row_constraints: list,
    ds_constraints: list,
    *,
    key_col: str,
    n_scopes: int,
    dirty_scopes: list[int],
    churn: dict[str, int],
    prev_passfail,
    prev_violations: Optional[DataFrame],
    scope: Optional[Column] = None,
    row_df: Optional[DataFrame] = None,
    prepare_row_df: Optional[Callable[[DataFrame], DataFrame]] = None,
    ref_tables: Optional[dict[str, DataFrame]] = None,
    profile=None,
    baseline_profile=None,
    keep_columns: Optional[list[str]] = None,
) -> DeltaValidationResult:
    """Merge-validated report over the new snapshot.

    ``prev_passfail`` is the previous full report (pandas frame or
    Spark DataFrame with PASSFAIL_COLS); ``prev_violations`` the
    previous violation rows (or None when carrying none).  ``row_df``
    lets the caller hand a differently-prepared frame to the row pass
    (e.g. with the SNR decode column attached); ``prepare_row_df`` is
    applied AFTER the dirty-scope filter, so join/coalesce preparation
    work also scales with churn, not table size.  Both row and
    dataset passes use the SAME scope expression, derived from
    ``key_col`` unless ``scope`` overrides it (the override must match
    the expression the previous report was built with).
    """
    import pandas as pd

    s = scope if scope is not None else scope_of(key_col, n_scopes)
    if hasattr(prev_passfail, "toPandas"):
        prev_passfail = prev_passfail.toPandas()
    prev_passfail = normalize_passfail(prev_passfail)

    # ---- fresh row-level pass over dirty scopes only -----------------
    frames = []
    fresh_row = None
    n_revalidated = 0
    if dirty_scopes and row_constraints:
        base = row_df if row_df is not None else new_df
        slice_df = base.filter(s.isin([int(i) for i in dirty_scopes]))
        if prepare_row_df is not None:
            slice_df = prepare_row_df(slice_df)
        fresh_row = validate(
            slice_df,
            row_constraints,
            scope=s,
            keep_columns=keep_columns,
        )
        fresh_pdf = fresh_row.passfail_pdf()
        n_revalidated = int(
            fresh_pdf.loc[
                fresh_pdf.constraint == "_rows_any_violation", "n_rows"
            ].sum()
        )
        frames.append(fresh_pdf)

    # ---- carried row-level rows for clean scopes ----------------------
    dirty_set = {int(i) for i in dirty_scopes}
    carried = prev_passfail[
        (prev_passfail.partition_id != GLOBAL_SCOPE)
        & (~prev_passfail.partition_id.isin(dirty_set))
    ]
    frames.append(carried)

    # ---- fresh dataset-level pass over the FULL new snapshot ----------
    fresh_ds = None
    if ds_constraints:
        fresh_ds = validate(
            new_df,
            ds_constraints,
            scope=s,
            ref_tables=ref_tables,
            profile=profile,
            baseline_profile=baseline_profile,
            keep_columns=keep_columns,
        )
        frames.append(fresh_ds.passfail_pdf())

    merged = normalize_passfail(pd.concat(frames, ignore_index=True))

    # ---- violations: fresh dirty-scope rows + carried clean-scope rows
    if fresh_row is not None:
        violations = fresh_row.violations
        if prev_violations is not None:
            clean_prev = prev_violations.filter(~s.isin(list(dirty_set)))
            violations = violations.unionByName(clean_prev)
    elif prev_violations is not None:
        violations = prev_violations
    else:
        violations = new_df.limit(0).withColumn(
            "failed", F.array().cast("array<string>")
        )

    return DeltaValidationResult(
        passfail_pdf=merged,
        violations=violations,
        dataset=list(fresh_ds.dataset) if fresh_ds is not None else [],
        dirty_scopes=sorted(dirty_set),
        churn=dict(churn),
        n_rows_revalidated=n_revalidated,
    )
