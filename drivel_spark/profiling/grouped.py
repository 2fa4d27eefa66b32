"""Per-group profiling: the pass-1 fold partitioned by a category
column ("profile BY codec").

The whole-table profile answers "is the table healthy"; real ingest
failures are usually PER-SOURCE — one codec's batch resampled wrong,
one language's quality collapsing — and the global profile averages
them away.  ``grouped_profile`` runs the SAME mergeable-accumulator
fold (accumulator.py) once per group value, in ONE scan:

* the profiler's keyed accumulator pass (profiler.keyed_accumulators)
  keyed by the group value: each Arrow batch is split by the key
  (dictionary-encoded, stably sorted) and folded into a per-group
  :class:`TableAccumulator` — the scan stays single-pass regardless
  of group count;
* one shuffle of O(partitions × groups) pickled partials (KBs each)
  hashed on the group, merged per group by the profiler's one merger
  (profiler.merge_keyed) — the data itself never reshuffles;
* the O(groups) merged rows collect to a ``{group: TableProfile}``
  dict on the driver.

Bounded-cardinality contract (same as enum/freq-map ops): the group
column must be category-like — partial count is partitions × groups
and every group's profile is O(KB), so a codec/language/source key
holds at 10^12 rows, while an id-like key would not (and is the wrong
question to ask a per-group profile anyway).

``grouped_drift`` then compares two grouped profiles group-by-group
with the SAME sketch math as the global Drift constraint
(constraints/drift.py) — per-group KS/PSI/W1/chi2 from O(KB) state,
no data pass.  Reference parity: the reference has no grouped
profiling; this is target-design validation surface (BASELINE.json
north rule's codec/sr frequency maps, taken to full per-group stats).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .accumulator import ProfilerOptions, TableAccumulator
from .profiler import NULL_GROUP, TableProfile, keyed_accumulators, merge_keyed

__all__ = ["grouped_profile", "grouped_drift"]


def grouped_profile(
    df: DataFrame,
    by: str,
    columns: Optional[list[str]] = None,
    opts: ProfilerOptions = ProfilerOptions(),
) -> dict[Optional[str], TableProfile]:
    """Profile every column subset PER VALUE of the category column
    ``by``, in one scan.  Returns ``{group_value: TableProfile}``;
    rows with a NULL key profile under the ``None`` entry.  The group
    column itself is excluded from the profiled columns (its per-group
    distribution is a constant)."""
    if by not in df.columns:
        raise ValueError(f"grouped_profile: unknown group column {by!r}")
    cols = columns if columns is not None else [
        c for c in df.columns if c != by
    ]
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"grouped_profile: unknown column(s) {missing}")
    merged = merge_keyed(keyed_accumulators(df, F.col(by), cols, opts))
    out: dict[Optional[str], TableProfile] = {}
    for row in merged.collect():
        key = None if row["key"] == NULL_GROUP else row["key"]
        out[key] = TableProfile(
            TableAccumulator.from_bytes(bytes(row["acc"])), opts
        )
    return out


def grouped_drift(
    baseline: dict[Optional[str], TableProfile],
    current: dict[Optional[str], TableProfile],
    columns: Optional[list[str]] = None,
) -> pd.DataFrame:
    """Per-group drift report: for every group present in EITHER
    profile dict, the sketch-vs-sketch drift metrics per column
    (constraints/drift.drift_column — KS/PSI/W1/chi2 where defined).
    Groups present on one side only emit a ``status`` of
    ``added``/``removed`` with NULL metrics — a vanished codec is
    drift a distance metric can't express.  Driver-side O(groups ×
    columns) over O(KB) sketch state; no Spark job."""
    import pandas as pd

    from ..constraints.drift import drift_column

    rows = []
    for group in sorted(
        set(baseline) | set(current), key=lambda g: (g is None, g)
    ):
        b, c = baseline.get(group), current.get(group)
        if b is None or c is None:
            rows.append(
                {
                    "group": group,
                    "column": None,
                    "status": "added" if b is None else "removed",
                    "ks": None, "psi": None, "w1": None, "chi2": None,
                }
            )
            continue
        names = columns if columns is not None else [
            n for n in b.columns() if n in set(c.columns())
        ]
        for name in names:
            d = drift_column(b.column(name), c.column(name))
            rows.append(
                {
                    "group": group,
                    "column": name,
                    "status": "both",
                    "ks": d.get("ks"),
                    "psi": d.get("psi"),
                    "w1": d.get("w1"),
                    "chi2": d.get("chi2"),
                }
            )
    return pd.DataFrame(
        rows, columns=["group", "column", "status", "ks", "psi", "w1", "chi2"]
    )
