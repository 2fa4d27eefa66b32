"""Distributed profiling: per-column mergeable accumulators, one keyed
mapInArrow fold, one merger, tree combine, TableProfile result object."""

from .accumulator import ProfilerOptions, TableAccumulator, make_column_acc
from .compat import (
    COMPAT_SCHEMA,
    SEVERITY_BACKWARD,
    compat_report,
    compat_verdict,
)
from .diff import DIFF_SCHEMA, diff_profiles
from .grouped import grouped_drift, grouped_profile
from .profiler import (
    TableProfile,
    fold_accumulators,
    fold_keyed,
    keyed_accumulators,
    merge_keyed,
    profile,
    profile_json_column,
    tree_combine,
)

__all__ = [
    "ProfilerOptions",
    "TableAccumulator",
    "make_column_acc",
    "TableProfile",
    "COMPAT_SCHEMA",
    "SEVERITY_BACKWARD",
    "compat_report",
    "compat_verdict",
    "DIFF_SCHEMA",
    "diff_profiles",
    "grouped_profile",
    "grouped_drift",
    "fold_accumulators",
    "fold_keyed",
    "keyed_accumulators",
    "merge_keyed",
    "profile",
    "profile_json_column",
    "tree_combine",
]
