"""Resumable runs: per-file lineage commit table + resumable profiling."""

from .runner import resumable_profile, resumable_screen
from .store import CheckpointStore, make_commit_row

__all__ = ["CheckpointStore", "make_commit_row", "resumable_profile", "resumable_screen"]
