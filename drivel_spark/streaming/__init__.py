"""Structured-Streaming front-end: the stateful streams (running,
windowed and CUSUM stats, dedup), which need Spark's state store.  The
incremental profile, audio-QA screen and row-level validation run on
the per-file commit store instead (checkpoint/runner.py
resumable_profile, resumable_screen, resumable_rows)."""

from .cusum_stream import CUSUM_STATE_FIELDS, streaming_cusum
from .stateful import latest_stats, running_stats, running_stats_stream
from .windows import (
    dedup_stream,
    load_windowed_stats,
    session_stats,
    windowed_stats,
    windowed_stats_stream,
)

__all__ = [
    "running_stats",
    "streaming_cusum",
    "CUSUM_STATE_FIELDS",
    "running_stats_stream",
    "latest_stats",
    "windowed_stats",
    "windowed_stats_stream",
    "load_windowed_stats",
    "session_stats",
    "dedup_stream",
]
