"""Structured-Streaming front-end: incremental row-constraint
validation with exactly-once file tracking (checkpointLocation), plus
the stateful streams (running, windowed and CUSUM stats, dedup).  The
incremental profile and audio-QA screen run on the per-file commit
store instead (checkpoint/runner.py resumable_profile,
resumable_screen)."""

from .cusum_stream import CUSUM_STATE_FIELDS, streaming_cusum
from .stateful import latest_stats, running_stats, running_stats_stream
from .validate_stream import cumulative_passfail, validate_stream
from .windows import (
    dedup_stream,
    load_windowed_stats,
    session_stats,
    windowed_stats,
    windowed_stats_stream,
)

__all__ = [
    "validate_stream",
    "cumulative_passfail",
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
