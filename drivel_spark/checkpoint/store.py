"""Per-unit commit table for resumable runs (FIXTURES.md F3 schema).

The work unit is an *input file* (the stable unit of a table scan —
partition ids are layout-dependent, file paths are lineage).  Each
committed unit stores its blob (a pickled accumulator for a profile,
JSON counts for a screen, JSON per-scope violation counts and
violating rows for a row-level validation) + metrics + digest, and
in ``input_snapshot`` the file's identity when it was read
(``size=<bytes>,mtime=<ms>``; ``unit`` holds the path).  A restarted
run (a) skips files whose latest commit carries their current
identity — they are never re-read, not merely filtered — and (b)
reconstructs their contribution from the stored accumulator blobs; a
new or changed file recomputes alone.  Commits are atomic per batch
(parquet append of a new file); re-commits of the same unit are
idempotent (latest wins by committed_at).  Every resumable verb keeps
this one store: ``validate`` / ``screen --checkpoint`` and
``profile-stream``, ``screen-stream``, ``validate-stream``.

On a cluster this table would be an Iceberg table (ACID appends); the
sandbox uses a parquet directory with the identical schema — the engine
is format-agnostic behind this class (SURVEY.md §7.4 Iceberg note).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from typing import Optional

import pandas as pd

COMMIT_COLUMNS = [
    "run_id",
    "unit",  # input file path (lineage)
    "input_snapshot",  # the unit's identity: size=<bytes>,mtime=<ms>
    "status",
    "metrics_json",
    "accumulator_digest",
    "acc",  # the unit's blob for resume-without-recompute
    "committed_at",
]


class CheckpointStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        pdf = pd.DataFrame(rows, columns=COMMIT_COLUMNS)
        fname = os.path.join(self.path, f"commit-{uuid.uuid4().hex}.parquet")
        tmp = fname + ".tmp"
        pdf.to_parquet(tmp, index=False)
        os.rename(tmp, fname)  # atomic publish

    def commit_files(self) -> list[str]:
        """The store's published commit files, one per ``append``."""
        return [
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        ]

    def _read_all(self) -> pd.DataFrame:
        files = self.commit_files()
        if not files:
            return pd.DataFrame(columns=COMMIT_COLUMNS)
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

    def committed(self, run_id: str) -> pd.DataFrame:
        """The latest commit of each of ``run_id``'s units."""
        pdf = self._read_all()
        if pdf.empty:
            return pdf
        pdf = pdf[(pdf.run_id == run_id) & (pdf.status == "committed")]
        # idempotent re-commits: latest wins
        return pdf.sort_values("committed_at").groupby("unit", as_index=False).last()


def make_commit_row(
    run_id: str, unit: str, input_snapshot: str, acc_bytes: bytes, metrics: dict
) -> dict:
    return {
        "run_id": run_id,
        "unit": unit,
        "input_snapshot": input_snapshot,
        "status": "committed",
        "metrics_json": json.dumps(metrics, default=str),
        "accumulator_digest": hashlib.sha256(acc_bytes).hexdigest(),
        "acc": acc_bytes,
        "committed_at": time.time(),
    }
