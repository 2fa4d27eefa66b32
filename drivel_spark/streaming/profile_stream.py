"""Incremental schema/stats inference via Structured Streaming.

The batch profiler (profiling/profiler.py) folds the whole table once;
at 10^12-clip scale new files land continuously and re-profiling the
history per arrival is O(history).  Because every accumulator in the
engine is a MERGEABLE monoid (the same property that makes the batch
treeAggregate correct), an incremental profile is just:

    running_state  ⊔  profile(new_files_only)

* ``readStream`` file source — each micro-batch sees only NEW files
  (Spark's file-source log is the dedup ledger);
* inside ``foreachBatch`` the micro-batch runs the IDENTICAL
  distributed path as the batch engine — ``keyed_accumulators``
  (vectorized mapInArrow seqOp) + ``tree_combine`` — so per-batch
  cost is O(new data) with the same plan shape at any history size;
* the merged running :class:`TableAccumulator` is persisted per batch
  as ``state_<batch_id>.bin`` (KBs — sketches, not data).  The write
  is keyed by batch id, which makes the fold IDEMPOTENT: if a batch
  is replayed after a crash (foreachBatch is at-least-once), the
  existing state file for that id is detected and the merge is
  skipped — exactly-once semantics for the profile itself;
* streaming state store stays EMPTY (no watermark, no per-key state):
  all state is the O(columns × sketch) accumulator file.

The reference's analog is the stdin fold loop (main.rs:91-117 —
read → infer → merge); this is that loop lifted to an unbounded,
resumable, distributed setting.
"""

from __future__ import annotations

import os
import re
from typing import Optional

from pyspark.sql import SparkSession

from ..profiling.accumulator import ProfilerOptions, TableAccumulator
from ..profiling.profiler import (
    TableProfile,
    fold_accumulators,
    keyed_accumulators,
    tree_combine,
)

_STATE_RE = re.compile(r"^state_(\d+)\.bin$")
_IDENT_FILE = "checkpoint_identity"


def _checkpoint_query_id(checkpoint_dir: str) -> Optional[str]:
    """The stream's stable query id from the checkpoint's metadata file
    (written by Spark at first start; survives restarts — unlike runId,
    which changes per start)."""
    meta = os.path.join(checkpoint_dir, "metadata")
    if os.path.exists(meta):
        import json

        with open(meta) as fh:
            return json.load(fh).get("id")
    return None


def _checkpoint_has_commits(checkpoint_dir: str) -> bool:
    d = os.path.join(checkpoint_dir, "commits")
    return os.path.isdir(d) and any(not f.startswith(".") for f in os.listdir(d))


def _guard_checkpoint_identity(state_dir: str, checkpoint_dir: str) -> None:
    """Fail fast when state_dir and checkpoint_dir have diverged
    (ADVICE r02): replay detection keys on state-file existence, which
    is only sound when the two directories live and die together.

    * recorded identity ≠ current checkpoint id → a reset/different
      checkpoint reusing an old state dir would silently skip batches
      (stale ``state_N`` wins);
    * committed state but a wiped/fresh checkpoint → batch ids restart
      at 0 and collide with old state files;
    * committed checkpoint but a wiped state dir → ``prev=None`` folds
      only the newest batch, silently dropping all history.

    Scope: the guard inspects the checkpoint with LOCAL filesystem
    calls, matching this module's state store (plain ``open``/
    ``os.replace`` on a posix path — local or NFS-mounted).  A URI
    checkpoint (hdfs://, s3a://) is invisible to it: point BOTH dirs
    at driver-visible paths, which is already required for the state
    files themselves.
    """
    ident_file = os.path.join(state_dir, _IDENT_FILE)
    cp_id = _checkpoint_query_id(checkpoint_dir)
    has_state = _latest_state(state_dir) is not None
    if os.path.exists(ident_file):
        with open(ident_file) as fh:
            recorded = fh.read().strip()
        if cp_id != recorded:
            raise RuntimeError(
                f"profile state dir {state_dir} was committed under "
                f"checkpoint query id {recorded!r} but {checkpoint_dir} "
                f"now has id {cp_id!r} (reset or different checkpoint). "
                "Use matching state+checkpoint dirs, or remove BOTH to "
                "start fresh."
            )
    elif has_state:
        raise RuntimeError(
            f"profile state dir {state_dir} has committed state but no "
            "recorded checkpoint identity (pre-identity layout or "
            "foreign dir); re-point or remove it."
        )
    elif _checkpoint_has_commits(checkpoint_dir):
        raise RuntimeError(
            f"checkpoint {checkpoint_dir} has already committed batches "
            f"but state dir {state_dir} is empty — resuming would fold "
            "only new batches and silently drop all profiled history. "
            "Restore the state dir or remove the checkpoint."
        )


def _record_checkpoint_identity(state_dir: str, checkpoint_dir: str) -> None:
    ident_file = os.path.join(state_dir, _IDENT_FILE)
    if not os.path.exists(ident_file):
        cp_id = _checkpoint_query_id(checkpoint_dir)
        if cp_id is not None:
            tmp = ident_file + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(cp_id)
            os.replace(tmp, ident_file)


def _latest_state(state_dir: str, below: Optional[int] = None):
    """(batch_id, path) of the newest committed state, optionally only
    those with batch_id < ``below`` (for replay detection)."""
    best = None
    if os.path.isdir(state_dir):
        for f in os.listdir(state_dir):
            m = _STATE_RE.match(f)
            if m:
                bid = int(m.group(1))
                if below is not None and bid >= below:
                    continue
                if best is None or bid > best[0]:
                    best = (bid, os.path.join(state_dir, f))
    return best


def profile_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    columns: Optional[list[str]] = None,
    opts: ProfilerOptions = ProfilerOptions(),
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """Run (with ``available_now``, to completion) the incremental
    profile stream over a growing parquet directory.  Returns the
    StreamingQuery; read the result with :func:`load_stream_profile`.
    """
    os.makedirs(state_dir, exist_ok=True)
    _guard_checkpoint_identity(state_dir, checkpoint_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    if columns is not None:
        stream = stream.select(*columns)

    def process_batch(batch_df, batch_id: int) -> None:
        # bind the state dir to this checkpoint's stable query id on the
        # FIRST batch, even one that folds nothing — the metadata file
        # exists once the query started, and recording unconditionally
        # keeps the identity guard sound for empty-source first runs
        _record_checkpoint_identity(state_dir, checkpoint_dir)
        final = os.path.join(state_dir, f"state_{batch_id}.bin")
        if os.path.exists(final):
            return  # replayed batch — already folded, skip (idempotent)
        acc_df = tree_combine(keyed_accumulators(batch_df, None, columns, opts))
        blobs = [r["acc"] for r in acc_df.collect()]
        prev = _latest_state(state_dir, below=batch_id)
        if prev is not None:
            with open(prev[1], "rb") as fh:
                blobs.insert(0, fh.read())
        if not blobs:
            return
        merged = fold_accumulators(blobs)
        tmp = final + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(merged.to_bytes())
        os.replace(tmp, final)  # atomic commit keyed by batch id

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def load_stream_profile(
    state_dir: str, opts: ProfilerOptions = ProfilerOptions()
) -> TableProfile:
    """The profile of everything streamed so far (latest committed
    state) — same :class:`TableProfile` API as the batch engine."""
    best = _latest_state(state_dir)
    if best is None:
        raise FileNotFoundError(f"no committed profile state under {state_dir}")
    with open(best[1], "rb") as fh:
        return TableProfile(TableAccumulator.from_bytes(fh.read()), opts)
