"""Distributed partition-parallel profiling.

Every profile path — :func:`profile`, per-group (grouped.py) and
per-file resumable (checkpoint/runner.py, which the incremental
``profile-stream`` verb also runs on) — runs the same three steps:

1. :func:`keyed_accumulators` — ONE ``mapInArrow`` kernel folding
   each partition's Arrow batches into one :class:`TableAccumulator`
   per key (vectorized seqOp, no per-row Python) and emitting
   ``(key, acc)`` rows; ``key=None`` means one accumulator per
   partition;
2. :func:`merge_keyed` — ONE executor-side merger, a key-partitioned
   ``mapInArrow``; :func:`tree_combine` applies it level by level on
   ``pmod(partition, buckets)`` buckets (the treeAggregate/rayon-reduce
   analog, SURVEY.md §2.9);
3. :func:`fold_accumulators` / :func:`fold_keyed` — the driver fold of
   the collected blobs into one accumulator (per key) →
   :class:`TableProfile`.

Both kernels run on Arrow batches and never import pandas, so the
Python workers that run them do not carry it (drivel_spark/arrow_np.py
says which pyarrow calls would load it).

Scale notes:

* the scan reads each column once; column pruning reaches the parquet
  reader because ``df.select(cols)`` precedes the UDF;
* accumulators are O(KB) per column independent of row count, so the
  shuffle moving them is negligible;
* with tens of thousands of partitions, the :data:`TREE_FANIN`-way
  combine levels bound both the driver's merge work and the
  single-task combine fan-in.
"""

from __future__ import annotations

import json
import math
import pickle
import threading
from typing import Any, Iterable, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core import (
    EnumInference,
    InferenceOptions,
    SchemaNode,
    describe as core_describe,
    infer_many,
    to_json_schema as core_to_json_schema,
)
from ..arrow_np import binary_array, bool_mask, concat_batches, from_numpy, values
from ..core.node import STR_ENUM, STR_UNKNOWN
from .accumulator import ProfilerOptions, StringAcc, TableAccumulator

# serializes profile() calls that override the session-global Arrow
# batch-size conf (ADVICE r02: concurrent set/restore races)
_ARROW_BATCH_LOCK = threading.Lock()

_ACC_SCHEMA = "key string, acc binary"


class TableProfile:
    """Driver-side result of :func:`profile`: per-column stats + the
    schema-summary tree, with describe / JSON-Schema emitters."""

    def __init__(self, acc: TableAccumulator, opts: ProfilerOptions):
        self.acc = acc
        self.opts = opts

    # ------------------------------------------------------------------
    @property
    def n_rows(self) -> int:
        return self.acc.n_rows

    @property
    def n_partitions(self) -> int:
        return self.acc.n_partitions

    def column(self, name: str):
        return self.acc.cols[name]

    def columns(self) -> list[str]:
        return list(self.acc.cols)

    def merge(self, other: "TableProfile") -> "TableProfile":
        """Union two profiles WITHOUT rescanning either table — the
        accumulators are a commutative monoid (sketches merge, stats
        fold), so ``profile(A).merge(profile(B)) ≡ profile(A ∪ B)``.
        This is how a 10^12-row corpus profiles incrementally: each
        ingest batch pays one scan, the corpus profile is the running
        fold (the same property checkpoint/resume and the streaming
        profiler already rely on, exposed for cross-run/cross-table
        composition).  Mutates and returns self; column sets must
        match (profiles of the same contract)."""
        mine, theirs = set(self.acc.cols), set(other.acc.cols)
        if mine != theirs:
            raise ValueError(
                f"profiles cover different columns: {sorted(mine ^ theirs)}"
            )
        self.acc.merge(other.acc)
        return self

    def summary(self) -> list[dict[str, Any]]:
        return [acc.summary() for acc in self.acc.cols.values()]

    # ------------------------------------------------------------------
    def to_schema_node(self) -> SchemaNode:
        """Project the columnar profile into the core schema tree
        (object with every column required; nullable ⇔ nulls seen),
        applying the enum post-pass gates on string columns."""
        fields: dict[str, SchemaNode] = {}
        for name, acc in self.acc.cols.items():
            fields[name] = self._column_node(acc)
        return SchemaNode.object(required=fields)

    def _column_node(self, acc) -> SchemaNode:
        nullable = acc.n_null > 0
        k = acc.kind
        if k == "numeric":
            node = (
                SchemaNode.floating(acc.min_v, acc.max_v)
                if acc.is_float
                else SchemaNode.integer(
                    int(acc.min_v) if acc.min_v is not None else None,
                    int(acc.max_v) if acc.max_v is not None else None,
                )
            )
        elif k == "string":
            node = self._string_node(acc)
        elif k == "boolean":
            node = SchemaNode.boolean()
        elif k == "array":
            node = SchemaNode.array(acc.min_items, acc.max_items, SchemaNode.initial())
        elif k == "timestamp":
            node = SchemaNode.string(str_type="datetime-iso8601")
        else:
            node = SchemaNode.string(
                min_len=getattr(acc, "min_size", None), max_len=getattr(acc, "max_size", None)
            ) if k == "binary" else SchemaNode.initial()
        if acc.n > 0 and acc.n == acc.n_null:
            return SchemaNode.null()
        return node.with_nullable(nullable)

    def _string_node(self, acc: StringAcc) -> SchemaNode:
        fmt = acc.resolved_format
        if fmt != STR_UNKNOWN:
            return SchemaNode.string(str_type=fmt)
        # enum gate (reference semantics, infer.rs:257-278, applied once
        # post-merge): distinct/count ratio from the sketches, variants
        # from the exact-when-small frequency map
        n_vals = acc.n - acc.n_null
        if (
            self.opts.infer_enum
            and n_vals >= self.opts.enum_min_sample_size
            and n_vals > 0
            and acc.freq.is_exact
            and len(acc.freq.counts) / n_vals <= self.opts.enum_max_unique_ratio
        ):
            return SchemaNode.enum(acc.freq.counts.keys())
        chars: list[str] = []
        for ch, cnt in acc.char_hist.most_common():
            chars.extend([ch] * min(cnt, 8))
        return SchemaNode.string(
            strings_seen=list(acc.sample.sample())[: self.opts.sample_k],
            chars_seen=chars[: self.opts.max_chars],
            min_len=acc.min_len,
            max_len=acc.max_len,
        )

    def describe(self) -> str:
        return core_describe(self.to_schema_node())

    def to_json_schema(self, extended: bool = False):
        return core_to_json_schema(self.to_schema_node(), extended)


# ---------------------------------------------------------------------------
# the distributed pass
# ---------------------------------------------------------------------------


# NULL key values fold under this key (a groupby would drop them; an
# unlabeled-source profile is itself a data-quality signal)
NULL_GROUP = "␀null"
# tree_combine: partials merged per executor-side combine task, and the
# row count at or below which the partials go to the driver instead
TREE_FANIN = 64
COLLECT_THRESHOLD = 256
_ACC_ARROW = pa.schema([("key", pa.string()), ("acc", pa.binary())])


def _rebuffered(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
    """Re-buffer Arrow batches to ~8k rows, unless rows are wide (the
    first batch probes the bytes/row), in which case pass batches on
    as they come.  Small batches (wide-row sessions, partition tails)
    would otherwise make per-batch Python overhead dominate."""
    buf: list[pa.RecordBatch] = []
    buffered = 0
    target = None  # rows per update, decided on the first batch
    for batch in batches:
        if target is None:
            row_b = batch.nbytes // batch.num_rows if batch.num_rows else 0
            target = 1 if row_b > 4096 else 8192
        if target == 1:
            yield batch
            continue
        buf.append(batch)
        buffered += batch.num_rows
        if buffered >= target:
            yield concat_batches(buf)
            buf, buffered = [], 0
    if buf:
        yield concat_batches(buf)


def _key_groups(batch: pa.RecordBatch) -> Iterable[tuple[str, pa.RecordBatch]]:
    """``(str(key), rows)`` per value of the batch's ``__key`` column,
    rows in batch order; NULL keys group under :data:`NULL_GROUP`."""
    enc = pc.dictionary_encode(batch.column("__key"))
    names = [str(k) for k in enc.dictionary.to_pylist()] + [NULL_GROUP]
    codes = values(enc.indices, np.int32).copy()
    if enc.null_count:
        codes[bool_mask(pc.is_null(enc))] = len(names) - 1
    order = np.argsort(codes, kind="stable")
    sizes = np.bincount(codes, minlength=len(names))
    rows = batch.take(from_numpy(order))
    start = 0
    for name, size in zip(names, sizes.tolist()):
        if size:
            yield name, rows.slice(start, size)
            start += size


def _acc_batch(accs: dict[str, TableAccumulator]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [binary_array([k.encode() for k in accs], pa.string()),
         binary_array([a.to_bytes() for a in accs.values()])],
        schema=_ACC_ARROW,
    )


def _fold_partition(keyed: bool, columns: list[tuple[str, str]], opts: ProfilerOptions):
    def fn(batches: Iterable[pa.RecordBatch]):
        accs: dict[str, TableAccumulator] = {}
        if not keyed:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else -1
            acc = accs[str(pid)] = TableAccumulator(columns, opts)
            for batch in _rebuffered(batches):
                acc.update(batch)
        else:
            for batch in batches:
                for key, rows in _key_groups(batch):
                    acc = accs.get(key)
                    if acc is None:
                        acc = accs[key] = TableAccumulator(columns, opts)
                    acc.update(rows)
        yield _acc_batch(accs)

    return fn


def keyed_accumulators(
    df: DataFrame,
    key: Optional[Column] = None,
    columns: Optional[list[str]] = None,
    opts: ProfilerOptions = ProfilerOptions(),
) -> DataFrame:
    """The one accumulator pass: ``(key string, acc binary)`` rows, one
    pickled :class:`TableAccumulator` per key value per partition.

    ``key=None`` folds each partition into ONE accumulator keyed by
    its partition id (batches re-buffered to ~8k rows).  Otherwise
    ``key`` is evaluated in the same projection as the profiled
    ``columns`` (all of ``df``'s when None) — before any exchange, so
    ``input_file_name()`` still resolves — and each batch splits into
    one slice per key value (``dictionary_encode`` + a stable sort,
    rows in order within a key); NULL key values fold under
    :data:`NULL_GROUP`.  Column pruning reaches the scan because the
    projection precedes the UDF."""
    proj = df.select(*columns) if columns is not None else df
    col_types = [(f.name, f.dataType.simpleString()) for f in proj.schema.fields]
    if key is not None:
        proj = df.select(key.alias("__key"), *proj.columns)
    return proj.mapInArrow(_fold_partition(key is not None, col_types, opts), _ACC_SCHEMA)


def fold_accumulators(blobs: Iterable[bytes]) -> TableAccumulator:
    """Merge pickled accumulators into one (at least one blob)."""
    it = iter(blobs)
    merged = TableAccumulator.from_bytes(next(it))
    for b in it:
        merged = merged.merge(TableAccumulator.from_bytes(b))
    return merged


def fold_keyed(pairs: Iterable[tuple[str, bytes]]) -> dict[str, TableAccumulator]:
    """Merge pickled ``(key, acc)`` partials into one accumulator per
    key, in order of first appearance."""
    merged: dict[str, TableAccumulator] = {}
    for key, blob in pairs:
        acc = TableAccumulator.from_bytes(blob)
        merged[key] = merged[key].merge(acc) if key in merged else acc
    return merged


def _merge_partition(batches: Iterable[pa.RecordBatch]):
    merged = fold_keyed(
        (k, b)
        for batch in batches
        for k, b in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist())
    )
    if merged:
        yield _acc_batch(merged)


def merge_keyed(acc_df: DataFrame) -> DataFrame:
    """The one accumulator merger: one ``(key, acc)`` row per key of a
    :func:`keyed_accumulators` frame, merged executor-side — the rows
    are hash-partitioned by key and each partition folds its keys with
    :func:`fold_keyed` in a ``mapInArrow`` task."""
    return acc_df.repartition("key").mapInArrow(_merge_partition, _ACC_SCHEMA)


def tree_combine(
    acc_df: DataFrame, fanin: int = TREE_FANIN, collect_threshold: int = COLLECT_THRESHOLD
) -> DataFrame:
    """Executor-side combine levels over partition-keyed partials until
    few enough rows to collect — the treeAggregate combOp tree across
    executors.  Each level merges ``fanin`` partials per
    ``pmod(key, buckets)`` bucket.

    The accumulator DataFrame has exactly one row per input partition,
    so the partition count (known from the plan, no job) bounds the row
    count — sizing the combine tree without running the profiler scan
    an extra time for a ``count()``."""
    return _combine_levels(acc_df, acc_df.rdd.getNumPartitions(), fanin, collect_threshold)


def _combine_levels(
    acc_df: DataFrame, n: int, fanin: int = TREE_FANIN, collect_threshold: int = COLLECT_THRESHOLD
) -> DataFrame:
    """:func:`tree_combine` over ``n`` partials, a count the caller
    already has."""
    while n > collect_threshold:
        buckets = max(1, math.ceil(n / fanin))
        bucket = F.pmod(F.col("key").cast("long"), F.lit(buckets)).cast("string")
        acc_df = merge_keyed(acc_df.withColumn("key", bucket))
        n = buckets
    return acc_df


def profile(
    df: DataFrame,
    columns: Optional[list[str]] = None,
    opts: ProfilerOptions = ProfilerOptions(),
    arrow_batch: Optional[int] = None,
) -> TableProfile:
    """Profile a DataFrame in one distributed scan.

    ``arrow_batch``: temporarily raise the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` for this scan.
    The session default (config.py) is already 8192 rows, with wide
    binary rows bounded by the 32 MB ``maxBytesPerBatch`` cap, so the
    override only matters for a session built with a smaller row cap
    (at 256 rows, measured 7.1s → 4.4s on 600k×3 lineitem at 8192).
    Only use when no concurrently-planned job carries wide binary rows:
    the conf is session-global at planning time, so a wide-row job
    planned inside this window would inherit the large batch
    (cmd_validate therefore does NOT set it — its profile overlaps the
    audio SNR stage).
    Concurrent ``profile(arrow_batch=...)`` calls serialize on a module
    lock so set/restore can't interleave, and the override is skipped
    when the session value already meets the request.

    A single-row-group parquet file is UNSPLITTABLE, so the pruned
    input is round-robin repartitioned up to the core count when the
    scan gives fewer partitions (guide §2.5).  The pass is planned once:
    its partition count comes from its own executed plan, which the
    ``collect`` then reuses; only a pass below the core count is
    rebuilt over the repartitioned input, and the
    :func:`tree_combine` levels above :data:`COLLECT_THRESHOLD`
    partials are sized from that count.  The profile's exact
    fields (counts, min/max, sums, HLL registers) are
    partitioning-independent mergeable monoids (pinned by
    test_profiler); the BOUNDED sketches (SpaceSaving freq, KLL) are
    merge-order-sensitive above capacity by design and only promise
    their error contracts."""
    spark = df.sparkSession
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    proj = df.select(*columns) if columns is not None else df

    def _run():
        acc_df = keyed_accumulators(proj, opts=opts)
        # one partial per partition; an AQE plan runs its shuffle stages
        # here, and the collect below reuses them with the plan
        n = acc_df._jdf.queryExecution().executedPlan().execute().getNumPartitions()
        target = spark.sparkContext.defaultParallelism
        if n < target:  # the ensure_map_parallelism rule, planned once
            acc_df, n = keyed_accumulators(proj.repartition(target), opts=opts), target
        return _combine_levels(acc_df, n).collect()

    # the conf is session-global at planning time: serialize overriders
    # so two concurrent profile() calls can't interleave set/restore
    # (ADVICE r02).  BOTH the already-big check and the set/restore
    # happen under the lock — reading outside it could observe another
    # caller's temporary override, decide "already satisfied", and then
    # plan after that caller's restore.
    if arrow_batch is not None:
        with _ARROW_BATCH_LOCK:
            old = spark.conf.get(key)
            try:
                need = int(old) < int(arrow_batch)
            except (TypeError, ValueError):
                need = True
            if need:
                spark.conf.set(key, str(arrow_batch))
            try:
                rows = _run()
            finally:
                if need:
                    spark.conf.set(key, old)
    else:
        rows = _run()
    if not rows:
        col_types = [(f.name, f.dataType.simpleString()) for f in proj.schema.fields]
        return TableProfile(TableAccumulator(col_types, opts), opts)
    return TableProfile(fold_accumulators(r["acc"] for r in rows), opts)


# ---------------------------------------------------------------------------
# nested-JSON column inference (the reference's JSONL mode, distributed)
# ---------------------------------------------------------------------------


def profile_json_column(
    df: DataFrame,
    column: str,
    infer_opts: Optional[InferenceOptions] = None,
    enum: Optional[EnumInference] = None,
    with_stats: bool = False,
):
    """Infer the schema tree of a JSON-string column.

    Each partition folds its documents into one SchemaNode (the
    reference's ``infer_schema_from_iter``, infer.rs:441-449, running
    per-partition); pickled partial trees merge on the driver.  The
    enum post-pass runs ONCE after the global merge (sane-semantics
    deviation, SURVEY.md §2.4 E4).  ``json.loads`` is per-document by
    nature; evidence stays bounded via ``InferenceOptions`` caps.

    Malformed documents are COUNTED, not fatal (SURVEY S3's mandated
    improvement over the reference's hard exit, main.rs:104-109): a bad
    line on one of 10^9 partitions must not kill the job.  Pass
    ``with_stats=True`` to get ``(node, {"n_docs", "n_null",
    "n_corrupt"})`` instead of the bare node.
    """
    opts = infer_opts or InferenceOptions(
        max_strings_seen=64, max_chars_seen=1024
    )

    def fn(batches):
        acc = SchemaNode.initial()
        from ..core.infer import merge as node_merge, _infer_inner

        n_docs = n_null = n_corrupt = 0
        for batch in batches:
            for doc_s in batch.column(0).to_pylist():
                if doc_s is None:
                    n_null += 1
                    continue
                try:
                    doc = json.loads(doc_s)
                except (ValueError, TypeError):
                    n_corrupt += 1
                    continue
                n_docs += 1
                acc = node_merge(acc, _infer_inner(doc, opts), opts)
        counts = [from_numpy(np.array([c], np.int64)) for c in (n_docs, n_null, n_corrupt)]
        yield pa.RecordBatch.from_arrays(
            [binary_array([pickle.dumps(acc)]), *counts],
            names=["node", "n_docs", "n_null", "n_corrupt"],
        )

    parts = df.select(column).mapInArrow(
        fn, "node binary, n_docs long, n_null long, n_corrupt long"
    ).collect()
    from ..core.infer import apply_enum, merge as node_merge

    out = SchemaNode.initial()
    stats = {"n_docs": 0, "n_null": 0, "n_corrupt": 0}
    for r in parts:
        out = node_merge(out, pickle.loads(r["node"]), opts)
        for k in stats:
            stats[k] += int(r[k])
    if enum is not None:
        out = apply_enum(out, enum)
    return (out, stats) if with_stats else out
