"""Per-column mergeable accumulators — the distributed SchemaState.

The reference folds whole JSON values into one in-memory tree
(/root/reference/src/infer.rs:441-449).  At 10^12 rows the equivalent is
a bounded, mergeable accumulator per column, updated vectorized per
Arrow batch (no per-row Python — BASELINE.json input_hint) and merged
associatively across partitions (rayon reduce ≈ treeAggregate,
SURVEY.md §2.9).

Every accumulator supports ``update(pa.Array)`` + ``merge(other)`` and
is a commutative monoid, so partition count/order never changes the
profile (pinned by tests/test_profiler.py).  Updates read Arrow arrays
through pyarrow.compute kernels and numpy views of their buffers, so a
Python worker that runs the profile never imports pandas; the state
equals what the same batches gave as pandas Series (NaN counts as NULL,
string counts enter the frequency map in ``value_counts()`` order).
"""

from __future__ import annotations

import pickle
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Any, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..arrow_np import non_null, values
from ..core.detect import detect_series
from ..core.node import (
    DEFAULT_MAX_CHARS,
    DEFAULT_MAX_STRINGS,
    STR_UNKNOWN,
    SchemaNode,
)
from ..sketches import KLL, BottomK, HyperLogLog, SpaceSaving, TDigest, hash64
from ..sketches.hashing import hash_numeric

# per-batch char-histogram sample cap: chars of at most this many strings
# per batch feed the histogram (keeps the generator's char-distribution
# evidence without scanning every byte of every string)
CHAR_SAMPLE_PER_BATCH = 200


@dataclass
class ProfilerOptions:
    hll_p: int = 12
    kll_k: int = 200
    freq_capacity: int = 64
    sample_k: int = DEFAULT_MAX_STRINGS
    max_chars: int = DEFAULT_MAX_CHARS
    detect_formats: bool = True
    # enum post-pass gates (reference defaults, main.rs:50-51).  The
    # library default is ON (richer profiles); the describe CLI makes
    # it opt-in via --infer-enum, matching the reference verb
    infer_enum: bool = True
    enum_max_unique_ratio: float = 0.1
    enum_min_sample_size: int = 1
    # optional second quantile sketch (north_star: "KLL/t-digest"):
    # >0 → numeric columns ALSO carry a t-digest of that compression —
    # tail-accurate quantiles (error ∝ q(1-q)) for p99-style checks
    tdigest_delta: int = 0


class ColumnAcc:
    """Base: counts common to all column kinds."""

    kind = "base"

    def __init__(self, name: str, dtype: str, opts: ProfilerOptions):
        self.name = name
        self.dtype = dtype
        self.opts = opts
        self.n = 0
        self.n_null = 0

    def _count(self, arr) -> pa.Array:
        self.n += len(arr)
        self.n_null += arr.null_count
        return non_null(arr)

    def update(self, arr) -> None:
        self._count(arr)

    def merge_base(self, other: "ColumnAcc") -> None:
        self.n += other.n
        self.n_null += other.n_null

    def merge(self, other: "ColumnAcc") -> "ColumnAcc":
        self.merge_base(other)
        return self

    def summary(self) -> dict[str, Any]:
        return {
            "column": self.name,
            "dtype": self.dtype,
            "kind": self.kind,
            "n": self.n,
            "n_null": self.n_null,
            "null_ratio": (self.n_null / self.n) if self.n else 0.0,
        }


class NumericAcc(ColumnAcc):
    kind = "numeric"

    def __init__(self, name: str, dtype: str, opts: ProfilerOptions, is_float: bool):
        super().__init__(name, dtype, opts)
        self.is_float = is_float
        self.min_v: Optional[float] = None
        self.max_v: Optional[float] = None
        self.sum_v: float = 0.0
        self.kll = KLL(k=opts.kll_k)
        self.hll = HyperLogLog(p=opts.hll_p)
        self.tdigest = TDigest(delta=opts.tdigest_delta) if opts.tdigest_delta else None

    def update(self, arr) -> None:
        v = self._count(arr)
        if pa.types.is_decimal(v.type):
            arr = np.array([float(d) for d in v.to_pylist()], dtype=np.float64)
        else:
            arr = values(pc.cast(v, pa.float64(), safe=False), np.float64)
        nan = np.isnan(arr)
        if nan.any():  # NaN is NULL, as pandas counts it
            self.n_null += int(nan.sum())
            arr = arr[~nan]
        if len(arr) == 0:
            return
        lo, hi = float(np.min(arr)), float(np.max(arr))
        self.min_v = lo if self.min_v is None else min(self.min_v, lo)
        self.max_v = hi if self.max_v is None else max(self.max_v, hi)
        self.sum_v += float(np.sum(arr))
        self.kll.update(arr)
        if self.tdigest is not None:
            self.tdigest.update(arr)
        self.hll.update_hashes(hash_numeric(arr))

    def merge(self, other: "NumericAcc") -> "NumericAcc":
        self.merge_base(other)
        self.is_float = self.is_float or other.is_float
        for attr, fn in (("min_v", min), ("max_v", max)):
            a, b = getattr(self, attr), getattr(other, attr)
            setattr(self, attr, b if a is None else (a if b is None else fn(a, b)))
        self.sum_v += other.sum_v
        self.kll = self.kll.merge(other.kll)
        if self.tdigest is not None and other.tdigest is not None:
            self.tdigest = self.tdigest.merge(other.tdigest)
        self.hll = self.hll.merge(other.hll)
        return self

    def summary(self) -> dict[str, Any]:
        d = super().summary()
        nv = self.n - self.n_null
        d.update(
            min=self.min_v,
            max=self.max_v,
            mean=(self.sum_v / nv) if nv else None,
            approx_distinct=round(self.hll.estimate()),
            quantiles={q: self.kll.quantile(q) for q in (0.01, 0.25, 0.5, 0.75, 0.99)}
            if self.kll.n
            else {},
        )
        if self.tdigest is not None and self.tdigest.n:
            d["tdigest_quantiles"] = {
                q: self.tdigest.quantile(q) for q in (0.01, 0.25, 0.5, 0.75, 0.99)
            }
        return d


class StringAcc(ColumnAcc):
    """String columns.  Each batch is reduced to its distinct values
    first (one Arrow ``value_counts``): the length bounds, HLL registers,
    value sample and format detection see each distinct value once (one
    :func:`hash64` serves the HLL and the sample), the frequency map
    gets the counts.  All are exact — min/max and register max are
    idempotent — so the sketches equal those fed every row.  Detection
    stops once the column can only resolve to ``unknown``; the char
    histogram still samples the batch's leading rows."""

    kind = "string"

    def __init__(self, name: str, dtype: str, opts: ProfilerOptions):
        super().__init__(name, dtype, opts)
        self.min_len: Optional[int] = None
        self.max_len: Optional[int] = None
        self.hll = HyperLogLog(p=opts.hll_p)
        self.freq = SpaceSaving(capacity=opts.freq_capacity)
        self.sample = BottomK(k=opts.sample_k)
        self.char_hist: Counter = Counter()
        self.formats_seen: set[str] = set()

    def update(self, arr) -> None:
        v = self._count(arr)
        if len(v) == 0:
            return
        if not pa.types.is_string(v.type):
            v = pc.cast(v, pa.string())
        vc = pc.value_counts(v)
        distinct = vc.field(0)
        lens = pc.min_max(pc.utf8_length(distinct))
        lo, hi = lens["min"].as_py(), lens["max"].as_py()
        self.min_len = lo if self.min_len is None else min(self.min_len, lo)
        self.max_len = hi if self.max_len is None else max(self.max_len, hi)
        h = hash64(distinct)
        self.hll.update_hashes(h)
        uniq = distinct.to_pylist()
        self.freq.update_value_counts(uniq, values(vc.field(1), np.int64))
        self.sample.update_hashed(uniq, h)
        # bounded char evidence: a prefix sample per batch
        chars = Counter("".join(v.slice(0, CHAR_SAMPLE_PER_BATCH).to_pylist()))
        self.char_hist.update(chars)
        if len(self.char_hist) > self.opts.max_chars:
            self.char_hist = Counter(dict(self.char_hist.most_common(self.opts.max_chars)))
        if self.opts.detect_formats and not self._demoted:
            self.formats_seen.update(detect_series(distinct).tolist())

    def merge(self, other: "StringAcc") -> "StringAcc":
        self.merge_base(other)
        for attr, fn in (("min_len", min), ("max_len", max)):
            a, b = getattr(self, attr), getattr(other, attr)
            setattr(self, attr, b if a is None else (a if b is None else fn(a, b)))
        self.hll = self.hll.merge(other.hll)
        self.freq = self.freq.merge(other.freq)
        self.sample = self.sample.merge(other.sample)
        self.char_hist.update(other.char_hist)
        if len(self.char_hist) > self.opts.max_chars:
            self.char_hist = Counter(dict(self.char_hist.most_common(self.opts.max_chars)))
        self.formats_seen |= other.formats_seen
        return self

    @property
    def _demoted(self) -> bool:
        # unknown or two formats: no later value can resolve a format
        return STR_UNKNOWN in self.formats_seen or len(self.formats_seen) > 1

    @property
    def resolved_format(self) -> str:
        """Reference format-lattice semantics: a format survives only if
        EVERY non-null value detected as that same format (unknown or
        disagreement demotes — infer.rs:67-81)."""
        if len(self.formats_seen) == 1:
            return next(iter(self.formats_seen))
        return STR_UNKNOWN

    def summary(self) -> dict[str, Any]:
        d = super().summary()
        d.update(
            min_len=self.min_len,
            max_len=self.max_len,
            approx_distinct=round(self.hll.estimate()),
            format=self.resolved_format,
            top=self.freq.top(10),
        )
        return d


class BooleanAcc(ColumnAcc):
    kind = "boolean"

    def __init__(self, name: str, dtype: str, opts: ProfilerOptions):
        super().__init__(name, dtype, opts)
        self.n_true = 0

    def update(self, arr) -> None:
        v = self._count(arr)
        if len(v):
            self.n_true += pc.sum(v).as_py()

    def merge(self, other: "BooleanAcc") -> "BooleanAcc":
        self.merge_base(other)
        self.n_true += other.n_true
        return self

    def summary(self) -> dict[str, Any]:
        d = super().summary()
        d.update(n_true=self.n_true, n_false=self.n - self.n_null - self.n_true)
        return d


class BinaryAcc(ColumnAcc):
    """Opaque payload columns (audio/image/video bytes)."""

    kind = "binary"

    def __init__(self, name: str, dtype: str, opts: ProfilerOptions):
        super().__init__(name, dtype, opts)
        self.min_size: Optional[int] = None
        self.max_size: Optional[int] = None
        self.total_bytes = 0

    def update(self, arr) -> None:
        v = self._count(arr)
        if len(v) == 0:
            return
        sizes = values(pc.cast(pc.binary_length(v), pa.int64()), np.int64)
        lo, hi = int(sizes.min()), int(sizes.max())
        self.min_size = lo if self.min_size is None else min(self.min_size, lo)
        self.max_size = hi if self.max_size is None else max(self.max_size, hi)
        self.total_bytes += int(sizes.sum())

    def merge(self, other: "BinaryAcc") -> "BinaryAcc":
        self.merge_base(other)
        for attr, fn in (("min_size", min), ("max_size", max)):
            a, b = getattr(self, attr), getattr(other, attr)
            setattr(self, attr, b if a is None else (a if b is None else fn(a, b)))
        self.total_bytes += other.total_bytes
        return self

    def summary(self) -> dict[str, Any]:
        d = super().summary()
        d.update(min_size=self.min_size, max_size=self.max_size, total_bytes=self.total_bytes)
        return d


class ArrayAcc(ColumnAcc):
    """array<T> columns: element-count bounds (F.size analog)."""

    kind = "array"

    def __init__(self, name: str, dtype: str, opts: ProfilerOptions):
        super().__init__(name, dtype, opts)
        self.min_items: Optional[int] = None
        self.max_items: Optional[int] = None

    def update(self, arr) -> None:
        v = self._count(arr)
        if len(v) == 0:
            return
        sizes = values(pc.cast(pc.list_value_length(v), pa.int64()), np.int64)
        lo, hi = int(sizes.min()), int(sizes.max())
        self.min_items = lo if self.min_items is None else min(self.min_items, lo)
        self.max_items = hi if self.max_items is None else max(self.max_items, hi)

    def merge(self, other: "ArrayAcc") -> "ArrayAcc":
        self.merge_base(other)
        for attr, fn in (("min_items", min), ("max_items", max)):
            a, b = getattr(self, attr), getattr(other, attr)
            setattr(self, attr, b if a is None else (a if b is None else fn(a, b)))
        return self

    def summary(self) -> dict[str, Any]:
        d = super().summary()
        d.update(min_items=self.min_items, max_items=self.max_items)
        return d


_EPOCH = datetime(1970, 1, 1)
_TICKS_PER_S = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def _wall_time(ticks: int, unit: str) -> datetime:
    """``ticks`` of ``unit`` since the epoch as a naive datetime
    (nanoseconds floor to microseconds; Spark's timestamps are
    microseconds)."""
    return _EPOCH + timedelta(microseconds=ticks * 10**6 // _TICKS_PER_S[unit])


class TimestampAcc(ColumnAcc):
    kind = "timestamp"

    def __init__(self, name: str, dtype: str, opts: ProfilerOptions):
        super().__init__(name, dtype, opts)
        self.min_ts = None
        self.max_ts = None

    def update(self, arr) -> None:
        v = self._count(arr)
        if len(v) == 0:
            return
        if pa.types.is_timestamp(v.type):
            # naive datetimes of the session-local wall time; they print
            # and compare like the pandas Timestamps older pickles hold
            # (a timestamp scalar's ``as_py`` would import pandas)
            if v.type.tz is not None:
                v = pc.local_timestamp(v)
            mm = pc.min_max(pc.cast(v, pa.int64()))
            lo, hi = (_wall_time(mm[k].as_py(), v.type.unit) for k in ("min", "max"))
        else:
            mm = pc.min_max(v)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
        self.min_ts = lo if self.min_ts is None else min(self.min_ts, lo)
        self.max_ts = hi if self.max_ts is None else max(self.max_ts, hi)

    def merge(self, other: "TimestampAcc") -> "TimestampAcc":
        self.merge_base(other)
        for attr, fn in (("min_ts", min), ("max_ts", max)):
            a, b = getattr(self, attr), getattr(other, attr)
            setattr(self, attr, b if a is None else (a if b is None else fn(a, b)))
        return self

    def summary(self) -> dict[str, Any]:
        d = super().summary()
        d.update(
            min=str(self.min_ts) if self.min_ts is not None else None,
            max=str(self.max_ts) if self.max_ts is not None else None,
        )
        return d


def make_column_acc(name: str, spark_type_name: str, opts: ProfilerOptions) -> ColumnAcc:
    t = spark_type_name.lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"):
        return NumericAcc(name, t, opts, is_float=False)
    if t in ("float", "double") or t.startswith("decimal"):
        return NumericAcc(name, t, opts, is_float=True)
    if t == "string":
        return StringAcc(name, t, opts)
    if t == "boolean":
        return BooleanAcc(name, t, opts)
    if t == "binary":
        return BinaryAcc(name, t, opts)
    if t.startswith("array"):
        return ArrayAcc(name, t, opts)
    if t.startswith("timestamp") or t == "date":
        return TimestampAcc(name, t, opts)
    return ColumnAcc(name, t, opts)  # null-count-only fallback (maps, structs)


class TableAccumulator:
    """All column accumulators for one table + row count; the seqOp/combOp
    payload of the distributed profile (treeAggregate analog)."""

    def __init__(self, columns: list[tuple[str, str]], opts: ProfilerOptions):
        self.opts = opts
        self.n_rows = 0
        self.n_partitions = 1
        self.cols = {name: make_column_acc(name, t, opts) for name, t in columns}

    def update(self, batch: pa.RecordBatch) -> None:
        self.n_rows += batch.num_rows
        names = set(batch.schema.names)
        for name, acc in self.cols.items():
            if name in names:
                acc.update(batch.column(name))

    def merge(self, other: "TableAccumulator") -> "TableAccumulator":
        self.n_rows += other.n_rows
        self.n_partitions += other.n_partitions
        for name, acc in self.cols.items():
            acc.merge(other.cols[name])
        return self

    def to_bytes(self) -> bytes:
        return pickle.dumps(self, protocol=4)

    @staticmethod
    def from_bytes(b: bytes) -> "TableAccumulator":
        return pickle.loads(b)
