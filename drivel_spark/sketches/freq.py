"""Bounded frequency sketches.

* :class:`SpaceSaving` — Metwally et al. 2005 top-K heavy-hitters map.
  Exact when the number of distinct keys ≤ capacity (which makes
  small-scale unit tests byte-exact); at scale it degrades gracefully
  with a tracked error bound.  Batch updates aggregate per batch with
  one Arrow ``value_counts`` first, so there is no per-row Python; an
  eviction pops a min-heap instead of scanning the map.
* :class:`BottomK` — deterministic value sample: keeps the K values with
  the smallest stable hash.  Unlike a random reservoir it is mergeable
  AND deterministic (union → keep K smallest), so partition order can
  never change the profile.  Replaces the reference's unbounded
  ``strings_seen`` evidence (/root/reference/src/infer.rs:56-57) at
  scale.
"""

from __future__ import annotations

import heapq

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..arrow_np import non_null, values as np_values
from .hashing import hash64


class SpaceSaving:
    __slots__ = ("capacity", "counts", "errors")

    def __init__(self, capacity: int = 64):
        self.capacity = capacity
        self.counts: dict = {}
        self.errors: dict = {}

    def update_counts(self, counts: dict) -> None:
        """Add ``{key: count}`` in order.  A new key past capacity
        evicts the key ``min(self.counts, key=self.counts.get)`` names
        (the least count, the earliest inserted among equals) and
        inherits its count as error.  The minimum comes from a heap of
        ``(count, insertion seq, key)`` built on the call's first
        eviction; counts only grow, so an entry that lags its key's
        count is re-pushed when popped."""
        sketch, errors = self.counts, self.errors
        heap = None
        for key, c in counts.items():
            if key in sketch:
                sketch[key] += c
                continue
            if len(sketch) < self.capacity:  # (never once the heap exists)
                errors[key] = 0
                sketch[key] = c
                continue
            if heap is None:
                heap = [(n, i, k) for i, (k, n) in enumerate(sketch.items())]
                heapq.heapify(heap)
                seq = len(heap)
            while True:
                mcount, i, mkey = heapq.heappop(heap)
                if sketch[mkey] == mcount:
                    break
                heapq.heappush(heap, (sketch[mkey], i, mkey))
            del sketch[mkey], errors[mkey]
            errors[key] = mcount
            sketch[key] = c = mcount + c
            heapq.heappush(heap, (c, seq, key))
            seq += 1

    def update_value_counts(self, keys: list, counts: np.ndarray) -> None:
        """Add one batch's distinct ``keys`` and their int64 ``counts``,
        both in first-appearance order (as Arrow's ``value_counts`` and
        pandas' hash table list them), in pandas' ``value_counts()``
        order: by count descending, ties where pandas' unstable
        quicksort leaves them.  Evictions depend on that order."""
        # pandas' nargsort(ascending=False): reverse, argsort, reverse
        order = np.arange(len(counts))[::-1][counts[::-1].argsort(kind="quicksort")][::-1]
        self.update_counts({keys[i]: c for i, c in zip(order.tolist(), counts[order].tolist())})

    def update(self, values: pa.Array) -> None:
        vc = pc.value_counts(non_null(values))
        self.update_value_counts(vc.field(0).to_pylist(), np_values(vc.field(1), np.int64))

    def merge(self, other: "SpaceSaving") -> "SpaceSaving":
        """Mergeable-summaries rule (Agarwal et al., PODS 2012): a key
        missing from a side that has evicted may have been counted
        there up to that side's minimum, so it gets that minimum added
        to its count and its error; an exact side adds nothing.  Past
        capacity the top counts stay and every kept error grows by
        the largest dropped count."""
        out = SpaceSaving(self.capacity)
        sides = [(s, 0 if s.is_exact else min(s.counts.values())) for s in (self, other)]
        for key in [*self.counts, *(k for k in other.counts if k not in self.counts)]:
            for side, floor in sides:
                if key in side.counts:
                    c, e = side.counts[key], side.errors.get(key, 0)
                else:
                    c = e = floor
                out.counts[key] = out.counts.get(key, 0) + c
                out.errors[key] = out.errors.get(key, 0) + e
        if len(out.counts) > out.capacity:
            top = sorted(out.counts.items(), key=lambda kv: (-kv[1], str(kv[0])))
            dropped_max = max(c for _, c in top[out.capacity:])
            out.counts = dict(top[: out.capacity])
            out.errors = {k: out.errors.get(k, 0) + dropped_max for k in out.counts}
        return out

    def top(self, n: int = 10) -> list[tuple]:
        """Up to ``n`` ``(key, count, error)`` by count, where ``count -
        error <= true count <= count``.  Past capacity, a key is listed
        only when ``count - error`` reaches the (n+1)-th largest count,
        which bounds every key outside the list (one never counted
        included), so each listed key is in the true top ``n``: the
        guaranteed top-n of Metwally et al. 2005."""
        ranked = sorted(self.counts.items(), key=lambda kv: (-kv[1], str(kv[0])))
        floor = 0 if self.is_exact else ranked[min(n, len(ranked) - 1)][1]
        return [
            (k, c, self.errors.get(k, 0))
            for k, c in ranked[:n]
            if c - self.errors.get(k, 0) >= floor
        ]

    @property
    def is_exact(self) -> bool:
        return all(e == 0 for e in self.errors.values())


class BottomK:
    __slots__ = ("k", "hashes", "values")

    def __init__(self, k: int = 64):
        self.k = k
        self.hashes = np.empty(0, dtype=np.uint64)
        self.values: list = []

    def update(self, values: pa.Array) -> None:
        uniq = pc.unique(non_null(values))
        self.update_hashed(uniq.to_pylist(), hash64(uniq))

    def update_hashed(self, uniq: list, h: np.ndarray) -> None:
        """Offer distinct values (first-appearance order) with their
        :func:`hash64` hashes."""
        if len(uniq) == 0:
            return
        self._shrink(np.concatenate([self.hashes, h]), self.values + uniq)

    def merge(self, other: "BottomK") -> "BottomK":
        out = BottomK(self.k)
        out._shrink(
            np.concatenate([self.hashes, other.hashes]), self.values + other.values
        )
        return out

    def _shrink(self, h: np.ndarray, v: list) -> None:
        # dedupe by hash, keep k smallest
        order = np.argsort(h, kind="stable")
        seen: set = set()
        keep_h, keep_v = [], []
        for i in order:
            hv = int(h[i])
            if hv in seen:
                continue
            seen.add(hv)
            keep_h.append(hv)
            keep_v.append(v[i])
            if len(keep_h) >= self.k:
                break
        self.hashes = np.array(keep_h, dtype=np.uint64)
        self.values = keep_v

    def sample(self) -> list:
        return list(self.values)
