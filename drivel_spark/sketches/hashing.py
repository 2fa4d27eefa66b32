"""Deterministic 64-bit vectorized hashing shared by all sketches.

Built on ``pandas.util.hash_array`` / ``hash_pandas_object`` (SipHash-
derived, stable across processes and machines independent of
PYTHONHASHSEED) so executor-side and driver-side hashing always agree.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def hash64(values, salt: int = 0) -> np.ndarray:
    """Vectorized stable 64-bit hash of a 1-D array-like.

    ``salt`` derives independent hash families (needed by MinHash and
    salted repartitioning) via a splitmix-style post-mix.
    """
    arr = pd.array(values) if not isinstance(values, (pd.Series, pd.arrays.StringArray)) else values
    h = pd.util.hash_array(np.asarray(arr, dtype=object), categorize=False).astype(np.uint64)
    return mix64(h, salt) if salt else h


def mix64(h: np.ndarray, salt: int) -> np.ndarray:
    """The splitmix-style post-mix of :func:`hash64`: a bijection of
    uint64 hashes per ``salt`` (any int; taken mod 2**64)."""
    with np.errstate(over="ignore"):
        h = h ^ (np.uint64(salt & 0xFFFFFFFFFFFFFFFF) * _GOLDEN)
        h ^= h >> np.uint64(33)
        h = h * np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
    return h
