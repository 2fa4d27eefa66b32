"""Deterministic 64-bit vectorized hashing shared by all sketches.

:func:`hash64` is numpy SipHash-2-4, bit-identical to
``pandas.util.hash_array(np.asarray(values, dtype=object),
categorize=False)``: the same key, the same UTF-8 bytes per value and
the same splitmix post-mix.  Stable across processes and machines
(independent of PYTHONHASHSEED), so executor-side and driver-side
hashing always agree, and sketches pickled by earlier versions keep
merging with new ones.  Arrow string and binary arrays are hashed
straight from their offsets and data buffers.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
# pandas' default hash key, "0123456789123456", as two little-endian words
_K0 = int.from_bytes(b"01234567", "little")
_K1 = int.from_bytes(b"89123456", "little")
_V_INIT = tuple(
    np.uint64(k ^ c)
    for k, c in ((_K0, 0x736F6D6570736575), (_K1, 0x646F72616E646F6D),
                 (_K0, 0x6C7967656E657261), (_K1, 0x7465646279746573))
)
_OFFSET_TYPES = {pa.string(): np.int32, pa.binary(): np.int32,
                 pa.large_string(): np.int64, pa.large_binary(): np.int64}


def hash64(values, salt: int = 0) -> np.ndarray:
    """Vectorized stable 64-bit hash of a 1-D array-like: an Arrow array
    or any sequence numpy takes as ``dtype=object``.

    str values hash as their UTF-8 bytes, bytes as themselves, ``None``
    and NaN as ``'None'`` and ``'nan'``.  If any value is something else
    (an int, a float), every value hashes as ``str(value)``, as pandas'
    fallback for mixed arrays does.

    ``salt`` derives independent hash families (needed by MinHash and
    salted repartitioning) via a splitmix-style post-mix.
    """
    data, offsets = _utf8_buffers(values)
    h = _postmix(_siphash24(data, offsets))
    return mix64(h, salt) if salt else h


def hash_numeric(arr: np.ndarray) -> np.ndarray:
    """Stable 64-bit hash of a numeric numpy array of at most 8-byte
    values: its bits as uint64 plus :func:`hash64`'s post-mix, as
    ``pandas.util.hash_array`` hashes numbers."""
    return _postmix(arr.view(f"u{arr.dtype.itemsize}").astype(np.uint64))


def mix64(h: np.ndarray, salt: int) -> np.ndarray:
    """The splitmix-style post-mix of :func:`hash64`: a bijection of
    uint64 hashes per ``salt`` (any int; taken mod 2**64)."""
    with np.errstate(over="ignore"):
        h = h ^ (np.uint64(salt & 0xFFFFFFFFFFFFFFFF) * _GOLDEN)
        h ^= h >> np.uint64(33)
        h = h * np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
    return h


def _postmix(h: np.ndarray) -> np.ndarray:
    """pandas' redistribution of the raw hashes (in place)."""
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def _is_null(v) -> bool:
    return v is None or (isinstance(v, (float, np.floating)) and v != v)


def _utf8_buffers(values) -> tuple[np.ndarray, np.ndarray]:
    """The bytes each value hashes as: one data buffer and ``n + 1``
    offsets into it."""
    if isinstance(values, pa.Array):
        off_t = _OFFSET_TYPES.get(values.type)
        if off_t is not None and not values.null_count:
            _, off_buf, data_buf = values.buffers()
            offsets = np.frombuffer(off_buf, off_t, count=len(values) + 1,
                                    offset=values.offset * np.dtype(off_t).itemsize)
            data = np.frombuffer(data_buf or b"", np.uint8)
            return data, offsets.astype(np.int64)
        values = values.to_pylist()
    if isinstance(values, np.ndarray) and values.dtype.kind in "iub" and values.size:
        # str(v) of every value, as the mixed-array fallback gives
        width = values.ravel().astype("S")
        width = width.view(np.uint8).reshape(len(width), -1)
        used = width != 0
        lens = used.sum(axis=1)
        return width[used], np.concatenate([[0], np.cumsum(lens)])
    objs = np.asarray(values, dtype=object).ravel()
    chunks = []
    for v in objs.tolist():
        if isinstance(v, str):
            chunks.append(v.encode("utf8"))
        elif isinstance(v, bytes):
            chunks.append(v)
        elif _is_null(v) or isinstance(v, tuple):
            chunks.append(str(v).encode("utf8"))
        else:
            chunks = [s.encode("utf8") for s in objs.astype(str).tolist()]
            break
    lens = np.fromiter(map(len, chunks), np.int64, len(chunks))
    return np.frombuffer(b"".join(chunks), np.uint8), np.concatenate([[0], np.cumsum(lens)])


_M64 = 0xFFFFFFFFFFFFFFFF
# below this many values still absorbing blocks, Python ints beat numpy's
# per-call overhead (~40 array ops per block)
_SCALAR_LANES = 32


def _rotl(x: np.ndarray, b: int) -> np.ndarray:
    return (x << np.uint64(b)) | (x >> np.uint64(64 - b))


def _sipround(v0, v1, v2, v3):
    v0 += v1
    v1 = _rotl(v1, 13)
    v1 ^= v0
    v0 = _rotl(v0, 32)
    v2 += v3
    v3 = _rotl(v3, 16)
    v3 ^= v2
    v0 += v3
    v3 = _rotl(v3, 21)
    v3 ^= v0
    v2 += v1
    v1 = _rotl(v1, 17)
    v1 ^= v2
    v2 = _rotl(v2, 32)
    return v0, v1, v2, v3


def _sip_blocks(v0: int, v1: int, v2: int, v3: int, words: list[int]) -> tuple:
    """One value's SipHash-2-4 compression of ``words`` in Python ints."""
    M = _M64
    for m in words:
        v3 ^= m
        # two SipRounds, unrolled
        v0 = (v0 + v1) & M
        v1 = (((v1 << 13) & M) | (v1 >> 51)) ^ v0
        v0 = ((v0 << 32) & M) | (v0 >> 32)
        v2 = (v2 + v3) & M
        v3 = (((v3 << 16) & M) | (v3 >> 48)) ^ v2
        v0 = (v0 + v3) & M
        v3 = (((v3 << 21) & M) | (v3 >> 43)) ^ v0
        v2 = (v2 + v1) & M
        v1 = (((v1 << 17) & M) | (v1 >> 47)) ^ v2
        v2 = ((v2 << 32) & M) | (v2 >> 32)
        v0 = (v0 + v1) & M
        v1 = (((v1 << 13) & M) | (v1 >> 51)) ^ v0
        v0 = ((v0 << 32) & M) | (v0 >> 32)
        v2 = (v2 + v3) & M
        v3 = (((v3 << 16) & M) | (v3 >> 48)) ^ v2
        v0 = (v0 + v3) & M
        v3 = (((v3 << 21) & M) | (v3 >> 43)) ^ v0
        v2 = (v2 + v1) & M
        v1 = (((v1 << 17) & M) | (v1 >> 47)) ^ v2
        v2 = ((v2 << 32) & M) | (v2 >> 32)
        v0 ^= m
    return v0, v1, v2, v3


def _siphash24(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """SipHash-2-4 of each ``data[offsets[i]:offsets[i + 1]]``.

    Values run longest first, so the ones still absorbing blocks at step
    ``j`` are a prefix; each step loads the ``j``-th 8-byte word of that
    prefix straight from the bytes (a value's last word masked to its
    tail and tagged with its length).  Once few values are left (long
    ones), each finishes its blocks in Python ints."""
    n = len(offsets) - 1
    lens = np.diff(offsets)
    nblocks = lens // 8 + 1
    order = np.argsort(-nblocks, kind="stable")
    starts = offsets[:-1][order] - offsets[0]
    lens, nblocks = lens[order], nblocks[order]
    # every 8-byte window of the bytes, zero-padded past the last value
    padded = np.zeros(int(offsets[-1] - offsets[0]) + 8, np.uint8)
    padded[:-8] = data[offsets[0]: offsets[-1]]
    windows = np.lib.stride_tricks.as_strided(padded, (len(padded) - 7, 8), (1, 1))
    tail = (lens % 8).astype(np.uint64) * np.uint64(8)
    last = windows[starts + 8 * (nblocks - 1)].view("<u8").ravel()
    last &= (np.uint64(1) << tail) - np.uint64(1)
    last |= (lens.astype(np.uint64) & np.uint64(0xFF)) << np.uint64(56)
    v0, v1, v2, v3 = (np.full(n, v, np.uint64) for v in _V_INIT)
    neg = -nblocks
    for j in range(int(nblocks[0]) if n else 0):
        live = int(np.searchsorted(neg, -j, side="left"))  # nblocks > j
        if live <= _SCALAR_LANES:
            for i in range(live):
                full_words = np.frombuffer(
                    padded, "<u8", int(nblocks[i]) - 1 - j, int(starts[i]) + 8 * j
                )
                state = _sip_blocks(int(v0[i]), int(v1[i]), int(v2[i]), int(v3[i]),
                                    full_words.tolist() + [int(last[i])])
                v0[i], v1[i], v2[i], v3[i] = state
            break
        full = int(np.searchsorted(neg, -(j + 1), side="left"))  # nblocks > j + 1
        m = np.concatenate([windows[starts[:full] + 8 * j].view("<u8").ravel(), last[full:live]])
        a, b, c, d = v0[:live], v1[:live], v2[:live], v3[:live]
        d ^= m
        for _ in range(2):
            a, b, c, d = _sipround(a, b, c, d)
        a ^= m
        v0[:live], v1[:live], v2[:live], v3[:live] = a, b, c, d
    v2 ^= np.uint64(0xFF)
    for _ in range(4):
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
    out = np.empty(n, np.uint64)
    out[order] = v0 ^ v1 ^ v2 ^ v3
    return out
