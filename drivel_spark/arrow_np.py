"""numpy views of Arrow arrays and Arrow arrays of numpy values, through
their buffers.

pyarrow's own conversions (``Array.to_numpy``, ``np.asarray(arr)``,
``pa.array``, ``pa.scalar`` and every ``pyarrow.compute`` call with a
Python-scalar operand) import pandas.  The profile, produce and audio
kernels run in Spark's Python workers on Arrow batches and stay off
pandas by going through these helpers instead.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def values(arr: pa.Array, dtype) -> np.ndarray:
    """The values of a numeric ``arr`` as a zero-copy numpy view of
    ``dtype`` (the array's own width); NULL slots read as whatever the
    buffer holds there."""
    n = len(arr)
    buf = arr.buffers()[1]
    dtype = np.dtype(dtype)
    if buf is None or n == 0:
        return np.empty(0, dtype)
    return np.frombuffer(buf, dtype, count=n, offset=arr.offset * dtype.itemsize)


def bool_mask(arr: pa.Array) -> np.ndarray:
    """A boolean ``arr`` as a numpy bool array; NULL reads as False."""
    n = len(arr)
    if n == 0:
        return np.zeros(0, bool)
    validity, data = arr.buffers()[:2]
    bits = np.unpackbits(np.frombuffer(data, np.uint8), bitorder="little")
    out = bits[arr.offset: arr.offset + n].astype(bool)
    if validity is not None and arr.null_count:
        vbits = np.unpackbits(np.frombuffer(validity, np.uint8), bitorder="little")
        out &= vbits[arr.offset: arr.offset + n].astype(bool)
    return out


def from_numpy(a: np.ndarray) -> pa.Array:
    """A numpy int64/float64/... array as an Arrow array without nulls."""
    a = np.ascontiguousarray(a)
    return pa.Array.from_buffers(pa.from_numpy_dtype(a.dtype), len(a), [None, pa.py_buffer(a)])


def with_nulls(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    """``arr`` (offset 0, without nulls) with the slots where ``mask``
    is True set to NULL, as a validity bitmap over its own buffers."""
    validity = pa.py_buffer(np.packbits(~mask, bitorder="little"))
    return pa.Array.from_buffers(arr.type, len(arr), [validity, *arr.buffers()[1:]])


def non_null(arr: pa.Array) -> pa.Array:
    """``arr`` without its NULLs."""
    return pc.drop_null(arr) if arr.null_count else arr


def binary_array(items: list[bytes], type=pa.binary()) -> pa.Array:
    """A list of bytes as an Arrow binary (or, with ``type=pa.string()``,
    UTF-8 string) array without nulls."""
    offsets = np.zeros(len(items) + 1, np.int32)
    offsets[1:] = np.cumsum(np.fromiter(map(len, items), np.int64, len(items)))
    return pa.Array.from_buffers(
        type, len(items), [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(items))]
    )


def concat_batches(batches: list[pa.RecordBatch]) -> pa.RecordBatch:
    """One record batch of ``batches`` (same schema), column by column."""
    if len(batches) == 1:
        return batches[0]
    return pa.RecordBatch.from_arrays(
        [pa.concat_arrays([b.column(i) for b in batches]) for i in range(batches[0].num_columns)],
        schema=batches[0].schema,
    )
