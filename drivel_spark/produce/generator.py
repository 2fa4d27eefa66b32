"""Distributed synthetic-data production: ``spark.range(n)`` + seeded
per-row generators (the Spark mapping of the reference's ``produce``,
SURVEY.md §2.7 G1-G11: parallelism = partitions instead of rayon).

Flat object schemas (one column per field) generate as numpy columns:
every column is a function of the row id and the seed via stable
hashing — embarrassingly parallel, deterministic regardless of
partitioning.  That covers booleans, numbers, enums and the seven
string formats.  Only unknown strings and nested fields (arrays/objects
below the first level) fall back to the scalar interpreter
(:mod:`drivel_spark.core.produce`), with a per-row seeded Generator
inside the Arrow batch.

The generator is a ``mapInArrow`` kernel: it reads the row ids from the
batch's buffers and builds every output column as an Arrow array from
numpy buffers (:mod:`drivel_spark.arrow_np`), so the Python workers that
run it never import pandas.
"""

from __future__ import annotations

import json
from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..core.node import (
    ARRAY,
    BOOLEAN,
    INDEFINITE,
    INITIAL,
    NUMBER,
    OBJECT,
    STRING,
    STR_DATETIME_ISO8601,
    STR_DATETIME_RFC2822,
    STR_EMAIL,
    STR_ENUM,
    STR_HOSTNAME,
    STR_ISO_DATE,
    STR_URL,
    STR_UUID,
    SchemaNode,
)
from ..core.produce import (
    _FLOAT_INF_CLAMP,
    _FLOAT_RANGE_FALLBACK,
    _TLDS,
    _WORDS,
    produce_value,
)
from ..arrow_np import binary_array, from_numpy, values, with_nulls
from ..sketches.hashing import hash_numeric, mix64

_WORD_POOL = np.array(_WORDS, dtype=object)
_TLD_POOL = np.array(_TLDS, dtype=object)
_NUM100 = np.array([str(i) for i in range(100)], dtype=object)
_D2 = np.array([f"{i:02d}" for i in range(100)], dtype=object)
_DOW = np.array(["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"], dtype=object)
_MON = np.array(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"],
    dtype=object,
)
_HEX_DIGITS = np.array(list("0123456789abcdef"))


def _row_keys(ids: np.ndarray, seed: int) -> np.ndarray:
    """One 64-bit key per row id and seed; every stream of a column is
    a salted mix of it, so a value depends on (seed, id) alone."""
    return mix64(hash_numeric(np.asarray(ids, dtype=np.int64)), seed)


def _u(h: np.ndarray) -> np.ndarray:
    """Uniform floats in [0, 1) from the top 53 bits of a hash."""
    return (h >> np.uint64(11)).astype(np.float64) * 2.0**-53


def _pick(pool: np.ndarray, h: np.ndarray) -> np.ndarray:
    return pool[(h % np.uint64(len(pool))).astype(np.int64)]


def _hex(h: np.ndarray, k: int) -> np.ndarray:
    """The low ``4k`` bits of each hash as ``k`` lowercase hex digits."""
    shifts = np.arange(4 * (k - 1), -1, -4, dtype=np.uint64)
    digits = ((h[:, None] >> shifts) & np.uint64(15)).astype(np.intp)
    return _HEX_DIGITS[digits].view(f"<U{k}").ravel().astype(object)


def _format_column(fmt: str, stream) -> np.ndarray:
    """Object array of ``fmt`` strings, the scalar interpreter's shapes
    (``core/produce.py _gen_string``) built column-wise; ``stream(k)``
    is the column's k-th hash stream."""
    if fmt == STR_UUID:
        a, b = stream(6), stream(7)
        return (_hex(a, 8) + "-" + _hex(a >> np.uint64(32), 4) + "-4"
                + _hex(a >> np.uint64(48), 3) + "-a" + _hex(b, 3) + "-"
                + _hex(b >> np.uint64(12), 12))
    if fmt == STR_EMAIL:
        return (_pick(_WORD_POOL, stream(8)) + _pick(_NUM100, stream(9)) + "@"
                + _pick(_WORD_POOL, stream(10)) + "." + _pick(_TLD_POOL, stream(11)))
    if fmt == STR_HOSTNAME:
        return _pick(_WORD_POOL, stream(10)) + "." + _pick(_TLD_POOL, stream(11))
    if fmt == STR_URL:
        return ("https://" + _pick(_WORD_POOL, stream(10)) + "."
                + _pick(_TLD_POOL, stream(11)) + "/" + _pick(_WORD_POOL, stream(12)))
    # dates: uniform seconds over 1970-01-01 .. 2038-01-01 UTC
    secs = (stream(13) % np.uint64(2**31)).astype(np.int64)
    if fmt == STR_ISO_DATE:
        return np.datetime_as_string(secs.astype("datetime64[s]"), unit="D").astype(object)
    if fmt == STR_DATETIME_ISO8601:
        ms = secs * 1000 + (stream(14) % np.uint64(1000)).astype(np.int64)
        return np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms").astype(object) + "Z"
    # rfc2822, as email.utils.format_datetime renders an aware UTC time
    days = secs // 86400
    months = secs.astype("datetime64[s]").astype("datetime64[M]")
    mday = (days - months.astype("datetime64[D]").astype(np.int64)) + 1
    m = months.astype(np.int64)
    tod = secs % 86400
    return (_DOW[(days + 3) % 7] + ", " + _D2[mday] + " " + _MON[m % 12] + " "
            + (1970 + m // 12).astype(str).astype(object) + " " + _D2[tod // 3600] + ":"
            + _D2[tod // 60 % 60] + ":" + _D2[tod % 60] + " +0000")


_VECTOR_FORMATS = frozenset(
    (STR_UUID, STR_EMAIL, STR_HOSTNAME, STR_URL, STR_ISO_DATE,
     STR_DATETIME_ISO8601, STR_DATETIME_RFC2822)
)


def _gen_column(
    node: SchemaNode, ids: np.ndarray, salt: int, seed: int
) -> tuple[np.ndarray, Optional[np.ndarray]]:
    """Vectorized generator for one field (a numpy function of row id
    and seed); unknown strings and nested fields use the scalar
    interpreter per row (seeded by id).  Returns the values and the
    NULL mask (None when no row is NULL); NULL rows keep a value."""
    n = len(ids)
    if node.is_null_only or node.kind in (INITIAL, INDEFINITE):
        return np.full(n, "", dtype=object), np.ones(n, dtype=bool)

    keys = _row_keys(ids, seed)

    def stream(k: int) -> np.ndarray:
        return mix64(keys, salt * 31 + k)

    null_mask = None
    if node.nullable:
        null_mask = _u(stream(1)) < 0.5  # reference 50% coin-flip

    if node.kind == BOOLEAN:
        out = _u(stream(2)) < 0.5
    elif node.kind == NUMBER and not node.is_float:
        lo = int(node.min_n) if node.min_n is not None else 0
        hi = int(node.max_n) if node.max_n is not None else 1000
        out = (lo + np.floor(_u(stream(3)) * (hi - lo + 1))).astype(np.int64)
    elif node.kind == NUMBER:
        lo = float(node.min_n) if node.min_n is not None else 0.0
        hi = float(node.max_n) if node.max_n is not None else 1000.0
        lo = max(lo, -_FLOAT_INF_CLAMP)
        hi = min(hi, _FLOAT_INF_CLAMP)
        if hi - lo > _FLOAT_RANGE_FALLBACK:
            lo, hi = 0.0, 1000.0
        out = lo + _u(stream(4)) * (hi - lo)
    elif node.kind == STRING and node.str_type == STR_ENUM:
        out = _pick(np.array(sorted(node.variants), dtype=object), stream(5))
    elif node.kind == STRING and node.str_type in _VECTOR_FORMATS:
        out = _format_column(node.str_type, stream)
    else:
        # unknown strings / nested: scalar interpreter, seeded per row
        # id so output is partition-invariant
        bare = node.with_nullable(False)
        out = np.empty(n, dtype=object)
        for k in range(n):
            rng = np.random.default_rng((seed << 20) ^ (int(ids[k]) * 2654435761 % 2**63) ^ salt)
            out[k] = produce_value(bare, rng)
    return out, null_mask


def _arrow_column(node: SchemaNode, vals: np.ndarray, null_mask: Optional[np.ndarray]) -> pa.Array:
    """One generated column as the Arrow array of
    :func:`_field_spark_type`; nested values serialise as JSON text."""
    if node.kind == BOOLEAN:
        bits = pa.py_buffer(np.packbits(vals, bitorder="little"))
        arr = pa.Array.from_buffers(pa.bool_(), len(vals), [None, bits])
    elif node.kind == NUMBER:
        arr = from_numpy(vals)
    else:
        if node.kind in (ARRAY, OBJECT):
            vals = map(json.dumps, vals)
        arr = binary_array([v.encode() for v in vals], pa.string())
    return arr if null_mask is None else with_nulls(arr, null_mask)


def _field_spark_type(node: SchemaNode) -> str:
    if node.kind == BOOLEAN:
        return "boolean"
    if node.kind == NUMBER:
        return "double" if node.is_float else "long"
    return "string"  # strings; nested values serialised as JSON text


def _produce_batches(fields: dict[str, SchemaNode], seed: int):
    """The produce kernel: each batch of row ids (Arrow, one ``id``
    column) becomes one batch of generated ``fields`` columns."""

    def gen(batches):
        for batch in batches:
            ids = values(batch.column(0), np.int64)
            cols = [_arrow_column(f, *_gen_column(f, ids, salt, seed))
                    for salt, f in enumerate(fields.values(), 1)]
            yield pa.RecordBatch.from_arrays(cols, names=list(fields))

    return gen


def produce_df(
    spark: SparkSession,
    node: SchemaNode,
    n: int,
    seed: int = 42,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """Generate ``n`` rows conforming to an OBJECT-kind schema node.

    Columns = the node's required+optional fields (optional fields get
    the reference's 50% presence coin-flip realized as null).  Nested
    array/object fields are emitted as JSON strings.
    """
    if node.kind != OBJECT:
        raise ValueError("produce_df needs an object schema; wrap scalars in a field")
    if n_partitions is None:
        n_partitions = max(spark.sparkContext.defaultParallelism, 1)

    fields = {name: f.with_nullable(f.nullable or name in node.optional)
              for name, f in sorted({**node.required, **node.optional}.items())}
    schema = ", ".join(f"`{name}` {_field_spark_type(f)}" for name, f in fields.items())
    return spark.range(0, n, numPartitions=n_partitions).mapInArrow(
        _produce_batches(fields, seed), schema
    )


def produce_from_profile(
    spark: SparkSession, profile, n: int, seed: int = 42,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """Generate rows matching a TableProfile (its schema tree)."""
    return produce_df(spark, profile.to_schema_node(), n, seed, n_partitions)
