"""Bloom-filter referential pre-filter: decide definite orphans with
zero shuffle, then exact-confirm only the bloom hits.

The referential check (validate.py Referential) is an anti-join — a
full shuffle of the fact side on the foreign key.  When the dim-side
key set fits a broadcastable bitmap (~9.6 bits/key at 1% fpp: 100M
keys ≈ 120 MB), a Bloom filter splits the fact scan FIRST:

  * bloom MISS  → the key is definitely absent from dim → an orphan,
    decided in the scan itself (a codegen projection + one vectorized
    Arrow batch per partition — no shuffle, no join);
  * bloom HIT   → present OR a false positive → only these rows enter
    the exact anti-join.

In an orphan-heavy regime (contamination screens, cross-snapshot
reconciliation) the anti-join input shrinks by the miss fraction; in
the healthy-table regime it costs one extra narrow scan.  Either way
the RESULT is exact — false positives are caught by the confirm join,
so the orphan set equals the plain anti-join's bit-for-bit.

Build is pure Catalyst: k positions per key from ``xxhash64(key, i)``
(JVM-side, whole-stage codegen), ``groupBy(chunk) .agg(bit_or)`` folds
them into 64-bit words with map-side combine (shuffle volume ≤ m/64
words per partition), and the driver assembles the numpy bitmap from
O(m/64) rows.  Membership is one Arrow-vectorized pandas UDF over the
broadcast bitmap — never per-row Python.

Reference parity: the reference has no referential machinery at all
(SURVEY.md §2.10); this is the scale path behind the north_star's
"transcript↔clip referential completeness" check.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["BloomFilter", "bloom_params", "build_bloom", "bloom_contains", "referential_bloom"]


def bloom_params(expected_n: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (m_bits, k_hashes) for ``expected_n`` keys at ``fpp``:
    m = -n ln p / ln2², k = (m/n) ln2.  m is rounded up to a multiple
    of 64 so the bitmap is whole int64 words."""
    if expected_n <= 0:
        raise ValueError(f"expected_n must be positive: {expected_n}")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1): {fpp}")
    m = int(math.ceil(-expected_n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / expected_n * math.log(2))))
    return m, k


@dataclass(frozen=True)
class BloomFilter:
    """Driver-side bitmap + parameters.  ``words`` is uint64 little-end
    bit order: key bit ``pos`` lives at ``words[pos >> 6] >> (pos & 63)``."""

    words: np.ndarray  # uint64, length m_bits // 64
    m_bits: int
    k_hashes: int

    def nbytes(self) -> int:
        return int(self.words.nbytes)


def _positions(key: Column, m_bits: int, k_hashes: int) -> list[Column]:
    """k bit positions per key, all JVM-side: xxhash64 of (key, i) —
    the constant second column makes the k hashes independent."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)).cast("long")
        for i in range(k_hashes)
    ]


def build_bloom(
    df: DataFrame,
    col: str,
    expected_n: Optional[int] = None,
    fpp: float = 0.01,
) -> BloomFilter:
    """Fold a column's keys into a BloomFilter entirely relationally:
    explode the k positions, groupBy bit-word index, ``bit_or`` the
    word contributions (partial agg combines map-side, so the shuffle
    carries at most m/64 words per input partition), collect O(m/64)
    rows.  NULL keys are skipped (membership of NULL is NotNull's
    question, not referential's).  ``expected_n`` defaults to a
    count(distinct approx) scan."""
    keyed = df.select(F.col(col).alias("__k")).where(F.col("__k").isNotNull())
    if expected_n is None:
        expected_n = int(
            keyed.agg(F.approx_count_distinct("__k").alias("n")).first()["n"]
        )
        expected_n = max(expected_n, 1)
    m_bits, k_hashes = bloom_params(expected_n, fpp)
    pos = F.explode(F.array(*_positions(F.col("__k"), m_bits, k_hashes))).alias("pos")
    chunks = (
        keyed.select(pos)
        .select(
            F.expr("shiftright(pos, 6)").alias("chunk"),
            F.expr("shiftleft(1L, cast(pos % 64 AS INT))").alias("bits"),
        )
        .groupBy("chunk")
        .agg(F.bit_or("bits").alias("word"))
        .collect()
    )
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in chunks:
        # JVM longs arrive signed; mask to the raw 64-bit pattern
        words[int(r["chunk"])] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
    return BloomFilter(words=words, m_bits=m_bits, k_hashes=k_hashes)


# Bitmaps at or under this many 64-bit words (default 16k words =
# 128 KB, ~100k keys at 1% fpp) are probed with a pure-Catalyst
# array-literal expression instead of the Arrow UDF.  r06 re-measured
# the trade-off: with byte-capped 8192-row Arrow batches (config.py)
# the UDF probe is no longer tiny-batch-bound (600k-row probe: 0.6s
# UDF vs 0.85s literal at 17k words), and the k hash positions each
# duplicate the pre-folded JSON literal in the plan, so large literals
# spike driver analysis time (ADVICE r05).  Small bitmaps keep the
# literal path (zero Python, no broadcast); everything else goes
# broadcast + Arrow.
LITERAL_WORDS_MAX = 1 << 14


def _contains_literal(key: Column, bloom: BloomFilter) -> Column:
    """Codegen probe: the bitmap rides the plan as one array<long>
    literal; each of the k positions tests its bit with element_at +
    getbit — no Python, no Arrow, no broadcast variable.  The array is
    smuggled in as ``from_json('[...]')`` rather than ``F.lit(list)``:
    the latter builds a CreateArray with one AST node per word (17k
    nodes for a 100k-key bloom — analysis/codegen dominates the query),
    while from_json-of-a-literal is deterministic+foldable, so the
    optimizer's ConstantFolding collapses it to ONE ArrayData literal
    before codegen (measured 4× faster end-to-end on a 600k-row probe)."""
    import json as _json

    words_lit = F.from_json(
        F.lit(_json.dumps(bloom.words.view(np.int64).tolist())), "array<bigint>"
    )
    hit = F.lit(True)
    for pos in _positions(key, bloom.m_bits, bloom.k_hashes):
        word = F.element_at(words_lit, (F.shiftright(pos, 6) + F.lit(1)).cast("int"))
        hit = hit & (F.getbit(word, pos % 64) == 1)
    return hit


def bloom_contains(df: DataFrame, col: str, bloom: BloomFilter) -> Column:
    """Boolean membership column.  Small bitmaps (≤ LITERAL_WORDS_MAX
    words) probe via a whole-stage-codegen array-literal expression;
    larger ones via k JVM-side positions + one Arrow-vectorized lookup
    into the broadcast bitmap.  NULL keys map to NULL (three-valued,
    like isin); both paths are bit-identical (pinned by pytest)."""
    key = F.col(col)
    if len(bloom.words) <= LITERAL_WORDS_MAX:
        probe = _contains_literal(key, bloom)
        return F.when(key.isNull(), F.lit(None).cast("boolean")).otherwise(probe)

    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bloom.words)

    @F.pandas_udf("boolean")
    def _probe(*pos_cols: pd.Series) -> pd.Series:
        words = bc.value.view(np.uint64)
        ok = None
        for p in pos_cols:
            pv = p.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
            hit = (words[pv >> np.uint64(6)] >> (pv & np.uint64(63))) & np.uint64(1)
            ok = hit.astype(bool) if ok is None else (ok & hit.astype(bool))
        return pd.Series(ok)

    probe = _probe(*_positions(key, bloom.m_bits, bloom.k_hashes))
    return F.when(key.isNull(), F.lit(None).cast("boolean")).otherwise(probe)


def referential_bloom(
    fact: DataFrame,
    fkey: str,
    dim: DataFrame,
    dkey: str,
    fpp: float = 0.01,
    expected_n: Optional[int] = None,
) -> DataFrame:
    """EXACT orphan rows of ``fact`` against ``dim`` with the bloom
    split: misses short-circuit to orphans (no shuffle), hits are
    exact-confirmed by the anti-join; the union equals the plain
    anti-join.  Adds ``bloom_definite`` — True for rows the bitmap
    alone decided, False for false positives the confirm join caught
    (their fraction ≈ fpp of the hit set)."""
    bloom = build_bloom(dim, dkey, expected_n=expected_n, fpp=fpp)
    flagged = fact.withColumn("__hit", bloom_contains(fact, fkey, bloom))
    misses = flagged.where(~F.col("__hit")).drop("__hit").withColumn(
        "bloom_definite", F.lit(True)
    )
    dim_keys = dim.select(F.col(dkey).alias(fkey)).where(
        F.col(fkey).isNotNull()
    ).dropDuplicates([fkey])
    fp = (
        flagged.where(F.col("__hit"))
        .drop("__hit")
        .join(dim_keys, on=fkey, how="left_anti")
        .withColumn("bloom_definite", F.lit(False))
    )
    return misses.unionByName(fp)
