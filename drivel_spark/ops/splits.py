"""Deterministic, leakage-safe dataset splitting for training pipelines.

A training-data pipeline needs train/val/test assignment that is
(a) stable — the same row lands in the same split on every run, any
cluster size, any partitioning, with no RNG state to ship around;
(b) leakage-safe — all rows of a correlation group (a source domain, a
speaker, a document family) co-assign to ONE split so near-duplicates
never straddle the train/eval boundary;
(c) free at scale — assignment must be a pure per-row expression, not a
shuffle or a join.

``stable_split`` delivers all three with one Catalyst expression:

    bucket = int(md5(key ':' seed)[:8 hex]) / 2^32   in [0, 1)
    split  = first weight interval containing bucket

Keying on the group column instead of the row id makes co-assignment a
property of the hash itself — no co-grouping, no broadcast of a group →
split map, nothing driver-resident.  md5 is used (rather than xxhash64)
because every SQL engine exposes the identical function, so downstream
systems (and the DuckDB oracle) can re-derive the assignment bit-for-bit
from the same expression.

Reference parity note: the reference engine (hgrsd/drivel) has no
dataset-split operator; this is part of the beyond-reference
training-pipeline surface (SURVEY.md §2, LLM-data ops).
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "split_bucket",
    "split_expr",
    "stable_split",
    "stratified_sample",
    "deterministic_shuffle",
    "sample_k_per_group",
    "split_leakage",
    "split_leakage_near",
    "SPLIT_BUCKET_DENOM",
]

SPLIT_BUCKET_DENOM = float(1 << 32)  # md5[:8 hex] is a uniform 32-bit int


def split_bucket(key: Column, seed: int = 42) -> Column:
    """Uniform [0, 1) bucket from a key column: the first 8 hex chars of
    ``md5(key ':' seed)`` as an integer over 2^32.  Pure JVM-side
    expression (whole-stage codegen), identical in any ANSI engine:
    DuckDB spells it ``('0x'||substr(md5(coalesce(k::VARCHAR,'None')||':'
    ||seed),1,8))::BIGINT / 4294967296.0``.

    NULL keys hash as the literal string ``"None"`` — without the
    coalesce, concat/md5 would propagate NULL, every ``when()`` interval
    would fall through, and all NULL-key rows would silently co-assign to
    the LAST split (and be dropped by ``stratified_sample`` even at
    rate=1.0), skewing train/eval composition (ADVICE r03)."""
    keyed = F.concat(
        F.coalesce(key.cast("string"), F.lit("None")), F.lit(f":{seed}")
    )
    return (
        F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("long")
        / F.lit(SPLIT_BUCKET_DENOM)
    )


def stable_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    seed: int = 42,
    group_col: Optional[str] = None,
    split_col: str = "split",
) -> DataFrame:
    """Append a deterministic split-assignment column.

    ``weights`` maps split name → relative weight in iteration order,
    e.g. ``{"train": 0.9, "val": 0.05, "test": 0.05}`` (normalized, so
    any positive weights work).  When ``group_col`` is given, the hash
    keys on that column instead of ``id_col`` — every row of a group
    lands in the same split with NO join or shuffle, because the hash
    function itself is the coordination.  NULL keys hash as the string
    ``"None"`` bucket of their seed (deterministic, all NULLs co-assign).

    At 10^12 rows this is a zero-shuffle map: the expression runs inside
    the scan's codegen stage and the split column prunes/partitions
    downstream like any other column.
    """
    key = F.col(group_col if group_col is not None else id_col)
    return df.withColumn(split_col, split_expr(key, weights, seed))


def split_expr(key: Column, weights: Mapping[str, float], seed: int = 42) -> Column:
    """The split-assignment expression itself (what ``stable_split``
    appends): md5 bucket of ``key`` against cumulative weight
    intervals.  Factored out so audits can apply the IDENTICAL
    assignment to derived columns — e.g. the two id sides of a
    near-dup pair table — without joining back to the assigned rows."""
    if not weights:
        raise ValueError("weights must be a non-empty mapping")
    vals = list(weights.values())
    if any(w < 0 for w in vals) or sum(vals) <= 0:
        raise ValueError(f"weights must be non-negative with a positive sum: {weights}")
    total = float(sum(vals))
    bucket = split_bucket(key, seed)
    names = list(weights.keys())
    col = None
    cum = 0.0
    for name in names[:-1]:
        cum += float(weights[name]) / total
        cond = bucket < F.lit(cum)
        col = F.when(cond, name) if col is None else col.when(cond, name)
    return col.otherwise(names[-1]) if col is not None else F.lit(names[-1])


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: Mapping[str, float],
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-rebalancing
    stage (e.g. keep 10% of English, 100% of low-resource languages).

    A row survives iff ``split_bucket(id, seed) < rates[stratum]``, so
    the sample is a pure per-row filter: stable across runs and cluster
    sizes, no RNG state, no shuffle, and NESTED — raising a stratum's
    rate strictly grows its sample (the kept set at 0.1 is a subset of
    the kept set at 0.2), which is what makes ablation ladders
    comparable.  Strata not in ``rates`` fall back to ``default_rate``
    (0 drops them).  The filter sits in scan codegen, so Catalyst can
    evaluate it before wide columns are materialized.
    """
    for k, r in rates.items():
        if not (0.0 <= float(r) <= 1.0):
            raise ValueError(f"rate for {k!r} must be in [0, 1]: {r}")
    if not (0.0 <= float(default_rate) <= 1.0):
        raise ValueError(f"default_rate must be in [0, 1]: {default_rate}")
    bucket = split_bucket(F.col(id_col), seed)
    rate = None
    for name, r in rates.items():
        cond = F.col(strata_col) == F.lit(name)
        rate = F.when(cond, float(r)) if rate is None else rate.when(cond, float(r))
    rate = (
        rate.otherwise(float(default_rate))
        if rate is not None
        else F.lit(float(default_rate))
    )
    return df.filter(bucket < rate)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
    key_decimals: int = 9,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis
    & Spirakis 2006, algorithm A-ES): each row gets the key
    ``u^(1/w)`` with ``u = split_bucket(id, seed)``; the k largest
    keys ARE a weighted sample without replacement.  One global top-k
    (TakeOrdered — no full sort, no shuffle of the data, O(k) per
    partition then O(k·parts) at the driver), so it scales like any
    other top-k.

    Importance-samples a corpus by quality score, token count, or any
    per-row weight while staying reproducible: u comes from the md5
    hash, not an RNG, so reruns, resumes, and any ANSI engine replaying
    the same arithmetic select the identical k rows.  The sort key is
    rounded to ``key_decimals`` with the id as tie-breaker, which makes
    the selection robust to last-ulp libm differences across engines.
    Rows with NULL or non-positive weight are excluded (zero weight =
    never sampled, per A-ES).
    """
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    u = split_bucket(F.col(id_col), seed)
    w = F.col(weight_col).cast("double")
    key = F.round(F.pow(u, F.lit(1.0) / w), key_decimals)
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__sample_key", key)
        .orderBy(F.col("__sample_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__sample_key")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 42,
    pos_col: str = "shuffle_pos",
    n_shards: Optional[int] = None,
    shard_col: str = "shard",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Global deterministic corpus shuffle — the pre-training export
    step (examples must reach the trainer in decorrelated order, yet
    byte-identically on every rerun/resume, so shard N is always the
    same file).

    The permutation IS a total order: sort key ``(split_bucket(id,
    seed), id)`` — a pure md5 expression, no RNG state — and the
    position is materialized with :func:`~drivel_spark.ops.selection.
    assign_row_ids` (value-bucketed two-level row_number: no global
    single-partition window, one bounded shuffle).  Re-shuffling with
    a different ``seed`` is a fresh independent permutation.

    With ``n_shards``, a round-robin ``shard = pos % n_shards`` column
    is appended (shards balanced to ±1 row) ready for
    ``write_partitioned(..., [shard_col])``; round-robin over the
    hash order keeps every shard itself shuffled, unlike contiguous
    range sharding which would correlate shard id with hash prefix.
    """
    from .selection import assign_row_ids

    out = df.withColumn("__shuf_key", split_bucket(F.col(id_col), seed))
    out = assign_row_ids(
        out,
        order_by=["__shuf_key", id_col],
        out_col=pos_col,
        num_partitions=num_partitions,
    ).drop("__shuf_key")
    if n_shards is not None:
        if n_shards <= 0:
            raise ValueError(f"n_shards must be positive: {n_shards}")
        out = out.withColumn(
            shard_col, (F.col(pos_col) % F.lit(int(n_shards))).cast("int")
        )
    return out


def sample_k_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic EXACT-k-per-group sampling (vs stratified_sample's
    per-row rate, which only hits the target in expectation): each
    group keeps its k smallest ``(split_bucket(id, seed), id)`` rows —
    a uniform without-replacement draw that any engine replays
    bit-for-bit.  Groups smaller than k keep every row.

    One shuffle on the group key; the per-group ``row_number`` window
    sorts each group once.  A mass-hot group concentrates its rows in
    one window partition — for extreme group skew pre-filter with
    ``stratified_sample`` at a few·k/|group| rate first, then take
    exact k from the survivors (nested sampling keeps determinism).
    """
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    from pyspark.sql import Window

    u = split_bucket(F.col(id_col), seed)
    w = Window.partitionBy(group_col).orderBy(u.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__spg_rn", F.row_number().over(w))
        .where(F.col("__spg_rn") <= k)
        .drop("__spg_rn")
    )


def split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: Mapping[str, float],
    seed: int = 42,
    group_col: Optional[str] = None,
    split_col: str = "split",
) -> DataFrame:
    """Cross-split contamination audit: exact duplicates (normalized
    text) that straddle a split boundary — the leak that silently
    inflates eval scores.  ``stable_split`` keyed on a group column
    prevents WITHIN-group leakage by construction, but verbatim
    duplicates ACROSS groups (mirrors, syndicated articles, boilerplate)
    still land in different splits; this op finds exactly those.

    Returns one row per leaking fingerprint: ``(fingerprint, n_docs,
    n_splits, splits)`` where ``fingerprint = md5(normalized text)``,
    ``splits`` is the comma-joined sorted distinct split set, and only
    fingerprints spanning >1 split are kept.  Empty result = no leakage.

    Plan: assignment is the free per-row md5 expression; then ONE
    partial+final groupBy on the fingerprint with a ``collect_set``
    bounded by len(weights) (a few strings — never data-sized state),
    filtered to n_splits > 1.  No self-join, no pair explosion: the
    duplicate relation is resolved through the group key, so a
    fingerprint duplicated k times costs one state row, not k².  Same
    shape as exact dedup — holds at corpus scale.
    """
    from .text import normalize_text

    assigned = stable_split(
        df, id_col, weights, seed=seed, group_col=group_col,
        split_col=split_col,
    )
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        assigned.filter(F.col(text_col).isNotNull())
        .select(fp.alias("fingerprint"), F.col(split_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_set(split_col)).alias("__ss"),
        )
        .filter(F.size("__ss") > 1)
        .select(
            "fingerprint",
            "n_docs",
            F.size("__ss").alias("n_splits"),
            F.array_join("__ss", ",").alias("splits"),
        )
    )


def split_leakage_near(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: Mapping[str, float],
    seed: int = 42,
    threshold: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """NEAR-duplicate tier of the cross-split audit: MinHash+LSH pairs
    (Jaccard ≥ threshold) whose two documents land in DIFFERENT
    splits — the contamination :func:`split_leakage` (exact tier)
    cannot see: a lightly-edited eval document whose twin trains the
    model.

    Returns the leaking pairs ``(id_a, id_b, jaccard, split_a,
    split_b)``.  Row-mode assignment only: the split of each side is
    re-derived from its id by the SAME pure md5 expression
    (``split_expr``), so the O(pairs) table needs no join back to the
    corpus — the audit costs the MinHash pair computation plus a
    projection.  For group-keyed splits, join the (id, group) mapping
    onto the pair table first and pass the group ids here instead.

    Scale: inherits minhash_dedup_pairs' banded sub-quadratic contract;
    everything after the pair table is codegen over O(pairs) rows.
    The persisted pair table is attached as ``_drivel_cache``: the
    caller drops it with ``release_shingles`` (ops/dedup.py).
    """
    from .dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(
        df, text_col=text_col, id_col=id_col, threshold=threshold,
        **minhash_kwargs,
    )
    sa = split_expr(F.col("id_a"), weights, seed)
    sb = split_expr(F.col("id_b"), weights, seed)
    out = (
        pairs.withColumn("split_a", sa)
        .withColumn("split_b", sb)
        .filter(F.col("split_a") != F.col("split_b"))
    )
    out._drivel_cache = pairs
    return out
