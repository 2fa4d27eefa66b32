"""Distribution-drift statistics between two profiles.

KS statistic from two KLL sketch CDFs (evaluated on the union of their
retained items) and PSI from either categorical frequency maps or
baseline-decile numeric buckets.  Both run driver-side over O(KB)
sketches — the data itself is never rescanned, which is the point at
10^12 rows: drift is a profile-vs-profile comparison, not a data pass
(BASELINE.json north_star: "KS-statistic and PSI against a baseline
profile").
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from ..sketches import KLL, SpaceSaving

PSI_EPS = 1e-6


def ks_statistic(a: KLL, b: KLL) -> float:
    """sup_x |F_a(x) − F_b(x)| over the union of sketch support points."""
    pts_a, _ = a._weighted_items()
    pts_b, _ = b._weighted_items()
    pts = np.unique(np.concatenate([pts_a, pts_b]))
    if pts.size == 0:
        return 0.0
    return float(np.max(np.abs(a.cdf(pts) - b.cdf(pts))))


def psi_categorical(base: SpaceSaving, batch: SpaceSaving) -> float:
    """Population Stability Index over the union of tracked keys; counts
    outside the tracked top-K pool into an OTHER bucket."""
    tot_a = sum(base.counts.values())
    tot_b = sum(batch.counts.values())
    if tot_a == 0 or tot_b == 0:
        return 0.0
    keys = set(base.counts) | set(batch.counts)
    psi = 0.0
    other_a, other_b = tot_a, tot_b
    for k in keys:
        pa = base.counts.get(k, 0) / tot_a
        pb = batch.counts.get(k, 0) / tot_b
        other_a -= base.counts.get(k, 0)
        other_b -= batch.counts.get(k, 0)
        pa, pb = max(pa, PSI_EPS), max(pb, PSI_EPS)
        psi += (pb - pa) * math.log(pb / pa)
    pa = max(other_a / tot_a, PSI_EPS)
    pb = max(other_b / tot_b, PSI_EPS)
    psi += (pb - pa) * math.log(pb / pa)
    return float(psi)


def wasserstein_1(a: KLL, b: KLL) -> float:
    """Wasserstein-1 (earth-mover) distance between two sketch CDFs:
    ``W1 = integral |F_a(x) - F_b(x)| dx`` evaluated as a step integral
    over the union of the sketches' retained support points.  Unlike KS
    (a sup-norm, scale-free) W1 carries the *magnitude* of a shift — a
    uniform +10ms drift of dur_ms has KS that saturates but W1 exactly
    10 — which is why both belong in a drift report.  Driver-side over
    O(KB) sketches, like ks_statistic above."""
    pts_a, _ = a._weighted_items()
    pts_b, _ = b._weighted_items()
    pts = np.unique(np.concatenate([pts_a, pts_b]))
    if pts.size < 2:
        return 0.0
    gap = np.abs(a.cdf(pts[:-1]) - b.cdf(pts[:-1]))
    return float(np.sum(gap * np.diff(pts)))


def chi_square_categorical(base: SpaceSaving, batch: SpaceSaving) -> dict[str, Any]:
    """Two-sample chi-square homogeneity test over the union of tracked
    keys (untracked mass pooled into an OTHER cell, like psi_categorical).
    Expected cell counts come from the pooled distribution:
    ``e = row_total * col_total / grand_total``.  Returns the statistic
    and the degrees of freedom (cells - 1); cells whose pooled expected
    count is 0 are skipped (no information)."""
    tot_a = sum(base.counts.values())
    tot_b = sum(batch.counts.values())
    if tot_a == 0 or tot_b == 0:
        return {"chi2": 0.0, "dof": 0}
    keys = sorted(set(base.counts) | set(batch.counts))
    obs_a = np.array([base.counts.get(k, 0) for k in keys], dtype=np.float64)
    obs_b = np.array([batch.counts.get(k, 0) for k in keys], dtype=np.float64)
    other_a, other_b = tot_a - obs_a.sum(), tot_b - obs_b.sum()
    if other_a > 0 or other_b > 0:
        obs_a = np.append(obs_a, other_a)
        obs_b = np.append(obs_b, other_b)
    grand = float(tot_a + tot_b)
    row = obs_a + obs_b
    keep = row > 0
    obs_a, obs_b, row = obs_a[keep], obs_b[keep], row[keep]
    exp_a = row * (tot_a / grand)
    exp_b = row * (tot_b / grand)
    chi2 = float(np.sum((obs_a - exp_a) ** 2 / exp_a) + np.sum((obs_b - exp_b) ** 2 / exp_b))
    return {"chi2": chi2, "dof": int(row.size - 1)}


def psi_numeric(base: KLL, batch: KLL, n_buckets: int = 10) -> float:
    """PSI over baseline-decile buckets (standard scorecard formulation)."""
    if base.n == 0 or batch.n == 0:
        return 0.0
    edges = np.unique([base.quantile(q) for q in np.linspace(0, 1, n_buckets + 1)[1:-1]])
    if edges.size == 0:
        return 0.0
    cdf_a = np.concatenate([base.cdf(edges), [1.0]])
    cdf_b = np.concatenate([batch.cdf(edges), [1.0]])
    pa = np.diff(np.concatenate([[0.0], cdf_a]))
    pb = np.diff(np.concatenate([[0.0], cdf_b]))
    pa = np.maximum(pa, PSI_EPS)
    pb = np.maximum(pb, PSI_EPS)
    return float(np.sum((pb - pa) * np.log(pb / pa)))


def drift_column(base_acc, batch_acc) -> dict[str, Any]:
    """Drift metrics for one column given its two accumulators."""
    out: dict[str, Any] = {"column": base_acc.name}
    if base_acc.kind == "numeric" and batch_acc.kind == "numeric":
        out["ks"] = ks_statistic(base_acc.kll, batch_acc.kll)
        out["psi"] = psi_numeric(base_acc.kll, batch_acc.kll)
        out["w1"] = wasserstein_1(base_acc.kll, batch_acc.kll)
        out["chi2"] = None
    elif base_acc.kind == "string" and batch_acc.kind == "string":
        out["psi"] = psi_categorical(base_acc.freq, batch_acc.freq)
        out["ks"] = out["w1"] = None
        out["chi2"] = chi_square_categorical(base_acc.freq, batch_acc.freq)["chi2"]
    else:
        out["ks"] = out["psi"] = out["w1"] = out["chi2"] = None
    return out


def wasserstein_exact(df_a, df_b, col: str, n_buckets: int = 64) -> dict[str, Any]:
    """EXACT distributed Wasserstein-1 between two DataFrames' ``col``
    samples — the verification regime behind the sketch path above
    (wasserstein_1), same split as Unique's sketch-then-exact-confirm.

    Scale shape (no global sort, no single-partition window):
      1. one partial+final agg for global min/max and the two sample
         sizes (O(1) rows to the driver);
      2. value-axis bucketing into ``n_buckets`` fixed-width ranges —
         the step integral decomposes bucket-locally once each bucket
         knows how much CDF mass precedes it;
      3. groupBy (bucket, value) → per-point label counts (the one real
         shuffle, partial-agg combines duplicates map-side);
      4. an O(n_buckets) per-bucket summary to the driver → prefix-sum
         offsets + the cross-bucket tail segments, computed in numpy;
      5. offsets rejoin via broadcast; per-bucket window (bounded
         partitions by construction) integrates |F_a - F_b| dx locally.

    Returns ``{"w1", "n_a", "n_b"}``.  NULLs are dropped; if either
    side is empty w1 is NaN; a degenerate single-point union is 0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    u = df_a.select(F.col(col).cast("double").alias("v")).where(
        F.col(col).isNotNull()
    ).withColumn("ca", F.lit(1)).withColumn("cb", F.lit(0)).unionByName(
        df_b.select(F.col(col).cast("double").alias("v"))
        .where(F.col(col).isNotNull())
        .withColumn("ca", F.lit(0))
        .withColumn("cb", F.lit(1))
    )
    lo, hi, n_a, n_b = u.agg(
        F.min("v"), F.max("v"), F.sum("ca"), F.sum("cb")
    ).first()
    if not n_a or not n_b:
        return {"w1": float("nan"), "n_a": int(n_a or 0), "n_b": int(n_b or 0)}
    if lo == hi:
        return {"w1": 0.0, "n_a": int(n_a), "n_b": int(n_b)}
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.floor((F.col("v") - F.lit(lo)) / F.lit(width)), F.lit(n_buckets - 1)
    ).cast("int")
    pts = (
        u.withColumn("bkt", bucket)
        .groupBy("bkt", "v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    summary = sorted(
        pts.groupBy("bkt")
        .agg(
            F.sum("ca").alias("sa"),
            F.sum("cb").alias("sb"),
            F.min("v").alias("minv"),
            F.max("v").alias("maxv"),
        )
        .collect()
    )
    # prefix offsets (mass strictly before each bucket) + the tail
    # segments between consecutive non-empty buckets — both pure
    # O(n_buckets) driver arithmetic on the summary
    offsets, tail, cum_a, cum_b = [], 0.0, 0, 0
    prev = None
    for row in summary:
        if prev is not None:
            gap = row["minv"] - prev["maxv"]
            tail += abs(cum_a / n_a - cum_b / n_b) * gap
        offsets.append((row["bkt"], cum_a, cum_b))
        cum_a += row["sa"]
        cum_b += row["sb"]
        prev = row
    spark = df_a.sparkSession
    from ..io import local_df

    off_df = local_df(spark, offsets, "bkt int, off_a long, off_b long")
    w = Window.partitionBy("bkt").orderBy("v")
    inner = (
        pts.join(F.broadcast(off_df), "bkt")
        .withColumn("cum_a", F.col("off_a") + F.sum("ca").over(w))
        .withColumn("cum_b", F.col("off_b") + F.sum("cb").over(w))
        .withColumn("nxt", F.lead("v").over(w))
        .where(F.col("nxt").isNotNull())
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_a") / F.lit(float(n_a))
                    - F.col("cum_b") / F.lit(float(n_b))
                )
                * (F.col("nxt") - F.col("v"))
            )
        )
        .first()[0]
    )
    return {"w1": float(inner or 0.0) + tail, "n_a": int(n_a), "n_b": int(n_b)}
