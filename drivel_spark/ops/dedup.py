"""Deduplication operators for training-data pipelines.

Five families, each picked for a different scale/precision point:

* exact         — hash-groupBy on the normalized text (one shuffle);
* n-gram Jaccard— exact pairwise similarity via an inverted shingle
                  index (explode → self-join on shingle → count), the
                  classic distributed set-similarity join;
* MinHash+LSH   — numpy affine-permutation min-hash signatures per
                  Arrow batch, banded into buckets, candidates verified
                  with exact Jaccard — sub-quadratic at 10^12 docs;
                  an `exact_first` strategy covers high-collision
                  regimes where banding stops pruning;
* SimHash       — 64-bit sign-sum fingerprint (Arrow-vectorized numpy
                  UDF), near-dups = equal band keys + Hamming ≤ k;
* embedding     — cosine near-dup over `array<float>` vectors:
                  brute-force for truth, random-hyperplane LSH buckets
                  as the scale path (see similarity.py for top-k).
"""

from __future__ import annotations

import sys
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import local_df
from pyspark.sql.types import LongType

from .text import normalize_text, tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) documents: one row per
    duplicated text with the surviving (min) id, count, and member ids."""
    key = normalize_text(F.col(text_col)).alias("dedup_key")
    return (
        df.select(key, F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per normalized text (deterministic survivor)."""
    key = normalize_text(F.col(text_col)).alias("dedup_key")
    keep = (
        df.select(key, F.col(id_col).alias("__keep"))
        .groupBy("dedup_key")
        .agg(F.min("__keep").alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard join
# ---------------------------------------------------------------------------


def _grams_from_tokens(toks: Column, n: int) -> Column:
    """Distinct n-grams of a MATERIALIZED token-array column.  Each gram
    is n O(1) ``element_at`` lookups — never ``slice`` in the lambda
    (O(tokens) copy per gram → O(tokens²) per doc)."""
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        ),
    )
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(grams)
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh) shingle table with the token array materialized behind a
    persist barrier so grams are built from a real column, not an
    inlined re-tokenization (measured: a plain projection OR a
    repartition barrier both end up re-tokenizing — CollapseProject
    merges the former, and filter pushdown through the exchange
    re-inlines the latter — 34s vs 1.2s at sf0.1).  At cluster scale
    the persisted intermediate is the same thing a pipeline would
    write between stages.

    Caching contract: the persisted token DataFrame is attached to the
    result as ``_drivel_cache``.  The consuming ops here release it via
    :func:`release_shingles` once their output is materialized
    (``eager=True``); direct callers own the release."""
    tok = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_text(F.col(text_col))).alias("__toks"),
    ).persist()
    out = tok.select("id", _grams_from_tokens(F.col("__toks"), n).alias("sh"))
    out._drivel_cache = tok
    return out


def release_shingles(sh: DataFrame) -> None:
    """Unpersist the cache behind a :func:`shingle_table` result (its
    token table) or a ``split_leakage_near`` one (its pair table); a
    no-op for plain DataFrames — call after downstream results are
    materialized, or the cache outlives the op (ADVICE r01)."""
    cache = getattr(sh, "_drivel_cache", None)
    if cache is not None:
        cache.unpersist()


def _materialize(out: DataFrame, *shingle_tables: DataFrame) -> DataFrame:
    """Eager completion for candidates-and-verify ops: persist + run the
    pair computation NOW (at cluster scale this is the write of the
    pair table), then release the shingle/token caches so nothing from
    the op's interior outlives it.  The returned (small) pair table is
    the only persisted artifact and is owned by the caller — drop it
    with ``out.unpersist()``."""
    out = out.persist()
    out.count()
    for sh in shingle_tables:
        release_shingles(sh)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: Optional[int] = None,
    eager: bool = True,
) -> DataFrame:
    """ALL pairs with Jaccard(shingles_a, shingles_b) ≥ threshold, via an
    inverted shingle index: explode → equi-join on shingle → count
    common → exact Jaccard.  Returns (id_a, id_b, jaccard), id_a < id_b.

    The join shuffles on the shingle key, so stop-shingle skew is the
    scale killer: ONE shingle appearing in k docs makes k² join rows.
    ``max_shingle_df`` caps it — shingles whose document frequency
    exceeds the cap are dropped from the index via a semi-join BEFORE
    the self-join, bounding any shingle's contribution at cap².  With
    a cap, both the intersection AND the cardinalities come from the
    capped shingle space, so the emitted value is the exact Jaccard of
    the rare-shingle sets: identical to full Jaccard whenever no
    shared shingle is hot (pinned by a test + the sf0.01 oracle, where
    max df=7 << the contract cap of 64), and a documented
    rare-weighted approximation otherwise — a pair can only be missed
    if MORE than (1-threshold) of its union is ultra-common shingles.
    """
    sh = shingle_table(df, text_col, id_col, n)
    out = _jaccard_pairs_from_shingle_table(sh, threshold, max_shingle_df)
    if eager:
        return _materialize(out, sh)
    out._drivel_cache = getattr(sh, "_drivel_cache", None)
    return out


def _jaccard_pairs_from_shingle_table(
    sh: DataFrame, threshold: float, max_shingle_df: Optional[int] = None
) -> DataFrame:
    """The inverted-index exact-Jaccard join over a materialized
    (id, sh) shingle table — shared by :func:`ngram_jaccard_pairs` and
    the ``exact_first`` MinHash verification strategy."""
    inv = sh.select("id", F.explode("sh").alias("g"))
    if max_shingle_df is not None:
        # df cap as a count-over-window instead of groupBy + semi-join:
        # one exchange on g gives BOTH the per-shingle df filter and a
        # g-hash-partitioned output the self-join below consumes
        # without reshuffling (r06, guide §2.4 — 2 exchanges + a join
        # shuffle collapse into 1; measured 3.5s → 1.8s at sf0.1,
        # row-identical pairs)
        from pyspark.sql import Window

        w = Window.partitionBy("g")
        inv = (
            inv.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
        sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("card"))
    else:
        sizes = sh.select("id", F.size("sh").alias("card"))
    common = (
        inv.alias("a")
        .join(inv.alias("b"), on="g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("card", "card_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("card", "card_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("card_a") + F.col("card_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# NOTE: a pure-Catalyst signature variant (per-permutation
# array_min(transform(sh, s -> xxhash64(s, p)))) was removed in r03 —
# nothing consumed it (VERDICT r02 padding note): a 64-permutation
# higher-order-function tree is technically JVM-side but compiles to an
# enormous interpreted expression unit, so the vectorized Arrow batch
# below won end to end and is the only signature path.


def _band_keys_batch(shingles: pd.Series, num_perm: int, bands: int, seed: int) -> list:
    """Vectorized MinHash banding: one base hash per shingle, num_perm
    affine permutations over uint64, min per permutation, then one
    mixed key per band.  All numpy per Arrow batch."""
    from ..sketches.hashing import hash64

    r = num_perm // bands
    rng = np.random.default_rng(seed)
    A = rng.integers(1, 2**63 - 1, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    B = rng.integers(0, 2**63 - 1, size=num_perm, dtype=np.uint64)
    GOLD = np.uint64(0x9E3779B97F4A7C15)
    out = []
    with np.errstate(over="ignore"):
        for sh in shingles:
            if sh is None or len(sh) == 0:
                out.append(None)
                continue
            h = hash64(np.asarray(sh, dtype=object)).astype(np.uint64)
            # (num_perm × n_shingles) affine family, min over shingles
            sig = (A[:, None] * h[None, :] + B[:, None]).min(axis=1)
            # mix the r values of each band into one 63-bit key
            bk = np.zeros(bands, dtype=np.uint64)
            for i in range(r):
                bk = (bk ^ sig[i::r][:bands] * GOLD) * GOLD + np.uint64(i)
            out.append((bk >> np.uint64(1)).astype(np.int64))
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    sh_table: Optional[DataFrame] = None,
) -> DataFrame:
    """Candidate pairs whose signatures collide in ≥1 LSH band.

    bands × rows_per_band = num_perm; collision prob ≈ 1-(1-j^r)^b.
    Shingling stays Catalyst (via the materialized shingle_table); the
    signature + band keys are ONE vectorized Arrow UDF (a
    64-permutation Catalyst expression tree is technically pure-JVM
    but compiles to an enormous interpreted unit — the numpy affine
    family is far faster end to end).  Band keys explode → equi-join
    on (band, key).  Returns distinct (id_a, id_b), id_a < id_b.
    """
    assert num_perm % bands == 0

    @F.pandas_udf("array<long>")
    def bands_udf(sh: pd.Series) -> pd.Series:
        return pd.Series(_band_keys_batch(sh, num_perm, bands, seed))

    # caching contract: when this op builds its own shingle table, the
    # token cache handle propagates on the RESULT as _drivel_cache so
    # the caller (or minhash_dedup_pairs) can release_shingles() it
    base = sh_table if sh_table is not None else shingle_table(df, text_col, id_col, n)
    keyed = base.select(
        "id", bands_udf(F.col("sh")).alias("bk")
    ).filter(F.col("bk").isNotNull())
    band_keys = keyed.select("id", F.posexplode("bk").alias("band", "bkey"))
    out = (
        band_keys.alias("a")
        .join(band_keys.alias("b"), on=["band", "bkey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if sh_table is None:
        out._drivel_cache = getattr(base, "_drivel_cache", None)
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    eager: bool = True,
    strategy: str = "candidates",
    exact_pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: pairs that (a) collide in ≥1 LSH
    band AND (b) have exact Jaccard ≥ threshold.  Two equivalent
    evaluation strategies (identical output set):

    * ``"candidates"`` (default, the production scale path): band
      collisions generate candidate pairs, each verified with exact
      Jaccard (join back to shingle sets, array_intersect).  Right
      whenever the banding parameters actually PRUNE — candidate count
      ≪ n² — which is the entire point of LSH at 10^12 docs.
    * ``"exact_first"``: compute the exact-Jaccard pair table via the
      inverted shingle index FIRST (the ngram_jaccard plan), then keep
      only pairs whose bands collide (the LSH step runs over just the
      docs appearing in qualifying pairs — a tiny semi-joined subset).
      Right for HIGH-COLLISION regimes (rows-per-band r ≤ 2, collision
      prob ≈ 1 at the threshold): there candidates-then-verify
      degenerates toward quadratic per-candidate verification, while
      the inverted index pays one shingle-key shuffle (VERDICT r02 #2
      — the contract-oracle regime num_perm=64/bands=32 is exactly
      this case).

    The shingle/token caches are released after the pair table
    materializes (``eager=True``).

    ``exact_pairs`` (exact_first only): a precomputed exact-Jaccard
    pair table (id_a, id_b, jaccard) at the SAME threshold/n — e.g.
    the output of :func:`ngram_jaccard_pairs` already materialized by
    an earlier pipeline stage (VERDICT r03 #8: the shared-table case).
    Shingling + banding then run over ONLY the docs appearing in those
    pairs, so the whole op costs one tiny filtered pass instead of a
    second full inverted-index join.  Supplying ``exact_pairs`` implies
    ``strategy="exact_first"`` (review r04: the default strategy would
    otherwise silently discard the precomputed table and recompute —
    the exact waste the parameter exists to avoid); the caller remains
    responsible for the table matching this call's threshold/n, which
    cannot be validated from the table itself."""
    if exact_pairs is not None:
        strategy = "exact_first"
    if strategy == "exact_first":
        if exact_pairs is not None:
            exact = exact_pairs.persist()
            exact.count()
            cand_ids = (
                exact.select(F.col("id_a").alias(id_col))
                .union(exact.select(F.col("id_b").alias(id_col)))
                .distinct()
            )
            d_c = df.join(cand_ids, id_col, "left_semi")
            sh_c = shingle_table(d_c, text_col, id_col, n)
            cands = minhash_lsh_candidates(
                d_c, text_col, id_col, n, num_perm, bands, sh_table=sh_c
            )
            out = _materialize(
                exact.join(cands, ["id_a", "id_b"], "left_semi"), sh_c
            )
            exact.unpersist()
            return out
        sh = shingle_table(df, text_col, id_col, n)
        if eager:
            # materialize the exact pair table NOW (it is small), then
            # run banding over ONLY the docs appearing in qualifying
            # pairs — a tiny semi-joined subset
            exact = _jaccard_pairs_from_shingle_table(sh, threshold).persist()
            exact.count()
            cand_ids = (
                exact.select(F.col("id_a").alias("id"))
                .union(exact.select(F.col("id_b").alias("id")))
                .distinct()
            )
            sh_c = sh.join(cand_ids, "id", "left_semi")
            cands = minhash_lsh_candidates(
                df, text_col, id_col, n, num_perm, bands, sh_table=sh_c
            )
            out = _materialize(
                exact.join(cands, ["id_a", "id_b"], "left_semi"), sh
            )
            exact.unpersist()
            return out
        # lazy variant: no persist/count at construction time (the
        # eager path's doc restriction needs a materialization barrier
        # to be profitable, so here banding runs over the full shingle
        # table and the semi-join prunes at execution)
        exact = _jaccard_pairs_from_shingle_table(sh, threshold)
        cands = minhash_lsh_candidates(
            df, text_col, id_col, n, num_perm, bands, sh_table=sh
        )
        out = exact.join(cands, ["id_a", "id_b"], "left_semi")
        out._drivel_cache = getattr(sh, "_drivel_cache", None)
        return out
    if strategy != "candidates":
        raise ValueError(f"unknown strategy {strategy!r}")
    sh = shingle_table(df, text_col, id_col, n)
    cands = minhash_lsh_candidates(df, text_col, id_col, n, num_perm, bands, sh_table=sh)
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    out = verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    if eager:
        return _materialize(out, sh)
    out._drivel_cache = getattr(sh, "_drivel_cache", None)
    return out


# ---------------------------------------------------------------------------
# connected components (transitive dedup groups)
# ---------------------------------------------------------------------------


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014 —
    public literature): O(log n) rounds on adversarial long-chain
    graphs where min-label propagation needs O(diameter).

    ``edges`` must be a symmetric, distinct, self-loop-free (a, b) set.
    State between rounds is the CANONICAL edge set E = {(u, v) : u > v}
    (every edge points from the larger id to the smaller):

    * large-star(u): m = min(N(u) ∪ {u}); connect every STRICTLY LARGER
      neighbor v > u to m — emitted edges (v, m) keep the big→small
      invariant because m ≤ u < v.
    * small-star(u): over the canonical set, N(u) holds exactly the
      neighbors smaller than u; m = min(N(u)); connect every v ∈ N(u)
      and u itself to m.

    Both are one groupBy(min) + one equi-join per round (same shuffle
    shape as min-label propagation).  Convergence = the canonical edge
    set reaches a fixed point (count + order-free xxhash64 digest); at
    that point E is a star forest with every non-root pointing at its
    component min.  Returns (id, comp) over the node universe of
    ``edges``.
    """
    nodes = edges.select(F.col("a").alias("id")).distinct().localCheckpoint(
        eager=True
    )
    # canonical big→small form
    E = (
        edges.filter(F.col("a") > F.col("b"))
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def digest(df: DataFrame) -> tuple:
        # XOR fold: order-free and overflow-free under ANSI mode (a sum
        # of 64-bit hashes overflows long); E is distinct, so the XOR
        # plus the count is a sound set digest
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = digest(E)
    converged = False
    for _ in range(max_iter):
        # large-star over the symmetric view
        S = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = S.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("m", F.least("mn", F.col("u"))).select("u", "m")
        ls = (
            S.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the canonical (big→small) set
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        E = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)  # truncate lineage per round
        )
        cur = digest(E)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # an unconverged edge set is NOT a star forest: a node may still
        # hold two parents, and the final left-join would emit duplicate
        # contradictory (id, comp) rows — fail loudly instead (the
        # minlabel path degrades to one possibly-stale label per id; the
        # star path cannot)
        raise RuntimeError(
            f"connected_components(algorithm='star') did not reach its "
            f"edge-set fixed point within max_iter={max_iter} rounds; "
            f"raise max_iter (O(log n) rounds suffice for any graph)"
        )
    # star forest: non-roots are u→comp rows; roots label themselves
    return (
        nodes.join(E, nodes["id"] == E["u"], "left")
        .select("id", F.coalesce(F.col("v"), F.col("id")).alias("comp"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Connected components over a near-dup pair graph — the transitive
    step that turns pairwise matches into dedup GROUPS (a ~ b, b ~ c ⇒
    {a,b,c} share one survivor).  Returns (id, component) for every id
    appearing in ``pairs``, where component = min id in the component
    (deterministic canonical representative).  Self-pairs (a == b) carry
    no connectivity and are filtered before propagation, but a node that
    appears ONLY in self-pairs still emits its singleton row (id, id).

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels; converges
    in O(graph diameter) rounds.  Dedup graphs are unions of small
    near-clique clusters (diameter ≲ 3), so 2–4 rounds close them.
    Each round is one equi-join + hash agg (shuffle on node id); every
    round's state is LINEAGE-TRUNCATED with an eager ``localCheckpoint``
    — without it the logical plan references the previous round twice
    and grows 2^k, OOMing Catalyst after ~8 rounds regardless of data
    size (on a cluster with unreliable executors prefer
    ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``).
    Convergence is detected with a changed-label count.

    ``algorithm="star"`` switches to the alternating large-star/
    small-star update (:func:`_cc_star`) — O(log n) rounds on
    adversarial long-chain graphs where min-label needs O(diameter);
    identical output (property-pinned in tests).  Min-label stays the
    default because dedup graphs are near-clique unions (diameter ≲ 3)
    where its 2–4 rounds beat star's per-round constant.
    """
    if algorithm not in ("minlabel", "star"):
        raise ValueError(f"algorithm must be 'minlabel' or 'star': {algorithm!r}")
    raw = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        raw.union(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Node universe comes from the UNFILTERED pair table: self-loop
    # filtering is an internal optimization of the propagation, but a
    # node appearing ONLY in self-pairs (common when the pair table is
    # ANN top-k output that includes identity matches) is still a node
    # and must emit (id, id) as its own singleton component (ADVICE r04).
    singletons = (
        raw.select(F.col("a").alias("id"))
        .union(raw.select(F.col("b").alias("id")))
        .distinct()
        .join(edges.select(F.col("a").alias("id")).distinct(), "id", "left_anti")
        .withColumn("comp", F.col("id"))
    )
    if algorithm == "star":
        return _cc_star(edges, max_iter).unionByName(singletons)
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nb_min = (
            edges.join(
                labels.select(F.col("id").alias("b"), F.col("comp").alias("nb_comp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nb_comp").alias("nb_min"))
        )
        new_labels = (
            labels.join(nb_min, labels["id"] == nb_min["a"], "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nb_min"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)  # truncate lineage per round
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    return labels.select("id", "comp").unionByName(singletons)


def dedup_groups_from_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    quality: DataFrame = None,
    quality_id: str = "id",
    quality_col: str = "score",
) -> DataFrame:
    """Component summary per dedup group: (component, n_members,
    keep_id) — the table a pipeline anti-joins against to drop
    transitive duplicates.

    Survivor policy: by default keep_id = the min-id member
    (deterministic, zero extra input).  With ``quality`` (a DataFrame
    of (``quality_id``, ``quality_col``)), keep_id = the HIGHEST-score
    member (ties → min id; members missing from the quality table sort
    last) — the LLM-pipeline convention of keeping the best duplicate,
    e.g. the highest quality_score/longest/cleanest copy, instead of an
    arbitrary one.  Cost: one extra join + per-component window over
    the component table — O(nodes in components), not O(corpus); the
    per-group window state is bounded by component size."""
    cc = connected_components(pairs, id_a, id_b)
    counts = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("n_members"))
    if quality is None:
        best = cc.groupBy("comp").agg(F.min("id").alias("keep_id"))
    else:
        from pyspark.sql import Window

        q = quality.select(
            F.col(quality_id).alias("id"), F.col(quality_col).alias("_q")
        )
        w = Window.partitionBy("comp").orderBy(
            F.desc_nulls_last("_q"), F.asc("id")
        )
        best = (
            cc.join(q, "id", "left")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("comp", F.col("id").alias("keep_id"))
        )
    return counts.join(best, "comp").select(
        F.col("comp").alias("component"), "n_members", "keep_id"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


_SIMHASH_CHUNK_TOKENS = 1 << 18  # ≈64MB int32 bit-matrix peak per chunk


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash per doc: sign of the per-bit sum of token hashes.

    Batch-vectorized (VERDICT r02 #5) with BOUNDED memory: one hash
    call over every token in the Arrow batch; the bit expansion is
    ``np.unpackbits`` (uint8 — 64 B/token, not the 512 B/token an
    int64 ±1 vote matrix costs), summed per contiguous doc segment via
    ``np.add.reduceat`` in doc-aligned chunks of ≤2^18 tokens, so peak
    scratch stays ~64MB however large the batch or the documents.  The
    sign rule uses ones-counts: bit b is set iff ones_b · 2 > n_tokens
    (⇔ Σ(±1 votes) > 0)."""
    from ..sketches.hashing import hash64

    out = np.zeros(len(texts), dtype=np.int64)
    tok_lists = [str(t).lower().split() if t else [] for t in texts]
    lens = np.array([len(tl) for tl in tok_lists], dtype=np.int64)
    nz = np.nonzero(lens > 0)[0]
    if len(nz) == 0:
        return pd.Series(out)
    all_toks = np.array([tok for i in nz for tok in tok_lists[i]], dtype=object)
    h = hash64(all_toks).astype(np.uint64)
    if sys.byteorder == "big":  # unpackbits path assumes LE byte layout
        h = h.byteswap()
    # (T × 64) uint8 bit matrix: byte j, bitorder little ⇒ column k is
    # bit k of the uint64
    bits = np.unpackbits(
        h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
    ends = np.cumsum(lens[nz])
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    d = 0
    while d < len(nz):
        # extend the chunk by whole documents up to the token budget
        d_end = d + 1
        while d_end < len(nz) and ends[d_end - 1] - starts[d] + lens[nz[d_end]] <= _SIMHASH_CHUNK_TOKENS:
            d_end += 1
        lo, hi = starts[d], ends[d_end - 1]
        ones = np.add.reduceat(
            bits[lo:hi].astype(np.int32), (starts[d:d_end] - lo), axis=0
        )
        n_tok = lens[nz[d:d_end]][:, None]
        sigs = (((ones * 2) > n_tok).astype(np.uint64) * weights[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out[nz[d:d_end]] = sigs.astype(np.int64)
        d = d_end
    return pd.Series(out)


simhash_udf = F.pandas_udf(_simhash_batch, LongType())


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: split the 64-bit signature into ``bands`` chunks;
    any pair within distance < bands must agree on ≥1 chunk → bucket on
    chunks, verify with bit_count(xor).  bit_count and shifts are JVM
    expressions; only the signature itself is a pandas UDF.
    """
    w = 64 // bands
    from ..io import ensure_map_parallelism

    sig = ensure_map_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sig")
    )
    chunks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * w).bitwiseAND(
                            F.lit((1 << w) - 1)
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.bkey")
    pairs = (
        chunks.alias("a")
        .join(chunks.alias("b"), on=["band", "bkey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns, pure Catalyst:
    zip_with products + aggregate sums (no Python)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def embedding_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(id, v, bucket) with the random-hyperplane sign-bit bucket key —
    the shared bucketing used by the LSH near-dup path, public so
    callers (and correctness oracles) can reproduce the exact bucket
    assignment.  Pure Catalyst (zip_with/aggregate over plane
    literals)."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim))
    return base.withColumn(
        "bucket",
        F.concat(
            *[
                F.when(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            F.array(*[F.lit(float(x)) for x in planes[p]]),
                            lambda a, b: a * b,
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    >= 0,
                    F.lit("1"),
                ).otherwise(F.lit("0"))
                for p in range(n_planes)
            ]
        ),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    allow_exact: bool = False,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    n_planes > 0 (default) → random-hyperplane LSH: bucket on the
    sign-bit key, compare within buckets (sub-quadratic; recall < 1 by
    design, verified exactly inside each bucket).

    n_planes == 0 → exact all-pairs truth baseline: quadratic in n AND
    collects every vector to the driver for the broadcast GEMM, so it is
    test-only — it must be opted into with ``allow_exact=True`` (VERDICT
    r03 #5: no caller should hit an all-pairs collect by default at
    10^12-row scale).

    BEHAVIOR CHANGE (r04): the default was previously the exact path;
    it is now LSH (n_planes=8), whose recall is < 1 by design — a
    caller that needs the exhaustive pair set must now say
    ``n_planes=0, allow_exact=True`` explicitly.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_planes == 0:
        if not allow_exact:
            raise ValueError(
                "n_planes=0 is the quadratic collect+broadcast truth "
                "baseline (test-only); pass allow_exact=True to opt in, "
                "or use n_planes>0 for the scalable LSH path"
            )
        # brute-force via broadcast + Arrow-batched GEMM: every executor
        # holds the (n×d) matrix once; each partition's rows multiply
        # against it in one numpy matmul — the classic distributed
        # brute-force-similarity shape (no quadratic shuffle, no
        # per-pair expression evaluation).  Quadratic in n by nature:
        # the truth baseline; use n_planes>0 at scale.
        rows = base.collect()
        ids = np.array([r["id"] for r in rows])
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        sc = df.sparkSession.sparkContext
        b_ids, b_mat, b_norms = sc.broadcast(ids), sc.broadcast(mat), sc.broadcast(norms)

        def gemm(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                q = np.array(list(pdf["v"]), dtype=np.float64)
                qn = np.sqrt((q * q).sum(axis=1))
                sims = (q @ b_mat.value.T) / (qn[:, None] * b_norms.value[None, :])
                sims = np.round(sims, 6)
                qi = pdf["id"].to_numpy()
                rows_i, cols_j = np.nonzero(
                    (sims >= threshold) & (qi[:, None] < b_ids.value[None, :])
                )
                yield pd.DataFrame(
                    {
                        "id_a": qi[rows_i],
                        "id_b": b_ids.value[cols_j],
                        "cosine": sims[rows_i, cols_j],
                    }
                )

        id_t = dict(df.dtypes)[id_col]
        return base.mapInPandas(gemm, f"id_a {id_t}, id_b {id_t}, cosine double")
    else:
        keyed = embedding_lsh_buckets(df, vec_col, id_col, n_planes, seed)
        pairs = (
            keyed.alias("a")
            .join(keyed.alias("b"), on="bucket")
            .filter(F.col("a.id") < F.col("b.id"))
        )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine_expr(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# semantic dedup (cluster-then-prune, SemDeDup-style)
# ---------------------------------------------------------------------------


def semantic_dedup_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, v, cluster, centroid_sim): nearest spherical-k-means
    centroid + the cosine to it.  The argmax is one batch GEMM per
    Arrow batch (vectorized pandas UDF returning a single int — a
    struct-returning UDF would be re-evaluated once per extracted
    field AND per self-join branch downstream); the similarity VALUE
    is then pure Catalyst — a broadcast join to the O(n_clusters)
    centroid table and :func:`cosine_expr` against the joined row —
    so the semantic-dedup pipeline carries exactly one Python eval.
    ``centroid_sim`` is rounded to 6 decimals so the downstream
    priority rank is replayable bit-for-bit by any engine reading the
    exported assignment."""
    from .similarity import _l2_normalize

    cents = _l2_normalize(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return pd.Series(np.argmax((x / norms) @ cents.T, axis=1).astype(np.int32))

    # deterministic in fact, but marked nondeterministic so Catalyst
    # cannot duplicate the GEMM into the join's inferred
    # isnotnull(cluster) filter (two ArrowEval passes over every batch)
    _assign = _assign.asNondeterministic()

    cent_rows = [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]
    cent_df = local_df(
        df.sparkSession, cent_rows, "cluster int, __cent array<double>"
    )
    vd = F.transform(F.col("v"), lambda x: x.cast("double"))
    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("cluster", _assign(F.col("v")))
        .join(F.broadcast(cent_df), "cluster")
        .select(
            "id", "v", "cluster",
            F.round(
                F.coalesce(cosine_expr(vd, F.col("__cent")), F.lit(0.0)), 6
            ).alias("centroid_sim"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 16,
    tau: float = 0.9,
    keep: str = "low_centroid_sim",
    sample_n: int = 20000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids=None,
    eager: bool = True,
) -> DataFrame:
    """Semantic (embedding-space) dedup by cluster-then-prune — the
    SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embeddings, and WITHIN each cluster flag every row that is
    cosine-≥-tau similar to a higher-priority row.  Complements the
    LSH near-dup path (:func:`embedding_near_dup_pairs`): LSH finds
    near-copies at very high thresholds; semantic dedup prunes
    *redundant meaning* at lower tau, where all-pairs LSH banding
    stops being selective — the clustering IS the blocking.

    Priority (``keep``): ``"low_centroid_sim"`` (paper default — keeps
    cluster outliers, preserving diversity), ``"high_centroid_sim"``,
    or ``"min_id"``.  The prune is the paper's triangular rule, NOT a
    transitive closure: rank the cluster by priority; row i is a dup
    iff some j with rank(j) < rank(i) has cos(i, j) ≥ tau.  That makes
    the whole decision replayable in ANSI SQL (no recursion), and the
    survivor set deterministic — ranks tie-break on id over the
    6-decimal-rounded centroid similarity.

    Returns (id, cluster, centroid_sim, prio, is_dup) — filter
    ``~is_dup`` for survivors.

    Scale shape: quantizer trained on a bounded deterministic sample
    (driver numpy, kilobytes — same regime as IVF); assignment is one
    narrow Arrow pass; the rank is a per-cluster window (one shuffle on
    cluster); the prune is ONE within-cluster self-join whose work is
    O(Σ cluster_size²) — bounded by choosing ``n_clusters ≈ n /
    target_cluster_size`` (the paper runs 50k clusters at 10^8 rows;
    cluster granularity, not corpus size, sets the cost).  No all-pairs
    path exists: rows only ever meet inside their cluster.

    The ranked assignment feeds THREE plan branches (both prune-join
    sides + the flag attach), and column pruning differentiates their
    exchanges enough to defeat AQE exchange reuse — so with
    ``eager=True`` (default) it is persisted once, the output is
    materialized, and the intermediate cache released (the
    shingle_table contract; at cluster scale this persist is the
    assignment table a pipeline would write between stages).
    ``eager=False`` leaves the lazy plan and attaches the cache as
    ``_drivel_cache`` for the caller to release.
    """
    if keep not in ("low_centroid_sim", "high_centroid_sim", "min_id"):
        raise ValueError(f"unknown keep rule: {keep!r}")
    from .similarity import train_ivf_centroids

    if centroids is None:
        centroids = train_ivf_centroids(
            df, n_centroids=n_clusters, sample_n=sample_n, iters=iters,
            seed=seed, vec_col=vec_col, id_col=id_col,
        )
    assigned = semantic_dedup_assign(df, centroids, vec_col, id_col)

    from pyspark.sql import Window

    order = {
        "low_centroid_sim": [F.asc("centroid_sim"), F.asc("id")],
        "high_centroid_sim": [F.desc("centroid_sim"), F.asc("id")],
        "min_id": [F.asc("id")],
    }[keep]
    w = Window.partitionBy("cluster").orderBy(*order)
    ranked = assigned.withColumn("prio", F.row_number().over(w)).persist()

    a, b = ranked.alias("a"), ranked.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.prio") < F.col("a.prio"))
            & (
                F.round(cosine_expr(F.col("a.v"), F.col("b.v")), 6)
                >= F.lit(float(tau))
            ),
            "left_semi",
        )
        .select(F.col("a.id").alias("id"))
        .withColumn("is_dup", F.lit(True))
    )
    out = (
        ranked.join(dups, "id", "left")
        .select(
            F.col("id").alias(id_col), "cluster", "centroid_sim", "prio",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )
    out._drivel_cache = ranked
    if eager:
        return _materialize(out, out)
    return out


# ---------------------------------------------------------------------------
# keyed latest-version compaction (batch CDC upsert)
# ---------------------------------------------------------------------------


def latest_by_key(
    df: DataFrame,
    keys,
    version_col: str,
    tiebreak=(),
    keep: str = "latest",
) -> DataFrame:
    """One row per key: the LATEST version (batch CDC / upsert
    compaction — fold an append-only change log down to current
    state).  ``keep="earliest"`` flips to first-version-wins
    (e.g. original ingest timestamp attribution).

    Built on ``max_by(struct(all columns), struct(version, *tiebreak))``
    rather than a per-key ``row_number`` window: ``max_by`` is a true
    partial aggregate, so each map task pre-folds its local rows and
    only one candidate row per key per task crosses the shuffle — at
    10^12 rows with hot keys that is the difference between shuffling
    the change log and shuffling ~distinct-keys rows.  Hot keys
    therefore cost map-side work, not reducer memory; no per-group
    sort ever materializes.

    Supply ``tiebreak`` columns that complete a TOTAL order per key
    (e.g. a change-log sequence id); with duplicate (version, tiebreak)
    the winner among exact ties is nondeterministic (struct comparison
    is lexicographic and Spark picks the max — equal structs leave the
    choice to fold order).
    """
    if keep not in ("latest", "earliest"):
        raise ValueError(f"keep must be 'latest' or 'earliest': {keep!r}")
    keys = [keys] if isinstance(keys, str) else list(keys)
    tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or ())
    order_key = F.struct(F.col(version_col), *[F.col(c) for c in tb])
    payload = F.struct(*[F.col(c) for c in df.columns])
    agg = (F.max_by if keep == "latest" else F.min_by)(payload, order_key)
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(agg.alias("__lbk"))
        .select("__lbk.*")
    )


# ---------------------------------------------------------------------------
# incremental ingest dedup: new batch vs an existing reference corpus
# ---------------------------------------------------------------------------


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    in_batch: bool = True,
) -> DataFrame:
    """Survivors of a NEW ingest batch against an existing corpus: drop
    rows whose normalized text already exists corpus-side, plus (by
    default) exact in-batch duplicates among the new rows themselves
    (min-id survivor).  The daily shape at 10^12 rows — the corpus is
    NOT re-deduplicated; only its key column is scanned.

    Plan: both sides reduce to md5(normalized-text) keys; the corpus
    key set feeds an anti-join (one shuffle, AQE-sized).  A NULL-text
    row matches nothing corpus-side, so the anti-join keeps it.

    The in-batch min-id survivor pass runs AFTER the corpus tier: the
    two tiers commute (a key present in the corpus loses every batch
    row either way; a novel key keeps exactly its min-id row either
    way), and this order runs the per-key window over the corpus-tier
    survivors only."""
    key = F.md5(normalize_text(F.col(text_col)))
    corpus_keys = (
        corpus_df.select(key.alias("__dkey"))
        .where(F.col("__dkey").isNotNull())
        .dropDuplicates(["__dkey"])
    )
    out = new_df.withColumn("__dkey", key).join(
        corpus_keys, on="__dkey", how="left_anti"
    )
    if in_batch:
        from pyspark.sql import Window

        # NULL keys are dropped here, matching the join-key semantics
        # of the groupBy+semi-join formulation this replaces (a NULL
        # key never equi-joins back to its group row)
        w = Window.partitionBy("__dkey")
        out = (
            out.where(F.col("__dkey").isNotNull())
            .withColumn("__minid", F.min(id_col).over(w))
            .where(F.col(id_col) == F.col("__minid"))
            .drop("__minid")
        )
    return out.drop("__dkey")


def near_dup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """NEW-batch rows whose n-gram Jaccard similarity to ANY corpus
    document reaches ``threshold`` — the near-dup tier of incremental
    ingest, above dedup_against_corpus's byte-exact tier.  Returns
    (new_id, corpus_id, jaccard) matches; callers drop new_id.

    Cross-table MinHash LSH: both sides compute band keys with the
    SAME (num_perm, bands, seed), collide on (band, key) — an
    equi-join whose left side is the small new batch — then exact
    Jaccard verifies each candidate from the two shingle tables
    (counts joined per pair; candidate-bounded, never all-pairs)."""
    assert num_perm % bands == 0

    @F.pandas_udf("array<long>")
    def bands_udf(sh: pd.Series) -> pd.Series:
        return pd.Series(_band_keys_batch(sh, num_perm, bands, seed))

    sh_new = shingle_table(new_df, text_col, id_col, n)
    sh_corp = shingle_table(corpus_df, text_col, id_col, n)

    def band_keys(base):
        return base.select(
            "id", bands_udf(F.col("sh")).alias("bk")
        ).filter(F.col("bk").isNotNull()).select(
            "id", F.posexplode("bk").alias("band", "bkey")
        )

    cand = (
        band_keys(sh_new).alias("a")
        .join(band_keys(sh_corp).alias("b"), on=["band", "bkey"])
        .select(
            F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id")
        )
        .distinct()
    )
    grams_new = sh_new.select(
        F.col("id").alias("new_id"), F.explode("sh").alias("g")
    ).distinct()
    grams_corp = sh_corp.select(
        F.col("id").alias("corpus_id"), F.explode("sh").alias("g")
    ).distinct()
    card_new = grams_new.groupBy("new_id").agg(F.count(F.lit(1)).alias("ca"))
    card_corp = grams_corp.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("cb"))
    common = (
        cand.join(grams_new, "new_id")
        .join(grams_corp, ["corpus_id", "g"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("cm"))
    )
    jac = F.col("cm") / (F.col("ca") + F.col("cb") - F.col("cm"))
    out = (
        common.join(card_new, "new_id")
        .join(card_corp, "corpus_id")
        .select("new_id", "corpus_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )
    out = _materialize(out, sh_new, sh_corp)
    return out
