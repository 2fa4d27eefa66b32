"""End-to-end validation on the clips fixture vs the closed-form oracle:
per-partition pass/fail rows, violation rows, uniqueness, referential,
drift, and the audio SNR invariant (SURVEY.md §7.2 minimum slice and
beyond)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from drivel_spark.constraints import (
    Drift,
    Enum,
    NotNull,
    Range,
    Referential,
    RowPredicate,
    Unique,
    attach_clip_idx,
    from_profile,
    make_snr_udf,
    validate,
)
from drivel_spark.constraints.drift import ks_statistic, psi_categorical
from drivel_spark.fixtures import (
    CODEC_ENUM,
    ClipFixtureSpec,
    build_clips,
    build_transcripts,
    clips_pdf,
)
from drivel_spark.profiling import profile

N = 4000
PARTS = 8


@pytest.fixture(scope="module")
def clips(spark):
    return build_clips(
        spark, N, n_partitions=PARTS, spec=ClipFixtureSpec(with_audio=False)
    ).cache()


@pytest.fixture(scope="module")
def clips_oracle():
    return clips_pdf(range(N), ClipFixtureSpec(with_audio=False))


SR_ENUM = (8000, 16000, 22050, 44100, 48000)

CONSTRAINTS = [
    Enum("sr_enum", "sr_hz", SR_ENUM),
    Range("dur_range", "dur_ms", 200, 30000),
    Enum("codec_enum", "codec", tuple(sorted(CODEC_ENUM))),
    NotNull("transcript_not_null", "transcript"),
]


def test_row_level_counts_match_oracle(clips, clips_oracle):
    res = validate(clips, CONSTRAINTS)
    pf = res.passfail_pdf()
    got = pf.groupby("constraint")["n_violations"].sum().to_dict()
    o = clips_oracle
    fails = (
        (~o.sr_hz.isin(SR_ENUM)),
        ((o.dur_ms < 200) | (o.dur_ms > 30000)),
        (~o.codec.isin(sorted(CODEC_ENUM))),
        o.transcript.isna(),
    )
    want = {
        "sr_enum": int(fails[0].sum()),
        "dur_range": int(fails[1].sum()),
        "codec_enum": int(fails[2].sum()),
        "transcript_not_null": int(fails[3].sum()),
        # rows failing ≥1 constraint (folded into the same aggregation)
        "_rows_any_violation": int((fails[0] | fails[1] | fails[2] | fails[3]).sum()),
    }
    assert got == want
    assert pf.groupby("constraint")["n_rows"].sum().eq(N).all()
    assert not res.all_passed()


def test_violation_rows_exact_match(clips, clips_oracle):
    res = validate(clips, CONSTRAINTS)
    got = res.violations.toPandas()
    ids = np.arange(N)
    bad = set()
    for rule in (ids[ids % 500 == 3], ids[ids % 500 == 7], ids[ids % 1000 == 11], ids[ids % 200 == 13]):
        bad |= set(rule)
    want_ids = set(clips_oracle.loc[sorted(bad), "clip_id"])
    assert set(got["clip_id"]) == want_ids
    # failed-constraint labels are right on a known row: i=3 → sr violation
    row3 = got[got.clip_id == clips_oracle.clip_id[3]].iloc[0]
    assert row3["failed"] == ["sr_enum"]


def test_per_partition_passfail_with_stable_scope(spark, clips_oracle):
    """Layout-independent scope column ⇒ pass/fail rows byte-match the
    closed-form oracle."""
    clips = build_clips(spark, N, n_partitions=5, spec=ClipFixtureSpec(with_audio=False))
    with_idx = attach_clip_idx(clips, spark, N)
    res = validate(
        with_idx,
        [Range("sr_range", "sr_hz", 4000, 48000)],
        scope=(F.col("clip_idx") % 4).cast("long"),
    )
    pf = res.passfail_pdf()
    o = clips_oracle.assign(idx=np.arange(N))
    # oracle joins duplicates to canonical idx = min over equal clip_ids,
    # same as attach_clip_idx
    canon = o.groupby("clip_id")["idx"].min()
    o["scope"] = canon.loc[o.clip_id].to_numpy() % 4
    want = (
        o.assign(v=((o.sr_hz < 4000) | (o.sr_hz > 48000)).astype(int))
        .groupby("scope")
        .agg(n_rows=("v", "size"), n_violations=("v", "sum"))
        .reset_index()
    )
    got = pf[pf.constraint == "sr_range"].sort_values("partition_id")
    assert list(got["partition_id"]) == list(want["scope"])
    assert list(got["n_rows"]) == list(want["n_rows"])
    assert list(got["n_violations"]) == list(want["n_violations"])


def test_unique_constraint(clips, clips_oracle):
    prof = profile(clips, columns=["clip_id"])
    res = validate(clips, [Unique("clip_id_unique", "clip_id")], profile=prof)
    d = res.dataset[0]
    ids = np.arange(N)
    n_dups = len(ids[(ids % 1000 == 500) & (ids >= 1000)])
    assert d["n_violations"] == n_dups
    assert d["n_duplicate_keys"] == n_dups  # each dup key appears exactly twice
    assert not d["passed"]
    assert d["hll_estimate"] == pytest.approx(N - n_dups, rel=0.05)
    dup_keys = res.violation_tables["clip_id_unique"].toPandas()
    want_dups = set(clips_oracle.clip_id[(ids % 1000 == 500) & (ids >= 1000)])
    assert set(dup_keys["clip_id"]) == want_dups


def test_referential_both_directions(spark, clips):
    transcripts = build_transcripts(spark, N, n_partitions=4)
    # clips → transcripts: clips whose id has no transcript row
    res = validate(
        clips,
        [Referential("clip_has_transcript", "clip_id", "transcripts", "clip_id")],
        ref_tables={"transcripts": transcripts},
    )
    ids = np.arange(N)
    missing = ids[ids % 333 == 17]
    # dup rows (i%1000==500) borrow another clip's id which has a
    # transcript, so only non-dup missing ids orphan
    assert res.dataset[0]["n_violations"] == len(missing)
    # transcripts → clips: ghost rows
    res2 = validate(
        transcripts,
        [Referential("transcript_has_clip", "clip_id", "clips", "clip_id")],
        ref_tables={"clips": clips},
    )
    assert res2.dataset[0]["n_violations"] == len(ids[ids % 500 == 29])


def test_referential_null_key_is_orphan(spark):
    """A NULL key matches no ref key, so its row is an orphan: the
    violation rows equal DuckDB's NOT EXISTS on the same rows."""
    import duckdb

    fact = pd.DataFrame(
        {"id": range(6), "fk": pd.Series(["x", "y", "z", None, None, "q"], dtype=object)}
    )
    ref = pd.DataFrame({"k": ["x", "y", "z"]})
    res = validate(
        spark.createDataFrame(fact),
        [Referential("fk_ref", "fk", "ref", "k")],
        ref_tables={"ref": spark.createDataFrame(ref)},
    )
    assert res.dataset[0]["n_violations"] == 3
    got = sorted((r["id"], r["fk"]) for r in res.violation_tables["fk_ref"].collect())
    con = duckdb.connect()
    con.register("f", fact)
    con.register("ref", ref)
    want = sorted(
        con.execute(
            "SELECT id, fk FROM f WHERE NOT EXISTS (SELECT 1 FROM ref WHERE ref.k = f.fk)"
        ).fetchall()
    )
    assert got == want == [(3, None), (4, None), (5, "q")]


@pytest.mark.parametrize(
    "kinds", [("row",), ("dataset",), ("row", "dataset"), ()],
    ids=["row_only", "dataset_only", "mixed", "empty"],
)
def test_passfail_views_agree(spark, clips, kinds):
    """The report is built once on the driver: ``passfail`` holds the
    same rows as ``passfail_pdf()``, and reading ``passfail_pdf()``
    after validate() runs no Spark job."""
    from drivel_spark.constraints.validate import PASSFAIL_COLS

    cs = []
    if "row" in kinds:
        cs += CONSTRAINTS
    if "dataset" in kinds:
        cs.append(Unique("clip_id_unique", "clip_id"))
    res = validate(
        clips, cs, scope=F.pmod(F.xxhash64("clip_id"), F.lit(4)).cast("long")
    )
    sc = spark.sparkContext._jsc.sc()
    n_jobs = sc.dagScheduler().numTotalJobs()
    pdf = res.passfail_pdf()
    assert sc.dagScheduler().numTotalJobs() == n_jobs
    assert res.passfail.columns == PASSFAIL_COLS
    assert [f.dataType.simpleString() for f in res.passfail.schema.fields] == [
        "bigint", "string", "bigint", "bigint", "boolean"
    ]
    got = [tuple(r) for r in res.passfail.collect()]
    want = [
        (int(p), c, int(n), int(v), bool(ok))
        for p, c, n, v, ok in pdf.itertuples(index=False, name=None)
    ]
    assert got == want
    n_row_cs = sum(c.is_row_level for c in cs)
    n_ds = len(cs) - n_row_cs
    assert len(pdf) == (4 * (n_row_cs + 1) if n_row_cs else 0) + n_ds


def test_null_scope_fails_loudly(spark):
    """A scope expression that yields NULL cannot be reported as a
    partition_id: validate() raises and names the scope."""
    df = spark.range(20).withColumn("sr_hz", F.lit(16000))
    scope = F.when(F.col("id") < 15, F.col("id") % 3)
    cs = [Enum("sr_enum", "sr_hz", SR_ENUM)]
    with pytest.raises(ValueError, match="scope expression .*CASE WHEN"):
        validate(df, cs, scope=scope)


def test_from_profile_roundtrip(spark):
    """Infer-then-check: constraints derived from a clean profile pass on
    clean data and catch the injected violations on dirty data."""
    clean = build_clips(spark, 2000, 4, ClipFixtureSpec(variant="clean", with_audio=False))
    prof = profile(clean, columns=["sr_hz", "dur_ms", "codec", "transcript"])
    cs = from_profile(prof)
    names = {c.name for c in cs}
    assert {"sr_hz_range", "dur_ms_range", "codec_enum", "transcript_not_null"} <= names
    assert validate(clean, cs).all_passed()
    dirty = build_clips(spark, 2000, 4, ClipFixtureSpec(with_audio=False))
    res = validate(dirty, cs)
    assert not res.all_passed()
    pf = res.passfail_pdf()
    assert pf[pf.constraint == "codec_enum"]["n_violations"].sum() == 2  # i=11, 1011


def test_drift_detection(spark):
    base = build_clips(spark, 3000, 4, ClipFixtureSpec(variant="clean", with_audio=False))
    same = build_clips(spark, 3000, 4, ClipFixtureSpec(variant="clean", seed=43, with_audio=False))
    drifted = build_clips(spark, 3000, 4, ClipFixtureSpec(variant="drifted", with_audio=False))
    p_base = profile(base, columns=["dur_ms", "codec"])
    p_same = profile(same, columns=["dur_ms", "codec"])
    p_drift = profile(drifted, columns=["dur_ms", "codec"])
    # same distribution: low KS/PSI
    ks_same = ks_statistic(p_base.column("dur_ms").kll, p_same.column("dur_ms").kll)
    ks_drift = ks_statistic(p_base.column("dur_ms").kll, p_drift.column("dur_ms").kll)
    assert ks_same < 0.05 < ks_drift
    psi_same = psi_categorical(p_base.column("codec").freq, p_same.column("codec").freq)
    psi_drift = psi_categorical(p_base.column("codec").freq, p_drift.column("codec").freq)
    assert psi_same < 0.02 < psi_drift
    res = validate(
        drifted,
        [Drift("dur_drift", "dur_ms"), Drift("codec_drift", "codec")],
        profile=p_drift,
        baseline_profile=p_base,
    )
    assert not res.all_passed()
    assert all(not d["passed"] for d in res.dataset)


def test_audio_snr_invariant_distributed(spark):
    """The full per-row invariant on a small audio-bearing table: decode,
    re-synthesize by joined clip_idx, SNR ≥ 30 dB everywhere."""
    n = 200
    spec = ClipFixtureSpec()
    clips = build_clips(spark, n, 4, spec)
    with_idx = attach_clip_idx(clips, spark, n)
    snr = make_snr_udf(seed=spec.seed, audio_cap_ms=spec.audio_cap_ms)
    checked = with_idx.withColumn(
        "snr", snr(F.col("bytes"), F.col("clip_idx"), F.col("sr_hz"), F.col("dur_ms"))
    )
    res = validate(
        checked,
        [RowPredicate("pcm_snr_30db", "snr", F.col("snr") >= 30.0)],
        keep_columns=["clip_id", "snr"],
    )
    pf = res.passfail_pdf()
    assert pf["n_violations"].sum() == 0
    stats = checked.agg(F.min("snr").alias("lo")).collect()[0]
    assert stats["lo"] >= 30.0


def test_decoded_meta_consistency(spark):
    """Every payload decodes, and its header's sample rate is the row's
    ``sr_hz`` clamped to 4-48 kHz."""
    from drivel_spark.produce.audio import wav_decode

    rows = build_clips(spark, 150, 3, ClipFixtureSpec()).select("sr_hz", "bytes").collect()
    assert len(rows) == 150
    for r in rows:
        assert r["bytes"] is not None
        _, sr = wav_decode(bytes(r["bytes"]))
        assert sr == min(max(r["sr_hz"], 4000), 48000)


def test_from_profile_quantile_envelope(spark):
    """quantile_range switches numeric envelopes to the baseline's KLL
    quantiles: a dirty baseline with planted outliers no longer poisons
    the range — the derived constraint flags those same outliers —
    while the default (min/max) policy still passes everything."""
    from pyspark.sql import functions as F

    df = spark.range(0, 10000).select(
        F.when(F.col("id") % 1000 == 7, F.col("id") * 1000.0)
        .otherwise((F.col("id") % 97).cast("double"))
        .alias("v")
    )
    prof = profile(df, columns=["v"])

    exact = from_profile(prof)
    assert validate(df, exact).all_passed()  # min/max admits the outliers

    robust = from_profile(prof, quantile_range=(0.005, 0.995))
    rng = next(c for c in robust if c.name == "v_range")
    assert rng.hi < 1000.0  # envelope collapsed to the bulk
    res = validate(df, robust)
    pf = res.passfail_pdf()
    n_bad = pf[pf.constraint == "v_range"]["n_violations"].sum()
    assert n_bad == 10  # exactly the planted outliers (id%1000==7)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        from_profile(prof, quantile_range=(0.9, 0.1))


def test_speech_rate_constraint(spark):
    """SpeechRate edge semantics: in-band passes, absurd rates and
    non-positive durations fail, NULL transcript/duration pass
    (nullability is NotNull's job)."""
    from drivel_spark.constraints import SpeechRate

    rows = [
        ("ok", "twelve chars in two sec ....", 2000),       # 14 cps
        ("fast", "x" * 500, 1000),                          # 500 cps
        ("slow", "hi", 60000),                              # 0.03 cps
        ("zero", "something", 0),
        ("neg", "something", -5),
        ("null_t", None, 1000),
        ("null_d", "something", None),
    ]
    df = spark.createDataFrame(rows, "clip_id string, transcript string, dur_ms int")
    c = SpeechRate("sr", "transcript", min_cps=1.0, max_cps=40.0)
    got = {
        r["clip_id"]: r["p"]
        for r in df.select("clip_id", c.predicate().alias("p")).collect()
    }
    assert got == {
        "ok": True, "fast": False, "slow": False, "zero": False,
        "neg": False, "null_t": True, "null_d": True,
    }


def test_validate_audio_quality_composition(spark):
    """The recording-health screen composes with the constraint engine:
    audio_quality metrics feed Range/NotNull constraints, and exactly
    the fixture's distorted clips (idx % 5 == 2) surface as violation
    rows — decode-level validation with no new constraint machinery."""
    from drivel_spark.fixtures import clip_id_for
    from drivel_spark.ops import audio_quality

    n = 60
    spec = ClipFixtureSpec(variant="clean", with_audio=True, distort_every=5)
    clips = build_clips(spark, n, 4, spec)
    qual = audio_quality(clips)
    res = validate(
        qual,
        [
            NotNull("decodable", "n_samples"),
            Range("no_clipping", "clipping_ratio", 0.0, 0.01),
            Range("dc_centered", "dc_offset", -0.005, 0.005),
        ],
        keep_columns=["clip_id"],
    )
    viol = res.violations.toPandas()
    bad_ids = set(
        clip_id_for(np.array([i for i in range(n) if i % 5 == 2]), seed=42)
    )

    def ids_failing(name):
        return set(viol[viol["failed"].apply(lambda f: name in list(f))]["clip_id"])

    assert ids_failing("no_clipping") == bad_ids
    # the DC shift also lands every distorted clip outside the band
    assert ids_failing("dc_centered") == bad_ids
    assert not ids_failing("decodable")


# ---------------------------------------------------------------------------
# Wasserstein-1 + chi-square drift (r05)
# ---------------------------------------------------------------------------


def _w1_numpy(a, b):
    a, b = np.sort(np.asarray(a, float)), np.sort(np.asarray(b, float))
    pts = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, pts, side="right") / len(a)
    fb = np.searchsorted(b, pts, side="right") / len(b)
    return float(np.sum(np.abs(fa[:-1] - fb[:-1]) * np.diff(pts)))


def test_wasserstein_sketch_matches_exact_small():
    from drivel_spark.constraints.drift import wasserstein_1
    from drivel_spark.sketches import KLL

    rng = np.random.default_rng(7)
    a = rng.normal(100.0, 10.0, 800)
    b = rng.normal(110.0, 10.0, 700)  # shifted by ~10
    ka, kb = KLL(k=4096), KLL(k=4096)  # large k: sketch holds everything
    ka.update(a)
    kb.update(b)
    w1 = wasserstein_1(ka, kb)
    assert w1 == pytest.approx(_w1_numpy(a, b), rel=1e-9)
    assert 8.0 < w1 < 12.0  # carries the shift magnitude
    # same distribution: near zero
    kc = KLL(k=4096)
    kc.update(a)
    assert wasserstein_1(ka, kc) == 0.0


def test_wasserstein_sketch_lossy_within_band():
    from drivel_spark.constraints.drift import wasserstein_1
    from drivel_spark.sketches import KLL

    rng = np.random.default_rng(11)
    a = rng.exponential(50.0, 60_000)
    b = rng.exponential(50.0, 60_000) + 5.0
    ka, kb = KLL(), KLL()
    for chunk in np.split(a, 10):
        ka.update(chunk)
    for chunk in np.split(b, 10):
        kb.update(chunk)
    exact = _w1_numpy(a, b)
    assert wasserstein_1(ka, kb) == pytest.approx(exact, rel=0.15)


def test_chi_square_categorical():
    from drivel_spark.constraints.drift import chi_square_categorical
    from drivel_spark.sketches import SpaceSaving

    base, batch = SpaceSaving(16), SpaceSaving(16)
    base.update_counts({"wav": 50, "flac": 30, "mp3": 20})
    batch.update_counts({"wav": 20, "flac": 30, "mp3": 50})
    out = chi_square_categorical(base, batch)
    # hand value: cells (50,20),(30,30),(20,50); totals 100/100
    # exp per cell = row/2; chi2 = (15^2/35)*2 + 0 + (15^2/35)*2
    assert out["chi2"] == pytest.approx(2 * 225 / 35 + 0 + 2 * 225 / 35, rel=1e-9)
    assert out["dof"] == 2
    same = chi_square_categorical(base, base)
    assert same["chi2"] == pytest.approx(0.0, abs=1e-12)


def test_wasserstein_exact_distributed(spark):
    from drivel_spark.constraints.drift import wasserstein_exact

    rng = np.random.default_rng(3)
    a = rng.normal(0.0, 1.0, 500)
    b = np.concatenate([rng.normal(0.5, 2.0, 300), a[:50]])  # ties across sides
    df_a = spark.createDataFrame(pd.DataFrame({"x": a}))
    df_b = spark.createDataFrame(pd.DataFrame({"x": b}))
    for nb in (4, 64):  # nb=4 exercises the cross-bucket tail segments
        out = wasserstein_exact(df_a, df_b, "x", n_buckets=nb)
        assert out["n_a"] == 500 and out["n_b"] == 350
        assert out["w1"] == pytest.approx(_w1_numpy(a, b), rel=1e-9), nb


def test_wasserstein_exact_edge_cases(spark):
    from drivel_spark.constraints.drift import wasserstein_exact
    import math

    df_a = spark.createDataFrame(pd.DataFrame({"x": [1.0, 1.0, 1.0]}))
    df_b = spark.createDataFrame(pd.DataFrame({"x": [1.0]}))
    assert wasserstein_exact(df_a, df_b, "x")["w1"] == 0.0
    empty = spark.createDataFrame([], "x double")
    out = wasserstein_exact(df_a, empty, "x")
    assert math.isnan(out["w1"]) and out["n_b"] == 0


def test_drift_column_includes_w1_and_chi2(spark):
    from drivel_spark.constraints.drift import drift_column

    pdf = pd.DataFrame({"v": np.arange(1000, dtype=float), "c": ["a", "b"] * 500})
    df = spark.createDataFrame(pdf)
    p1 = profile(df, columns=["v", "c"])
    p2 = profile(df.withColumn("v", F.col("v") + 100.0), columns=["v", "c"])
    num = drift_column(p1.column("v"), p2.column("v"))
    assert num["w1"] == pytest.approx(100.0, rel=0.05)
    assert num["chi2"] is None
    cat = drift_column(p1.column("c"), p2.column("c"))
    assert cat["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert cat["w1"] is None


# ---------------------------------------------------------------------------
# Conditional + GroupBound constraints (r05)
# ---------------------------------------------------------------------------


def test_conditional_constraint(spark):
    from drivel_spark.constraints import Conditional

    pdf = pd.DataFrame(
        {
            "codec": ["wav", "wav", "flac", "flac", None],
            "sr_hz": [16000, 11025, 11025, None, 11025],
        }
    )
    df = spark.createDataFrame(pdf.astype({"sr_hz": "Int64"}))
    c = Conditional(
        "wav_sr",
        "sr_hz",
        when="codec = 'wav'",
        inner=Enum("_", "sr_hz", (16000, 44100)),
    )
    res = validate(df, [c], scope=F.lit(0))
    row = {r["constraint"]: r for r in res.passfail.collect()}["wav_sr"]
    # only the wav/11025 row violates; flac rows and NULL codec pass vacuously
    assert row["n_violations"] == 1 and not row["passed"]
    v = res.violations.collect()
    assert len(v) == 1 and v[0]["sr_hz"] == 11025 and v[0]["codec"] == "wav"


def test_conditional_requires_row_level_inner(spark):
    from drivel_spark.constraints import Conditional

    c = Conditional("bad", "x", when="true", inner=Unique("u", "x"))
    with pytest.raises(ValueError, match="row-level"):
        c.predicate()


def test_group_bound_constraint(spark):
    from drivel_spark.constraints import GroupBound

    pdf = pd.DataFrame(
        {
            "codec": ["wav"] * 4 + ["flac"] * 4 + ["mp3"] * 2,
            "dur_ms": [1000, 1200, 900, 1100, 5000, 6000, 5500, 4500, 100, 120],
        }
    )
    df = spark.createDataFrame(pdf)
    c = GroupBound(
        "dur_by_codec", "dur_ms", group_col="codec", agg="avg", lo=500.0, hi=8000.0
    )
    res = validate(df, [c])
    ds = {d["constraint"]: d for d in res.dataset}["dur_by_codec"]
    assert ds["n_rows"] == 3 and ds["n_violations"] == 1 and not ds["passed"]
    bad = res.violation_tables["dur_by_codec"].collect()
    assert len(bad) == 1 and bad[0]["group_key"] == "mp3"
    assert bad[0]["value"] == pytest.approx(110.0)
    # global passfail row exists
    row = {r["constraint"]: r for r in res.passfail.collect()}["dur_by_codec"]
    assert row["n_violations"] == 1 and row["n_rows"] == 3


def test_group_bound_validation_errors():
    from drivel_spark.constraints import GroupBound

    with pytest.raises(ValueError, match="agg"):
        GroupBound("g", "x", group_col="k", agg="median", lo=0.0)
    with pytest.raises(ValueError, match="lo and/or hi"):
        GroupBound("g", "x", group_col="k", agg="avg")


def test_group_bound_count_agg(spark):
    from drivel_spark.constraints import GroupBound, group_bound_table

    pdf = pd.DataFrame({"k": ["a"] * 5 + ["b"] * 2, "x": range(7)})
    df = spark.createDataFrame(pdf)
    c = GroupBound("min_rows", "x", group_col="k", agg="count", lo=3.0)
    tab = {r["group_key"]: r for r in group_bound_table(df, c).collect()}
    assert tab["a"]["passed"] and not tab["b"]["passed"]
    assert tab["b"]["value"] == 2.0


def test_pcm_size_consistency(spark):
    """PcmSizeConsistency flags exactly the rows whose payload was
    synthesized with CLAMPED (sr, dur) while the metadata kept the
    unclamped values — the fixture's built-in metadata-drift cases —
    plus nothing else (byte-exact on every honest wav row)."""
    from drivel_spark.constraints import PcmSizeConsistency
    from drivel_spark.fixtures import ClipFixtureSpec, build_clips, clips_pdf

    n = 300
    spec = ClipFixtureSpec()
    clips = build_clips(spark, n, 4, spec)
    res = validate(clips, [PcmSizeConsistency("pcm_size", "bytes")], cache_flags=False)
    got = {r["clip_id"] for r in res.violations.collect()}
    pdf = clips_pdf(range(n), spec)
    want = set()
    for _, row in pdf.iterrows():
        if row["bytes"] is None or row["codec"] != "pcm_s16le":
            continue
        sr_c = int(np.clip(row.sr_hz, 4000, 48000))
        dur_c = int(np.clip(row.dur_ms, 50, spec.audio_cap_ms))
        n_samp = max(int(round(sr_c * dur_c / 1000.0)), 1)
        # metadata formula (unclamped)
        n_meta = max(int(round(int(row.sr_hz) * int(row.dur_ms) / 1000.0)), 1)
        if 44 + 2 * n_samp != 44 + 2 * n_meta:
            want.add(row.clip_id)
    assert want  # the fixture does contain drifted rows
    assert got == want


def test_pcm_size_consistency_vacuous(spark):
    from drivel_spark.constraints import PcmSizeConsistency

    pdf = pd.DataFrame(
        {
            "bytes": [None, b"x" * 100],
            "sr_hz": [16000, 16000],
            "dur_ms": [1000, 1000],
            "codec": ["pcm_s16le", "flac"],
        }
    )
    df = spark.createDataFrame(pdf)
    res = validate(df, [PcmSizeConsistency("pcm_size", "bytes")], cache_flags=False)
    assert res.all_passed()  # NULL bytes + non-pcm codec both vacuous


# ---------------------------------------------------------------------------
# declarative constraint-spec files (r05)
# ---------------------------------------------------------------------------


def test_spec_file_all_types():
    from drivel_spark.constraints import (
        Conditional,
        GroupBound,
        PcmSizeConsistency,
        from_spec_json,
    )
    from drivel_spark.constraints import Enum as EnumC

    doc = {
        "constraints": [
            {"type": "not_null", "column": "clip_id"},
            {"type": "range", "column": "dur_ms", "lo": 200, "hi": 30000},
            {"type": "enum", "column": "codec", "values": ["pcm_s16le", "flac"]},
            {"type": "length", "column": "transcript", "min_len": 1},
            {"type": "format", "column": "clip_id", "fmt": "uuid"},
            {"type": "speech_rate", "column": "transcript", "dur_col": "dur_ms"},
            {"type": "pcm_size", "column": "bytes", "tolerance_bytes": 2},
            {
                "type": "conditional",
                "column": "sr_hz",
                "when": "codec = 'pcm_s16le'",
                "then": {"type": "enum", "column": "sr_hz", "values": [16000, 44100]},
            },
            {"type": "unique", "column": "clip_id"},
            {
                "type": "referential",
                "column": "clip_id",
                "ref_table": "transcripts",
                "ref_column": "clip_id",
            },
            {
                "type": "group_bound",
                "column": "dur_ms",
                "group_col": "codec",
                "agg": "avg",
                "lo": 500,
            },
            {"type": "drift", "column": "dur_ms", "max_ks": 0.05},
        ]
    }
    cs = from_spec_json(doc)
    assert len(cs) == 12
    by_name = {c.name: c for c in cs}
    assert isinstance(by_name["sr_hz_conditional"], Conditional)
    assert isinstance(by_name["sr_hz_conditional"].inner, EnumC)
    assert by_name["codec_enum"].variants == ("pcm_s16le", "flac")
    assert isinstance(by_name["dur_ms_group_bound"], GroupBound)
    assert isinstance(by_name["bytes_pcm_size"], PcmSizeConsistency)
    assert by_name["bytes_pcm_size"].tolerance_bytes == 2
    assert by_name["dur_ms_drift"].max_ks == 0.05
    # row/dataset split is intact
    assert by_name["clip_id_not_null"].is_row_level
    assert not by_name["clip_id_unique"].is_row_level


def test_spec_file_errors():
    from drivel_spark.constraints import from_spec_json

    with pytest.raises(ValueError, match="unknown type"):
        from_spec_json([{"type": "regex", "column": "x"}])
    with pytest.raises(ValueError, match="missing 'column'"):
        from_spec_json([{"type": "not_null"}])
    with pytest.raises(ValueError, match="unknown fields"):
        from_spec_json([{"type": "range", "column": "x", "low": 1}])
    with pytest.raises(ValueError, match="unknown fields"):
        from_spec_json(
            [
                {
                    "type": "referential",
                    "column": "x",
                    "ref_table": "t",
                    "ref_column": "y",
                    "strategy": "anti_join",
                }
            ]
        )
    with pytest.raises(ValueError, match="needs 'values'"):
        from_spec_json([{"type": "enum", "column": "x"}])
    with pytest.raises(ValueError, match="needs 'when'"):
        from_spec_json([{"type": "conditional", "column": "x"}])
    with pytest.raises(ValueError, match="duplicate"):
        from_spec_json(
            [{"type": "not_null", "column": "x"}, {"type": "not_null", "column": "x"}]
        )
    with pytest.raises(ValueError, match=">=1 entry"):
        from_spec_json({"constraints": []})


def test_validate_with_spec_file_cli(spark, tmp_path):
    """cmd_validate --constraints FILE replaces the built-in suite with
    the contract file, end-to-end through the job verb."""
    import argparse
    import json as _json

    from drivel_spark.fixtures import ClipFixtureSpec, build_clips, build_transcripts
    from drivel_spark.job import cmd_validate

    n = 500
    db = tmp_path / "db"
    build_clips(spark, n, 4, ClipFixtureSpec(with_audio=False)).write.parquet(
        str(db / "clips")
    )
    build_transcripts(spark, n, 2).write.parquet(str(db / "transcripts"))
    (db / "meta.json").write_text(
        _json.dumps(
            {"n_rows": n, "partitions": 4, "seed": 42, "variant": "default",
             "with_audio": False}
        )
    )
    spec = tmp_path / "contract.json"
    spec.write_text(
        _json.dumps(
            {
                "constraints": [
                    {"type": "not_null", "column": "transcript"},
                    {
                        "type": "conditional",
                        "column": "dur_ms",
                        "when": "codec = 'pcm_s16le'",
                        "then": {"type": "range", "column": "dur_ms", "lo": 0},
                    },
                    {
                        "type": "group_bound",
                        "column": "dur_ms",
                        "group_col": "codec",
                        "agg": "count",
                        "lo": 1,
                    },
                ]
            }
        )
    )
    out = cmd_validate(
        argparse.Namespace(
            data=str(db), baseline=None, checkpoint=None, run_id="r",
            check_audio=False, n_scopes=8, report=None, clips=None,
            transcripts=None, where=None, constraints=str(spec),
        )
    )
    names = {r["constraint"] for r in out["dataset_checks"]} if out.get("dataset_checks") else set()
    assert "dur_ms_group_bound" in names
    assert out["n_rows"] == n


def test_drift_w1_threshold(spark):
    """A pure location shift that KS/PSI thresholds would have to be
    tuned for is gated directly by max_w1 in the column's own units."""
    base = build_clips(spark, 3000, 4, ClipFixtureSpec(variant="clean", with_audio=False))
    shifted = base.withColumn("dur_ms", (F.col("dur_ms") + 400).cast("int"))
    p_base = profile(base, columns=["dur_ms"])
    p_shift = profile(shifted, columns=["dur_ms"])
    res = validate(
        shifted,
        [Drift("dur_w1", "dur_ms", max_ks=1.1, max_psi=1e9, max_w1=200.0)],
        profile=p_shift,
        baseline_profile=p_base,
    )
    d = res.dataset[0]
    assert d["w1"] == pytest.approx(400.0, rel=0.05)
    assert not d["passed"]  # only the w1 gate can have fired
    # same data passes when only ks/psi gate with loose bounds
    res2 = validate(
        shifted,
        [Drift("dur_loose", "dur_ms", max_ks=1.1, max_psi=1e9)],
        profile=p_shift,
        baseline_profile=p_base,
    )
    assert res2.dataset[0]["passed"]


def test_quantile_bound_sketch_and_exact(spark):
    """Sketch path reads the pass-1 KLL (zero extra scans); exact path
    re-derives the upper-rounding order statistic; both verdict against
    [lo, hi] and an empty/non-numeric column fails loudly."""
    from drivel_spark.constraints import QuantileBound
    from drivel_spark.ops import exact_quantile
    from drivel_spark.profiling import profile

    rng = np.random.default_rng(9)
    vals = np.sort(rng.integers(100, 10000, 4000)).astype("int64")
    pdf = pd.DataFrame({"dur_ms": vals, "clip_id": [f"c{i}" for i in range(len(vals))]})
    df = spark.createDataFrame(pdf)
    p = profile(df, columns=["dur_ms"])
    true_p99 = float(np.sort(vals)[int(np.ceil(0.99 * len(vals))) - 1])

    # sketch: within KLL rank tolerance of the true p99
    res = validate(
        df,
        [QuantileBound("p99_dur", "dur_ms", q=0.99, hi=true_p99 * 1.05)],
        profile=p,
    )
    d = {x["constraint"]: x for x in res.dataset}["p99_dur"]
    assert d["passed"] and d["method"] == "sketch"
    assert d["value"] == pytest.approx(true_p99, rel=0.05)

    # exact: the order statistic itself, bit-equal to exact_quantile
    res2 = validate(
        df,
        [QuantileBound("p99_exact", "dur_ms", q=0.99, hi=true_p99, method="exact")],
        profile=p,
    )
    d2 = {x["constraint"]: x for x in res2.dataset}["p99_exact"]
    assert d2["value"] == exact_quantile(df, "dur_ms", 0.99) == true_p99
    assert d2["passed"]

    # fail verdict: hi below the true quantile
    res3 = validate(
        df,
        [QuantileBound("p99_tight", "dur_ms", q=0.99, hi=true_p99 - 1, method="exact")],
        profile=p,
    )
    d3 = {x["constraint"]: x for x in res3.dataset}["p99_tight"]
    assert not d3["passed"] and d3["n_violations"] == 1
    # global passfail row carries the verdict
    row = {r["constraint"]: r for r in res3.passfail.collect()}["p99_tight"]
    assert row["n_violations"] == 1

    # all-NULL column fails (both methods), never silently passes
    nul = spark.createDataFrame(
        pd.DataFrame({"dur_ms": pd.array([None, None], dtype="Int64")})
    )
    p_nul = profile(nul, columns=["dur_ms"])
    for method in ("sketch", "exact"):
        r = validate(
            nul,
            [QuantileBound("n", "dur_ms", q=0.5, lo=0.0, method=method)],
            profile=p_nul,
        )
        d = r.dataset[0]
        assert not d["passed"] and d["value"] is None


def test_quantile_bound_validation_errors():
    from drivel_spark.constraints import QuantileBound

    with pytest.raises(ValueError, match="q must"):
        QuantileBound("q", "x", q=1.5, hi=1.0)
    with pytest.raises(ValueError, match="lo and/or hi"):
        QuantileBound("q", "x", q=0.5)
    with pytest.raises(ValueError, match="method"):
        QuantileBound("q", "x", q=0.5, hi=1.0, method="approx")


def test_quantile_bound_specfile_roundtrip():
    from drivel_spark.constraints import QuantileBound
    from drivel_spark.constraints.specfile import from_spec_json

    cs = from_spec_json(
        {
            "constraints": [
                {"type": "quantile_bound", "column": "dur_ms", "q": 0.99,
                 "hi": 30000, "method": "exact"},
            ]
        }
    )
    assert cs == [
        QuantileBound("dur_ms_quantile_bound", "dur_ms", q=0.99, hi=30000,
                      method="exact")
    ]


def test_functional_dependency(spark):
    """codec->container FD: a planted double-binding key is the only
    violation; NULL dependents count as a distinct binding."""
    from drivel_spark.constraints import FunctionalDependency

    pdf = pd.DataFrame(
        {
            "codec": ["wav", "wav", "flac", "flac", "mp3", "mp3", "ogg"],
            "container": ["riff", "riff", "flac", "FLAC", "mpeg", "mpeg", None],
        }
    )
    df = spark.createDataFrame(pdf)
    res = validate(
        df, [FunctionalDependency("codec_fd", "codec", determines="container")]
    )
    d = res.dataset[0]
    assert d["n_violations"] == 1 and not d["passed"]
    bad = res.violation_tables["codec_fd"].collect()
    assert len(bad) == 1 and bad[0]["key"] == "flac" and bad[0]["n_bindings"] == 2
    # NULL + value = two bindings
    pdf2 = pd.DataFrame({"k": ["a", "a"], "v": ["x", None]})
    res2 = validate(
        spark.createDataFrame(pdf2),
        [FunctionalDependency("fd2", "k", determines="v")],
    )
    assert not res2.dataset[0]["passed"]
    # clean FD passes
    pdf3 = pd.DataFrame({"k": ["a", "a", "b"], "v": ["x", "x", "y"]})
    res3 = validate(
        spark.createDataFrame(pdf3),
        [FunctionalDependency("fd3", "k", determines="v")],
    )
    assert res3.dataset[0]["passed"]
    with pytest.raises(ValueError, match="determines"):
        FunctionalDependency("fd", "k")


def test_distinct_ratio(spark):
    """Exact path is countDistinct/nonnull; sketch path reads the HLL;
    empty input fails loudly."""
    from drivel_spark.constraints import DistinctRatio
    from drivel_spark.profiling import profile

    pdf = pd.DataFrame(
        {"clip_id": [f"c{i}" for i in range(100)] + ["c0", None]}
    )
    df = spark.createDataFrame(pdf)
    p = profile(df, columns=["clip_id"])
    # 100 distinct over 101 non-null rows
    res = validate(
        df,
        [DistinctRatio("id_ratio", "clip_id", lo=0.95, method="exact")],
        profile=p,
    )
    d = res.dataset[0]
    assert d["passed"] and d["n_distinct"] == 100 and d["n_nonnull"] == 101
    assert d["ratio"] == pytest.approx(100 / 101)
    # sketch within HLL tolerance
    res2 = validate(
        df, [DistinctRatio("id_sketch", "clip_id", lo=0.9)], profile=p
    )
    d2 = res2.dataset[0]
    assert d2["passed"] and d2["ratio"] == pytest.approx(100 / 101, rel=0.05)
    # tight bound fails
    res3 = validate(
        df,
        [DistinctRatio("too_tight", "clip_id", lo=0.9999, method="exact")],
        profile=p,
    )
    assert not res3.dataset[0]["passed"]
    # all-NULL column -> fail, ratio None
    nul = spark.createDataFrame(pd.DataFrame({"clip_id": [None, None]}), "clip_id string")
    p_nul = profile(nul, columns=["clip_id"])
    for method in ("sketch", "exact"):
        r = validate(
            nul,
            [DistinctRatio("n", "clip_id", lo=0.5, method=method)],
            profile=p_nul,
        )
        assert not r.dataset[0]["passed"] and r.dataset[0]["ratio"] is None
    with pytest.raises(ValueError, match="lo and/or hi"):
        DistinctRatio("d", "x")


def test_fd_distinct_ratio_specfile():
    from drivel_spark.constraints import DistinctRatio, FunctionalDependency
    from drivel_spark.constraints.specfile import from_spec_json

    cs = from_spec_json(
        {
            "constraints": [
                {"type": "functional_dependency", "column": "codec",
                 "determines": "container"},
                {"type": "distinct_ratio", "column": "clip_id",
                 "lo": 0.999, "method": "exact"},
            ]
        }
    )
    assert cs == [
        FunctionalDependency("codec_functional_dependency", "codec",
                             determines="container"),
        DistinctRatio("clip_id_distinct_ratio", "clip_id", lo=0.999,
                      method="exact"),
    ]


def test_entropy_bound(spark):
    """Entropy gate: collapsed distribution fails the floor, healthy
    passes; normalized mode; all-null column fails loudly."""
    from drivel_spark.constraints import EntropyBound

    healthy = spark.createDataFrame(
        pd.DataFrame({"codec": ["wav", "flac", "mp3", "ogg"] * 10})
    )
    collapsed = spark.createDataFrame(
        pd.DataFrame({"codec": ["wav"] * 39 + ["flac"]})
    )
    c = EntropyBound("codec_entropy", "codec", lo=1.0)
    r = validate(healthy, [c]).dataset[0]
    assert r["passed"] and abs(r["entropy_bits"] - 2.0) < 1e-12
    r2 = validate(collapsed, [c]).dataset[0]
    assert not r2["passed"] and r2["n_violations"] == 1
    # normalized mode is scale-free: healthy uniform → 1.0
    cn = EntropyBound("codec_nent", "codec", lo=0.9, normalized=True)
    assert validate(healthy, [cn]).dataset[0]["value"] == 1.0
    # ceiling catches spreading mass (id-like leak into a category)
    idish = spark.createDataFrame(
        pd.DataFrame({"codec": [f"v{i}" for i in range(64)]})
    )
    chi = EntropyBound("codec_ceiling", "codec", hi=3.0)
    assert not validate(idish, [chi]).dataset[0]["passed"]
    # all-null fails loudly
    nul = spark.createDataFrame(pd.DataFrame({"codec": pd.array([None] * 5, dtype="string")}))
    assert not validate(nul, [c]).dataset[0]["passed"]
    with pytest.raises(ValueError, match="lo and/or hi"):
        EntropyBound("e", "codec")
    # global passfail row present
    pf = validate(collapsed, [c]).passfail_pdf()
    row = pf[pf["constraint"] == "codec_entropy"]
    assert len(row) == 1 and not bool(row["passed"].iloc[0])


def test_mutual_information_bound(spark):
    """MI gate: a decoupled (independent) pair fails the association
    floor while each marginal stays healthy; dependent pair passes;
    ceiling mode catches id↔payload leakage."""
    from drivel_spark.constraints import MutualInformationBound

    dep = spark.createDataFrame(
        pd.DataFrame(
            {
                "codec": ["wav", "wav", "flac", "flac"] * 10,
                "container": ["riff", "riff", "flac", "flac"] * 10,
            }
        )
    )
    ind = spark.createDataFrame(
        pd.DataFrame(
            {
                "codec": ["wav", "wav", "flac", "flac"] * 10,
                "container": ["riff", "flac", "riff", "flac"] * 10,
            }
        )
    )
    c = MutualInformationBound(
        "codec_container_mi", "codec", other="container", lo=0.5
    )
    assert validate(dep, [c]).dataset[0]["passed"]
    r = validate(ind, [c]).dataset[0]
    assert not r["passed"] and r["mi_bits"] < 1e-9
    # normalized ceiling: identity mapping → NMI 1 → fails hi=0.9
    cn = MutualInformationBound(
        "leak", "codec", other="container", hi=0.9, normalized=True
    )
    assert not validate(dep, [cn]).dataset[0]["passed"]
    # no observed pairs fails loudly
    nul = spark.createDataFrame(
        pd.DataFrame({"codec": ["a", "b"], "container": pd.array([None, None], dtype="string")})
    )
    assert not validate(nul, [c]).dataset[0]["passed"]
    with pytest.raises(ValueError, match="other"):
        MutualInformationBound("m", "codec", lo=0.1)


def test_entropy_mi_specfile_roundtrip(tmp_path, spark):
    """entropy_bound / mutual_information_bound parse from the
    declarative spec-file front-end and gate through validate()."""
    import json

    from drivel_spark.constraints.specfile import load_spec_file

    spec = {
        "constraints": [
            {"type": "entropy_bound", "name": "e", "column": "codec", "lo": 1.0},
            {
                "type": "mutual_information_bound",
                "name": "m",
                "column": "codec",
                "other": "container",
                "lo": 0.5,
                "normalized": True,
            },
        ]
    }
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    cs = load_spec_file(str(p))
    assert [c.name for c in cs] == ["e", "m"]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "codec": ["wav", "flac"] * 10,
                "container": ["riff", "flac"] * 10,
            }
        )
    )
    res = validate(df, cs)
    assert all(d["passed"] for d in res.dataset)


def test_monotonic(spark):
    """Ordering gate: planted backwards step per group is the only
    violation; strict mode flags ties; global path (row-id join, no
    single-partition window) agrees with the per-group path."""
    from drivel_spark.constraints import Monotonic

    pdf = pd.DataFrame(
        {
            "shard": ["a"] * 4 + ["b"] * 4,
            "seq": [1, 2, 3, 4, 1, 2, 3, 4],
            "off": [10, 20, 15, 30, 1, 2, 2, 3],
        }
    )
    df = spark.createDataFrame(pdf)
    c = Monotonic("off_mono", "off", order_by=("seq",), group_col="shard")
    res = validate(df, [c])
    d = res.dataset[0]
    assert d["n_violations"] == 1 and not d["passed"]
    bad = res.violation_tables["off_mono"].collect()
    assert len(bad) == 1 and bad[0]["shard"] == "a" and bad[0]["off"] == 15
    # strict: the b-shard tie (2, 2) also violates
    cs = Monotonic("off_strict", "off", order_by=("seq",), group_col="shard",
                   strict=True)
    assert validate(df, [cs]).dataset[0]["n_violations"] == 2
    # global path: order by (shard, seq) — crossing a→b resets 30→1
    cg = Monotonic("off_global", "off", order_by=("shard", "seq"))
    assert validate(df, [cg]).dataset[0]["n_violations"] == 2  # 15 + reset
    # clean per-group data passes
    ok = Monotonic("seq_mono", "seq", order_by=("off",), group_col="shard")
    pdf2 = pdf.sort_values(["shard", "seq"]).reset_index(drop=True)
    assert validate(
        spark.createDataFrame(pdf2.assign(off=[1, 2, 3, 4, 1, 2, 3, 4])),
        [ok],
    ).dataset[0]["passed"]
    with pytest.raises(ValueError, match="order_by"):
        Monotonic("m", "off")
    # spec-file round-trip
    import json as _json

    from drivel_spark.constraints.specfile import from_spec_json

    cs2 = from_spec_json(_json.loads(_json.dumps({
        "constraints": [{
            "type": "monotonic", "name": "m", "column": "off",
            "order_by": ["seq"], "group_col": "shard",
        }]
    })))
    assert cs2[0].order_by == ("seq",) and cs2[0].group_col == "shard"


def test_correlation_bound(spark):
    """Correlation gate: decorrelated pair fails the floor while both
    marginals stay healthy; perfect co-movement passes; constant
    column (undefined r) fails loudly; spec-file round-trip."""
    import numpy as np

    from drivel_spark.constraints import CorrelationBound
    from drivel_spark.constraints.specfile import from_spec_json, to_spec_json

    x = np.arange(200, dtype=float)
    dep = spark.createDataFrame(pd.DataFrame({"a": x, "b": 3 * x + 7}))
    # deterministic decorrelation: interleave sign flips
    ind = spark.createDataFrame(pd.DataFrame(
        {"a": x, "b": np.where(x % 2 == 0, x, -x)}
    ))
    c = CorrelationBound("ab_corr", "a", other="b", lo=0.9)
    r = validate(dep, [c]).dataset[0]
    assert r["passed"] and abs(r["corr"] - 1.0) < 1e-9
    r2 = validate(ind, [c]).dataset[0]
    assert not r2["passed"] and abs(r2["corr"]) < 0.1
    # constant column → undefined → loud failure
    con = spark.createDataFrame(pd.DataFrame({"a": x, "b": np.ones(200)}))
    r3 = validate(con, [c]).dataset[0]
    assert not r3["passed"] and r3["corr"] is None
    with pytest.raises(ValueError, match="other"):
        CorrelationBound("c", "a", lo=0.1)
    # spec round-trip preserves the gate
    doc = to_spec_json([c])
    (c2,) = from_spec_json(doc)
    assert c2 == c


def test_wav_header_check(spark):
    """Decode-free structural header gate: canonical encoder output
    passes; corrupted magic, stereo flag, wrong declared sr, truncation,
    and size mismatch each fail; other codecs pass vacuously."""
    import numpy as np

    from drivel_spark.constraints import WavHeaderCheck
    from drivel_spark.produce.audio import wav_encode

    pcm = np.sin(np.linspace(0, 40, 1600)).astype(np.float32)
    good = wav_encode(pcm, 16000)

    def mutate(b, pos, new):
        return b[:pos] + new + b[pos + len(new):]

    rows = [
        ("ok", good, 16000, "pcm_s16le"),
        ("bad_magic", mutate(good, 0, b"JUNK"), 16000, "pcm_s16le"),
        ("stereo", mutate(good, 22, (2).to_bytes(2, "little")), 16000, "pcm_s16le"),
        ("sr_drift", good, 22050, "pcm_s16le"),          # metadata != header
        ("truncated", good[:-100], 16000, "pcm_s16le"),   # data size mismatch
        ("short", good[:20], 16000, "pcm_s16le"),
        ("other_codec", b"\x00" * 10, 16000, "opus"),     # vacuous
        ("null_bytes", None, 16000, "pcm_s16le"),         # vacuous
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    c = WavHeaderCheck("wav_hdr", "bytes")
    flagged = df.select("clip_id", c.predicate().alias("ok")).collect()
    got = {r["clip_id"]: r["ok"] for r in flagged}
    assert got == {
        "ok": True, "bad_magic": False, "stereo": False, "sr_drift": False,
        "truncated": False, "short": False, "other_codec": True,
        "null_bytes": True,
    }
    # end-to-end through validate() as a row constraint
    res = validate(df, [c], keep_columns=["clip_id"])
    pf = res.passfail_pdf()
    assert int(pf[pf.constraint == "wav_hdr"]["n_violations"].sum()) == 5
    # spec-file round trip
    from drivel_spark.constraints.specfile import from_spec_json, to_spec_json

    (c2,) = from_spec_json(to_spec_json([c]))
    assert c2 == c


def test_from_profile_with_distribution(spark):
    """Suggested entropy gates: the baseline's own batch passes; an
    enum-valid but mass-collapsed batch fails the suggested floor."""
    from drivel_spark.constraints import EntropyBound
    from drivel_spark.constraints.spec import from_profile
    from drivel_spark.profiling import ProfilerOptions, profile

    base = spark.createDataFrame(
        pd.DataFrame({"codec": ["wav", "flac", "mp3", "ogg"] * 50})
    )
    prof = profile(base, opts=ProfilerOptions(infer_enum=True))
    cs = from_profile(prof, with_distribution=True)
    gates = [c for c in cs if isinstance(c, EntropyBound)]
    assert len(gates) == 1 and gates[0].name == "codec_entropy"
    # the clean uniform baseline sits inside its own envelope (H=2.0)
    assert gates[0].lo <= 2.0 <= gates[0].hi
    res = validate(base, [gates[0]])
    assert res.dataset[0]["passed"]
    # enum-valid collapse: 99% one codec → fails the floor
    collapsed = spark.createDataFrame(
        pd.DataFrame({"codec": ["wav"] * 198 + ["flac", "mp3"]})
    )
    assert not validate(collapsed, [gates[0]]).dataset[0]["passed"]
    # constant column gets no gate (enum pins it)
    con = spark.createDataFrame(pd.DataFrame({"codec": ["wav"] * 100}))
    prof2 = profile(con, opts=ProfilerOptions(infer_enum=True))
    assert not [
        c for c in from_profile(prof2, with_distribution=True)
        if isinstance(c, EntropyBound)
    ]


# ---------------------------------------------------------------------------
# dataset-level check inputs and the profile callable
# ---------------------------------------------------------------------------


def _bad_suites():
    from dataclasses import dataclass

    from drivel_spark.constraints import Constraint, DistinctRatio, QuantileBound

    @dataclass(frozen=True)
    class NoCheck(Constraint):
        @property
        def is_row_level(self) -> bool:
            return False

    return {
        "missing_ref_table": (
            Referential("ref", "clip_id", "nope", "clip_id"),
            {},
            "needs ref_tables",
        ),
        "sketch_distinct_ratio": (
            DistinctRatio("dr", "clip_id", lo=0.9),
            {},
            "needs profile",
        ),
        "sketch_quantile_bound": (
            QuantileBound("qb", "dur_ms", q=0.5, hi=1e9),
            {},
            "needs profile",
        ),
        "drift_without_baseline": (
            Drift("dur_drift", "dur_ms"),
            {"profile": object()},
            "needs profile \\+ baseline_profile",
        ),
        "kind_without_check": (NoCheck("nc", "clip_id"), {}, "unknown dataset constraint"),
    }


@pytest.mark.parametrize("case", list(_bad_suites()))
def test_bad_suite_fails_before_any_job(spark, clips, case):
    """A dataset-level constraint validate() cannot check raises before
    the row-flag aggregate (or any other Spark job) is submitted."""
    bad, kwargs, match = _bad_suites()[case]
    suite = [NotNull("transcript_not_null", "transcript"), bad]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    with pytest.raises(ValueError, match=match):
        validate(clips, suite, ref_tables={"transcripts": clips}, **kwargs)
    assert dag.numTotalJobs() == before


@pytest.mark.parametrize("needs_profile", [True, False])
def test_profile_callable_called_once(spark, clips, needs_profile):
    """A zero-arg ``profile`` is called exactly once: shared by every
    check that reads it (the sleep holds the first call open while the
    other checks' threads ask for it), and resolved before validate()
    returns even when no check does."""
    import time

    from drivel_spark.constraints import DistinctRatio

    prof = profile(clips, columns=["clip_id", "dur_ms", "codec"])
    calls = []

    def counting_profile():
        calls.append(1)
        time.sleep(0.2)
        return prof

    suite = list(CONSTRAINTS)
    if needs_profile:
        suite += [
            Unique("clip_id_unique", "clip_id"),
            Drift("dur_drift", "dur_ms"),
            Drift("codec_drift", "codec"),
            DistinctRatio("clip_id_ratio", "clip_id", lo=0.5),
        ]
    res = validate(clips, suite, profile=counting_profile, baseline_profile=prof)
    assert len(calls) == 1
    if needs_profile:
        assert [d["constraint"] for d in res.dataset] == [c.name for c in suite[4:]]
        assert res.dataset[0]["hll_estimate"] is not None
