"""Incremental (Structured Streaming) validation: per-batch delta
reports must fold to exactly the batch engine's pass/fail table, and
the checkpoint must make restarts exactly-once (no reprocessing)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from drivel_spark.constraints import Enum as EnumC
from drivel_spark.constraints import NotNull, Range, validate
from drivel_spark.fixtures import CLIPS_SCHEMA, CODEC_ENUM, ClipFixtureSpec, clips_pdf
from drivel_spark.streaming import cumulative_passfail, validate_stream

SPEC = ClipFixtureSpec(with_audio=False)


def _constraints():
    return [
        EnumC("sr_enum", "sr_hz", (8000, 16000, 22050, 44100, 48000)),
        Range("dur_range", "dur_ms", 200, 30000),
        EnumC("codec_enum", "codec", tuple(sorted(CODEC_ENUM))),
        NotNull("transcript_not_null", "transcript"),
    ]


def _scope():
    return F.pmod(F.xxhash64(F.col("clip_id")), F.lit(8)).cast("long")


def _write_wave(spark, source, lo, hi):
    pdf = clips_pdf(range(lo, hi), SPEC)
    spark.createDataFrame(pdf, CLIPS_SCHEMA).coalesce(2).write.mode("append").parquet(
        source
    )


def _batch_passfail_pdf(spark, source):
    df = spark.read.parquet(source)
    res = validate(df, _constraints(), scope=_scope(), cache_flags=False)
    pdf = res.passfail_pdf()
    return pdf.sort_values(["constraint", "partition_id"]).reset_index(drop=True)


def _stream_totals_pdf(spark, report):
    pdf = (
        cumulative_passfail(spark, report)
        .toPandas()
        .sort_values(["constraint", "partition_id"])
        .reset_index(drop=True)
    )
    return pdf


def test_stream_matches_batch_and_resumes_exactly_once(spark, tmp_path):
    source = str(tmp_path / "clips_stream")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")

    # wave 1: 500 clips → one availableNow run
    _write_wave(spark, source, 0, 500)
    validate_stream(
        spark, source, CLIPS_SCHEMA, _constraints(), _scope(), report, ckpt
    )
    got = _stream_totals_pdf(spark, report)
    want = _batch_passfail_pdf(spark, source)
    assert got.to_dict("records") == want.to_dict("records")

    # wave 2 appended: a resumed stream processes ONLY the new files
    _write_wave(spark, source, 500, 1000)
    validate_stream(
        spark, source, CLIPS_SCHEMA, _constraints(), _scope(), report, ckpt
    )
    rep = spark.read.parquet(report)
    batch_ids = {r["batch_id"] for r in rep.select("batch_id").distinct().collect()}
    assert len(batch_ids) == 2  # one micro-batch per wave, no reprocessing
    got2 = _stream_totals_pdf(spark, report)
    want2 = _batch_passfail_pdf(spark, source)
    assert got2.to_dict("records") == want2.to_dict("records")
    # violations actually present in the fixture (injected modular rows)
    assert (got2[got2.constraint == "_rows_any_violation"]["n_violations"] > 0).any()

    # restart with NO new data: exactly-once ⇒ report unchanged
    validate_stream(
        spark, source, CLIPS_SCHEMA, _constraints(), _scope(), report, ckpt
    )
    rep2 = spark.read.parquet(report)
    assert rep2.count() == rep.count()


def test_stream_plus_reconcile_equals_batch_validate(spark, tmp_path):
    """The documented split — row checks streamed, dataset checks via
    periodic batch reconciliation (validate_stream.py:23-27) — now has
    a CLI surface: after `reconcile` commits its batch_id=-1 partition,
    the cumulative report equals the full batch engine's pass/fail
    table (row + GLOBAL_SCOPE dataset rows) on the same data
    (VERDICT r02 next #6)."""
    import argparse

    from drivel_spark.constraints import Referential, Unique
    from drivel_spark.job import cmd_reconcile

    source = str(tmp_path / "rsrc")
    report = str(tmp_path / "rreport")
    ckpt = str(tmp_path / "rckpt")
    _write_wave(spark, source, 0, 400)
    _write_wave(spark, source, 400, 900)
    validate_stream(
        spark, source, CLIPS_SCHEMA, _constraints(), _scope(), report, ckpt
    )

    # transcripts for all but 5 clips → referential violations exist
    clips = spark.read.parquet(source)
    transcripts_path = str(tmp_path / "rtranscripts")
    clips.filter(F.col("clip_id").isNotNull()).select("clip_id").distinct().limit(
        890
    ).withColumn("text", F.lit("t")).write.parquet(transcripts_path)

    out = cmd_reconcile(
        argparse.Namespace(
            source=source, report=report, transcripts=transcripts_path
        )
    )
    assert {d["constraint"] for d in out["dataset_checks"]} == {
        "clip_id_unique",
        "clip_has_transcript",
    }

    got = _stream_totals_pdf(spark, report)
    full = validate(
        clips,
        _constraints()
        + [
            Unique("clip_id_unique", "clip_id"),
            Referential("clip_has_transcript", "clip_id", "transcripts", "clip_id"),
        ],
        scope=_scope(),
        ref_tables={"transcripts": spark.read.parquet(transcripts_path)},
        cache_flags=False,
    )
    want = (
        full.passfail_pdf()
        .sort_values(["constraint", "partition_id"])
        .reset_index(drop=True)
    )
    assert got.to_dict("records") == want.to_dict("records")
    # re-running reconcile is idempotent (snapshot partition overwrite)
    cmd_reconcile(
        argparse.Namespace(source=source, report=report, transcripts=transcripts_path)
    )
    got2 = _stream_totals_pdf(spark, report)
    assert got2.to_dict("records") == want.to_dict("records")


def test_stream_rejects_dataset_constraints(spark, tmp_path):
    from drivel_spark.constraints import Unique

    with pytest.raises(ValueError, match="row-level"):
        validate_stream(
            spark,
            str(tmp_path / "x"),
            CLIPS_SCHEMA,
            [Unique("u", "clip_id")],
            _scope(),
            str(tmp_path / "r"),
            str(tmp_path / "c"),
        )


def test_stream_quarantine_equals_batch_violations(spark, tmp_path):
    """The streaming gate quarantines exactly the batch engine's
    violation rows: the kept columns plus ``failed``, as a multiset
    over every micro-batch."""
    from collections import Counter

    source = str(tmp_path / "qsrc")
    quar = str(tmp_path / "quar")
    keep = ["clip_id", "sr_hz", "codec"]
    _write_wave(spark, source, 0, 300)
    _write_wave(spark, source, 300, 600)
    validate_stream(
        spark, source, CLIPS_SCHEMA, _constraints(), _scope(),
        str(tmp_path / "qrep"), str(tmp_path / "qck"),
        max_files_per_trigger=1, quarantine_dir=quar, keep_columns=keep,
    )
    got = spark.read.option("basePath", quar).parquet(f"{quar}/batch_id=*")
    assert got.columns == [*keep, "failed", "batch_id"]
    want = validate(
        spark.read.parquet(source), _constraints(), scope=_scope(),
        keep_columns=keep, cache_flags=False,
    ).violations

    def rows(df):
        return Counter(
            (*(r[c] for c in keep), tuple(r["failed"]))
            for r in df.select(*keep, "failed").collect()
        )

    assert rows(got) == rows(want)
    assert len(rows(want)) > 0


def test_stream_null_scope_raises_batch_error(spark, tmp_path):
    """A scope that yields NULL fails the stream with the batch engine's
    NULL-scope ValueError, not a pandas cast error."""
    from pyspark.errors import StreamingQueryException

    source = str(tmp_path / "nsrc")
    _write_wave(spark, source, 0, 200)
    scope = F.when(F.col("dur_ms") > 1000, _scope())
    with pytest.raises(StreamingQueryException, match="ValueError: scope expression"):
        validate_stream(
            spark, source, CLIPS_SCHEMA, _constraints(), scope,
            str(tmp_path / "nrep"), str(tmp_path / "nck"),
        )


# ---------------------------------------------------------------------------
# incremental profile stream
# ---------------------------------------------------------------------------


def _assert_profiles_equal(a, b):
    """Field-level equality between two TableProfiles (same contract as
    test_partitioning_invariance: counts/min-max/HLL exact; KLL is
    merge-order-sensitive internally so quantiles compare by band).

    The SpaceSaving freq map is compared by ITS contract, not blanket
    equality: counts are byte-equal only while both sides stayed in
    the exact regime (distinct ≤ capacity, no eviction anywhere).
    Above capacity the sketch is merge-order-sensitive by design —
    the stream folds state file-by-file while the batch profiler
    repartitions the scan to the core count (guide §2.5), so their
    eviction histories legitimately differ; what both must still
    satisfy is the structural contract (bounded size, mass ≤ column
    non-null count).  The pre-r06 exact equality here only ever held
    by coincidence of identical fold order."""
    import numpy as np

    assert a.n_rows == b.n_rows
    assert sorted(a.columns()) == sorted(b.columns())
    for col in a.columns():
        x, y = a.column(col), b.column(col)
        assert x.n == y.n and x.n_null == y.n_null, col
        if x.kind == "numeric":
            assert x.min_v == y.min_v and x.max_v == y.max_v, col
            assert np.array_equal(x.hll.registers, y.hll.registers), col
        if x.kind == "string":
            assert x.min_len == y.min_len and x.max_len == y.max_len, col
            if x.freq.is_exact and y.freq.is_exact:
                assert x.freq.counts == y.freq.counts, col
            for s in (x.freq, y.freq):
                assert len(s.counts) <= s.capacity, col
                n_non_null = x.n - x.n_null
                assert sum(s.counts.values()) <= n_non_null, col


def test_profile_stream_matches_batch_and_resumes(spark, tmp_path):
    """profile-stream runs on the per-file commit store: with one file
    per commit, each wave profiles only its new files, the totals equal
    ``profile()`` on the exact fields, and a rerun with no new data adds
    no commit file.  The verb's store is resumable_profile's own."""
    import argparse

    from drivel_spark.checkpoint import CheckpointStore, resumable_profile
    from drivel_spark.job import cmd_profile_stream
    from drivel_spark.profiling import profile

    source = str(tmp_path / "clips_psrc")
    ckpt = str(tmp_path / "pckpt")
    cols = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
    args = argparse.Namespace(
        source=source, checkpoint=ckpt, columns=",".join(cols), max_files_per_trigger=1
    )

    def n_files():
        return len(spark.read.parquet(source).inputFiles())

    _write_wave(spark, source, 0, 400)
    n1 = n_files()
    out = cmd_profile_stream(args)
    assert (out["resume"]["n_units"], out["resume"]["n_recomputed"]) == (n1, n1)
    assert out["n_state_commits"] == n1  # one commit per file
    assert out["n_rows_total"] == 400 and out["columns"] == cols
    got, st = resumable_profile(spark, source, CheckpointStore(ckpt), "profile-stream", cols)
    assert st["n_recomputed"] == 0
    _assert_profiles_equal(got, profile(spark.read.parquet(source).select(*cols)))

    # wave 2: only the new files are profiled and committed
    _write_wave(spark, source, 400, 900)
    n2 = n_files()
    out2 = cmd_profile_stream(args)
    assert (out2["resume"]["n_recomputed"], out2["resume"]["n_restored"]) == (n2 - n1, n1)
    assert out2["n_state_commits"] == n2
    assert out2["n_rows_total"] == 900
    got2, _ = resumable_profile(spark, source, CheckpointStore(ckpt), "profile-stream", cols)
    _assert_profiles_equal(got2, profile(spark.read.parquet(source).select(*cols)))

    # rerun with no new data: everything restores, no commit file added
    out3 = cmd_profile_stream(args)
    assert (out3["resume"]["n_recomputed"], out3["n_state_commits"]) == (0, n2)
    assert out3["n_rows_total"] == 900

    # a Structured Streaming checkpoint from the old verb is refused
    old = tmp_path / "old_ckpt"
    (old / "offsets").mkdir(parents=True)
    (old / "metadata").write_text('{"id": "q"}')
    with pytest.raises(SystemExit, match="new --checkpoint dir"):
        cmd_profile_stream(argparse.Namespace(**{**vars(args), "checkpoint": str(old)}))


def test_stateful_running_stats_resumes(spark, tmp_path):
    """applyInPandasWithState keyed state: per-key running stats over
    a growing source; the state store (not a report scan) carries the
    counters, so a later invocation with the same checkpoint resumes
    them exactly and the final per-key rows equal a batch groupBy over
    everything ever seen."""
    import pandas as pd
    from pyspark.sql import functions as F

    from drivel_spark.streaming import latest_stats, running_stats_stream

    src = str(tmp_path / "src")
    schema = "k string, v double"

    def wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    wave([("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", None),
          ("b", float("nan"))])  # NaN folds into null (profiler convention)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    running_stats_stream(spark, src, schema, "k", "v", ckpt, out)
    first = {
        r["k"]: r for r in latest_stats(spark, out, "k").collect()
    }
    assert first["a"]["n"] == 2 and first["a"]["mean"] == 2.0
    assert first["b"]["n"] == 3 and first["b"]["n_null"] == 2
    assert first["b"]["vmin"] == first["b"]["vmax"] == 10.0

    # second wave touches only 'a' (plus a brand-new key) — resume
    wave([("a", 11.0), ("c", 7.0)])
    running_stats_stream(spark, src, schema, "k", "v", ckpt, out)
    final = {r["k"]: r for r in latest_stats(spark, out, "k").collect()}
    assert final["a"]["n"] == 3 and final["a"]["vmax"] == 11.0
    assert final["a"]["mean"] == (1.0 + 3.0 + 11.0) / 3
    assert final["b"]["n"] == 3  # untouched key keeps its last emit
    assert final["c"]["n"] == 1 and final["c"]["mean"] == 7.0

    # a non-numeric value column is rejected, not silently coerced
    import pytest as _pytest

    from drivel_spark.streaming import running_stats

    sdf = spark.readStream.schema(schema).parquet(src)
    with _pytest.raises(ValueError):
        running_stats(sdf, "v", "k")

    # cross-check against the batch engine over everything seen; the
    # operator's documented contract folds NaN into null, so the batch
    # side states the same fold
    vclean = F.when(F.isnan("v"), None).otherwise(F.col("v"))
    batch = (
        spark.read.parquet(src)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("v").isNull() | F.isnan("v")).cast("long")
            ).alias("n_null"),
            F.min(vclean).alias("vmin"),
            F.max(vclean).alias("vmax"),
            F.avg(vclean).alias("mean"),
        )
    )
    for r in batch.collect():
        f = final[r["k"]]
        assert (f["n"], f["n_null"], f["vmin"], f["vmax"], f["mean"]) == (
            r["n"], r["n_null"], r["vmin"], r["vmax"], r["mean"]
        )


def test_windowed_stats_stream_equals_batch_and_drops_late(spark, tmp_path):
    """Event-time windowed aggregation with watermark (stock Spark
    window + withWatermark, append mode): the streamed finalized
    windows must equal a batch groupBy(F.window(...)) over the SAME
    on-time rows, and a row arriving in a later micro-batch behind the
    watermark must be dropped — the two halves of the late-data
    contract.  A resumed run (same checkpoint) must not re-emit
    already-finalized windows."""
    from datetime import datetime

    from drivel_spark.streaming import (
        load_windowed_stats,
        windowed_stats,
        windowed_stats_stream,
    )

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "k string, ts timestamp, v double"

    def t(minute, second=0):
        return datetime(2024, 1, 1, 0, minute, second)

    def wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # wave 1: windows [0,10) and [10,20) plus a far-future sentinel that
    # pushes the watermark (max event time - 5 min) past both
    on_time = [
        ("a", t(1), 1.0),
        ("a", t(4), 3.0),
        ("b", t(7), 10.0),
        ("a", t(12), 5.0),
        ("b", t(14), None),
    ]
    wave(on_time + [("z", t(59), 0.0)])
    windowed_stats_stream(
        spark, src, schema, "ts", "v", ckpt, out,
        window="10 minutes", watermark="5 minutes", key_col="k",
        max_files_per_trigger=1,
    )
    # wave 2: a LATE row for the long-closed [0,10) window — watermark
    # is already at 00:54, so it must be dropped, not re-opened
    wave([("a", t(2), 100.0)])
    windowed_stats_stream(
        spark, src, schema, "ts", "v", ckpt, out,
        window="10 minutes", watermark="5 minutes", key_col="k",
        max_files_per_trigger=1,
    )

    got = {
        (str(r["window_start"]), r["k"]): (
            r["n"], r["n_null"], r["vmin"], r["vmax"], r["mean"]
        )
        for r in load_windowed_stats(spark, out).collect()
    }
    # batch oracle: the SAME windowed_stats plan over only the on-time
    # rows (late row excluded; sentinel window never closes, so exclude
    # it from the comparison too)
    batch = windowed_stats(
        spark.createDataFrame(on_time, schema),
        "ts", "v", window="10 minutes", key_col="k",
    )
    want = {
        (str(r["window_start"]), r["k"]): (
            r["n"], r["n_null"], r["vmin"], r["vmax"], r["mean"]
        )
        for r in batch.collect()
    }
    assert got == want
    # (w0,a) (w0,b) (w1,a) (w1,b); the sentinel's window never closes
    # (nothing advances the watermark past it) and must NOT appear
    assert len(got) == 4
    assert not any("00:50:00" in ws for ws, _ in got)
    # the late 100.0 must not have re-opened or inflated (w0, a)
    w0a = got[("2024-01-01 00:00:00", "a")]
    assert w0a == (2, 0, 1.0, 3.0, 2.0)


def test_load_windowed_stats_empty_out_dir(spark, tmp_path):
    """A pre-created output dir with no finalized batch_id=* commits yet
    (checkpoint resume before the first window closed) must yield an
    empty stats-schema DataFrame, not PATH_NOT_FOUND (ADVICE r04)."""
    from drivel_spark.streaming import load_windowed_stats
    from drivel_spark.streaming.windows import WINDOWED_STATS_FIELDS

    out = tmp_path / "out"
    out.mkdir()
    got = load_windowed_stats(spark, str(out))
    assert got.count() == 0
    want_cols = [f.split()[0] for f in WINDOWED_STATS_FIELDS.split(", ")]
    assert got.columns == want_cols


def test_session_stats_stream_equals_batch(spark, tmp_path):
    """Session windows (gap-merged dynamic windows) streamed in append
    mode must equal the batch session_window aggregation over the same
    on-time rows once the watermark closes the sessions."""
    from datetime import datetime

    from drivel_spark.streaming import session_stats

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "k string, ts timestamp, v double"

    def t(minute, second=0):
        return datetime(2024, 1, 1, 0, minute, second)

    # key a: two sessions (0-2min burst, then 20-21min burst, gap 5min);
    # key b: one session; z: far-future sentinel advances the watermark
    rows = [
        ("a", t(0), 1.0), ("a", t(1), 2.0), ("a", t(2), 3.0),
        ("a", t(20), 4.0), ("a", t(21), 5.0),
        ("b", t(10), 7.0),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [("z", datetime(2024, 1, 1, 2, 0), 0.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    sess = session_stats(stream, "ts", gap="5 minutes", watermark="5 minutes",
                         key_col="k", value_col="v")

    def commit(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={int(batch_id)}")

    q = (
        sess.writeStream.outputMode("append")
        .foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # one more empty-ish trigger is NOT needed: the sentinel file is a
    # second micro-batch, whose watermark closes every real session
    import os

    assert os.path.isdir(out)
    got_df = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    got = {
        (str(r["session_start"]), r["k"]): (
            r["duration_s"], r["n"], r["vmin"], r["vmax"], r["mean"]
        )
        for r in got_df.collect()
        if r["k"] != "z"
    }
    batch = session_stats(
        spark.createDataFrame(rows, schema), "ts",
        gap="5 minutes", key_col="k", value_col="v",
    )
    want = {
        (str(r["session_start"]), r["k"]): (
            r["duration_s"], r["n"], r["vmin"], r["vmax"], r["mean"]
        )
        for r in batch.collect()
    }
    assert got == want
    assert len(got) == 3  # a×2 sessions + b×1
    # gap merge: a's first session spans 0:00 → 2:00+gap, duration 7 min
    a1 = got[("2024-01-01 00:00:00", "a")]
    assert a1 == (420, 3, 1.0, 3.0, 2.0)


def test_dedup_stream_drops_redelivery_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark-based ingest dedup: the first
    arrival of each clip_id is emitted once; a re-delivery in a LATER
    micro-batch (within the watermark horizon) is dropped; a genuinely
    new id still flows through."""
    from datetime import datetime

    from drivel_spark.streaming import dedup_stream

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "clip_id string, ts timestamp, v double"

    def t(minute):
        return datetime(2024, 1, 1, 0, minute)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            dedup_stream(stream, ["clip_id"], "ts", watermark="30 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # wave 1: c1 twice IN the same batch + c2 once
    spark.createDataFrame(
        [("c1", t(1), 1.0), ("c1", t(1), 1.0), ("c2", t(2), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    # wave 2: c1 re-delivered (same event time, well within the 30-min
    # horizon) + new id c3
    spark.createDataFrame(
        [("c1", t(1), 1.0), ("c3", t(3), 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()

    got = sorted(r["clip_id"] for r in spark.read.parquet(out).collect())
    assert got == ["c1", "c2", "c3"]  # each id exactly once


# ---------------------------------------------------------------------------
# streaming CUSUM monitor (r05)
# ---------------------------------------------------------------------------


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """Two in-order micro-batches through streaming_cusum end at exactly
    the batch detector's final excursions, with the state carrying the
    fold across the batch boundary; a key missing from the baseline
    emits nothing."""
    from datetime import datetime, timedelta

    import numpy as np

    from drivel_spark.ops import cusum_scores
    from drivel_spark.streaming import streaming_cusum

    rng = np.random.default_rng(6)
    t0 = datetime(2024, 1, 1)
    rows = []
    # key "s": calm then +2 sigma shift; key "f": calm; key "x": not in baseline
    for i in range(200):
        rows.append(("s", t0 + timedelta(seconds=i), float(rng.normal(0, 1))))
    for i in range(200, 260):
        rows.append(("s", t0 + timedelta(seconds=i), float(rng.normal(2.0, 1))))
    for i in range(260):
        rows.append(("f", t0 + timedelta(seconds=i), float(rng.normal(0, 1))))
        rows.append(("x", t0 + timedelta(seconds=i), float(rng.normal(0, 1))))
    rows.sort(key=lambda r: r[1])
    schema = "k string, ts timestamp, v double"
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ck"), str(tmp_path / "out")
    half = len(rows) // 2
    # two files, split in ts order -> the stream folds in event order
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.mode("append").parquet(src)

    baseline = {"s": (0.0, 1.0), "f": (0.0, 1.0)}
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    mon = streaming_cusum(stream, "k", "ts", "v", baseline, h_threshold=8.0)

    def commit(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={int(batch_id)}")

    q = (
        mon.writeStream.outputMode("update")
        .foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got_df = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    # last emission per key = final state
    final = {
        r["k"]: r
        for r in got_df.orderBy("batch_id").collect()
    }
    assert set(final) == {"s", "f"}  # x never emitted

    base_df = spark.createDataFrame(
        [("s", 0.0, 1.0), ("f", 0.0, 1.0)], "k string, mean double, sd double"
    )
    batch = cusum_scores(
        spark.createDataFrame(rows, schema), "k", "ts", "v", baseline=base_df
    )
    from pyspark.sql import Window as W

    last = (
        batch.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("k").orderBy(F.desc("ts"))),
        )
        .where(F.col("rn") == 1)
        .collect()
    )
    want = {r["k"]: (r["s_pos"], r["s_neg"]) for r in last}
    for k in ("s", "f"):
        assert final[k]["s_pos"] == pytest.approx(want[k][0], abs=1e-9), k
        assert final[k]["s_neg"] == pytest.approx(want[k][1], abs=1e-9), k
    assert final["s"]["n_alarms"] > 0 and final["f"]["n_alarms"] == 0
    assert final["s"]["n_seen"] == 260 and final["f"]["n_seen"] == 260


def test_streaming_cusum_empty_baseline():
    from drivel_spark.streaming import streaming_cusum

    with pytest.raises(ValueError, match="baseline"):
        streaming_cusum(None, "k", "ts", "v", {})


# ---------------------------------------------------------------- screens


SCREEN_SPEC = ClipFixtureSpec(
    with_audio=True, distort_every=5, dropout_every=7, hum_every=9
)
SCREEN_KINDS = ["quality", "dropout", "hum"]


def _screen_batch_counts(spark, source, kinds):
    """Batch-side truth: each screen run over the full source snapshot
    (same ops, same published flag policies the incremental screen
    uses)."""
    from drivel_spark.ops.multimodal import AUDIO_SCREENS, screen_undecodable_col

    df = spark.read.parquet(source)
    out = {}
    for kind in kinds:
        op, flag = AUDIO_SCREENS[kind]
        rep = op(df)
        row = rep.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.expr(flag), 1)).alias("fl"),
            F.count(
                F.when(F.col(screen_undecodable_col(rep)).isNull(), 1)
            ).alias("bad"),
        ).collect()[0]
        out[kind] = (int(row["n"]), int(row["fl"]), int(row["bad"]))
    return out


def _screen_batch_flagged(spark, source, kinds):
    """The batch-flagged ``(clip_id, kind)`` pairs of ``kinds``."""
    from drivel_spark.ops.multimodal import AUDIO_SCREENS

    want = set()
    full = spark.read.parquet(source)
    for kind in kinds:
        op, flag = AUDIO_SCREENS[kind]
        for r in op(full).filter(F.expr(flag)).select("clip_id").collect():
            want.add((r["clip_id"], kind))
    return want


def _screen_totals(totals):
    return {
        r.kind: (int(r.n_clips), int(r.n_flagged), int(r.n_undecodable))
        for r in totals.itertuples()
    }


def _quarantined(spark, quar):
    return {(r["clip_id"], r["kind"]) for r in spark.read.parquet(quar).collect()}


def _screen(spark, source, ckpt, kinds, quar, max_files=None):
    """One incremental screen call (``screen-stream``'s runner)."""
    from drivel_spark.checkpoint import CheckpointStore, resumable_screen

    return resumable_screen(
        spark, source, CheckpointStore(ckpt), "screen-stream", kinds,
        quarantine_dir=quar, max_files=max_files,
    )


def _write_screen_clips(spark, source, lo, hi):
    spark.createDataFrame(clips_pdf(range(lo, hi), SCREEN_SPEC), CLIPS_SCHEMA).coalesce(
        2
    ).write.mode("append").parquet(source)


def test_screen_stream_matches_batch_and_resumes(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    source = str(tmp_path / "clips_scr")
    ckpt = str(tmp_path / "scr_ckpt")
    quar = str(tmp_path / "scr_quar")

    def n_files():
        return len(spark.read.parquet(source).inputFiles())

    # wave 1: 140 clips with planted clipping / dropout / hum defects,
    # max_files=1 commits one file at a time
    _write_screen_clips(spark, source, 0, 140)
    n1 = n_files()
    totals, _ = _screen(spark, source, ckpt, SCREEN_KINDS, quar, max_files=1)
    batch1 = _screen_batch_counts(spark, source, SCREEN_KINDS)
    assert _screen_totals(totals) == batch1
    # non-vacuous: every planted defect family flags at least one clip
    for kind in SCREEN_KINDS:
        assert batch1[kind][1] >= 1, f"{kind} planted defects not flagged"

    # wave 2 appends; the store must process ONLY the new files —
    # if old files were redecoded, n_recomputed would exceed them
    _write_screen_clips(spark, source, 140, 220)
    totals2, stats2 = _screen(spark, source, ckpt, SCREEN_KINDS, quar, max_files=1)
    assert stats2["n_recomputed"] == n_files() - n1
    batch2 = _screen_batch_counts(spark, source, SCREEN_KINDS)
    assert _screen_totals(totals2) == batch2
    assert all(v[0] == 220 for v in _screen_totals(totals2).values())

    # quarantine rows = exactly the batch-flagged (clip_id, kind) pairs
    assert _quarantined(spark, quar) == _screen_batch_flagged(spark, source, SCREEN_KINDS)

    # a file rewritten in place with clean clips is a changed unit:
    # only it recomputes, and totals and quarantine follow the table
    path = sorted(glob.glob(f"{source}/part-*.parquet"))[0]
    clean = clips_pdf(range(1000, 1060), ClipFixtureSpec(with_audio=True))
    pq.write_table(
        pa.Table.from_pandas(clean, schema=pq.read_schema(path), preserve_index=False), path
    )
    # the rewrite is a foreign writer's: drop the local FS's stale checksum
    os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
    totals3, stats3 = _screen(spark, source, ckpt, SCREEN_KINDS, quar, max_files=1)
    assert stats3["n_recomputed"] == 1
    batch3 = _screen_batch_counts(spark, source, SCREEN_KINDS)
    assert batch3 != batch2
    assert _screen_totals(totals3) == batch3
    assert _quarantined(spark, quar) == _screen_batch_flagged(spark, source, SCREEN_KINDS)


def test_screen_stream_rejects_unknown_kind(spark, tmp_path):
    for kinds, msg in ((["quality", "nope"], "unknown screen"), ([], "at least one")):
        with pytest.raises(ValueError, match=msg):
            _screen(spark, str(tmp_path / "nosrc"), str(tmp_path / "c"), kinds, None)


def test_screen_stream_nonfused_fallback_matches_batch(spark, tmp_path):
    """A kind outside FUSED_SCREEN_FIELDS ('loudness') runs in a pass
    of its own op; totals and quarantine must still equal the batch
    ops."""
    from drivel_spark.ops.multimodal import FUSED_SCREEN_FIELDS

    kinds = ["quality", "loudness"]
    assert "loudness" not in FUSED_SCREEN_FIELDS
    source = str(tmp_path / "clips_nf")
    quar = str(tmp_path / "nf_quar")
    _write_screen_clips(spark, source, 0, 100)
    totals, _ = _screen(spark, source, str(tmp_path / "nf_ckpt"), kinds, quar)
    assert _screen_totals(totals) == _screen_batch_counts(spark, source, kinds)
    assert _quarantined(spark, quar) == _screen_batch_flagged(spark, source, kinds)


def test_screen_stream_mixed_kinds_matches_batch(spark, tmp_path):
    """A mix of fused-capable and non-fused kinds splits the work (one
    fused pass + one per non-fused op); totals and quarantine must
    still equal the batch ops, in the requested kind order."""
    from drivel_spark.ops.multimodal import FUSED_SCREEN_FIELDS

    kinds = ["quality", "loudness", "dropout", "snr"]
    assert [k for k in kinds if k in FUSED_SCREEN_FIELDS] == [
        "quality", "dropout"
    ]
    source = str(tmp_path / "clips_mx")
    quar = str(tmp_path / "mx_quar")
    _write_screen_clips(spark, source, 0, 100)
    totals, _ = _screen(spark, source, str(tmp_path / "mx_ckpt"), kinds, quar)
    assert list(totals["kind"]) == kinds
    assert _screen_totals(totals) == _screen_batch_counts(spark, source, kinds)
    assert _quarantined(spark, quar) == _screen_batch_flagged(spark, source, kinds)


def test_screen_stream_resumes_after_sigkill(spark, tmp_path):
    """A ``screen-stream`` process killed (SIGKILL, with its whole
    process group) after its first commit leaves a store the next call
    resumes: the committed files restore, the rest recompute, and the
    totals equal the batch ``screen``."""
    import argparse
    import signal
    import subprocess
    import sys
    import time

    from drivel_spark.job import cmd_screen, cmd_screen_stream

    source = str(tmp_path / "clips_kill")
    spark.createDataFrame(clips_pdf(range(0, 240), SCREEN_SPEC), CLIPS_SCHEMA).repartition(
        8
    ).write.parquet(source)
    args = argparse.Namespace(
        source=source, report=str(tmp_path / "rep"), checkpoint=str(tmp_path / "ck"),
        kinds=",".join(SCREEN_KINDS), max_files_per_trigger=1, quarantine_out=None,
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g",
           "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")])}
    proc = subprocess.Popen(
        [sys.executable, "-m", "drivel_spark.job", "screen-stream",
         "--source", args.source, "--report", args.report, "--checkpoint", args.checkpoint,
         "--kinds", args.kinds, "--max-files-per-trigger", "1"],
        cwd=repo, env=env, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    deadline = time.time() + 60
    try:
        while not glob.glob(f"{args.checkpoint}/commit-*.parquet"):
            assert proc.poll() is None, "screen-stream exited before its first commit"
            assert time.time() < deadline, "no commit within 60 s"
            time.sleep(0.05)
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    while True:  # the group's other processes (the JVM) are reaped by init
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        assert time.time() < deadline, "a process of the killed group is still alive"
        time.sleep(0.1)

    out = cmd_screen_stream(args)
    resume = out["resume"]
    assert resume["n_restored"] >= 1
    assert resume["n_recomputed"] == resume["n_units"] - resume["n_restored"]
    batch = cmd_screen(argparse.Namespace(
        kind=args.kinds, data=None, clips=source, where=None, flag=None, out=None,
        checkpoint=None,
    ))
    assert out["per_kind"] == {k: v["n_flagged"] for k, v in batch["per_kind"].items()}
    assert out["n_clips_total"] == batch["n_clips"] == 240


def _batch_dir_case(name):
    """(reader, per-batch commit schema, {batch_id: rows}) of one of the
    two readers of ``batch_id=N`` report dirs."""
    from datetime import datetime

    from drivel_spark.constraints.validate import PASSFAIL_SCHEMA
    from drivel_spark.streaming import load_windowed_stats
    from drivel_spark.streaming.windows import WINDOWED_STATS_FIELDS

    t0, t1, t2 = (datetime(2024, 1, 1, 0, m) for m in (0, 10, 20))
    return {
        "passfail": (
            cumulative_passfail,
            PASSFAIL_SCHEMA,
            {
                0: [(0, "c", 10, 1, False), (1, "c", 5, 0, True)],
                1: [(0, "c", 3, 0, True)],
                -1: [(-1, "u", 18, 0, True)],
            },
        ),
        "windows": (
            load_windowed_stats,
            WINDOWED_STATS_FIELDS,
            {0: [(t0, t1, 4, 0, 1.0, 3.0, 2.0)], 1: [(t1, t2, 2, 1, 5.0, 5.0, 5.0)]},
        ),
    }[name]


def _commit(spark, out, schema, batches):
    from drivel_spark.io import local_df

    for b, rows in batches.items():
        local_df(spark, rows, schema).write.parquet(f"{out}/batch_id={b}")


@pytest.mark.parametrize("name", ["passfail", "windows"])
def test_batch_dir_readers_read_uri_dirs(spark, tmp_path, name):
    """A ``file://`` report dir reads the same rows as the plain path."""
    read, schema, batches = _batch_dir_case(name)
    out = tmp_path / "report"
    _commit(spark, out, schema, batches)
    plain = sorted(read(spark, str(out)).collect())
    assert plain
    assert sorted(read(spark, f"file://{out}").collect()) == plain


@pytest.mark.parametrize("name", ["passfail", "windows"])
def test_batch_dir_readers_missing_and_empty_dirs(spark, tmp_path, name):
    """No commits yet (a missing or a pre-created dir) gives zero rows
    with the same columns and types as a dir with commits."""
    read, schema, batches = _batch_dir_case(name)
    _commit(spark, tmp_path / "full", schema, batches)
    want = [(f.name, f.dataType) for f in read(spark, str(tmp_path / "full")).schema]
    (tmp_path / "empty").mkdir()
    for d in (tmp_path / "missing", tmp_path / "empty"):
        got = read(spark, str(d))
        assert got.count() == 0
        assert [(f.name, f.dataType) for f in got.schema] == want
