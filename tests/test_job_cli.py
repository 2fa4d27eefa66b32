"""Job-surface smoke tests for the describe/produce subcommands
(reference CLI verbs, main.rs:8-22, at table scale)."""

import argparse
import json
import os

import pytest

from drivel_spark.fixtures import ClipFixtureSpec, build_clips


def test_describe_and_produce_roundtrip(spark, tmp_path):
    from drivel_spark.job import cmd_describe, cmd_produce

    data = str(tmp_path / "clips")
    build_clips(spark, 300, 4, ClipFixtureSpec(with_audio=False)).write.parquet(data)

    out = cmd_describe(
        argparse.Namespace(data=data, columns="clip_id,sr_hz,codec", json_schema=False, extended=False)
    )
    assert out["n_rows"] == 300
    assert out["columns"] == ["clip_id", "sr_hz", "codec"]

    produced = str(tmp_path / "gen")
    out2 = cmd_produce(
        argparse.Namespace(data=data, schema=None, n_rows=200, seed=7, out=produced)
    )
    assert out2["n_rows"] == 200
    gen = spark.read.parquet(produced)
    assert {"clip_id", "sr_hz", "dur_ms", "codec", "transcript"} <= set(gen.columns)
    # generated values respect the inferred bounds
    row = gen.selectExpr("min(sr_hz) lo", "max(sr_hz) hi").collect()[0]
    src = spark.read.parquet(data).selectExpr("min(sr_hz) lo", "max(sr_hz) hi").collect()[0]
    assert row["lo"] >= src["lo"] and row["hi"] <= src["hi"]


def test_produce_from_json_schema(spark, tmp_path):
    from drivel_spark.job import cmd_produce

    doc = {
        "type": "object",
        "properties": {
            "id": {"type": "string", "format": "uuid"},
            "level": {"type": "string", "enum": ["a", "b", "c"]},
            "score": {"type": "integer", "minimum": 1, "maximum": 9},
        },
        "required": ["id", "level", "score"],
    }
    schema_path = tmp_path / "schema.json"
    schema_path.write_text(json.dumps(doc))
    produced = str(tmp_path / "gen2")
    out = cmd_produce(
        argparse.Namespace(data=None, schema=str(schema_path), n_rows=150, seed=3, out=produced)
    )
    assert out["n_rows"] == 150
    pdf = spark.read.parquet(produced).toPandas()
    assert set(pdf["level"].dropna().unique()) <= {"a", "b", "c"}
    assert pdf["score"].dropna().between(1, 9).all()


def test_describe_from_schema_no_scan(tmp_path, capsys):
    """CLI parity with the reference's `--from-schema describe`
    (main.rs:30-32, 72-88): parse a JSON Schema document and describe
    it without touching any data."""
    import json

    from drivel_spark.job import cmd_describe

    schema = {
        "type": "object",
        "required": ["id", "name"],
        "properties": {
            "id": {"type": "string", "format": "uuid"},
            "name": {"type": "string"},
            "score": {"type": "number", "minimum": 0, "maximum": 1},
        },
    }
    path = tmp_path / "s.json"
    path.write_text(json.dumps(schema))
    out = cmd_describe(
        argparse.Namespace(
            data=None, schema=str(path), columns=None,
            json_schema=False, extended=False,
            infer_enum=False, enum_max_uniq=0.1, enum_min_n=1,
        )
    )
    assert out["source"] == "schema"
    assert out["columns"] == ["id", "name", "score"]
    text = capsys.readouterr().err
    assert "uuid" in text and "score" in text

    # --json-schema round-trips the parsed tree back out
    out2 = cmd_describe(
        argparse.Namespace(
            data=None, schema=str(path), columns=None,
            json_schema=True, extended=False,
            infer_enum=False, enum_max_uniq=0.1, enum_min_n=1,
        )
    )
    emitted = json.loads(capsys.readouterr().err)
    assert emitted["properties"]["id"]["format"] == "uuid"
    assert out2["columns"] == out["columns"]


def test_describe_infer_enum_flags(spark, sf_small_dir, capsys):
    """--infer-enum / --enum-max-uniq / --enum-min-n pass through to
    ProfilerOptions (reference main.rs:34-45): without the flag the
    low-cardinality string stays a plain string; with it, an enum."""
    import json

    from drivel_spark.job import cmd_describe

    data = f"{sf_small_dir}/orders.parquet"
    base = dict(data=data, schema=None, columns="o_orderpriority",
                json_schema=True, extended=False,
                enum_max_uniq=0.1, enum_min_n=1)
    cmd_describe(argparse.Namespace(**base, infer_enum=False))
    no_enum = json.loads(capsys.readouterr().err)
    assert "enum" not in json.dumps(no_enum)
    cmd_describe(argparse.Namespace(**base, infer_enum=True))
    with_enum = json.loads(capsys.readouterr().err)
    assert "enum" in json.dumps(with_enum)


def test_stream_subcommands(spark, tmp_path):
    """validate-stream / profile-stream job verbs: incremental runs
    over a growing source; cumulative digest stable across a no-new-
    data re-invocation (exactly-once), profile totals match the data."""
    from drivel_spark.fixtures import CLIPS_SCHEMA, clips_pdf
    from drivel_spark.job import cmd_profile_stream, cmd_validate_stream

    source = str(tmp_path / "src")
    spec = ClipFixtureSpec(with_audio=False)
    spark.createDataFrame(clips_pdf(range(0, 400), spec), CLIPS_SCHEMA).coalesce(
        2
    ).write.mode("append").parquet(source)

    vs = argparse.Namespace(
        source=source, report=str(tmp_path / "rep"),
        checkpoint=str(tmp_path / "vck"), n_scopes=8, max_files_per_trigger=None,
    )
    out1 = cmd_validate_stream(vs)
    assert out1["n_rows_total"] == 400
    # re-run with no new files: nothing reprocessed, digest unchanged
    out2 = cmd_validate_stream(vs)
    assert out2["cumulative_digest"] == out1["cumulative_digest"]
    assert out2["n_rows_total"] == 400
    assert out2["resume"]["n_recomputed"] == 0

    ps = argparse.Namespace(
        source=source, checkpoint=str(tmp_path / "pck"), columns=None,
        max_files_per_trigger=None,
    )
    pout = cmd_profile_stream(ps)
    assert pout["n_rows_total"] == 400
    assert pout["n_state_commits"] == 1  # every file in one commit
    # growing source: second invocation profiles only the new file
    spark.createDataFrame(clips_pdf(range(400, 700), spec), CLIPS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(source)
    pout2 = cmd_profile_stream(ps)
    assert pout2["n_rows_total"] == 700
    assert (pout2["resume"]["n_recomputed"], pout2["resume"]["n_restored"]) == (1, 2)
    assert pout2["n_state_commits"] == 2
    # the old --state dir has no meaning on the store: argparse refuses it
    from drivel_spark.job import main

    with pytest.raises(SystemExit):
        main(["profile-stream", "--source", source, "--state", str(tmp_path / "st"),
              "--checkpoint", str(tmp_path / "pck")])


def test_screen_stream_subcommand(spark, tmp_path):
    """screen-stream job verb: incremental audio-QA screening over a
    growing source; cumulative per-kind totals equal the batch screen
    verb's counts on the same files, and a no-new-data re-invocation
    reprocesses nothing (digest unchanged)."""
    from drivel_spark.fixtures import CLIPS_SCHEMA, clips_pdf
    from drivel_spark.job import cmd_screen, cmd_screen_stream

    source = str(tmp_path / "src")
    spec = ClipFixtureSpec(with_audio=True, distort_every=5)
    spark.createDataFrame(clips_pdf(range(0, 120), spec), CLIPS_SCHEMA).coalesce(
        2
    ).write.mode("append").parquet(source)

    ss = argparse.Namespace(
        source=source, report=str(tmp_path / "rep"),
        checkpoint=str(tmp_path / "ck"), kinds="quality",
        max_files_per_trigger=None, quarantine_out=None,
    )
    out1 = cmd_screen_stream(ss)
    assert out1["n_clips_total"] == 120
    batch = cmd_screen(
        argparse.Namespace(
            kind="quality", data=None, clips=source, where=None,
            flag=None, out=None,
        )
    )
    assert out1["per_kind"]["quality"] == batch["n_flagged"] >= 1
    # no new files: nothing reprocessed
    out2 = cmd_screen_stream(ss)
    assert out2["cumulative_digest"] == out1["cumulative_digest"]
    assert out2["n_clips_total"] == 120

    # growing source: only the new files are decoded and folded in
    spark.createDataFrame(
        clips_pdf(range(120, 180), spec), CLIPS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(source)
    out3 = cmd_screen_stream(ss)
    assert out3["n_clips_total"] == 180
    batch2 = cmd_screen(
        argparse.Namespace(
            kind="quality", data=None, clips=source, where=None,
            flag=None, out=None,
        )
    )
    assert out3["per_kind"]["quality"] == batch2["n_flagged"]


def test_screen_stream_refuses_streaming_checkpoint(tmp_path):
    """A Structured Streaming checkpoint dir from the old screen-stream
    is refused before anything is written."""
    from drivel_spark.job import cmd_screen_stream

    old = tmp_path / "old_ckpt"
    (old / "offsets").mkdir(parents=True)
    (old / "metadata").write_text('{"id": "q"}')
    before = sorted(p.name for p in old.iterdir())
    args = argparse.Namespace(
        source=str(tmp_path / "src"), report=str(tmp_path / "rep"), checkpoint=str(old),
        kinds="quality", max_files_per_trigger=None, quarantine_out=str(tmp_path / "q"),
    )
    with pytest.raises(SystemExit, match="pass a new --checkpoint dir"):
        cmd_screen_stream(args)
    assert sorted(p.name for p in old.iterdir()) == before
    assert not (tmp_path / "rep").exists() and not (tmp_path / "q").exists()


def test_diff_verb_baseline_roundtrip(spark, tmp_path):
    """baseline → diff on the same data reports zero changes; diff
    against a mutated copy (dropped column, added column, injected
    nulls) reports exactly those, through the same CLI surface a
    production run would use."""
    from pyspark.sql import functions as F

    from drivel_spark.job import cmd_baseline, cmd_diff

    db = tmp_path / "db"
    clips = build_clips(spark, 300, 4, ClipFixtureSpec(with_audio=False))
    clips.write.parquet(str(db / "clips"))
    base_pkl = str(tmp_path / "base.pkl")
    cmd_baseline(argparse.Namespace(data=str(db), out=base_pkl))

    same = cmd_diff(
        argparse.Namespace(data=str(db), clips=None, baseline=base_pkl, columns=None)
    )
    assert same["n_changes"] == 0 and same["changes"] == []

    mutated = str(tmp_path / "mutated")
    clips.drop("codec").withColumn(
        "dur_ms",
        F.when(F.col("dur_ms") % 2 == 0, None).otherwise(F.col("dur_ms")),
    ).withColumn("origin", F.lit("batch7")).write.parquet(mutated)
    out = cmd_diff(
        argparse.Namespace(data=None, clips=mutated, baseline=base_pkl, columns=None)
    )
    got = {(c["column"], c["change"]) for c in out["changes"]}
    assert ("codec", "column_removed") in got
    assert ("origin", "column_added") in got
    assert ("dur_ms", "nulls_appeared") in got
    assert out["n_changes"] == len(out["changes"]) >= 3

    # baseline and diff share one default column policy: a table with
    # an EXTRA non-profile column still round-trips to zero changes
    extra_db = tmp_path / "extra_db"
    clips.withColumn("lang", F.lit("en")).write.parquet(str(extra_db / "clips"))
    extra_pkl = str(tmp_path / "extra.pkl")
    cmd_baseline(argparse.Namespace(data=str(extra_db), out=extra_pkl, columns=None))
    rt = cmd_diff(
        argparse.Namespace(
            data=str(extra_db), clips=None, baseline=extra_pkl, columns=None
        )
    )
    assert rt["n_changes"] == 0


def test_diff_gate_verb(spark, tmp_path):
    """diff --gate: the same CLI diff plus a severity per change and
    the table-level verdict/gate_passed fields — a dropped column
    blocks, added column + widened range alone only warn/ok."""
    from pyspark.sql import functions as F

    from drivel_spark.job import cmd_baseline, cmd_diff

    db = tmp_path / "db"
    clips = build_clips(spark, 300, 4, ClipFixtureSpec(with_audio=False))
    clips.write.parquet(str(db / "clips"))
    base_pkl = str(tmp_path / "base.pkl")
    cmd_baseline(argparse.Namespace(data=str(db), out=base_pkl))

    breaking = str(tmp_path / "breaking")
    clips.drop("codec").withColumn("origin", F.lit("b7")).write.parquet(breaking)
    out = cmd_diff(argparse.Namespace(
        data=None, clips=breaking, baseline=base_pkl, columns=None, gate=True,
    ))
    assert out["verdict"] == "block" and out["gate_passed"] is False
    assert {c["severity"] for c in out["changes"]} >= {"block", "ok"}
    assert out["n_block"] >= 1 and out["n_ok"] >= 1

    benign = str(tmp_path / "benign")
    clips.withColumn("origin", F.lit("b7")).write.parquet(benign)
    out2 = cmd_diff(argparse.Namespace(
        data=None, clips=benign, baseline=base_pkl, columns=None, gate=True,
    ))
    assert out2["gate_passed"] is True and out2["verdict"] == "ok"
    assert all(c["severity"] == "ok" for c in out2["changes"])

    # --gate on a GROUPED baseline fails loudly instead of silently
    # ignoring the flag (the severity map is table-level)
    grouped_pkl = str(tmp_path / "grouped.pkl")
    cmd_baseline(argparse.Namespace(
        data=str(db), out=grouped_pkl, by="codec", columns=None,
    ))
    with pytest.raises(SystemExit, match="table-level baseline"):
        cmd_diff(argparse.Namespace(
            data=str(db), clips=None, baseline=grouped_pkl, columns=None,
            gate=True,
        ))


def test_track_stream_verb(spark, tmp_path):
    """track-stream job verb: keyed online tracking over a growing
    source; second invocation with the same checkpoint resumes state
    and only folds the new files."""
    from drivel_spark.fixtures import CLIPS_SCHEMA, clips_pdf
    from drivel_spark.job import cmd_track_stream

    source = str(tmp_path / "src")
    spec = ClipFixtureSpec(with_audio=False)
    spark.createDataFrame(clips_pdf(range(0, 300), spec), CLIPS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(source)

    ns = argparse.Namespace(
        source=source, key="codec", value="dur_ms",
        checkpoint=str(tmp_path / "ck"), out=str(tmp_path / "out"),
        max_files_per_trigger=None,
    )
    out1 = cmd_track_stream(ns)
    assert sum(r["n"] for r in out1["stats"]) == 300
    assert out1["n_keys"] >= 2

    spark.createDataFrame(clips_pdf(range(300, 500), spec), CLIPS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(source)
    out2 = cmd_track_stream(ns)
    assert sum(r["n"] for r in out2["stats"]) == 500

    # an empty source yields a clean zero-key report, valid JSON
    empty_src = str(tmp_path / "empty_src")
    os.makedirs(empty_src)
    out3 = cmd_track_stream(
        argparse.Namespace(
            source=empty_src, key="codec", value="dur_ms",
            checkpoint=str(tmp_path / "eck"), out=str(tmp_path / "eout"),
            max_files_per_trigger=None,
        )
    )
    assert out3["n_keys"] == 0 and out3["stats"] == []
    json.dumps(out3, allow_nan=False)  # would raise on NaN


def test_validate_where_slice(spark, tmp_path):
    """--where validates only the matching slice with the predicate
    pushed to the scan: the report digest equals a full validate over a
    physically pre-filtered copy of the table."""
    from pyspark.sql import functions as F

    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.job import cmd_validate

    spec = ClipFixtureSpec(with_audio=False)
    n = 600

    def make_db(path, clips_df):
        clips_df.write.parquet(f"{path}/clips")
        build_transcripts(spark, n, 4, spec).write.parquet(f"{path}/transcripts")
        (path / "meta.json").write_text(json.dumps(
            {"n_rows": n, "partitions": 4, "seed": 42,
             "variant": "default", "with_audio": False}
        ))

    full = build_clips(spark, n, 4, spec)
    db_a, db_b = tmp_path / "a", tmp_path / "b"
    make_db(db_a, full)
    make_db(db_b, full.filter(F.col("sr_hz") == 16000))

    base = dict(baseline=None, checkpoint=None, run_id="r", check_audio=False,
                n_scopes=8, report=None, clips=None, transcripts=None)
    sliced = cmd_validate(argparse.Namespace(
        data=str(db_a), where="sr_hz = 16000", **base))
    filtered = cmd_validate(argparse.Namespace(
        data=str(db_b), where=None, **base))
    assert sliced["passfail_digest"] == filtered["passfail_digest"]
    assert sliced["where"] == "sr_hz = 16000"
    assert sliced["n_rows"] == spark.read.parquet(f"{db_b}/clips").count()

    # --where + --checkpoint is rejected (profile/constraint scope split)
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cmd_validate(argparse.Namespace(
            data=str(db_a), where="sr_hz = 16000",
            **{**base, "checkpoint": str(tmp_path / "ck")}))


def test_validate_clips_ref_checkpoint_profiles_that_table(spark, tmp_path):
    """validate --clips <path> --checkpoint profiles the --clips table,
    the one the constraints read, not {data}/clips; a catalog ref with
    --checkpoint is refused."""
    import glob as _glob

    import pytest as _pytest

    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.job import cmd_validate

    spec = ClipFixtureSpec(with_audio=False)
    n = 300
    db = tmp_path / "db"
    clips = build_clips(spark, n, 4, spec)
    clips.write.parquet(f"{db}/clips")
    build_transcripts(spark, n, 4, spec).write.parquet(f"{db}/transcripts")
    (db / "meta.json").write_text(json.dumps(
        {"n_rows": n, "partitions": 4, "seed": 42,
         "variant": "default", "with_audio": False}
    ))
    copy = str(tmp_path / "copy")
    clips.repartition(3).write.parquet(copy)
    n_files = len(_glob.glob(f"{copy}/*.parquet"))
    assert n_files != len(_glob.glob(f"{db}/clips/*.parquet"))

    base = dict(data=str(db), baseline=None, run_id="r", check_audio=False,
                n_scopes=8, report=None, transcripts=None, where=None)
    out = cmd_validate(argparse.Namespace(
        clips=copy, checkpoint=str(tmp_path / "ck"), **base))
    assert out["resume"]["n_units"] == n_files

    with _pytest.raises(SystemExit, match="needs a parquet path"):
        cmd_validate(argparse.Namespace(
            clips="db.clips", checkpoint=str(tmp_path / "ck2"), **base))


@pytest.mark.parametrize("ref", ["db.clips", "iceberg:db.clips"])
def test_screen_checkpoint_refuses_catalog_ref(tmp_path, ref):
    """screen --checkpoint refuses a catalog table ref as validate does,
    before any Spark read."""
    from drivel_spark.job import cmd_screen

    with pytest.raises(SystemExit, match="needs a parquet path"):
        cmd_screen(argparse.Namespace(
            data=None, clips=ref, kind="quality,dropout", flag=None, where=None,
            out=None, run_id=None, checkpoint=str(tmp_path / "ck")))


def test_validate_where_on_partitioned_layout_prunes_files(spark, tmp_path):
    """validate --where composed with the write_partitioned layout
    (VERDICT r04 #7): slicing on the partition column must (a) show the
    predicate under PartitionFilters (directory-level prune, not a row
    filter), (b) physically read ONLY files under the slice's partition
    directories — asserted from the executed scan's input_file_name()
    against an os-level listing, not just the digest — and (c) produce
    the same report digest as a full validate over a physically
    pre-filtered copy."""
    import glob as _glob
    import io as _io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.io import write_partitioned
    from drivel_spark.job import cmd_validate

    spec = ClipFixtureSpec(with_audio=False)
    n = 600
    full = build_clips(spark, n, 4, spec)

    db = tmp_path / "part"
    write_partitioned(full, f"{db}/clips", ["codec"])
    build_transcripts(spark, n, 4, spec).write.parquet(f"{db}/transcripts")
    (db / "meta.json").write_text(json.dumps(
        {"n_rows": n, "partitions": 4, "seed": 42,
         "variant": "default", "with_audio": False}
    ))
    db_ref = tmp_path / "ref"
    full.filter(F.col("codec") == "flac").write.parquet(f"{db_ref}/clips")
    build_transcripts(spark, n, 4, spec).write.parquet(f"{db_ref}/transcripts")
    (db_ref / "meta.json").write_text(json.dumps(
        {"n_rows": n, "partitions": 4, "seed": 42,
         "variant": "default", "with_audio": False}
    ))

    # (a) + (b): the pruned scan, exactly as cmd_validate builds it
    pruned = spark.read.parquet(f"{db}/clips").filter("codec = 'flac'")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
    assert "codec" in pf, f"codec predicate not in PartitionFilters: {plan}"

    flac_files = {
        os.path.realpath(p)
        for p in _glob.glob(f"{db}/clips/codec=flac/*.parquet")
    }
    other_files = {
        os.path.realpath(p)
        for p in _glob.glob(f"{db}/clips/codec=*/*.parquet")
    } - flac_files
    assert flac_files and other_files  # both slices physically exist
    read_files = {
        os.path.realpath(r[0].removeprefix("file://").removeprefix("file:"))
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_files, "scan read no files"
    assert read_files <= flac_files, (
        f"scan read outside the slice: {read_files - flac_files}"
    )
    assert not (read_files & other_files)

    # (c): end-to-end digest equality vs the pre-filtered copy
    base = dict(baseline=None, checkpoint=None, run_id="r", check_audio=False,
                n_scopes=8, report=None, clips=None, transcripts=None)
    sliced = cmd_validate(argparse.Namespace(
        data=str(db), where="codec = 'flac'", **base))
    filtered = cmd_validate(argparse.Namespace(
        data=str(db_ref), where=None, **base))
    assert sliced["passfail_digest"] == filtered["passfail_digest"]
    assert sliced["n_rows"] == len(
        spark.read.parquet(f"{db_ref}/clips").collect()
    )


def test_segment_verb(spark, tmp_path):
    """segment writes a segments table whose counts match the
    closed-form contract derived from the clips' (sr, n_samples), and
    --where slices the input before decoding."""
    from drivel_spark.job import cmd_segment
    from drivel_spark.fixtures import ClipFixtureSpec, build_clips

    data = str(tmp_path / "clips")
    spec = ClipFixtureSpec(with_audio=True)
    build_clips(spark, 40, 4, spec).write.parquet(data)

    out_dir = str(tmp_path / "segs")
    out = cmd_segment(
        argparse.Namespace(
            data=None, clips=data, out=out_dir, seg_ms=500,
            min_tail_ms=200, where=None,
        )
    )
    assert out["n_segments"] > 0 and out["n_undecodable"] == 0

    # closed form from the written segments' own (sr_hz, n_samples_in)
    segs = spark.read.parquet(out_dir).toPandas()
    per_clip = segs.groupby("clip_id").agg(
        sr=("sr_hz", "first"), n=("n_samples_in", "first"),
        k=("seg_idx", "count"),
    )
    for _, r in per_clip.iterrows():
        seg = max(int(r["sr"]) * 500 // 1000, 1)
        mt = int(r["sr"]) * 200 // 1000
        n_full, tail = int(r["n"]) // seg, int(r["n"]) % seg
        assert r["k"] == n_full + (1 if tail >= mt and tail > 0 else 0)
    assert int(per_clip["k"].sum()) == out["n_segments"]

    sliced = cmd_segment(
        argparse.Namespace(
            data=None, clips=data, out=str(tmp_path / "segs2"), seg_ms=500,
            min_tail_ms=200, where="sr_hz = 8000",
        )
    )
    assert sliced["n_segments"] < out["n_segments"]


def test_validate_stream_with_spec_file(spark, tmp_path):
    """validate-stream --constraints uses the contract file's row-level
    suite; dataset-level entries in the file are rejected by the
    stream's row-only contract."""
    import json as _json

    from drivel_spark.fixtures import CLIPS_SCHEMA, ClipFixtureSpec, clips_pdf
    from drivel_spark.job import cmd_validate_stream

    source = str(tmp_path / "src")
    spec = ClipFixtureSpec(with_audio=False)
    spark.createDataFrame(clips_pdf(range(0, 300), spec), CLIPS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(source)

    good = tmp_path / "contract.json"
    good.write_text(_json.dumps({"constraints": [
        {"type": "not_null", "column": "transcript"},
        {"type": "range", "column": "dur_ms", "lo": 200, "hi": 30000},
    ]}))
    out = cmd_validate_stream(argparse.Namespace(
        source=source, report=str(tmp_path / "rep"),
        checkpoint=str(tmp_path / "ck"), n_scopes=4, max_files_per_trigger=None,
        constraints=str(good),
    ))
    assert out["n_rows_total"] == 300

    bad = tmp_path / "bad.json"
    import pytest as _pytest

    bad.write_text(_json.dumps({"constraints": [
        {"type": "unique", "column": "clip_id"},
    ]}))
    with _pytest.raises(ValueError, match="row-level"):
        cmd_validate_stream(argparse.Namespace(
            source=source, report=str(tmp_path / "rep2"),
            checkpoint=str(tmp_path / "ck2"), n_scopes=4,
            max_files_per_trigger=None, constraints=str(bad),
        ))


def test_mix_verb(spark, tmp_path):
    """mix job verb: plan + deterministic sample + report, end to end."""
    import pandas as pd
    from pyspark.sql import functions as F

    from drivel_spark.job import cmd_mix

    src = str(tmp_path / "docs")
    pdf = pd.DataFrame(
        {
            "doc_id": range(1000),
            "lang": ["en"] * 800 + ["de"] * 200,
            "n_chars": [100] * 1000,
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    out = cmd_mix(argparse.Namespace(
        data=src, by="lang", id_col="doc_id", weights="en=0.5,de=0.5",
        budget=200.0, size_col=None, seed=42, out=str(tmp_path / "mixed"),
    ))
    rep = {r["source"]: r for r in out["report"]}
    assert rep["en"]["rate"] == 100 / 800 and rep["de"]["rate"] == 100 / 200
    written = spark.read.parquet(str(tmp_path / "mixed"))
    # written survivors match the report's kept counts exactly
    got = {r["lang"]: r["cnt"] for r in written.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == {s: int(rep[s]["kept"]) for s in rep}
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="key=weight"):
        cmd_mix(argparse.Namespace(
            data=src, by="lang", id_col="doc_id", weights="en:0.5",
            budget=None, size_col=None, seed=42, out=None,
        ))


def test_shuffle_verb(spark, tmp_path):
    """shuffle job verb: deterministic permutation + round-robin shards,
    rerun-identical digest, seed-sensitive, hive-pruned shard layout."""
    import pandas as pd
    from pyspark.sql import functions as F

    from drivel_spark.job import cmd_shuffle

    src = str(tmp_path / "docs")
    pdf = pd.DataFrame({"doc_id": range(500), "text": [f"t{i}" for i in range(500)]})
    spark.createDataFrame(pdf).write.parquet(src)

    def run(out, seed):
        return cmd_shuffle(argparse.Namespace(
            data=src, id_col="doc_id", seed=seed, shards=8,
            partitions=None, where=None, out=str(tmp_path / out),
        ))

    a = run("out_a", 42)
    b = run("out_b", 42)
    c = run("out_c", 7)
    assert a["n_rows"] == 500 and a["shards"] == 8
    # round-robin balance: ±1 row per shard
    assert a["shard_rows_max"] - a["shard_rows_min"] <= 1
    # same seed → byte-identical permutation; new seed → a fresh one
    assert a["permutation_digest"] == b["permutation_digest"]
    assert a["permutation_digest"] != c["permutation_digest"]
    written = spark.read.parquet(str(tmp_path / "out_a"))
    # the permutation is total: positions are exactly 0..n-1
    assert written.agg(
        F.min("shuffle_pos"), F.max("shuffle_pos"),
        F.countDistinct("shuffle_pos"),
    ).collect()[0][:] == (0, 499, 500)
    # shard column survives the hive round-trip and matches pos % shards
    assert written.filter(
        F.col("shard") != F.col("shuffle_pos") % 8).count() == 0


def test_validate_enforcement_outputs(spark, tmp_path):
    """--quarantine-out / --clean-out: the two writes PARTITION the
    source by the row-level verdict — every violating clip_id is
    quarantined and absent from clean, clean ∪ violating ids = all."""
    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.job import cmd_validate

    spec = ClipFixtureSpec(with_audio=False)
    n = 600
    db = tmp_path / "db"
    build_clips(spark, n, 4, spec).write.parquet(f"{db}/clips")
    build_transcripts(spark, n, 4, spec).write.parquet(f"{db}/transcripts")
    (db / "meta.json").write_text(json.dumps(
        {"n_rows": n, "partitions": 4, "seed": 42,
         "variant": "default", "with_audio": False}
    ))
    q, c = str(tmp_path / "quarantine"), str(tmp_path / "clean")
    out = cmd_validate(argparse.Namespace(
        data=str(db), baseline=None, checkpoint=None, run_id="r",
        check_audio=False, n_scopes=8, report=None, clips=None,
        transcripts=None, where=None, quarantine_out=q, clean_out=c,
    ))
    assert out["enforce"]["n_quarantined"] > 0
    viol = spark.read.parquet(q)
    clean = spark.read.parquet(c)
    # the fixture plants row-level violations; quarantine carries the
    # failed-constraint list
    assert "failed" in viol.columns and viol.count() == out["enforce"]["n_quarantined"]
    bad_ids = {r["clip_id"] for r in viol.select("clip_id").distinct().collect()}
    clean_ids = {r["clip_id"] for r in clean.select("clip_id").collect()}
    assert out["enforce"]["n_clean"] == len(clean_ids) == n - len(bad_ids)
    assert not (bad_ids & clean_ids)
    # clean rows are FULL source rows (all clips columns survive)
    assert set(clean.columns) == set(
        spark.read.parquet(f"{db}/clips").columns
    )


def test_suggest_verb_roundtrip(spark, tmp_path):
    """suggest: profile → spec-file JSON → load_spec_file → validate,
    closed loop: the suite derived from a clean table passes on that
    table and its range gates catch an out-of-envelope batch."""
    import pandas as pd

    from drivel_spark.constraints import validate
    from drivel_spark.constraints.specfile import load_spec_file
    from drivel_spark.job import cmd_suggest

    src = str(tmp_path / "clean")
    pdf = pd.DataFrame(
        {
            "clip_id": [f"c{i}" for i in range(200)],
            "dur_ms": [500 + (i % 100) for i in range(200)],
            "codec": ["wav", "flac"] * 100,
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "spec.json")
    rep = cmd_suggest(argparse.Namespace(
        data=src, columns=None, margin=0.0, quantile_range=None,
        with_drift=False, out=out,
    ))
    assert rep["n_constraints"] > 0 and rep["out"] == out
    cs = load_spec_file(out)
    assert {c.name for c in cs} >= {"dur_ms_range", "codec_enum"}
    # clean table passes its own suggested suite
    clean = spark.read.parquet(src)
    res = validate(clean, [c for c in cs if c.is_row_level])
    assert bool(res.passfail_pdf()["passed"].all())
    # an out-of-envelope batch fails the suggested range
    bad = spark.createDataFrame(pd.DataFrame(
        {"clip_id": ["x"], "dur_ms": [99999], "codec": ["wav"]}
    ))
    res2 = validate(bad, [c for c in cs if c.is_row_level])
    pf = res2.passfail_pdf()
    assert not bool(pf[pf.constraint == "dur_ms_range"]["passed"].all())
    # quantile-robust envelopes parse and produce a tighter range
    out2 = str(tmp_path / "spec_q.json")
    cmd_suggest(argparse.Namespace(
        data=src, columns="dur_ms", margin=0.0, quantile_range="0.05,0.95",
        with_drift=False, out=out2,
    ))
    qs = {c.name: c for c in load_spec_file(out2)}
    full = {c.name: c for c in cs}
    assert qs["dur_ms_range"].lo >= full["dur_ms_range"].lo
    assert qs["dur_ms_range"].hi <= full["dur_ms_range"].hi


def test_validate_stream_quarantine(spark, tmp_path):
    """Streaming gate: every committed file's violating rows land in
    the flat quarantine (triage columns + failed list), idempotent on a
    no-new-data re-run, and growing the source adds exactly the new
    file's violations."""
    from pyspark.sql import functions as F

    from drivel_spark.fixtures import CLIPS_SCHEMA, clips_pdf
    from drivel_spark.job import cmd_validate_stream

    source = str(tmp_path / "src")
    spec = ClipFixtureSpec(with_audio=False)
    spark.createDataFrame(clips_pdf(range(0, 400), spec), CLIPS_SCHEMA).coalesce(
        2
    ).write.mode("append").parquet(source)

    q = str(tmp_path / "quar")
    vs = argparse.Namespace(
        source=source, report=str(tmp_path / "rep"),
        checkpoint=str(tmp_path / "vck"), n_scopes=8,
        max_files_per_trigger=None, quarantine_out=q,
    )
    out1 = cmd_validate_stream(vs)
    quar = spark.read.parquet(q)
    # quarantined rows == the report's violation total, with triage cols
    assert quar.count() == out1["n_violation_rows_total"] > 0
    assert quar.columns == ["clip_id", "sr_hz", "dur_ms", "codec", "failed"]
    assert "bytes" not in quar.columns  # triage columns, not payloads
    # idempotent: re-run with no new files adds nothing
    cmd_validate_stream(vs)
    assert spark.read.parquet(q).count() == out1["n_violation_rows_total"]
    # growing source: only the new file is validated
    spark.createDataFrame(
        clips_pdf(range(400, 700), spec), CLIPS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(source)
    out3 = cmd_validate_stream(vs)
    assert out3["resume"]["n_recomputed"] == 1
    assert spark.read.parquet(q).count() == out3["n_violation_rows_total"]
    # every quarantined row names >=1 failed constraint
    assert spark.read.parquet(q).filter(F.size("failed") < 1).count() == 0


def test_validate_stream_revalidates_rewritten_file(spark, tmp_path):
    """A file rewritten in place is validated again: its identity
    (path, size, mtime) changed, so its unit recomputes, and the report
    equals batch validate() of the rewritten table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from drivel_spark.constraints import validate
    from drivel_spark.constraints.validate import passfail_digest
    from drivel_spark.fixtures import CLIPS_SCHEMA, clips_pdf
    from drivel_spark.job import _constraints, cmd_validate_stream

    source = str(tmp_path / "src")
    spark.createDataFrame(
        clips_pdf(range(300), ClipFixtureSpec(with_audio=False)), CLIPS_SCHEMA
    ).coalesce(1).write.parquet(source)
    vs = argparse.Namespace(
        source=source, report=str(tmp_path / "rep"), checkpoint=str(tmp_path / "ck"),
        n_scopes=8, max_files_per_trigger=None,
    )
    first = cmd_validate_stream(vs)
    assert first["n_violation_rows_total"] < 300
    (name,) = [f for f in os.listdir(source) if f.endswith(".parquet")]
    path = os.path.join(source, name)
    os.remove(os.path.join(source, f".{name}.crc"))  # Hadoop's checksum of the old bytes
    table = pq.read_table(path)
    i = table.schema.get_field_index("dur_ms")
    pq.write_table(
        table.set_column(i, "dur_ms", pa.array([10] * len(table), table.schema.field(i).type)),
        path,
    )
    out = cmd_validate_stream(vs)
    assert out["n_violation_rows_total"] == 300
    assert out["resume"]["n_recomputed"] == 1
    row_cs = [c for c in _constraints(None) if c.is_row_level]
    scope = F.pmod(F.xxhash64(F.col("clip_id")), F.lit(8)).cast("long")
    batch = validate(spark.read.parquet(source), row_cs, scope=scope, cache_flags=False)
    assert out["cumulative_digest"] == passfail_digest(batch.passfail_pdf())


def test_stream_verbs_refuse_batch_id_report(spark, tmp_path):
    """A --report dir still holding batch_id=N partitions (the layout of
    the Structured Streaming validate-stream) is refused by both verbs
    before anything commits."""
    from drivel_spark.fixtures import CLIPS_SCHEMA, clips_pdf
    from drivel_spark.job import cmd_reconcile, cmd_validate_stream

    source = str(tmp_path / "src")
    spark.createDataFrame(
        clips_pdf(range(50), ClipFixtureSpec(with_audio=False)), CLIPS_SCHEMA
    ).coalesce(1).write.parquet(source)
    report = tmp_path / "rep"
    (report / "batch_id=0").mkdir(parents=True)
    ck = tmp_path / "ck"
    with pytest.raises(SystemExit, match="pass a new --report dir"):
        cmd_validate_stream(argparse.Namespace(
            source=source, report=str(report), checkpoint=str(ck), n_scopes=8,
            max_files_per_trigger=None,
        ))
    assert not list(ck.glob("commit-*"))
    with pytest.raises(SystemExit, match="pass a new --report dir"):
        cmd_reconcile(argparse.Namespace(source=source, report=str(report), transcripts=None))


def test_leakage_verb(spark, tmp_path):
    """leakage job verb: exact + near tiers end to end; group-keyed
    split clears the exact leak; --near with --group-col rejected."""
    import pandas as pd

    from drivel_spark.job import cmd_leakage

    src = str(tmp_path / "docs")
    texts = [f"unique document {i} about {i * 3}" for i in range(40)]
    texts[28] = "the same exact article body"
    texts[32] = "  The SAME   exact article body "  # normalizes equal
    pdf = pd.DataFrame({
        "doc_id": range(40), "text": texts,
        "grp": ["g1"] * 40,
    })
    spark.createDataFrame(pdf).write.parquet(src)
    base = dict(data=src, id_col="doc_id", text_col="text",
                weights="train=0.5,test=0.5", seed=42, threshold=0.5)
    out = cmd_leakage(argparse.Namespace(
        **base, group_col=None, near=True, out=str(tmp_path / "leaks")))
    # ids 28 (train) / 32 (test) straddle deterministically (md5 seed 42)
    assert out["n_leaking_fingerprints"] == 1 and out["n_leaking_docs"] == 2
    # exact dups are near dups too
    assert out["n_near_leak_pairs"] >= 1
    assert spark.read.parquet(str(tmp_path / "leaks/exact")).count() == 1
    # group-keyed split co-assigns everything → clean
    out2 = cmd_leakage(argparse.Namespace(
        **base, group_col="grp", near=False, out=None))
    assert out2["n_leaking_fingerprints"] == 0
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="row-keyed"):
        cmd_leakage(argparse.Namespace(
            **base, group_col="grp", near=True, out=None))


def test_verbs_leave_no_cache(spark, tmp_path):
    """history and leakage --near --out unpersist what they cache: the
    session holds as many persisted RDDs after each verb as before."""
    import pickle

    import pandas as pd

    from drivel_spark.checkpoint.store import CheckpointStore, make_commit_row
    from drivel_spark.job import cmd_leakage, main

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    store = CheckpointStore(str(tmp_path / "ck"))
    store.append([
        make_commit_row(f"run{i}", "f0", "snap", pickle.dumps({}), {"n_rows": 100 + i})
        for i in range(4)
    ])
    before = n_persisted()
    main(["history", "--checkpoint", str(tmp_path / "ck"), "--out", str(tmp_path / "h")])
    assert n_persisted() == before

    src = str(tmp_path / "docs")
    texts = [f"document {i} about {i * 3}" for i in range(20)]
    spark.createDataFrame(pd.DataFrame({"doc_id": range(20), "text": texts})).write.parquet(src)
    cmd_leakage(argparse.Namespace(
        data=src, id_col="doc_id", text_col="text", weights="train=0.5,test=0.5",
        seed=42, threshold=0.5, group_col=None, near=True, out=str(tmp_path / "leaks"),
    ))
    assert n_persisted() == before


def test_grouped_baseline_diff(spark, tmp_path):
    """baseline --by codec → diff reports PER-GROUP drift: only the
    planted group's column drifts; group removal is reported."""
    from pyspark.sql import functions as F

    from drivel_spark.job import cmd_baseline, cmd_diff

    spec = ClipFixtureSpec(with_audio=False)
    db_a, db_b = tmp_path / "a", tmp_path / "b"
    clips = build_clips(spark, 1500, 4, spec)
    clips.write.parquet(f"{db_a}/clips")
    # batch: double dur_ms for flac only, drop the 'wat' codec rows
    (clips.withColumn(
        "dur_ms",
        F.when(F.col("codec") == "flac", F.col("dur_ms") * 4)
        .otherwise(F.col("dur_ms")).cast("int"),
    ).filter(F.col("codec") != "wat").write.parquet(f"{db_b}/clips"))

    bl = str(tmp_path / "grouped.pkl")
    out = cmd_baseline(argparse.Namespace(
        data=str(db_a), out=bl, columns="sr_hz,dur_ms,codec", by="codec"))
    assert out["by"] == "codec" and out["n_groups"] >= 4
    rep = cmd_diff(argparse.Namespace(
        data=str(db_b), clips=None, baseline=bl, columns="sr_hz,dur_ms,codec"))
    assert rep["by"] == "codec"
    assert "wat" in rep["groups_changed"]
    rows = {(r["group"], r["column"]): r for r in rep["report"]}
    assert rows[("flac", "dur_ms")]["ks"] > 0.5       # planted shift
    assert rows[("pcm_s16le", "dur_ms")]["ks"] < 0.05  # sibling calm
    assert rows[("flac", "sr_hz")]["ks"] < 0.05        # other column calm


def test_dup_segments_verb(spark, tmp_path):
    """dup-segments writes the duplicated-span table (exactly the
    fixture's planted regions) and the summary counts agree; --where
    slices the input before decoding."""
    import numpy as np

    from drivel_spark.fixtures import (
        ClipFixtureSpec,
        build_clips,
        expected_audio_params,
    )
    from drivel_spark.job import cmd_dup_segments

    data = str(tmp_path / "clips")
    spec = ClipFixtureSpec(with_audio=True, shared_seg_every=5)
    n = 200
    build_clips(spark, n, 4, spec).write.parquet(data)
    ids = np.arange(n)
    sr_c, dur_c = expected_audio_params(ids, spec)
    n_planted = int(((ids % 5 == 0) & (sr_c == 8000) & (dur_c >= 1000)).sum())
    assert n_planted >= 2

    out_dir = str(tmp_path / "dups")
    out = cmd_dup_segments(
        argparse.Namespace(
            data=None, clips=data, out=out_dir, win_ms=500, hop_ms=250,
            within_clip=False, where=None,
        )
    )
    assert out["n_spans"] == n_planted
    assert out["n_clips_with_dups"] == n_planted
    assert out["dup_ms_total"] == 750 * n_planted
    spans = spark.read.parquet(out_dir)
    assert sorted(
        (r.span_start, r.span_end) for r in spans.collect()
    ) == [(250, 1000)] * n_planted

    # a slice that excludes the planted rate finds nothing
    none = cmd_dup_segments(
        argparse.Namespace(
            data=None, clips=data, out=str(tmp_path / "dups2"), win_ms=500,
            hop_ms=250, within_clip=False, where="sr_hz <> 8000",
        )
    )
    assert none["n_spans"] == 0


def test_screen_verb(spark, tmp_path):
    """screen runs any registered audio screen end-to-end from the CLI:
    planted rows are counted flagged under the default policy, --flag
    overrides the predicate, --where slices the scan, and the per-clip
    report persists when --out is given."""
    from drivel_spark.fixtures import ClipFixtureSpec, build_clips
    from drivel_spark.job import cmd_screen

    data = str(tmp_path / "clips")
    build_clips(
        spark, 40, 4, ClipFixtureSpec(with_audio=True, dropout_every=4)
    ).write.parquet(data)

    out = cmd_screen(
        argparse.Namespace(data=None, clips=data, kind="dropout",
                           out=str(tmp_path / "rep"), flag=None, where=None)
    )
    assert out["n_clips"] == 40
    assert out["n_flagged"] == 10  # idx % 4 == 1
    assert out["n_undecodable"] == 0
    rep = spark.read.parquet(str(tmp_path / "rep"))
    assert rep.count() == 40 and "n_dropouts" in rep.columns

    strict = cmd_screen(
        argparse.Namespace(data=None, clips=data, kind="dropout", out=None,
                           flag="n_dropouts >= 1", where="sr_hz = 8000")
    )
    assert strict["n_clips"] < 40
    assert strict["flag"] == "n_dropouts >= 1"

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cmd_screen(argparse.Namespace(data=None, clips=data, kind="nope",
                                      out=None, flag=None, where=None))


def test_screen_verb_fused_multikind(spark, tmp_path):
    """--kind as a comma list runs the fused kernel: per-kind counts
    equal the single-kind runs, the persisted report carries the column
    union, and non-fused kinds / --flag are rejected loudly."""
    from drivel_spark.fixtures import ClipFixtureSpec, build_clips
    from drivel_spark.job import cmd_screen

    data = str(tmp_path / "clips_mk")
    build_clips(
        spark, 40, 4,
        ClipFixtureSpec(with_audio=True, distort_every=5, dropout_every=4),
    ).write.parquet(data)

    base = dict(data=None, clips=data, flag=None, where=None)
    fused = cmd_screen(
        argparse.Namespace(**base, kind="quality,dropout",
                           out=str(tmp_path / "mkrep"))
    )
    assert fused["n_clips"] == 40 and fused["kinds"] == ["quality", "dropout"]
    for kind in ("quality", "dropout"):
        single = cmd_screen(argparse.Namespace(**base, kind=kind, out=None))
        assert fused["per_kind"][kind]["n_flagged"] == single["n_flagged"]
        assert (
            fused["per_kind"][kind]["n_undecodable"] == single["n_undecodable"]
        )
    # ≥ the 10 planted (idx % 4 == 1); hard-clipped clips (idx % 5 == 2)
    # may add plateau-run flags — the saturated samples hold full scale
    assert fused["per_kind"]["dropout"]["n_flagged"] >= 10
    rep = spark.read.parquet(str(tmp_path / "mkrep"))
    assert {"clipping_ratio", "n_dropouts"} <= set(rep.columns)

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="not fused-capable"):
        cmd_screen(argparse.Namespace(**base, kind="quality,truepeak",
                                      out=None))
    with _pytest.raises(SystemExit, match="single screen"):
        cmd_screen(
            argparse.Namespace(data=None, clips=data, kind="quality,dropout",
                               out=None, flag="peak > 0.5", where=None)
        )


def test_screen_verb_checkpoint_resume(spark, tmp_path):
    """screen --checkpoint: per-file lineage makes a re-invocation
    decode nothing; counts equal the non-resumable fused run; --where
    is rejected with --checkpoint."""
    from drivel_spark.fixtures import ClipFixtureSpec, build_clips
    from drivel_spark.job import cmd_screen

    data = str(tmp_path / "clips_ck")
    build_clips(
        spark, 40, 4, ClipFixtureSpec(with_audio=True, dropout_every=4)
    ).write.parquet(data)

    base = dict(data=None, clips=data, flag=None, where=None, out=None,
                run_id=None)
    ck = str(tmp_path / "sck")
    out1 = cmd_screen(
        argparse.Namespace(**base, kind="quality,dropout", checkpoint=ck)
    )
    assert out1["n_clips"] == 40
    assert out1["resume"]["n_recomputed"] == out1["resume"]["n_units"]
    plain = cmd_screen(
        argparse.Namespace(**base, kind="quality,dropout", checkpoint=None)
    )
    assert out1["per_kind"] == plain["per_kind"]
    out2 = cmd_screen(
        argparse.Namespace(**base, kind="quality,dropout", checkpoint=ck)
    )
    assert out2["resume"]["n_recomputed"] == 0
    assert out2["per_kind"] == out1["per_kind"]

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="compose"):
        cmd_screen(
            argparse.Namespace(data=None, clips=data, kind="quality",
                               flag=None, where="sr_hz = 8000", out=None,
                               run_id=None, checkpoint=ck)
        )


def test_screen_verb_checkpoint_nonfused_kind(spark, tmp_path):
    """screen --checkpoint runs a kind outside the fused set in its own
    op pass: the counts equal the plain single-kind screen, and a
    second call restores every unit."""
    from drivel_spark.job import cmd_screen

    data = str(tmp_path / "clips_loud")
    build_clips(spark, 40, 4, ClipFixtureSpec(with_audio=True)).write.parquet(data)
    base = dict(data=None, clips=data, flag=None, where=None, out=None,
                run_id=None, kind="loudness")
    ck = str(tmp_path / "lck")
    plain = cmd_screen(argparse.Namespace(**base, checkpoint=None))
    out1 = cmd_screen(argparse.Namespace(**base, checkpoint=ck))
    assert out1["n_clips"] == plain["n_clips"] == 40
    assert out1["per_kind"] == {"loudness": {"n_flagged": plain["n_flagged"],
                                             "n_undecodable": plain["n_undecodable"]}}
    assert out1["resume"]["n_recomputed"] == out1["resume"]["n_units"]
    out2 = cmd_screen(argparse.Namespace(**base, checkpoint=ck))
    assert out2["resume"]["n_recomputed"] == 0
    assert out2["per_kind"] == out1["per_kind"]


def test_validate_slice_dims_attribution(spark, tmp_path):
    """validate --slice-dims: the returned top-10 slice attribution
    matches an independent recomputation from the written report
    artifacts (violations parquet + clips table), and the full slice
    report lands under <report>/slices."""
    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.job import cmd_validate
    from drivel_spark.ops import (
        top_violation_slices,
        violation_slice_report_from_tables,
    )

    spec = ClipFixtureSpec(with_audio=False)
    n = 600
    db = tmp_path / "db"
    build_clips(spark, n, 4, spec).write.parquet(f"{db}/clips")
    build_transcripts(spark, n, 4, spec).write.parquet(f"{db}/transcripts")
    (db / "meta.json").write_text(json.dumps(
        {"n_rows": n, "partitions": 4, "seed": 42,
         "variant": "default", "with_audio": False}
    ))
    rep = tmp_path / "rep"
    out = cmd_validate(argparse.Namespace(
        data=str(db), where=None, baseline=None, checkpoint=None,
        run_id="r", check_audio=False, n_scopes=8, report=str(rep),
        clips=None, transcripts=None, slice_dims="codec,sr_hz"))
    sl = out["violation_slices"]
    assert sl is not None and 0 < len(sl) <= 10
    viol = spark.read.parquet(f"{rep}/violations")
    clips = spark.read.parquet(f"{db}/clips")
    expect = top_violation_slices(
        violation_slice_report_from_tables(
            clips, viol, ["codec", "sr_hz"], max_order=2
        ),
        10,
    ).collect()
    assert [
        (r["codec"], r["sr_hz"], r["n_rows"], r["n_viol"]) for r in expect
    ] == [
        (d["codec"], d["sr_hz"], d["n_rows"], d["n_viol"]) for d in sl
    ]
    full_rep = spark.read.parquet(f"{rep}/slices")
    assert full_rep.count() >= len(sl)
    assert set(
        c for c in ("codec", "sr_hz", "n_rows", "n_viol", "lift", "excess")
    ) <= set(full_rep.columns)
    # unknown dim is rejected with a clear error
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cmd_validate(argparse.Namespace(
            data=str(db), where=None, baseline=None, checkpoint=None,
            run_id="r", check_audio=False, n_scopes=8, report=None,
            clips=None, transcripts=None, slice_dims="codec,no_such"))


def test_validate_slice_per_constraint(spark, tmp_path):
    """validate --slice-dims --slice-per-constraint: stdout rows carry
    the constraint name and match an independent recomputation via
    constraint_slice_report on the written violations table."""
    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.job import cmd_validate
    from drivel_spark.ops import constraint_slice_report, top_violation_slices

    spec = ClipFixtureSpec(with_audio=False)
    n = 600
    db = tmp_path / "db"
    build_clips(spark, n, 4, spec).write.parquet(f"{db}/clips")
    build_transcripts(spark, n, 4, spec).write.parquet(f"{db}/transcripts")
    (db / "meta.json").write_text(json.dumps(
        {"n_rows": n, "partitions": 4, "seed": 42,
         "variant": "default", "with_audio": False}
    ))
    rep = tmp_path / "rep"
    out = cmd_validate(argparse.Namespace(
        data=str(db), where=None, baseline=None, checkpoint=None,
        run_id="r", check_audio=False, n_scopes=8, report=str(rep),
        clips=None, transcripts=None, slice_dims="codec,sr_hz",
        slice_per_constraint=True))
    sl = out["violation_slices"]
    assert sl is not None and 0 < len(sl) <= 10
    assert all("constraint" in d for d in sl)
    viol = spark.read.parquet(f"{rep}/violations")
    clips = spark.read.parquet(f"{db}/clips")
    expect = top_violation_slices(
        constraint_slice_report(
            clips, viol, ["codec", "sr_hz"], max_order=2
        ),
        10,
    ).collect()
    assert [
        (r["constraint"], r["codec"], r["sr_hz"], r["n_rows"], r["n_viol"])
        for r in expect
    ] == [
        (d["constraint"], d["codec"], d["sr_hz"], d["n_rows"], d["n_viol"])
        for d in sl
    ]
    # the full per-constraint report landed under <report>/slices
    full_rep = spark.read.parquet(f"{rep}/slices")
    assert "constraint" in full_rep.columns
    assert full_rep.count() >= len(sl)


def test_history_verb(spark, tmp_path, capsys):
    """history verb: scores a checkpoint store's committed run metrics
    against their own trailing history and surfaces the collapsed run."""
    import pickle
    import time as _time

    from drivel_spark.checkpoint.store import CheckpointStore, make_commit_row
    from drivel_spark.job import main

    store = CheckpointStore(str(tmp_path / "ck"))
    blob = pickle.dumps({})
    t0 = _time.time()
    rows = []
    counts = [1000, 1010, 990, 1005, 995, 400]  # run 5 collapses
    for seq, n in enumerate(counts):
        for u in range(2):
            row = make_commit_row(
                f"run{seq}", f"f{u}", "snap", blob,
                {"n_rows": n // 2, "n_any_violation": seq},
            )
            row["committed_at"] = t0 + seq * 60 + u
            rows.append(row)
    store.append(rows)

    main([
        "history", "--checkpoint", str(tmp_path / "ck"),
        "--window", "5", "--min-history", "3",
        "--max-rel-change", "0.5", "--metrics", "n_rows",
        "--out", str(tmp_path / "rep"),
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["job"] == "history"
    assert out["n_runs"] == 6 and out["n_metrics"] == 1
    assert out["n_scored"] == 6
    anomalies = out["anomalies"]
    assert [a["run_id"] for a in anomalies] == ["run5"]
    assert anomalies[0]["is_anomaly"] is True
    assert anomalies[0]["rel_anomaly"] is True
    assert anomalies[0]["value"] == 400.0
    rep = spark.read.parquet(str(tmp_path / "rep"))
    assert rep.count() == 6 and "robust_z" in rep.columns


def test_validate_history_window(spark, tmp_path, capsys):
    """validate --checkpoint --history-window: after two normal runs, a
    third run on a collapsed snapshot flags its own n_rows against the
    trailing history in the SAME invocation's output JSON."""
    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.job import cmd_validate

    def mkdb(path, n):
        spec = ClipFixtureSpec(with_audio=False)
        build_clips(spark, n, 4, spec).write.parquet(f"{path}/clips")
        build_transcripts(spark, n, 4, spec).write.parquet(
            f"{path}/transcripts"
        )
        (path / "meta.json").write_text(json.dumps(
            {"n_rows": n, "partitions": 4, "seed": 42,
             "variant": "default", "with_audio": False}
        ))

    db, db2 = tmp_path / "db", tmp_path / "db2"
    mkdb(db, 600)
    mkdb(db2, 200)
    ck = str(tmp_path / "ck")

    def run(data, rid, hw=None):
        return cmd_validate(argparse.Namespace(
            data=str(data), where=None, baseline=None, checkpoint=ck,
            run_id=rid, check_audio=False, n_scopes=8, report=None,
            clips=None, transcripts=None, slice_dims=None,
            history_window=hw, history_max_rel=0.5))

    assert run(db, "day1")["history"] is None
    out2 = run(db, "day2", hw=5)
    # day2 vs [day1]: below min_history=2 -> judged but history thin;
    # identical data must produce ZERO anomalies either way
    assert out2["history"]["anomalies"] == []
    out3 = run(db2, "day3", hw=5)
    hist = out3["history"]
    assert hist["n_hist_runs"] == 2
    flagged = {a["metric"]: a for a in hist["anomalies"]}
    assert "n_rows" in flagged
    assert flagged["n_rows"]["value"] == 200.0
    assert flagged["n_rows"]["hist_median"] == 600.0
    assert flagged["n_rows"]["rel_change"] == pytest.approx(-0.6667, abs=1e-3)


# n ≥ 1501 so the built-in duplicate-clip_id rule (i % 1000 == 500,
# i ≥ 1000) plants a real SNR failure (an sr_hz = 8000 clip) next to the
# codec / header defects
AUDIO_N = 1600


def _write_audio_db(db, clips_df, transcripts_df, n):
    """clips_df None: the caller has written ``db/clips`` itself."""
    if clips_df is not None:
        clips_df.write.parquet(f"{db}/clips")
    transcripts_df.write.parquet(f"{db}/transcripts")
    (db / "meta.json").write_text(json.dumps(
        {"n_rows": n, "partitions": 4, "seed": 42,
         "variant": "default", "with_audio": True}
    ))


@pytest.fixture(scope="module")
def audio_dbs(spark, tmp_path_factory):
    """The planted-defect audio table in three layouts: Spark's default
    write (4 files, one row group each), ONE file of 97-row row groups
    (many row groups per scan split), and a Hive-partitioned write on an
    added ``part`` column whose values Spark escapes in directory names
    (``:`` and ``%``) or leaves raw (a space), so ``_metadata.file_path``
    holds percent-encoded escapes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from drivel_spark.fixtures import build_transcripts

    spec = ClipFixtureSpec(with_audio=True)
    root = tmp_path_factory.mktemp("audio_dbs")
    clips = build_clips(spark, AUDIO_N, 4, spec)
    transcripts = build_transcripts(spark, AUDIO_N, 4, spec)
    default, row_groups = root / "default", root / "row_groups"
    partitioned = root / "partitioned"
    _write_audio_db(default, clips, transcripts, AUDIO_N)
    written = spark.read.parquet(f"{default}/clips")
    table = pa.Table.from_pandas(written.toPandas(), preserve_index=False)
    os.makedirs(f"{row_groups}/clips")
    pq.write_table(table, f"{row_groups}/clips/part-0.parquet", row_group_size=97)
    assert pq.ParquetFile(f"{row_groups}/clips/part-0.parquet").num_row_groups > 10
    _write_audio_db(row_groups, None, transcripts, AUDIO_N)
    part = F.expr(
        "element_at(array('a:b c', 'x%y', 'p q'), "
        "CAST(pmod(xxhash64(clip_id), 3) + 1 AS INT))"
    )
    written.withColumn("part", part).write.partitionBy("part").parquet(
        f"{partitioned}/clips"
    )
    assert sorted(
        d for d in os.listdir(f"{partitioned}/clips") if d.startswith("part=")
    ) == ["part=a%3Ab c", "part=p q", "part=x%25y"]
    _write_audio_db(partitioned, None, transcripts, AUDIO_N)
    return {"default": default, "row_groups": row_groups, "partitioned": partitioned}


def _validate_args(db, **kw):
    base = dict(data=str(db), baseline=None, checkpoint=None, run_id="r",
                check_audio=True, n_scopes=8, report=None, clips=None,
                transcripts=None, where=None)
    return argparse.Namespace(**{**base, **kw})


@pytest.mark.parametrize(
    "layout,where",
    [("default", None), ("row_groups", None), ("partitioned", None),
     ("default", "sr_hz = 8000"), ("row_groups", "sr_hz = 8000"),
     ("partitioned", "sr_hz = 8000")],
    ids=["default", "row_groups", "partitioned",
         "default-where", "row_groups-where", "partitioned-where"],
)
def test_audio_row_source_matches_snr_udf_reference(spark, audio_dbs, layout, where):
    """audio_row_source scores every row exactly as the independent
    reference does (the payload streamed into make_snr_udf, the clip
    index joined by attach_clip_idx): same (clip_id, __snr) multiset,
    on the default layout, on a file of many small row groups, on
    partition directories with escaped names, and on a --where slice of
    each."""
    from pyspark.sql import functions as F

    from drivel_spark.constraints.audio import (
        attach_clip_idx,
        audio_row_source,
        make_snr_udf,
    )

    clips = spark.read.parquet(f"{audio_dbs[layout]}/clips")
    if where:
        clips = clips.filter(where)
    src = audio_row_source(clips, AUDIO_N, seed=42)
    assert src.columns == [c for c in clips.columns if c != "bytes"] + ["__snr"]
    got = sorted(
        (r["clip_id"], r["__snr"]) for r in src.select("clip_id", "__snr").collect()
    )

    snr = make_snr_udf(seed=42)
    ref = attach_clip_idx(clips, spark, AUDIO_N, seed=42).select(
        "clip_id",
        snr(F.col("bytes"), F.col("clip_idx"), F.col("sr_hz"), F.col("dur_ms")).alias("s"),
    )
    want = sorted((r["clip_id"], r["s"]) for r in ref.collect())
    assert got == want
    assert len(got) == clips.count()
    assert any(s < 30.0 for _, s in got)  # planted failures are scored


def test_audio_row_source_rejects_non_file_source(spark):
    from drivel_spark.constraints.audio import audio_row_source

    df = spark.createDataFrame(
        [("a", 16000, 500, b"RIFF")], "clip_id string, sr_hz int, dur_ms int, bytes binary"
    )
    with pytest.raises(ValueError, match="parquet file scan"):
        audio_row_source(df, 10, seed=42)


def test_audio_row_source_reads_iceberg_style_file_pos(spark, audio_dbs):
    """A scan without Spark's _metadata (an Iceberg table) locates each
    payload by the _file / _pos metadata columns instead, where _file
    is a plain location, not a percent-encoded URI.  Emulated with a
    checkpointed scan (no _metadata) of the partitioned layout, whose
    directory names contain '%' and spaces: same (clip_id, __snr)
    multiset as the _metadata route."""
    from pyspark.sql import functions as F

    from drivel_spark.constraints.audio import audio_row_source

    clips = spark.read.parquet(f"{audio_dbs['partitioned']}/clips")
    located = clips.drop("bytes").select(
        "*",
        F.expr("url_decode(_metadata.file_path)").alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    ).localCheckpoint()
    assert any("%" in r["_file"] for r in located.select("_file").distinct().collect())

    def scores(src):
        return sorted(
            (r["clip_id"], r["__snr"]) for r in src.select("clip_id", "__snr").collect()
        )

    assert scores(audio_row_source(located, AUDIO_N, seed=42)) == scores(
        audio_row_source(clips, AUDIO_N, seed=42)
    )


def test_audio_row_source_store_uris():
    """Payload files open through pyarrow: Spark's s3a / s3n URIs map to
    s3, a plain location is quoted into a URI, and a scheme pyarrow
    cannot open is refused on the driver."""
    from drivel_spark.constraints.audio import _check_stores, _pyarrow_uri

    assert _pyarrow_uri("s3a://bkt/clips/p.parquet") == "s3://bkt/clips/p.parquet"
    assert _pyarrow_uri("s3n://bkt/p.parquet") == "s3://bkt/p.parquet"
    assert _pyarrow_uri("file:/d/c=a%253Ab/p.parquet") == "file:///d/c=a%253Ab/p.parquet"
    assert _pyarrow_uri("/d/c=a%3Ab/p q.parquet", raw=True) == (
        "file:///d/c%3Da%253Ab/p%20q.parquet"
    )
    _check_stores(["file:/tmp/p.parquet", "/tmp/q.parquet"])
    with pytest.raises(ValueError, match="cannot open wasb://c@acct"):
        _check_stores(["wasb://c@acct.blob.core.windows.net/clips/p.parquet"])


def test_audio_payload_files_share_one_filesystem_per_store(tmp_path):
    """Payload files open through one cached pyarrow filesystem per
    ``scheme://netloc``, at the path ``FileSystem.from_uri`` decodes,
    for Spark's encoded ``file_path`` and a raw location alike."""
    from urllib.parse import quote

    from pyarrow import fs

    from drivel_spark.constraints.audio import _open_file, _pyarrow_uri

    part = tmp_path / "c=a%3Ab"
    part.mkdir()
    files = [part / "p q.parquet", part / "r+s.parquet"]
    for i, f in enumerate(files):
        f.write_bytes(b"x" * (i + 1))
    stores = {}
    for f in files:
        for loc, raw in (("file:" + quote(str(f), safe="/=+"), False), (str(f), True)):
            with _open_file(loc, raw, stores) as fh:
                got = fh.read()
            filesystem, path = fs.FileSystem.from_uri(_pyarrow_uri(loc, raw))
            with filesystem.open_input_file(path) as fh:
                assert got == fh.read() == f.read_bytes()
    assert list(stores) == ["file:///"]


def test_validate_check_audio_catalog_table(spark, audio_dbs):
    """--clips as a catalog table ref (saveAsTable, read through
    spark.read.table): --check-audio gives the digest of the same rows
    read by path."""
    from drivel_spark.job import cmd_validate

    tbl = "default.drivel_audio_clips"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.read.parquet(f"{audio_dbs['default']}/clips").write.saveAsTable(tbl)
    try:
        got = cmd_validate(_validate_args(audio_dbs["default"], clips=tbl))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    want = cmd_validate(_validate_args(audio_dbs["default"]))
    assert got["passfail_digest"] == want["passfail_digest"]
    assert got["n_violation_rows"] == want["n_violation_rows"] > 0


def test_validate_where_check_audio_slice(spark, audio_dbs, tmp_path):
    """--where with --check-audio: the report digest equals a full
    --check-audio validate over a physically pre-filtered copy, on all
    three layouts (the slice is pushed to the scan the audio source
    reads)."""
    from pyspark.sql import functions as F

    from drivel_spark.fixtures import build_transcripts
    from drivel_spark.job import cmd_validate

    spec = ClipFixtureSpec(with_audio=True)
    src = spark.read.parquet(f"{audio_dbs['default']}/clips")
    filtered = tmp_path / "filtered"
    _write_audio_db(
        filtered, src.filter(F.col("sr_hz") == 8000),
        build_transcripts(spark, AUDIO_N, 4, spec), AUDIO_N,
    )
    want = cmd_validate(_validate_args(filtered))
    for layout in ("default", "row_groups", "partitioned"):
        got = cmd_validate(_validate_args(audio_dbs[layout], where="sr_hz = 8000"))
        assert got["passfail_digest"] == want["passfail_digest"], layout
        assert got["n_violation_rows"] == want["n_violation_rows"], layout
    assert want["n_violation_rows"] > 0


def test_check_audio_keeps_structural_tier_counts(spark, audio_dbs, tmp_path):
    """--check-wav-header / --check-pcm-size report the same per-scope
    counts whether they run as plain Catalyst predicates or as flag
    columns inside the audio source's scan (with --check-audio)."""
    from drivel_spark.job import cmd_validate

    tiers = ["pcm_size_consistency", "wav_header"]

    def tier_rows(check_audio):
        report = str(tmp_path / f"rep_{check_audio}")
        cmd_validate(_validate_args(
            audio_dbs["default"], check_audio=check_audio, report=report,
            check_wav_header=True, check_pcm_size=True,
        ))
        pdf = spark.read.parquet(f"{report}/passfail").toPandas()
        pdf = pdf[pdf.constraint.isin(tiers)]
        return pdf.sort_values(["constraint", "partition_id"]).reset_index(drop=True)

    with_audio, without = tier_rows(True), tier_rows(False)
    assert sorted(set(with_audio.constraint)) == tiers
    assert with_audio.equals(without)
    assert with_audio.n_violations.sum() > 0
