"""Resume-from-checkpoint protocol + distributed producer round-trips."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from drivel_spark.checkpoint import CheckpointStore, resumable_profile
from drivel_spark.core import SchemaNode, detect, parse_json_schema
from drivel_spark.fixtures import ClipFixtureSpec, build_clips
from drivel_spark.produce.generator import produce_df, produce_from_profile
from drivel_spark.profiling import profile


@pytest.fixture()
def clip_table(spark, tmp_path):
    path = str(tmp_path / "clips_pq")
    build_clips(spark, 2000, 8, ClipFixtureSpec(with_audio=False)).write.parquet(path)
    return path


def test_resume_skips_committed_units(spark, clip_table, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    full = spark.read.parquet(clip_table)
    units = sorted(full.inputFiles())
    n_units = len(units)
    assert n_units >= 4

    sub_path_profile, stats1 = resumable_profile(spark, clip_table, store, run_id="r1")
    assert stats1["n_recomputed"] == n_units  # fresh run computes all

    # restart: nothing to recompute, identical profile restored from blobs
    prof2, stats2 = resumable_profile(spark, clip_table, store, run_id="r1")
    assert stats2["n_recomputed"] == 0
    assert stats2["n_restored"] == n_units
    assert stats2["snapshot"] == stats1["snapshot"]  # the same listing
    a, b = sub_path_profile.column("dur_ms"), prof2.column("dur_ms")
    assert (a.n, a.n_null, a.min_v, a.max_v, a.sum_v) == (b.n, b.n_null, b.min_v, b.max_v, b.sum_v)
    # one accumulator per file, and the same exact fields as profile()
    assert prof2.n_partitions == n_units
    whole = profile(full)
    for col in ("dur_ms", "sr_hz", "codec"):
        a, b = whole.column(col), prof2.column(col)
        assert (a.n, a.n_null) == (b.n, b.n_null)
        assert np.array_equal(a.hll.registers, b.hll.registers)
        if a.kind == "numeric":
            assert (a.min_v, a.max_v) == (b.min_v, b.max_v)
            assert a.sum_v == pytest.approx(b.sum_v, rel=1e-12)
        else:
            assert a.freq.counts == b.freq.counts


def test_partial_commit_then_resume(spark, clip_table, tmp_path):
    """Kill-after-k simulation: pre-commit k units from a first pass, then
    resume must recompute exactly n-k and match the full profile."""
    store_full = CheckpointStore(str(tmp_path / "ckpt_full"))
    prof_full, _ = resumable_profile(spark, clip_table, store_full, run_id="full")

    store = CheckpointStore(str(tmp_path / "ckpt_partial"))
    committed_all = store_full.committed("full")
    k = len(committed_all) // 2
    partial = committed_all.head(k).copy()
    partial["run_id"] = "resumed"
    store.append(partial.to_dict("records"))

    prof, stats = resumable_profile(spark, clip_table, store, run_id="resumed")
    assert stats["n_recomputed"] == stats["n_units"] - k
    assert stats["n_restored"] == k
    for col in ("dur_ms", "sr_hz"):
        a, b = prof.column(col), prof_full.column(col)
        assert (a.n, a.n_null, a.min_v, a.max_v, a.sum_v) == (b.n, b.n_null, b.min_v, b.max_v, b.sum_v)
        assert np.array_equal(a.hll.registers, b.hll.registers)


def test_restore_rejects_blob_that_fails_its_digest(spark, clip_table, tmp_path):
    """A committed blob whose bytes changed after its digest was taken
    is refused on restore, naming the unit, before anything merges."""
    import re

    store = CheckpointStore(str(tmp_path / "ckpt"))
    resumable_profile(spark, clip_table, store, run_id="r1")
    rows = store.committed("r1")
    unit, blob = rows.iloc[0]["unit"], rows.iloc[0]["acc"]
    rows.at[rows.index[0], "acc"] = blob[:-2] + bytes([blob[-2] ^ 1]) + blob[-1:]
    tampered = CheckpointStore(str(tmp_path / "tampered"))
    tampered.append(rows.to_dict("records"))
    with pytest.raises(ValueError, match=re.escape(unit)):
        resumable_profile(spark, clip_table, tampered, run_id="r1")


def test_resume_units_skip_summary_files(spark, tmp_path):
    """A parquet summary file next to the data files (listed by
    ``inputFiles()``, holding no rows) is no unit: a 4-file table with
    a ``_common_metadata`` profiles as 4 units, 4 partitions, 100 rows."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "with_summary")
    spark.range(100).repartition(4).write.parquet(path)
    pq.write_metadata(pq.read_schema(glob.glob(f"{path}/part-*.parquet")[0]),
                      f"{path}/_common_metadata")
    prof, stats = resumable_profile(spark, path, CheckpointStore(str(tmp_path / "ck")), "r")
    assert stats["n_units"] == stats["n_recomputed"] == 4
    assert (prof.n_partitions, prof.n_rows) == (4, 100)


@pytest.fixture()
def table_with_empty_file(spark, tmp_path):
    """24 audio clips in one parquet file plus a zero-row file."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "clips_empty_pq")
    build_clips(spark, 24, 1, ClipFixtureSpec(with_audio=True)).write.parquet(path)
    (data,) = glob.glob(f"{path}/part-*.parquet")
    pq.write_table(pq.read_table(data).slice(0, 0), f"{path}/part-empty.parquet")
    return path


def test_runners_commit_zero_row_units(spark, table_with_empty_file, tmp_path):
    """Both resumable runners commit a zero-row file, so a rerun on the
    same store restores every unit and recomputes none."""
    from drivel_spark.checkpoint import resumable_screen

    path = table_with_empty_file
    runs = {
        "profile": lambda store: resumable_profile(
            spark, path, store, "z", columns=["sr_hz", "dur_ms", "codec"]
        ),
        "screen": lambda store: resumable_screen(
            spark, path, store, "z", kinds=["quality", "dropout"]
        ),
    }
    for name, run in runs.items():
        store = CheckpointStore(str(tmp_path / name))
        first, stats = run(store)
        assert stats["n_units"] == stats["n_recomputed"] == 2, name
        again, stats2 = run(store)
        assert (stats2["n_recomputed"], stats2["n_restored"]) == (0, 2), name
        if name == "profile":
            assert first.n_rows == again.n_rows == 24
            assert first.n_partitions == again.n_partitions == 2
        else:
            assert first.equals(again), name
            assert int(first["n_clips"].max()) > 0


@pytest.fixture()
def small_audio_table(spark, tmp_path):
    """48 audio clips in 4 parquet files, a planted defect every 5th."""
    path = str(tmp_path / "clips_small_audio")
    build_clips(
        spark, 48, 4, ClipFixtureSpec(with_audio=True, distort_every=5)
    ).write.parquet(path)
    return path


def _both_runners(spark, path):
    """Each resumable runner as ``store -> (comparable result, stats)``."""
    from drivel_spark.checkpoint import resumable_screen

    def prof(store):
        p, stats = resumable_profile(spark, path, store, "r1", columns=["sr_hz", "dur_ms", "codec"])
        return (p.n_rows, p.n_partitions, json.dumps(p.summary(), default=str)), stats

    def screen(store):
        totals, stats = resumable_screen(spark, path, store, "r1", kinds=["quality", "dropout"])
        return totals.to_dict("records"), stats

    return {"profile": prof, "screen": screen}


def test_runners_read_paths_with_escapes(spark, small_audio_table, tmp_path):
    """A table under a directory whose name has a space and a ``%41``,
    one of whose files has a ``[`` in its name: both runners read each
    file as the literal path its percent-encoded unit names, give what
    they give on a plain copy, and restore every unit on a rerun."""
    import glob
    import shutil

    path = str(tmp_path / "esc dir %41 x")
    shutil.copytree(small_audio_table, path)
    first = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
    os.rename(first, first.replace("part-", "part-[1]-"))
    plain = _both_runners(spark, small_audio_table)
    for name, run in _both_runners(spark, path).items():
        store = CheckpointStore(str(tmp_path / f"{name}_ck"))
        got, stats = run(store)
        assert stats["n_recomputed"] == stats["n_units"] == 4, name
        assert got == plain[name](CheckpointStore(str(tmp_path / f"{name}_plain")))[0], name
        again, stats2 = run(store)
        assert (again, stats2["n_restored"], stats2["n_recomputed"]) == (got, 4, 0), name


def test_snapshot_mismatch_recomputes(spark, small_audio_table, tmp_path):
    """A unit is keyed by its own (path, size, mtime), not by the whole
    listing: a file appended to a checkpointed table computes alone,
    every other unit restores, and the result equals a fresh run's."""
    import glob
    import shutil

    path = small_audio_table
    runners = _both_runners(spark, path)
    before = {name: run(CheckpointStore(str(tmp_path / name)))[1] for name, run in runners.items()}
    first = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
    shutil.copy(first, f"{path}/part-added.parquet")
    for name, run in runners.items():
        got, after = run(CheckpointStore(str(tmp_path / name)))
        n = before[name]["n_units"]
        assert after["n_units"] == n + 1, name
        assert (after["n_recomputed"], after["n_restored"]) == (1, n), name
        assert after["snapshot"] != before[name]["snapshot"], name
        assert got == run(CheckpointStore(str(tmp_path / f"{name}_fresh")))[0], name


def test_rewritten_file_recomputes_only_itself(spark, small_audio_table, tmp_path):
    """A file rewritten in place under its own name with fewer rows
    recomputes that unit and only that unit; the result equals a fresh
    run's instead of restoring the stale blob."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = small_audio_table
    runners = _both_runners(spark, path)
    first = {name: run(CheckpointStore(str(tmp_path / name))) for name, run in runners.items()}
    target = sorted(glob.glob(f"{path}/part-*.parquet"))[1]
    table = pq.read_table(target)
    pq.write_table(table.slice(0, table.num_rows // 2), target)
    crc = os.path.join(path, f".{os.path.basename(target)}.crc")
    if os.path.exists(crc):  # the Spark writer's checksum of the old bytes
        os.remove(crc)
    for name, run in runners.items():
        got, stats = run(CheckpointStore(str(tmp_path / name)))
        n = first[name][1]["n_units"]
        assert (stats["n_units"], stats["n_recomputed"], stats["n_restored"]) == (n, 1, n - 1), name
        assert got != first[name][0], name
        assert got == run(CheckpointStore(str(tmp_path / f"{name}_fresh")))[0], name


def test_resume_refuses_blobs_of_other_columns(spark, clip_table, tmp_path):
    """Resuming a run id under a different column projection raises a
    ValueError that names the unit, whether the stored blobs have more
    or fewer columns than the request, instead of folding them."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    resumable_profile(spark, clip_table, store, "r1", columns=["sr_hz", "dur_ms"])
    unit = sorted(spark.read.parquet(clip_table).inputFiles())[0]
    for cols in (["sr_hz"], ["sr_hz", "dur_ms", "codec"]):
        with pytest.raises(ValueError, match="new run id or store") as err:
            resumable_profile(spark, clip_table, store, "r1", columns=cols)
        assert unit in str(err.value)


@pytest.mark.parametrize("layout", ["partitioned", "single_file", "glob"])
def test_resumable_profile_matches_profile(spark, tmp_path, layout):
    """Resuming reads a Hive-partitioned table's partition columns from
    the paths, as ``profile()`` does, and a one-file table or a glob of
    files as is."""
    import glob

    from drivel_spark.io import read_table, write_partitioned

    df = build_clips(spark, 400, 4, ClipFixtureSpec(with_audio=False))
    if layout == "partitioned":
        path = str(tmp_path / "clips_by_codec")
        write_partitioned(df, path, ["codec"])
    elif layout == "single_file":
        df.coalesce(1).write.parquet(str(tmp_path / "one"))
        (path,) = glob.glob(str(tmp_path / "one" / "part-*.parquet"))
    else:
        df.write.parquet(str(tmp_path / "files"))
        path = str(tmp_path / "files" / "part-*.parquet")
    table = read_table(spark, path)
    want = profile(table)
    got, stats = resumable_profile(spark, path, CheckpointStore(str(tmp_path / "ck")), "r1")
    assert stats["n_recomputed"] == stats["n_units"]

    def summaries(prof):
        out = {}
        for s in prof.summary():
            if not getattr(getattr(prof.column(s["column"]), "freq", None), "is_exact", True):
                # past its capacity a SpaceSaving count and error depend
                # on the merge order, which differs between the two paths
                s = {**s, "top": [key for key, _, _ in s["top"]]}
            out[s["column"]] = json.dumps(s, default=str)
        return out

    assert summaries(got) == summaries(want)
    assert want.column("codec").n_null == 0 and want.n_rows == 400
    rows = table.toPandas()
    for prof in (want, got):
        for s in prof.summary():
            if "top" not in s:
                continue
            true = rows[s["column"]].value_counts()
            nth = true.iloc[min(9, len(true) - 1)]  # the 10th largest true count
            for key, count, error in s["top"]:
                assert count - error <= true[key] <= count, (s["column"], key)
                assert true[key] >= nth, (s["column"], key)


# ---------------------------------------------------------------------------
# producer
# ---------------------------------------------------------------------------


_FORMATS = ["email", "hostname", "url", "iso-date", "datetime-iso8601", "datetime-rfc2822"]


def _with_format_fields(doc: dict) -> SchemaNode:
    """``doc`` parsed, plus one required ``s_<format>`` string field per
    format (rfc2822 has no JSON Schema format keyword)."""
    node = parse_json_schema(doc)
    fmts = {f"s_{f}": SchemaNode.string(str_type=f) for f in _FORMATS}
    return SchemaNode.object(required={**node.required, **fmts}, optional=node.optional)


def test_produce_df_deterministic_and_partition_invariant(spark):
    doc = {
        "type": "object",
        "properties": {
            "n": {"type": "integer", "minimum": 5, "maximum": 20},
            "f": {"type": "number", "minimum": 0.0, "maximum": 1.0},
            "flag": {"type": "boolean"},
            "codec": {"type": "string", "enum": ["a", "b", "c"]},
            "id": {"type": "string", "format": "uuid"},
        },
        "required": ["n", "f", "flag", "codec", "id"],
    }
    node = _with_format_fields(doc)
    a = produce_df(spark, node, 500, seed=1, n_partitions=3).toPandas().sort_values("id")
    b = produce_df(spark, node, 500, seed=1, n_partitions=7).toPandas().sort_values("id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    assert a["n"].between(5, 20).all()
    assert a["f"].between(0.0, 1.0).all()
    assert set(a["codec"].unique()) <= {"a", "b", "c"}
    assert a["id"].str.match(r"^[0-9a-f-]{36}$").all()
    for f in ["uuid", *_FORMATS]:
        col = a["id" if f == "uuid" else f"s_{f}"]
        assert col.notna().all()
        assert {detect(v) for v in col} == {f}


def test_produce_df_seed_changes_every_column(spark):
    """``seed`` reaches every generator: two seeds differ in every
    column (null masks included) but the null-only one, and one seed is
    partition-invariant."""
    doc = {
        "type": "object",
        "properties": {
            "n": {"type": "integer", "minimum": 0, "maximum": 1000},
            "f": {"type": "number", "minimum": 0.0, "maximum": 1.0},
            "flag": {"type": "boolean"},
            "codec": {"type": "string", "enum": ["a", "b", "c"]},
            "id": {"type": "string", "format": "uuid"},
            "opt_n": {"type": "integer", "minimum": 0, "maximum": 9},
            "text": {"type": "string", "minLength": 3, "maxLength": 12},
            "arr": {"type": "array", "items": {"type": "integer"}, "minItems": 1, "maxItems": 3},
            "nothing": {"type": "null"},
        },
        "required": ["n", "f", "flag", "codec", "id", "text", "arr", "nothing"],
    }
    node = _with_format_fields(doc)
    one = produce_df(spark, node, 300, seed=1, n_partitions=3).toPandas()
    two = produce_df(spark, node, 300, seed=2, n_partitions=3).toPandas()
    assert list(one.columns) == list(two.columns)
    for c in one.columns.drop("nothing"):
        assert not one[c].equals(two[c]), c
    assert one["nothing"].isna().all() and two["nothing"].isna().all()
    assert all(1 <= len(json.loads(v)) <= 3 for v in one["arr"])
    assert not one["opt_n"].isna().equals(two["opt_n"].isna())
    again = produce_df(spark, node, 300, seed=1, n_partitions=7).toPandas()
    assert one.equals(again)


@pytest.mark.parametrize("nullable", [False, True])
@pytest.mark.parametrize("fmt", _FORMATS)
def test_generated_formats_detect_as_themselves(fmt, nullable):
    from drivel_spark.produce.generator import _gen_column

    node = SchemaNode.string(str_type=fmt).with_nullable(nullable)
    col, null_mask = _gen_column(node, np.arange(10_000, 14_000), 3, 5)
    vals = col if null_mask is None else col[~null_mask]
    assert len(col) == 4000
    assert (0 < len(vals) < 4000) if nullable else len(vals) == 4000
    assert {detect(v) for v in vals} == {fmt}
    assert len(set(vals)) > (100 if fmt == "hostname" else 1000)


def test_produce_optional_fields_nullable(spark):
    doc = {
        "type": "object",
        "properties": {"req": {"type": "integer", "minimum": 0, "maximum": 9},
                       "opt": {"type": "integer", "minimum": 0, "maximum": 9}},
        "required": ["req"],
    }
    pdf = produce_df(spark, parse_json_schema(doc), 400, seed=2).toPandas()
    assert pdf["req"].notna().all()
    assert 0 < pdf["opt"].isna().sum() < 400


def test_produce_roundtrip_from_profile(spark):
    """profile → produce → re-profile: schema kinds and bounds subsumed,
    and the re-inferred JSON Schema equals the source's."""
    src = build_clips(spark, 1000, 4, ClipFixtureSpec(variant="clean", with_audio=False))
    h = F.md5(F.col("clip_id").cast("string"))
    src = src.withColumn(
        "ts", F.timestamp_seconds(F.lit(1_600_000_000) + F.col("dur_ms") * 1000)
    ).withColumn(
        "uid",
        F.concat_ws("-", *(F.substring(h, a, b) for a, b in
                           ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12)))),
    )
    prof = profile(src, columns=["sr_hz", "dur_ms", "codec", "ts", "uid"])
    gen = produce_from_profile(spark, prof, 2000, seed=3)
    prof2 = profile(gen)
    assert prof2.column("sr_hz").min_v >= prof.column("sr_hz").min_v
    assert prof2.column("sr_hz").max_v <= prof.column("sr_hz").max_v
    assert prof2.column("dur_ms").min_v >= prof.column("dur_ms").min_v
    assert prof2.column("dur_ms").max_v <= prof.column("dur_ms").max_v
    node, node2 = prof.to_schema_node(), prof2.to_schema_node()
    assert node2.required["codec"].str_type == "enum"
    assert node2.required["codec"].variants <= node.required["codec"].variants
    assert prof.column("uid").resolved_format == "uuid"
    assert node2.required["ts"].str_type == "datetime-iso8601"
    assert node2.required["uid"].str_type == "uuid"
    assert prof2.to_json_schema() == prof.to_json_schema()


@pytest.fixture()
def audio_clip_table(spark, tmp_path):
    path = str(tmp_path / "clips_audio_pq")
    build_clips(
        spark, 240, 6,
        ClipFixtureSpec(with_audio=True, distort_every=5, dropout_every=7),
    ).write.parquet(path)
    return path


def test_resumable_screen_matches_oneshot_and_resumes(
    spark, audio_clip_table, tmp_path
):
    """Fused-screen resume protocol: per-file screen counts commit with
    lineage; totals equal a one-shot fused run; a restart decodes
    nothing; a kill-after-k resume decodes exactly the missing files
    and still matches; a different kind set recomputes from scratch."""
    from drivel_spark.checkpoint import resumable_screen
    from drivel_spark.ops import screen_report
    from drivel_spark.ops.multimodal import AUDIO_SCREENS, FUSED_SCREEN_BAD

    kinds = ["quality", "dropout"]
    store = CheckpointStore(str(tmp_path / "sck"))
    totals, stats = resumable_screen(
        spark, audio_clip_table, store, "s1", kinds=kinds
    )
    assert stats["n_recomputed"] == stats["n_units"] >= 4

    # one-shot fused truth over the same table
    rep = screen_report(spark.read.parquet(audio_clip_table), kinds)
    want = {}
    for kind in kinds:
        flag = AUDIO_SCREENS[kind][1]
        bad = FUSED_SCREEN_BAD.get(kind, "n_samples IS NULL")
        row = rep.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.expr(flag), 1)).alias("f"),
            F.count(F.when(F.expr(bad), 1)).alias("b"),
        ).collect()[0]
        want[kind] = (int(row["n"]), int(row["f"]), int(row["b"]))
    got = {
        r["kind"]: (int(r["n_clips"]), int(r["n_flagged"]),
                    int(r["n_undecodable"]))
        for _, r in totals.iterrows()
    }
    assert got == want
    assert any(v[1] >= 1 for v in want.values())  # planted defects fire

    # stats carry the decode-throughput base and corpus undecodables
    assert stats["n_clips_recomputed"] == int(totals["n_clips"].max())
    assert stats["n_undecodable"] is not None

    # restart: zero recompute, identical totals
    totals2, stats2 = resumable_screen(
        spark, audio_clip_table, store, "s1", kinds=kinds
    )
    assert stats2["n_recomputed"] == 0 and totals2.equals(totals)
    assert stats2["n_clips_recomputed"] == 0

    # same SET in a different caller order: still the same run key,
    # zero recompute (run key is built from sorted(kinds))
    totals2b, stats2b = resumable_screen(
        spark, audio_clip_table, store, "s1", kinds=list(reversed(kinds))
    )
    assert stats2b["n_recomputed"] == 0
    assert sorted(totals2b["kind"]) == sorted(totals["kind"])

    # kill-after-k: seed a fresh store with half the commits, resume
    full = spark.read.parquet(audio_clip_table)
    snap_units = sorted(full.inputFiles())
    run = f"s1:screen[{','.join(sorted(kinds))}]"
    committed = store._read_all()
    committed = committed[committed.run_id == run]
    k = len(committed) // 2
    store2 = CheckpointStore(str(tmp_path / "sck2"))
    store2.append(committed.iloc[:k].to_dict("records"))
    totals3, stats3 = resumable_screen(
        spark, audio_clip_table, store2, "s1", kinds=kinds
    )
    assert stats3["n_recomputed"] == len(snap_units) - k
    assert totals3.equals(totals)

    # a different kind set is a different run: full recompute
    totals4, stats4 = resumable_screen(
        spark, audio_clip_table, store, "s1", kinds=["quality"]
    )
    assert stats4["n_recomputed"] == stats4["n_units"]
    assert got["quality"] == (
        int(totals4.iloc[0]["n_clips"]),
        int(totals4.iloc[0]["n_flagged"]),
        int(totals4.iloc[0]["n_undecodable"]),
    )
