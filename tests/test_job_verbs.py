"""The table of verbs in drivel_spark/job.py: one source of defaults,
the caller's session left as it is, bad flag combinations refused
before any Spark job, and the call shapes perfbench and bench.py use."""

import argparse
import json
import os
import subprocess
import sys

import pytest

from drivel_spark import job
from drivel_spark.fixtures import ClipFixtureSpec, build_clips, build_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _required(name: str) -> dict:
    """A value for each required argument of verb ``name``, by dest."""
    return {a.dest: f"{a.dest}-value" for a in job._verb_parser(name)._actions if a.required}


@pytest.mark.parametrize("name", sorted(job.VERBS))
def test_with_defaults_equals_parse_args(name):
    """Filling a Namespace of only the required arguments gives the
    attributes and values the CLI parser gives for the same call."""
    req = _required(name)
    argv = [name]
    for a in job._verb_parser(name)._actions:
        if a.required:
            argv += [a.option_strings[0], req[a.dest]]
    parsed = vars(job.parser().parse_args(argv))
    assert parsed.pop("cmd") == name
    assert vars(job.with_defaults(name, argparse.Namespace(**req))) == parsed


def test_describe_schema_starts_no_jvm(tmp_path):
    """``describe --schema`` parses and describes a JSON Schema file
    with no Spark session, so no JVM starts."""
    schema = tmp_path / "f.json"
    schema.write_text(json.dumps({"type": "object", "required": ["id"],
                                  "properties": {"id": {"type": "string"}}}))
    code = (
        "import sys; from drivel_spark.job import main; "
        f"main(['describe', '--schema', {str(schema)!r}]); "
        "from pyspark import SparkContext; "
        "print('gateway', SparkContext._gateway)"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True,
                         text=True, timeout=120, check=True).stdout.splitlines()
    assert json.loads(out[0]) == {"job": "describe", "source": "schema", "columns": ["id"]}
    assert out[1] == "gateway None"


def test_verbs_keep_the_callers_session_conf(spark, sf_small_dir, tmp_path, capsys):
    """A verb runs on the caller's active session and leaves its runtime
    conf as the caller set it (a second build_session would re-apply
    its own shuffle partitions and UTC time zone)."""
    import pickle

    from drivel_spark.checkpoint.store import CheckpointStore, make_commit_row

    store = CheckpointStore(str(tmp_path / "ck"))
    store.append([
        make_commit_row(f"run{i}", "f0", "snap", pickle.dumps({}), {"n_rows": 100 + i})
        for i in range(4)
    ])
    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    before = {k: spark.conf.get(k) for k in keys}
    mine = {"spark.sql.shuffle.partitions": "3",
            "spark.sql.session.timeZone": "America/New_York"}
    try:
        for k, v in mine.items():
            spark.conf.set(k, v)
        job.cmd_describe(argparse.Namespace(
            data=f"{sf_small_dir}/orders.parquet", schema=None, columns="o_orderpriority",
            json_schema=False, extended=False))
        assert {k: spark.conf.get(k) for k in keys} == mine
        job.main(["history", "--checkpoint", str(tmp_path / "ck")])
        assert {k: spark.conf.get(k) for k in keys} == mine
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    capsys.readouterr()


@pytest.fixture(scope="module")
def small_db(spark, tmp_path_factory):
    """A 300-row clips + transcripts db without audio, and a docs table."""
    import pandas as pd

    root = tmp_path_factory.mktemp("verbs")
    spec = ClipFixtureSpec(with_audio=False)
    build_clips(spark, 300, 2, spec).write.parquet(f"{root}/db/clips")
    build_transcripts(spark, 300, 2, spec).write.parquet(f"{root}/db/transcripts")
    with open(f"{root}/db/meta.json", "w") as fh:
        json.dump({"n_rows": 300, "partitions": 2, "seed": 42,
                   "variant": "default", "with_audio": False}, fh)
    texts = [f"document {i} about {i * 3}" for i in range(20)]
    spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20), "text": texts, "grp": ["g1"] * 20,
    })).write.parquet(f"{root}/docs")
    return root


@pytest.mark.parametrize("case", ["history-window", "slice-dims", "near-group-col"])
def test_bad_flag_combinations_refused_before_any_job(small_db, tmp_path, n_jobs, case):
    """Each refusal comes before the first Spark job, not after the run
    (validate's report write, leakage's exact tier)."""
    validate = dict(data=f"{small_db}/db", baseline=None, checkpoint=None, run_id="r",
                    check_audio=False, n_scopes=8, report=str(tmp_path / "rep"))
    cmd, args, match = {
        "history-window": (job.cmd_validate, {**validate, "history_window": 3},
                           "requires --checkpoint"),
        "slice-dims": (job.cmd_validate, {**validate, "slice_dims": "codec,no_such"},
                       "not in the violation report"),
        "near-group-col": (job.cmd_leakage, dict(
            data=f"{small_db}/docs", id_col="doc_id", text_col="text",
            weights="train=0.5,test=0.5", seed=42, threshold=0.5, group_col="grp",
            near=True, out=None), "row-keyed"),
    }[case]

    def run():
        with pytest.raises(SystemExit, match=match):
            cmd(argparse.Namespace(**args))

    assert n_jobs(run) == 0
    assert not (tmp_path / "rep").exists()


def test_perfbench_and_bench_call_shapes(spark, tmp_path, monkeypatch):
    """The calls perfbench and bench.py make: ``cmd_prepare`` with a
    class-shaped args object, ``cmd_baseline`` with ``Namespace(data,
    out)``, ``cmd_validate`` with perfbench's seven fields.  Each goes
    through the names perfbench wraps: ``drivel_spark.io.read_table``
    and ``job.profile`` / ``job.validate`` / ``job.resumable_profile``."""
    import drivel_spark.io as dio

    calls: dict[str, int] = {}

    def counting(owner, name):
        fn = getattr(owner, name)

        def wrapped(*a, **k):
            calls[name] = calls.get(name, 0) + 1
            return fn(*a, **k)

        monkeypatch.setattr(owner, name, wrapped)

    counting(dio, "read_table")
    for name in ("profile", "validate", "resumable_profile"):
        counting(job, name)

    db = str(tmp_path / "db")

    class A:  # bench.py's argparse-shaped prepare args
        n_rows = 300
        partitions = 2
        seed = 42
        variant = "default"
        no_audio = True
        out = db
        shared_seg_every = 0

    assert job.cmd_prepare(A)["n_rows"] == 300
    base = str(tmp_path / "baseline.pkl")
    assert job.cmd_baseline(argparse.Namespace(data=db, out=base))["n_rows"] == 300
    out = job.cmd_validate(argparse.Namespace(
        data=db, baseline=base, checkpoint=str(tmp_path / "store"),
        run_id="perfbench", check_audio=True, n_scopes=64, report=str(tmp_path / "report"),
    ))
    assert out["n_rows"] == 300 and out["resume"]["n_recomputed"] > 0
    assert os.path.isdir(tmp_path / "report" / "passfail")
    assert set(calls) == {"read_table", "profile", "validate", "resumable_profile"}
