"""Delta validation (constraints/delta.py): the merged report must be
indistinguishable from a full validate of the new snapshot, while the
row-level pass touches only the dirty scopes' rows."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from drivel_spark.constraints import (
    RowPredicate,
    Unique,
    Referential,
    churned_scopes,
    scope_of,
    validate,
    validate_delta,
)
from drivel_spark.constraints.validate import normalize_passfail

N_SCOPES = 16
KEY = "k"


def _old(spark):
    return spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("cat"),
    )


def _new(spark):
    """Sparse deterministic churn (a handful of keys, so only SOME of
    the 16 scopes go dirty): drop k%151==1, bump v for k%149==0, add a
    few offset keys, duplicate one existing key to trip Unique."""
    o = _old(spark)
    mutated = o.filter(F.col("k") % 151 != 1).withColumn(
        "v",
        F.when(F.col("k") % 149 == 0, F.col("v") + 1000.0).otherwise(
            F.col("v")
        ),
    )
    added = o.filter(F.col("k") % 191 == 3).withColumn(
        "k", F.col("k") + F.lit(100_000)
    )
    dup = o.filter(F.col("k") == 5)  # duplicate an existing key
    return mutated.unionByName(added).unionByName(dup)


def _constraints():
    row = [
        RowPredicate("v_small", "v", F.col("v") < 500.0),
        RowPredicate("cat_known", "cat", F.col("cat") != "s3"),
    ]
    ds = [
        Unique("k_unique", KEY),
        Referential("k_in_ref", KEY, "ref", "rk"),
    ]
    return row, ds


def _ref(spark):
    # every original key plus the offset keys -> a few orphans remain
    return spark.range(700).select(F.col("id").alias("rk")).unionByName(
        spark.range(100_000, 100_700).select(F.col("id").alias("rk"))
    )


def test_delta_report_equals_full_validate(spark):
    old, new = _old(spark), _new(spark)
    row_cs, ds_cs = _constraints()
    ref = {"ref": _ref(spark)}
    keep = [KEY, "cat"]
    s = scope_of(KEY, N_SCOPES)

    # previous full report over the OLD snapshot
    prev = validate(
        old, row_cs + ds_cs, scope=s, ref_tables=ref, keep_columns=keep
    )
    prev_pdf = prev.passfail_pdf()
    prev_viol = prev.violations

    dirty, churn = churned_scopes(old, new, KEY, N_SCOPES)
    assert 0 < len(dirty) < N_SCOPES  # churn is real but partial
    assert churn["n_added"] > 0 and churn["n_removed"] > 0
    assert churn["n_changed"] > 0 and churn["n_unchanged"] > 0

    res = validate_delta(
        new,
        row_cs,
        ds_cs,
        key_col=KEY,
        n_scopes=N_SCOPES,
        dirty_scopes=dirty,
        churn=churn,
        prev_passfail=prev_pdf,
        prev_violations=prev_viol,
        ref_tables=ref,
        keep_columns=keep,
    )

    full = validate(
        new, row_cs + ds_cs, scope=s, ref_tables=ref, keep_columns=keep
    )
    pd.testing.assert_frame_equal(
        res.passfail_pdf, normalize_passfail(full.passfail_pdf())
    )

    # violation ROW MULTISETS agree (order-free compare)
    def key_rows(df):
        return sorted(
            (r[KEY], r["cat"], tuple(sorted(r["failed"])))
            for r in df.collect()
        )

    assert key_rows(res.violations) == key_rows(full.violations)

    # the row pass really was delta-sized
    assert res.n_rows_revalidated < new.count()
    assert res.n_rows_revalidated == new.filter(s.isin(dirty)).count()

    # dataset checks are fresh and globally exact
    ds_by_name = {d["constraint"]: d for d in res.dataset}
    assert ds_by_name["k_unique"]["passed"] is False  # planted duplicate
    assert ds_by_name["k_unique"]["n_violations"] == 1


def test_delta_no_churn_carries_everything(spark):
    old = _old(spark)
    row_cs, ds_cs = _constraints()
    ref = {"ref": _ref(spark)}
    keep = [KEY, "cat"]
    s = scope_of(KEY, N_SCOPES)
    prev = validate(
        old, row_cs + ds_cs, scope=s, ref_tables=ref, keep_columns=keep
    )
    dirty, churn = churned_scopes(old, old, KEY, N_SCOPES)
    assert dirty == [] and churn["n_added"] == 0

    res = validate_delta(
        old,
        row_cs,
        ds_cs,
        key_col=KEY,
        n_scopes=N_SCOPES,
        dirty_scopes=dirty,
        churn=churn,
        prev_passfail=prev.passfail_pdf(),
        prev_violations=prev.violations,
        ref_tables=ref,
        keep_columns=keep,
    )
    assert res.n_rows_revalidated == 0
    pd.testing.assert_frame_equal(
        res.passfail_pdf, normalize_passfail(prev.passfail_pdf())
    )
    assert res.violations.count() == prev.violations.count()


def test_prepare_row_df_runs_after_slice(spark):
    """prepare_row_df sees ONLY dirty-scope rows — the preparation work
    (decode-column join at the CLI layer) scales with churn."""
    old, new = _old(spark), _new(spark)
    row_cs, _ = _constraints()
    s = scope_of(KEY, N_SCOPES)
    dirty, churn = churned_scopes(old, new, KEY, N_SCOPES)
    prev = validate(old, row_cs, scope=s, keep_columns=[KEY, "cat"])
    seen = {}

    def prep(df):
        seen["n"] = df.count()
        return df

    res = validate_delta(
        new,
        row_cs,
        [],
        key_col=KEY,
        n_scopes=N_SCOPES,
        dirty_scopes=dirty,
        churn=churn,
        prev_passfail=prev.passfail_pdf(),
        prev_violations=prev.violations,
        prepare_row_df=prep,
        keep_columns=[KEY, "cat"],
    )
    expected = new.filter(s.isin(dirty)).count()
    assert seen["n"] == expected == res.n_rows_revalidated


def test_cli_validate_delta_digest_equals_full(spark, tmp_path):
    """End-to-end job surface: `validate-delta` over a churned audio
    snapshot produces the SAME passfail_digest as a full `validate` of
    the new snapshot, while re-decoding only the dirty scopes."""
    import argparse
    import json as _json

    from drivel_spark.fixtures import ClipFixtureSpec, build_clips, build_transcripts
    from drivel_spark.job import cmd_validate, cmd_validate_delta

    spec = ClipFixtureSpec(with_audio=True)
    n = 200

    def write_db(path, clips_df):
        clips_df.write.parquet(f"{path}/clips")
        build_transcripts(spark, n, 4, spec).write.parquet(f"{path}/transcripts")
        (path / "meta.json").write_text(_json.dumps(
            {"n_rows": n, "partitions": 4, "seed": 42,
             "variant": "default", "with_audio": True}
        ))

    old_clips = build_clips(spark, n, 4, spec)
    db_old, db_new = tmp_path / "old", tmp_path / "new"
    write_db(db_old, old_clips)

    # sparse churn: remove 4 ids, corrupt 3 transcripts
    ids = sorted(r["clip_id"] for r in old_clips.select("clip_id").collect())
    removed, changed = set(ids[:4]), set(ids[50:53])
    new_clips = old_clips.filter(~F.col("clip_id").isin(list(removed))).withColumn(
        "transcript",
        F.when(F.col("clip_id").isin(list(changed)), F.lit("CHANGED"))
        .otherwise(F.col("transcript")),
    )
    write_db(db_new, new_clips)

    base = dict(baseline=None, checkpoint=None, run_id="r", check_audio=True,
                n_scopes=8, clips=None, transcripts=None, where=None)
    prev_dir = str(tmp_path / "prev_report")
    prev = cmd_validate(argparse.Namespace(
        data=str(db_old), report=prev_dir, **base))

    full = cmd_validate(argparse.Namespace(
        data=str(db_new), report=None, **base))

    out_dir = str(tmp_path / "merged_report")
    delta = cmd_validate_delta(argparse.Namespace(
        data=str(db_new), old_data=str(db_old), prev_report=prev_dir,
        baseline=None, check_audio=True, n_scopes=8, report=out_dir))

    assert delta["passfail_digest"] == full["passfail_digest"]
    assert delta["n_violation_rows"] == full["n_violation_rows"]
    assert delta["all_passed"] == full["all_passed"]
    assert delta["churn"]["n_removed"] == 4
    assert delta["churn"]["n_changed"] == 3
    assert 0 < delta["n_dirty_scopes"] < 8
    assert 0 < delta["n_rows_revalidated"] < n
    assert delta["revalidate_fraction"] < 1.0

    # the merged report chains: it is a valid --prev-report for day 3
    merged_pf = spark.read.parquet(f"{out_dir}/passfail")
    assert merged_pf.count() == delta["n_passfail_rows"]
    assert prev["passfail_digest"] != full["passfail_digest"]
