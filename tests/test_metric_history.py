"""Run-over-run metric anomaly detection (constraints/history.py)."""

import json
import pickle
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from drivel_spark.constraints import (
    load_metrics_history,
    metric_anomalies,
    metric_anomaly_report,
)


def _hist_df(spark, values, metric="n_rows"):
    return spark.createDataFrame(
        [(metric, i, float(v)) for i, v in enumerate(values)],
        "metric string, run_seq long, value double",
    )


def test_planted_spike_flagged(spark):
    """A stable series with one spike: the spike is the ONLY flagged
    run, and runs after it stay unflagged (median/MAD absorb it)."""
    vals = [100, 102, 98, 101, 99, 100, 500, 101, 100, 99]
    rep = metric_anomaly_report(_hist_df(spark, vals), window=5, k=3.0)
    rows = {r["run_seq"]: r for r in rep.collect()}
    flagged = [i for i, r in sorted(rows.items()) if r["is_anomaly"]]
    assert flagged == [6]
    # robust center: run 7's window contains the spike but its median
    # stays near 100, so run 7 is NOT dragged into an alarm
    assert rows[7]["hist_median"] == pytest.approx(100.5, abs=1.0)


def test_min_history_gates_judgment(spark):
    """Young history (n_hist < min_history) yields NULL judgment, never
    a verdict either way."""
    rep = metric_anomaly_report(
        _hist_df(spark, [100, 9999, 100, 100, 100]), window=5, min_history=3
    )
    rows = {r["run_seq"]: r for r in rep.collect()}
    assert rows[0]["is_anomaly"] is None and rows[0]["n_hist"] == 0
    assert rows[1]["is_anomaly"] is None  # only 1 run of history
    assert rows[2]["is_anomaly"] is None  # only 2
    assert rows[3]["is_anomaly"] is not None


def test_degenerate_mad_flags_any_deviation(spark):
    """MAD = 0 (identical window): any deviation flags, equality does
    not; robust_z is NULL in the degenerate regime."""
    rep = metric_anomaly_report(
        _hist_df(spark, [5, 5, 5, 5, 5, 6, 5]), window=4, min_history=3
    )
    rows = {r["run_seq"]: r for r in rep.collect()}
    assert rows[5]["is_anomaly"] is True and rows[5]["robust_z"] is None
    assert rows[4]["is_anomaly"] is False
    # run 6's window [5,5,5,6] has MAD 0 ... median 5, value 5 -> pass
    assert rows[6]["hist_mad"] == 0.0 and rows[6]["is_anomaly"] is False


def test_rel_change_detector(spark):
    """max_rel_change flags a halved row count even when the robust
    fences are still warming up."""
    rep = metric_anomaly_report(
        _hist_df(spark, [100, 45, 44]), window=5, max_rel_change=0.5
    )
    rows = {r["run_seq"]: r for r in rep.collect()}
    assert rows[0]["rel_change"] is None and rows[0]["rel_anomaly"] is None
    assert rows[1]["rel_change"] == pytest.approx(-0.55)
    assert rows[1]["rel_anomaly"] is True
    assert rows[2]["rel_anomaly"] is False
    flagged = metric_anomalies(rep).collect()
    assert [r["run_seq"] for r in flagged] == [1]


def test_matches_local_replay(spark):
    """Property: every column equals a numpy replay of the definition
    (trailing-window interpolated median/MAD, robust z, lag change) on
    a seeded random series across two metrics."""
    rng = np.random.default_rng(42)
    series = {
        "m_a": rng.normal(100, 5, 40).round(3),
        "m_b": np.concatenate(
            [rng.uniform(0, 1, 20), rng.uniform(50, 51, 20)]
        ).round(3),
    }
    rows = [
        (m, i, float(v))
        for m, vs in series.items()
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "metric string, run_seq long, value double")
    window, k, min_h = 7, 2.5, 3
    rep = metric_anomaly_report(df, window=window, k=k, min_history=min_h)
    got = {(r["metric"], r["run_seq"]): r for r in rep.collect()}

    def med(a):
        return float(np.median(a)) if len(a) else None

    for m, vs in series.items():
        for i, v in enumerate(vs):
            hist = vs[max(0, i - window) : i]
            r = got[(m, i)]
            assert r["n_hist"] == len(hist)
            if len(hist) == 0:
                assert r["hist_median"] is None
                continue
            hm = med(hist)
            hmad = med(np.abs(np.asarray(hist) - hm))
            assert r["hist_median"] == pytest.approx(hm, abs=1e-9)
            assert r["hist_mad"] == pytest.approx(hmad, abs=1e-9)
            if hmad > 0:
                z = abs(float(v) - hm) / (1.4826 * hmad)
                assert r["robust_z"] == pytest.approx(z, rel=1e-9)
                expect = None if len(hist) < min_h else (z > k)
            else:
                expect = None if len(hist) < min_h else (float(v) != hm)
            assert r["is_anomaly"] == expect
            if i > 0 and vs[i - 1] != 0:
                rc = (float(v) - float(vs[i - 1])) / abs(float(vs[i - 1]))
                assert r["rel_change"] == pytest.approx(rc, rel=1e-9)


def test_load_metrics_history_roundtrip(spark, tmp_path):
    """Loader: flattens metrics_json (nested n_null -> dotted names),
    sums per run over units, dedups idempotent re-commits latest-wins,
    sequences runs by first commit time — and the result feeds the
    report directly."""
    from drivel_spark.checkpoint.store import CheckpointStore, make_commit_row

    store = CheckpointStore(str(tmp_path / "ck"))
    blob = pickle.dumps({"x": 1})
    t0 = time.time()
    rows = []
    for seq, (run, n_rows_by_unit) in enumerate(
        [("r1", [100, 100]), ("r2", [101, 99]), ("r3", [30, 30])]
    ):
        for u, n in enumerate(n_rows_by_unit):
            row = make_commit_row(
                run, f"f{u}", "snap", blob,
                {"n_rows": n, "n_null": {"codec": n // 10}},
            )
            row["committed_at"] = t0 + seq * 100 + u
            rows.append(row)
    # idempotent re-commit of r1/f0 with a corrected count: latest wins
    fix = make_commit_row("r1", "f0", "snap", blob,
                          {"n_rows": 102, "n_null": {"codec": 10}})
    fix["committed_at"] = t0 + 5
    rows.append(fix)
    store.append(rows)

    hist = load_metrics_history(spark, str(tmp_path / "ck"))
    got = {(r["run_id"], r["metric"]): r["value"] for r in hist.collect()}
    assert got[("r1", "n_rows")] == 202.0  # 102 (re-commit) + 100
    assert got[("r2", "n_rows")] == 200.0
    assert got[("r3", "n_rows")] == 60.0
    assert got[("r1", "n_null.codec")] == 20.0
    # run_seq orders by first commit time: r1 < r2 < r3
    seqs = {
        r["run_id"]: r["run_seq"]
        for r in hist.where(F.col("metric") == "n_rows").collect()
    }
    assert seqs["r1"] < seqs["r2"] < seqs["r3"]
    rep = metric_anomaly_report(
        hist.where(F.col("metric") == "n_rows"),
        window=5, min_history=1, max_rel_change=0.5,
    )
    by_run = {r["run_id"]: r for r in rep.collect()}
    assert by_run["r3"]["rel_anomaly"] is True  # 200 -> 60


def _commit_stream_files(out, files, t0=1_700_000_000.0):
    """files: [{constraint: n_viol}] in commit order, one committed
    validate-stream unit each (100 rows; ``_rows_any_violation`` is
    the sum), ``f{i}`` committed at ``t0 + i``."""
    from drivel_spark.checkpoint.store import CheckpointStore, make_commit_row

    rows = []
    for i, viol in enumerate(files):
        viol = {**viol, "_rows_any_violation": sum(viol.values())}
        row = make_commit_row("validate-stream:rows[k]", f"f{i}", "snap", b"{}",
                              {"n_rows": 100, "viol": viol})
        row["committed_at"] = t0 + i
        rows.append(row)
    CheckpointStore(out).append(rows)


def test_load_stream_batch_history(spark, tmp_path):
    """Stream-store loader: each committed file is one run (sequenced by
    its commit time), its constraints become viol.* metrics, and a
    rewritten file scores its latest commit only."""
    from drivel_spark.checkpoint.store import CheckpointStore, make_commit_row
    from drivel_spark.constraints import (
        load_stream_batch_history,
        metric_anomaly_report,
        metric_anomalies,
    )

    out = str(tmp_path / "ck")
    t0 = 1_700_000_000.0
    # file 5: violation burst
    _commit_stream_files(out, [{"dur_range": 1 if i < 5 else 40} for i in range(6)], t0)
    # f1 rewritten and validated again: the latest commit wins
    fix = make_commit_row("validate-stream:rows[k]", "f1", "snap2", b"{}",
                          {"n_rows": 100, "viol": {"dur_range": 2, "_rows_any_violation": 2}})
    fix["committed_at"] = t0 + 1.5
    CheckpointStore(out).append([fix])

    hist = load_stream_batch_history(spark, out)
    got = {(r["metric"], r["run_id"]): (r["run_seq"], r["value"]) for r in hist.collect()}
    assert got[("viol.dur_range", "f0")] == (t0, 1.0)
    assert got[("viol.dur_range", "f5")] == (t0 + 5, 40.0)
    assert got[("viol.dur_range", "f1")] == (t0 + 1.5, 2.0)
    assert got[("n_rows", "f3")] == (t0 + 3, 100.0)
    assert hist.count() == 6 * 3

    rep = metric_anomaly_report(hist, window=5, min_history=3, k=3.0)
    flagged = metric_anomalies(rep).collect()
    assert {(r["metric"], r["run_id"]) for r in flagged} == {
        ("viol.dur_range", "f5"),
        ("viol._rows_any_violation", "f5"),
    }


def test_history_verb_stream_report(spark, tmp_path, capsys):
    """history --stream-checkpoint: the CLI arm surfaces the bursty
    file; the old --stream-report option is gone, so argparse refuses
    it instead of reading a batch_id=N dir."""
    from drivel_spark.job import main

    out = str(tmp_path / "ck")
    _commit_stream_files(out, [{"dur_range": 2 if i < 4 else 60} for i in range(5)])
    main(["history", "--stream-checkpoint", out,
          "--window", "5", "--min-history", "3"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["mode"] == "stream-files"
    assert res["n_runs"] == 5
    flagged = {(a["metric"], a["run_id"]) for a in res["anomalies"]}
    assert ("viol.dur_range", "f4") in flagged
    with pytest.raises(SystemExit):
        main(["history", "--stream-report", out])


def test_dead_constraints(spark, tmp_path):
    """A constraint with zero violations in every committed file is
    reported dead once min_runs is met; firing once anywhere clears it;
    the synthetic _rows_any_violation counter is never listed."""
    from drivel_spark.constraints import (
        dead_constraints,
        load_stream_batch_history,
    )

    out = str(tmp_path / "ck")
    _commit_stream_files(
        out, [{"never_fires": 0, "fires_once": 1 if i == 2 else 0} for i in range(4)]
    )
    hist = load_stream_batch_history(spark, out)
    dead = {r["constraint"]: r["n_runs"] for r in dead_constraints(hist).collect()}
    assert dead == {"never_fires": 4}
    # below the min_runs gate nothing is judged
    assert dead_constraints(hist, min_runs=5).count() == 0


def test_abs_tolerance_floor(spark):
    """abs_tolerance: a 1-count step over a constant window no longer
    alarms under either detector, while a real jump still does."""
    rep = metric_anomaly_report(
        _hist_df(spark, [1, 1, 1, 1, 0, 1, 30]),
        window=4, min_history=3, max_rel_change=0.5, abs_tolerance=2.0,
    )
    rows = {r["run_seq"]: r for r in rep.collect()}
    # run 4: MAD 0, |0-1|=1 <= tol -> no alarm; rel change -1.0 within tol
    assert rows[4]["is_anomaly"] is False
    assert rows[4]["rel_anomaly"] is False
    # run 6: |30-1|=29 beyond tol -> both detectors fire
    assert rows[6]["is_anomaly"] is True
    assert rows[6]["rel_anomaly"] is True
