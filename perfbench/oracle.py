"""Independent oracle: DuckDB over the same parquet files the program
reads, plus the fixtures' closed-form violation rows.

Expected values are computed once per run from the inputs (untimed);
every op's output is then compared against them.  Each ``check_*``
returns a list of human-readable problems; an op with any problem
counts as failed.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np

SR_ENUM = (8000, 16000, 22050, 44100, 48000)
CODEC_ENUM = ("pcm_s16le", "flac", "opus", "mp3")
UUID_SQL = "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
# the built-in drift constraints' KS limit; the oracle decides a drift
# verdict only when the exact KS statistic is this far from the limit
KS_LIMIT, KS_MARGIN = 0.1, 0.03


def _glob(d: str) -> str:
    return os.path.join(d, "*.parquet")


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def closed_form_violations(n: int) -> dict[str, int]:
    """Violation counts the fixtures inject at modular row positions
    (drivel_spark/fixtures.py, variant "default")."""
    i = np.arange(n)
    dup = (i % 1000 == 500) & (i >= 1000)
    meta = (i % 500 == 3) | (i % 500 == 7) | (i % 1000 == 11) | (i % 200 == 13)
    return {
        "sr_enum": int((i % 500 == 3).sum()),
        "dur_range": int((i % 500 == 7).sum()),
        "codec_enum": int((i % 1000 == 11).sum()),
        "transcript_not_null": int((i % 200 == 13).sum()),
        "clip_id_uuid": 0,
        "audio_snr_30db": int(dup.sum()),
        "_rows_any_violation": int((dup | meta).sum()),
    }


def _ks(a: np.ndarray, b: np.ndarray) -> float:
    a, b = np.sort(a), np.sort(b)
    grid = np.concatenate([a, b])
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def validate_expectations(data: str, clean: str) -> dict:
    """Per-constraint violation totals for the clips table at ``data``
    against its clean twin at ``clean`` (the drift baseline)."""
    con = _con()
    con.execute(
        f"CREATE VIEW clips AS SELECT clip_id, sr_hz, dur_ms, codec, transcript "
        f"FROM read_parquet('{_glob(data + '/clips')}')"
    )
    con.execute(f"CREATE VIEW tr AS SELECT clip_id FROM read_parquet('{_glob(data + '/transcripts')}')")
    sr = ",".join(str(v) for v in SR_ENUM)
    codec = ",".join(f"'{v}'" for v in CODEC_ENUM)
    flags = (
        f"sr_hz NOT IN ({sr}) AS sr_enum, "
        f"(dur_ms < 200 OR dur_ms > 30000) AS dur_range, "
        f"codec NOT IN ({codec}) AS codec_enum, "
        f"transcript IS NULL AS transcript_not_null, "
        f"NOT regexp_full_match(clip_id, '{UUID_SQL}') AS clip_id_uuid"
    )
    con.execute(f"CREATE VIEW flagged AS SELECT clip_id, {flags} FROM clips")
    meta_cols = ["sr_enum", "dur_range", "codec_enum", "transcript_not_null", "clip_id_uuid"]
    row = con.execute(
        "SELECT count(*), "
        + ", ".join(f"count(*) FILTER (WHERE {c})" for c in meta_cols)
        + ", count(*) FILTER (WHERE " + " OR ".join(meta_cols) + ") FROM flagged"
    ).fetchone()
    n, *per, meta_any = row
    exp = dict(zip(meta_cols, per))
    # a duplicated clip_id's later copy carries its own audio, so its
    # decoded PCM does not match the re-synthesis keyed by the id's
    # first row: the SNR check fails exactly once per extra copy
    dup_keys, dup_extra = con.execute(
        "SELECT count(*), coalesce(sum(c - 1), 0) FROM "
        "(SELECT count(*) AS c FROM clips GROUP BY clip_id HAVING count(*) > 1)"
    ).fetchone()
    overlap = con.execute(
        "SELECT count(*) FROM flagged WHERE clip_id IN "
        "(SELECT clip_id FROM clips GROUP BY clip_id HAVING count(*) > 1) AND ("
        + " OR ".join(meta_cols) + ")"
    ).fetchone()[0]
    exp["audio_snr_30db"] = int(dup_extra)
    exp["_rows_any_violation"] = int(meta_any + dup_extra)
    orphans = con.execute(
        "SELECT count(*) FROM clips c WHERE NOT EXISTS "
        "(SELECT 1 FROM tr WHERE tr.clip_id = c.clip_id)"
    ).fetchone()[0]
    cur = con.execute("SELECT dur_ms, sr_hz FROM clips").fetchnumpy()
    base = con.execute(
        f"SELECT dur_ms, sr_hz FROM read_parquet('{_glob(clean + '/clips')}')"
    ).fetchnumpy()
    con.close()
    ks = {
        "dur_drift": _ks(cur["dur_ms"], base["dur_ms"]),
        "sr_drift": _ks(cur["sr_hz"], base["sr_hz"]),
    }
    return {
        "n_rows": int(n),
        "row": {k: int(v) for k, v in exp.items()},
        "dataset": {
            "clip_id_unique": int(dup_extra),
            "clip_has_transcript": int(orphans),
        },
        "dup_keys": int(dup_keys),
        "ks": ks,
        "closed_form": closed_form_violations(int(n)),
        # a row that is both a duplicate copy and a metadata violation
        # would make the any-violation total ambiguous to this oracle
        "ambiguous_rows": int(overlap),
    }


def self_consistency(exp: dict) -> list[str]:
    """The DuckDB totals must equal the fixtures' closed form."""
    problems = []
    if exp["ambiguous_rows"]:
        problems.append(f"{exp['ambiguous_rows']} duplicate rows also violate metadata")
    for name, want in exp["closed_form"].items():
        if exp["row"].get(name) != want:
            problems.append(f"duckdb {name}={exp['row'].get(name)} != closed form {want}")
    return problems


def check_validate(exp: dict, out: dict, report: str) -> list[str]:
    """One ``cmd_validate`` result and its written report."""
    problems = []
    if out.get("n_rows") != exp["n_rows"]:
        problems.append(f"n_rows {out.get('n_rows')} != {exp['n_rows']}")
    if out.get("n_violation_rows") != exp["row"]["_rows_any_violation"]:
        problems.append(
            f"n_violation_rows {out.get('n_violation_rows')} != "
            f"{exp['row']['_rows_any_violation']}"
        )
    con = _con()
    try:
        got = dict(
            con.execute(
                "SELECT \"constraint\", sum(n_violations) FROM read_parquet(?) "
                "WHERE partition_id >= 0 GROUP BY 1",
                [_glob(os.path.join(report, "passfail"))],
            ).fetchall()
        )
        n_rows = con.execute(
            "SELECT sum(n_rows) FROM read_parquet(?) "
            "WHERE \"constraint\" = '_rows_any_violation'",
            [_glob(os.path.join(report, "passfail"))],
        ).fetchone()[0]
        n_viol_rows = con.execute(
            "SELECT count(*) FROM read_parquet(?)",
            [_glob(os.path.join(report, "violations"))],
        ).fetchone()[0]
    except duckdb.Error as e:
        return problems + [f"report unreadable: {e}"]
    finally:
        con.close()
    for name, want in exp["row"].items():
        if int(got.get(name, -1)) != want:
            problems.append(f"report {name}={got.get(name)} != {want}")
    if n_rows != exp["n_rows"]:
        problems.append(f"report n_rows {n_rows} != {exp['n_rows']}")
    if n_viol_rows != exp["row"]["_rows_any_violation"]:
        problems.append(f"violations table has {n_viol_rows} rows")
    ds = {d["constraint"]: d for d in out.get("dataset_checks", [])}
    for name, want in exp["dataset"].items():
        if name not in ds or ds[name]["n_violations"] != want:
            problems.append(f"dataset {name}={ds.get(name)} != {want}")
    for name, ks in exp["ks"].items():
        if name not in ds:
            problems.append(f"drift check {name} missing")
        elif abs(ks - KS_LIMIT) > KS_MARGIN and ds[name]["passed"] != (ks < KS_LIMIT):
            problems.append(f"{name} passed={ds[name]['passed']} but exact KS={ks:.4f}")
    return problems


def check_resume(cold: dict, resumed: dict) -> list[str]:
    problems = []
    if resumed.get("passfail_digest") != cold.get("passfail_digest"):
        problems.append("resume passfail_digest differs from the cold run's")
    st = resumed.get("resume") or {}
    if st.get("n_recomputed") != 0 or st.get("n_restored") != st.get("n_units"):
        problems.append(f"resume did not restore every unit: {st}")
    return problems


# ---------------------------------------------------------------------------
# infer / produce round trip
# ---------------------------------------------------------------------------


def table_expectations(path: str) -> dict:
    """Per column: null count, min, max (numbers and timestamps) and the
    distinct set of string columns."""
    con = _con()
    src = f"read_parquet('{_glob(path)}')"
    cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    out = {"n_rows": int(n), "columns": {}}
    for name, typ, *_ in cols:
        nulls, lo, hi = con.execute(
            f'SELECT count(*) - count("{name}"), min("{name}"), max("{name}") FROM {src}'
        ).fetchone()
        col = {"type": typ, "n_null": int(nulls), "min": lo, "max": hi}
        if typ == "VARCHAR":
            col["distinct"] = sorted(
                r[0] for r in con.execute(f'SELECT DISTINCT "{name}" FROM {src}').fetchall()
                if r[0] is not None
            )
        out["columns"][name] = col
    con.close()
    return out


def check_profile(exp: dict, summary: list[dict]) -> list[str]:
    """The program's profile summary against the DuckDB column stats."""
    problems = []
    got = {s["column"]: s for s in summary}
    for name, col in exp["columns"].items():
        s = got.get(name)
        if s is None:
            problems.append(f"profile lacks column {name}")
            continue
        if s.get("n") != exp["n_rows"] or s.get("n_null") != col["n_null"]:
            problems.append(f"{name}: n/n_null {s.get('n')}/{s.get('n_null')}")
        if col["type"] in ("BIGINT", "INTEGER", "DOUBLE"):
            if s.get("min") != col["min"] or s.get("max") != col["max"]:
                problems.append(f"{name}: min/max {s.get('min')}/{s.get('max')} "
                                f"!= {col['min']}/{col['max']}")
        elif col["type"].startswith("TIMESTAMP"):
            import pandas as pd

            if (pd.Timestamp(s.get("min")) != pd.Timestamp(col["min"])
                    or pd.Timestamp(s.get("max")) != pd.Timestamp(col["max"])):
                problems.append(f"{name}: min/max {s.get('min')}/{s.get('max')}")
    return problems


def check_produced(src: dict, out_path: str, n_expected: int) -> list[str]:
    """Produced rows: the requested count, every value inside the source
    column's range, every string drawn from the source's values."""
    problems = []
    con = _con()
    g = f"read_parquet('{_glob(out_path)}')"
    try:
        n = con.execute(f"SELECT count(*) FROM {g}").fetchone()[0]
        if n != n_expected:
            problems.append(f"produced {n} rows, wanted {n_expected}")
        for name, col in src["columns"].items():
            if col["type"] in ("BIGINT", "INTEGER", "DOUBLE"):
                bad = con.execute(
                    f'SELECT count(*) FROM {g} WHERE "{name}" < ? OR "{name}" > ?',
                    [col["min"], col["max"]],
                ).fetchone()[0]
                if bad:
                    problems.append(f"produced {name}: {bad} values outside source range")
            elif col["type"] == "VARCHAR":
                vals = {r[0] for r in con.execute(f'SELECT DISTINCT "{name}" FROM {g}').fetchall()}
                if not vals <= set(col["distinct"]) | {None}:
                    problems.append(f"produced {name}: values outside the source's enum")
    except duckdb.Error as e:
        problems.append(f"produced table unreadable: {e}")
    finally:
        con.close()
    return problems


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))
