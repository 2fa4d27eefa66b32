"""Seeded benchmark inputs, cached by (workload, seed, size) and
fingerprinted by content.

Inputs are written with pyarrow from the program's own fixture
generators (``drivel_spark.fixtures``) in child interpreters, never
through Spark, so generating (or reusing) them leaves no trace in the
Spark session the benchmark then times.  Each cache entry records the
SHA-256 of its files; the fingerprint is recomputed from the bytes on
every run and printed with the result, so two runs (say, a parent and a
child commit) can be checked to have read identical inputs even if the
fixture code changed between them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# bumped whenever the generator below changes what it writes
GEN_VERSION = 1

CLIPS_ARROW = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)
TRANSCRIPTS_ARROW = pa.schema(
    [("clip_id", pa.string()), ("transcript", pa.string()), ("lang", pa.string())]
)
LINEITEM_ARROW = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)


def fingerprint(root: str) -> str:
    """SHA-256 over every file under ``root`` (relative path + bytes),
    in sorted order; the cache manifest is excluded (Spark skips it too,
    like any file whose name starts with "_")."""
    h = hashlib.sha256()
    paths = []
    for d, _, files in os.walk(root):
        for f in files:
            if f != "_manifest.json":
                paths.append(os.path.relpath(os.path.join(d, f), root))
    for rel in sorted(paths):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:32]


_SLICE_MAIN = (
    "import json, sys\n"
    "from perfbench.inputs import _write_clips_slice\n"
    "for task in json.loads(sys.argv[1]):\n"
    "    _write_clips_slice(task)\n"
)


def _write_clips_slice(task) -> None:
    """One clips file + one transcripts file for rows [lo, hi)."""
    out, part, lo, hi, seed, variant, with_audio = task
    from drivel_spark.fixtures import ClipFixtureSpec, clips_pdf, transcripts_pdf

    spec = ClipFixtureSpec(seed=seed, variant=variant, with_audio=with_audio)
    ids = np.arange(lo, hi, dtype=np.int64)
    name = f"part-{part:05d}.parquet"
    pq.write_table(
        pa.Table.from_pandas(clips_pdf(ids, spec), schema=CLIPS_ARROW, preserve_index=False),
        os.path.join(out, "clips", name),
    )
    if variant != "clean":
        pq.write_table(
            pa.Table.from_pandas(
                transcripts_pdf(ids, spec), schema=TRANSCRIPTS_ARROW, preserve_index=False
            ),
            os.path.join(out, "transcripts", name),
        )


def _build_clips(out: str, n: int, n_files: int, seed: int, variant: str,
                 with_audio: bool, procs: int) -> None:
    os.makedirs(os.path.join(out, "clips"))
    if variant != "clean":
        os.makedirs(os.path.join(out, "transcripts"))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    tasks = [
        (out, k, int(bounds[k]), int(bounds[k + 1]), seed, variant, with_audio)
        for k in range(n_files)
    ]
    if procs <= 1:
        for t in tasks:
            _write_clips_slice(t)
    else:
        # plain child interpreters, one per chunk of slices, each waited for
        env = {**os.environ, "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}
        children = [
            subprocess.Popen(
                [sys.executable, "-c", _SLICE_MAIN, json.dumps(tasks[k::procs])],
                env=env,
            )
            for k in range(min(procs, len(tasks)))
        ]
        codes = [c.wait() for c in children]
        if any(codes):
            raise RuntimeError(f"input generation failed: exit codes {codes}")
    meta = {"n_rows": n, "partitions": n_files, "seed": seed,
            "variant": variant, "with_audio": with_audio}
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def _lineitem_table(n: int, seed: int) -> pa.Table:
    """TPC-H-shaped lineitem rows (same 11 columns and types as the
    benchmark spec's lineitem), drawn from ``seed``."""
    rng = np.random.default_rng([seed, 0x11E])
    line = rng.integers(1, 8, size=n).astype(np.int32)
    order = 1 + np.cumsum(line == 1) * 4
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, size=n), 2)
    day0 = np.datetime64("1992-01-02", "us")
    days = rng.integers(0, 2526, size=n).astype("timedelta64[D]")
    ship = day0 + days.astype("timedelta64[us]")
    cutoff = np.datetime64("1995-06-17", "us")
    return pa.table(
        {
            "l_orderkey": order.astype(np.int64),
            "l_partkey": rng.integers(1, 20_001, size=n).astype(np.int64),
            "l_suppkey": rng.integers(1, 1_001, size=n).astype(np.int64),
            "l_linenumber": line,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": np.where(
                ship > cutoff, "N", np.where(rng.random(n) < 0.5, "R", "A")
            ).astype(object),
            "l_linestatus": np.where(ship > cutoff, "O", "F").astype(object),
            "l_shipdate": ship,
        },
        schema=LINEITEM_ARROW,
    )


def _build_lineitem(out: str, n: int, n_files: int, seed: int) -> None:
    os.makedirs(out)
    t = _lineitem_table(n, seed)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(
            t.slice(int(bounds[k]), int(bounds[k + 1] - bounds[k])),
            os.path.join(out, f"part-{k:05d}.parquet"),
        )


# cache entries kept; the least recently used beyond this are deleted
CACHE_ENTRIES = 8


def _evict(cache_dir: str) -> None:
    entries = [os.path.join(cache_dir, e) for e in os.listdir(cache_dir)]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)


def _cached(cache_dir: str, key: str, build) -> tuple[str, str]:
    """Return (path, fingerprint) of the cache entry ``key``, building
    it with ``build(tmp_path)`` when missing or when its bytes no longer
    match the fingerprint recorded at build time."""
    path = os.path.join(cache_dir, key)
    manifest = os.path.join(path, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            recorded = json.load(fh)["fingerprint"]
        fp = fingerprint(path)
        if fp == recorded:
            os.utime(path)
            return path, fp
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    fp = fingerprint(tmp)
    with open(os.path.join(tmp, "_manifest.json"), "w") as fh:
        json.dump({"key": key, "fingerprint": fp}, fh)
    os.rename(tmp, path)
    _evict(cache_dir)
    return path, fp


def audio_inputs(cache_dir: str, seed: int, n_clips: int, procs: int) -> dict:
    """The audio clips table (default variant: violations injected at
    the fixtures' modular rows) plus its clean-variant metadata twin,
    which the benchmark profiles as the drift baseline."""
    data, fp = _cached(
        cache_dir, f"audio-s{seed}-n{n_clips}-g{GEN_VERSION}",
        lambda p: _build_clips(p, n_clips, 8, seed, "default", True, procs),
    )
    clean, fp_clean = _cached(
        cache_dir, f"audio-clean-s{seed}-n{n_clips}-g{GEN_VERSION}",
        lambda p: _build_clips(p, n_clips, 1, seed, "clean", False, 1),
    )
    return {"data": data, "clean": clean, "n_rows": n_clips,
            "fingerprint": f"{fp}+{fp_clean}"}


def lineitem_inputs(cache_dir: str, seed: int, n_rows: int) -> dict:
    data, fp = _cached(
        cache_dir, f"lineitem-s{seed}-n{n_rows}-g{GEN_VERSION}",
        lambda p: _build_lineitem(p, n_rows, 4, seed),
    )
    return {"data": data, "n_rows": n_rows, "fingerprint": fp}
