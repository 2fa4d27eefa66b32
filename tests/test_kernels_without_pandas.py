"""The Python-worker kernels of the profile and the audio source never
import pandas.

Each kernel is pickled the way Spark ships it (cloudpickle) and run in a
fresh interpreter where pandas is importable, on record batches read
from parquet with ``ParquetFile.iter_batches``; the interpreter then
reports whether ``pandas`` is in ``sys.modules``.  Hiding pandas
(``sys.modules["pandas"] = None``) would not test this: pyarrow then
just reports no pandas and every call passes.
"""

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import cloudpickle

from drivel_spark.constraints.audio import _snr_batches
from drivel_spark.fixtures import ClipFixtureSpec, clips_pdf
from drivel_spark.profiling.accumulator import ProfilerOptions
from drivel_spark.profiling.profiler import _fold_partition, _merge_partition

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN = r"""
import importlib.util, json, pickle, sys
import pyarrow as pa, pyarrow.parquet as pq

assert importlib.util.find_spec("pandas") is not None
with open(sys.argv[1], "rb") as fh:
    k = pickle.load(fh)
batches = [b for p in sys.argv[2:4] for b in pq.ParquetFile(p).iter_batches(batch_size=7)]
cols = k["columns"]
plain = [pa.RecordBatch.from_arrays([b.column(c) for c in cols], names=cols) for b in batches]
keyed = [pa.RecordBatch.from_arrays([b.column("f")] + [b.column(c) for c in cols],
                                    names=["__key"] + cols) for b in batches]
partials = list(k["unkeyed"](iter(plain))) + list(k["keyed"](iter(keyed)))
merged = [r for b in k["merge"](iter(partials)) for r in b.to_pylist()]
scored = list(k["audio"](pq.ParquetFile(sys.argv[4]).iter_batches(batch_size=16)))
snr = [x for b in scored for x in b.column("__snr").to_pylist()]
print(json.dumps({
    "pandas": "pandas" in sys.modules,
    "keys": sorted(r["key"] for r in merged),
    "n_rows": {r["key"]: pickle.loads(r["acc"]).n_rows for r in merged},
    "n_snr": len(snr), "n_snr_ok": sum(x >= 30 for x in snr),
}))
"""


def _write_inputs(tmp):
    """Two small parquet files with NULLs in every profiled column, and
    an audio source's narrow rows over a clips file."""
    rng = np.random.default_rng(3)
    paths = []
    for f in range(2):
        n = 23 + f
        null = rng.random(n) < 0.2
        s = [None if null[i] else ["a", "bé", "2024-01-02", "x@y.org"][i % 4] for i in range(n)]
        table = pa.table({
            "f": [None if i % 5 == 0 else f"file{f}-{i % 2}" for i in range(n)],
            "s": pa.array(s, pa.string()),
            "i": pa.array([None if null[i] else i for i in range(n)], pa.int64()),
            "d": pa.array([None if i % 3 == 0 else float("nan") if i == 4 else i / 3
                           for i in range(n)]),
            "b": pa.array([None if null[i] else bool(i % 2) for i in range(n)]),
            "y": pa.array([None if null[i] else b"\x00" * i for i in range(n)], pa.binary()),
            "l": pa.array([None if null[i] else list(range(i % 4)) for i in range(n)]),
        })
        paths.append(os.path.join(tmp, f"part-{f}.parquet"))
        pq.write_table(table, paths[-1])
    clips = pa.Table.from_pandas(clips_pdf(range(40)), preserve_index=False)
    clips_path = os.path.join(tmp, "clips.parquet")
    pq.write_table(clips, clips_path, row_group_size=16)
    narrow = clips.drop_columns(["bytes"]).append_column(
        "__file", pa.array([f"file://{clips_path}"] * clips.num_rows)
    ).append_column("__row", pa.array(np.arange(clips.num_rows, dtype=np.int64)))
    narrow_path = os.path.join(tmp, "narrow.parquet")
    pq.write_table(narrow, narrow_path)
    return paths, narrow_path, [c for c in clips.column_names if c != "bytes"]


def test_profile_merge_and_audio_kernels_run_without_pandas(tmp_path):
    paths, narrow_path, clip_cols = _write_inputs(str(tmp_path))
    cols = ["s", "i", "d", "b", "y", "l"]
    schema = pq.read_schema(paths[0])
    types = {"string": "string", "int64": "bigint", "double": "double", "bool": "boolean",
             "binary": "binary", "list<element: int64>": "array<bigint>"}
    col_types = [(c, types[str(schema.field(c).type)]) for c in cols]
    opts = ProfilerOptions()
    spec = ClipFixtureSpec()
    kernels = {
        "columns": cols,
        "unkeyed": _fold_partition(False, col_types, opts),
        "keyed": _fold_partition(True, col_types, opts),
        "merge": _merge_partition,
        "audio": _snr_batches(40, spec.seed, False, clip_cols + ["__snr"],
                              spec.audio_cap_ms, (4000, 48000)),
    }
    blob = tmp_path / "kernels.pkl"
    blob.write_bytes(cloudpickle.dumps(kernels))
    env = {**os.environ, "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, "-c", _RUN, str(blob), *paths, narrow_path],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["pandas"] is False
    # the unkeyed partial (partition id -1) plus one per key, NULL keys included
    assert res["keys"] == ["-1", "file0-0", "file0-1", "file1-0", "file1-1", "␀null"]
    assert res["n_rows"]["-1"] == 47
    assert sum(v for k, v in res["n_rows"].items() if k != "-1") == 47
    assert res["n_snr"] == 40 and res["n_snr_ok"] >= 30
