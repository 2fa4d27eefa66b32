"""The Python-worker kernels of the profile, produce and the audio
source never import pandas.

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
from drivel_spark.core import SchemaNode
from drivel_spark.fixtures import ClipFixtureSpec, clips_pdf
from drivel_spark.produce.generator import _VECTOR_FORMATS, _produce_batches
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
produced = list(k["produce"](pq.ParquetFile(sys.argv[5]).iter_batches(batch_size=64)))
ts = [pickle.loads(r["acc"]) for b in k["ts"](pq.ParquetFile(sys.argv[6]).iter_batches(batch_size=5))
      for r in b.to_pylist()]
print(json.dumps({
    "pandas": "pandas" in sys.modules,
    "keys": sorted(r["key"] for r in merged),
    "n_rows": {r["key"]: pickle.loads(r["acc"]).n_rows for r in merged},
    "n_snr": len(snr), "n_snr_ok": sum(x >= 30 for x in snr),
    "produced": {c: [x for b in produced for x in b.column(c).to_pylist()]
                 for c in produced[0].schema.names},
    "ts": {c: ts[0].cols[c].summary() for c in ("tn", "tz")},
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
    ids_path = os.path.join(tmp, "ids.parquet")
    pq.write_table(pa.table({"id": pa.array(np.arange(1000, 1150), pa.int64())}), ids_path)
    ticks = [None if i % 4 == 1 else (i - 6) * 10**15 + i for i in range(13)]
    ts_path = os.path.join(tmp, "ts.parquet")
    pq.write_table(pa.table({"tn": pa.array(ticks, pa.timestamp("us")),
                             "tz": pa.array(ticks, pa.timestamp("us", tz="America/Los_Angeles"))}),
                   ts_path)
    inputs = [narrow_path, ids_path, ts_path]
    return paths, inputs, [c for c in clips.column_names if c != "bytes"]


def _produce_fields():
    """One field per vectorized string format, an enum, a bool, an int,
    a float, an optional (nullable) int, a nested array and a null-only
    field, as produce_df passes them to its kernel."""
    fields = {f"s_{f}": SchemaNode.string(str_type=f) for f in sorted(_VECTOR_FORMATS)}
    fields.update(
        codec=SchemaNode.enum(["a", "b", "c"]),
        flag=SchemaNode.boolean(),
        n=SchemaNode.integer(5, 20),
        f=SchemaNode.floating(0.0, 1.0),
        opt=SchemaNode.integer(0, 9).with_nullable(),
        arr=SchemaNode.array(1, 3, SchemaNode.integer(0, 5)),
        nothing=SchemaNode.null(),
    )
    return fields


def test_profile_merge_and_audio_kernels_run_without_pandas(tmp_path):
    paths, inputs, clip_cols = _write_inputs(str(tmp_path))
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
        "produce": _produce_batches(_produce_fields(), 7),
        "ts": _fold_partition(False, [("tn", "timestamp_ntz"), ("tz", "timestamp")], opts),
    }
    blob = tmp_path / "kernels.pkl"
    blob.write_bytes(cloudpickle.dumps(kernels))
    env = {**os.environ, "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, "-c", _RUN, str(blob), *paths, *inputs],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["pandas"] is False
    # the unkeyed partial (partition id -1) plus one per key, NULL keys included
    assert res["keys"] == ["-1", "file0-0", "file0-1", "file1-0", "file1-1", "␀null"]
    assert res["n_rows"]["-1"] == 47
    assert sum(v for k, v in res["n_rows"].items() if k != "-1") == 47
    assert res["n_snr"] == 40 and res["n_snr_ok"] >= 30
    got = res["produced"]
    assert list(got) == list(_produce_fields())
    assert all(len(v) == 150 for v in got.values())
    assert got["nothing"] == [None] * 150
    assert 0 < got["opt"].count(None) < 150
    assert all(None not in got[c] for c in got if c not in ("nothing", "opt"))
    assert set(got["codec"]) == {"a", "b", "c"} and set(got["flag"]) == {False, True}
    assert all(1 <= len(json.loads(v)) <= 3 for v in got["arr"])
    # 13 values (3 NULL) in three unkeyed batches; Los Angeles wall time
    # is local mean time (-7:52:58) in 1779 and PST (-8:00) in 2160
    want = {"tn": ("1779-11-13 13:20:00", "2160-02-18 10:40:00.000012"),
            "tz": ("1779-11-13 05:27:02", "2160-02-18 02:40:00.000012")}
    for c, (lo, hi) in want.items():
        s = res["ts"][c]
        assert (s["n"], s["n_null"], s["min"], s["max"]) == (13, 3, lo, hi), c
