"""Self-test of the benchmark at a tiny size (500 clips, 20,000 rows).

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json and both --trace modes,
that the last stdout line is the result object with exactly the
contract's keys and every metric BENCHMARK.json names, each with its
unit; that a deliberately corrupted op output is counted as a failed
op; that layers.json covers every metric and workload; and that run.py,
copied without the program next to it, exits non-zero without printing
a result.  Exits 0 when every check holds.
"""

from __future__ import annotations

import io
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import execute, load_spec  # noqa: E402

TINY = {"audio_validate": 500, "infer_produce_roundtrip": 20_000}
SEED = 7


def _corrupt(workload: str):
    """Tamper with the first measured op's output, after the op and
    before the oracle sees it."""
    from perfbench.workloads import WORKLOADS

    def tamper(i, res):
        if i != WORKLOADS[workload].warmup_ops:
            return
        if workload == "audio_validate":
            res["out"]["n_violation_rows"] += 1
        else:
            res["schema2"] = {"type": "object", "properties": {}}

    return tamper


def check_result_line(text: str, spec: dict, trace: bool) -> list[str]:
    problems = []
    last = text.strip().splitlines()[-1]
    res = json.loads(last)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    group = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in group}
    got = res["metrics"]
    if set(got) != set(want):
        problems.append(f"metric names differ: {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        m = got.get(name, {})
        if m.get("unit") != unit:
            problems.append(f"{name}: unit {m.get('unit')!r} != {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{name}: value {v!r}")
        elif not trace and v <= 0:
            problems.append(f"{name}: end-to-end value {v} is not positive")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1):
        problems.append(f"attempted {res['attempted']!r}")
    if res["correct"] is not True or res["failed"] != 0:
        problems.append(f"clean run reported correct={res['correct']} failed={res['failed']}")
    return problems


def check_layer_map(spec: dict) -> list[str]:
    """layers.json maps every per-layer metric and describes every
    workload and end-to-end metric BENCHMARK.json names."""
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    mapped = {m["metric"] for m in layers["map"]}
    problems = [f"layers.json does not map {m['name']}"
                for m in spec["per_layer"] if m["name"] not in mapped]
    problems += [f"layers.json lacks workload {w['name']}"
                 for w in spec["workloads"] if w["name"] not in layers["workloads"]]
    problems += [f"layers.json lacks end-to-end metric {m['name']}"
                 for m in spec["end_to_end"] if m["name"] not in layers["end_to_end"]]
    return problems


def check_bare_copy() -> list[str]:
    """run.py without drivel_spark/ beside it must fail fast, silently."""
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for f in os.listdir(HERE):
        if f.endswith((".py", ".json", ".md")):
            shutil.copy(os.path.join(HERE, f), os.path.join(bare, "perfbench"))
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "audio_validate",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    problems = []
    if p.returncode == 0:
        problems.append("bare copy exited 0")
    if p.stdout.strip():
        problems.append(f"bare copy printed {p.stdout.strip()[:200]!r}")
    return problems


def main() -> int:
    spec = load_spec()
    failures: list[str] = []
    failures += check_layer_map(spec)
    failures += [f"bare: {p}" for p in check_bare_copy()]
    for w in spec["workloads"]:
        name = w["name"]
        for trace in (False, True):
            buf = io.StringIO()
            execute(name, SEED, 1, trace, size=TINY[name], out=buf)
            sys.stdout.write(buf.getvalue())
            failures += [f"{name} trace={int(trace)}: {p}"
                         for p in check_result_line(buf.getvalue(), spec, trace)]
        buf = io.StringIO()
        res = execute(name, SEED, 1, False, size=TINY[name], tamper=_corrupt(name), out=buf)
        if res["correct"] or res["failed"] != 1:
            failures.append(f"{name}: corrupted op not counted: {res}")
    for f in failures:
        print(f"SELFTEST FAIL {f}", file=sys.stderr)
    print(json.dumps({"selftest": "fail" if failures else "ok", "failures": len(failures)}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
