"""Benchmark driver: one workload, one process, one client, closed loop.

    python3 perfbench/run.py --workload audio_validate --seed 1 --seconds 8 --trace 0

Run from the repository root.  Builds (or reuses, by seed and size) the
workload's inputs, untimed; starts Spark at ``local[<cores>]``; sets up
(session, baseline profile, warm-up ops); then runs the workload's op
back to back for ``--seconds``, checking every op's output against the
DuckDB oracle.  With ``--trace 0`` it reports the end-to-end metrics
named in BENCHMARK.json; with ``--trace 1`` it alternates untraced and
traced ops and reports the per-layer metrics, including the tracing
overhead (traced minus untraced median op wall in the same run).

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it is a summary with the input fingerprint, sample
counts and the workload-specific figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_OPS = 3  # measured ops, even if they overrun --seconds
MEASURE_CAP_S = 90  # stop measuring after this long, whatever --seconds says


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Keep every file Spark and the program write inside the checkout
    and make the program importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if jvm_opts not in opts:
        os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} {jvm_opts}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM and the Python workers it
    forked, and wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spawned = process_tree(proc.pid) if proc is not None else set()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the workers exit when the JVM that forked them is gone
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in spawned:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 size: int | None = None, tamper=None):
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tamper = tamper
        self.work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.cache = os.path.join(HERE, ".cache")
        self.tracer = Tracer()
        self.w = WORKLOADS[workload](self.work, self.tracer)
        self.size = size or self.w.default_size
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.counters = None
        self.rss = None

    def _op(self, i: int, traced: bool):
        self.tracer.enabled = traced
        self.rss.new_window()
        t0 = time.perf_counter()
        try:
            res = self.w.op(i)
        except Exception:
            self.tracer.enabled = False
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"op {i} raised")
            return None
        wall = time.perf_counter() - t0
        rss_mb = self.rss.window_mb()
        self.tracer.enabled = False
        spark_c = self.counters.read() if self.counters is not None else None
        if self.tamper is not None:
            self.tamper(i, res)
        try:
            problems = self.w.check(res)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            problems = [f"oracle raised {e!r}"]
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"op {i}: {p}" for p in problems)
            for p in problems:
                print(f"oracle: op {i}: {p}", file=sys.stderr)
        return res, wall, spark_c, rss_mb

    def _layer(self, res, wall: float, spark_c: dict) -> dict[str, float]:
        self_t = self.tracer.self_times()
        counts = self.tracer.counts
        rows = self.w.rows
        m = {
            "io.read_table_s": self_t.get("io.read_table", 0.0),
            "io.input_bytes_per_row": spark_c["input_bytes"] / rows,
            "profiling.profile_s": self_t.get("profiling.profile", 0.0),
            "profiling.partials": counts.get("profiling.partials", 0),
            "profiling.partial_bytes": counts.get("profiling.partial_bytes", 0),
            "profiling.driver_merge_s": self_t.get("profiling.driver_merge", 0.0),
            "spark.tasks": spark_c["tasks"],
            "spark.failed_tasks": spark_c["failed_tasks"],
            "spark.executor_run_s": spark_c["executor_run_s"],
            "spark.capacity_s": wall * _cores(),
            "spark.core_busy_frac": spark_c["executor_run_s"] / (wall * _cores()),
            "spark.shuffle_write_bytes": spark_c["shuffle_write_bytes"],
            "spark.spill_bytes": spark_c["spill_bytes"],
            "spark.gc_s": spark_c["gc_s"],
        }
        m.update({k: v for k, v in counts.items() if k.startswith("sketches.")})
        m.update(self.w.layer_metrics(res, wall, spark_c))
        return m

    def execute(self) -> dict:
        from perfbench.trace import RssSampler

        t_start = time.perf_counter()
        inp = self.w.make_inputs(self.cache, self.seed, self.size, _cores())
        inputs_s = time.perf_counter() - t_start
        input_problems = self.w.input_problems()
        if input_problems:
            self.attempted += 1
            self.failed += 1
            self.problems.extend(f"inputs: {p}" for p in input_problems)
        from drivel_spark.config import build_session

        walls, traced_walls, untraced_walls = [], [], []
        per_op, layers = [], []
        with RssSampler() as self.rss:
            t0 = time.perf_counter()
            spark = build_session(
                "perfbench", cores=_cores(),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
            try:
                spark.sparkContext.setLogLevel("ERROR")
                session_s = time.perf_counter() - t0
                self.w.setup(spark)
                if self.trace:
                    from perfbench.trace import SparkCounters

                    self.w.install_trace()
                    self.counters = SparkCounters(spark)
                t_warm = time.perf_counter()
                warm_walls = []
                for i in range(self.w.warmup_ops):
                    got = self._op(i, traced=False)
                    warm_walls.append(got[1] if got else None)
                setup_s = time.perf_counter() - t0
                warm_s = time.perf_counter() - t_warm
                t_meas = time.perf_counter()
                i = self.w.warmup_ops
                while True:
                    elapsed = time.perf_counter() - t_meas
                    if elapsed > MEASURE_CAP_S or (
                            elapsed >= self.seconds and len(walls) >= MIN_OPS):
                        break
                    traced = self.trace and i % 2 == 1
                    got = self._op(i, traced)
                    i += 1
                    if got is None:
                        continue
                    res, wall, spark_c, rss_mb = got
                    walls.append(wall)
                    per_op.append({**self.w.timings(res, wall), **rss_mb})
                    (traced_walls if traced else untraced_walls).append(wall)
                    if traced:
                        layers.append(self._layer(res, wall, spark_c))
                t_fin = time.perf_counter()
                finish_problems, finish_metrics = self.w.finish()
                finish_s = time.perf_counter() - t_fin
                self.attempted += 1
                if finish_problems:
                    self.failed += 1
                    self.problems.extend(f"finish: {p}" for p in finish_problems)
                    for p in finish_problems:
                        print(f"oracle: finish: {p}", file=sys.stderr)
            finally:
                self.tracer.restore()
                _stop_spark(spark)

        op_keys = sorted({k for t in per_op for k in t})
        op_medians = {k: _median([t[k] for t in per_op if k in t]) for k in op_keys}
        end_to_end = {
            "setup_s": setup_s,
            "job_s": op_medians.get("job_s", 0.0),
            "rows_per_s": op_medians.get("rows_per_s", 0.0),
            "peak_rss_mb": op_medians.get("python_rss_mb", 0.0),
        }
        per_layer = {k: _median([d.get(k, 0.0) for d in layers])
                     for k in sorted({k for d in layers for k in d})}
        per_layer.update(finish_metrics)
        per_layer.update({
            "job.session_s": session_s,
            "job.warm_s": warm_s,
            "produce.rows_per_s": op_medians.get("produce_rows_per_s", 0.0),
            "spark.jvm_rss_mb": op_medians.get("jvm_rss_mb", 0.0),
            "trace.job_s": _median(traced_walls),
            "trace.overhead_s": _median(traced_walls) - _median(untraced_walls),
        })
        summary = {
            "workload": self.w.name,
            "seed": self.seed,
            "size": self.size,
            "cores": _cores(),
            "input_fingerprint": inp["fingerprint"],
            "phases_s": {"inputs": inputs_s, "session": session_s,
                         "workload_setup": setup_s - session_s - warm_s,
                         "warm": warm_s, "finish": finish_s},
            "warm_op_walls_s": warm_walls,
            "measured_ops": len(walls),
            "traced_ops": len(traced_walls),
            "op_walls_s": [round(x, 4) for x in walls],
            "op_medians": op_medians,
            "error_rate": (self.failed / self.attempted) if self.attempted else 1.0,
            "error_rate_base": {"failed": self.failed, "attempted": self.attempted},
            "problems": self.problems[:20],
            "run_peak_rss_mb": self.rss.peak_kb / 1024.0,
            "run_wall_s": time.perf_counter() - t_start,
        }
        if self.trace:
            summary["spans_file"] = self._write_spans()
        return {"summary": summary, "end_to_end": end_to_end, "per_layer": per_layer}

    def _write_spans(self) -> str:
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{self.w.name}-s{self.seed}.json")
        with open(path, "w") as fh:
            json.dump(self.tracer.archive + self.tracer.spans, fh)
        return os.path.relpath(path, ROOT)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(spec: dict, run: Run, measured: dict, trace: bool) -> dict:
    """The final stdout object; every metric BENCHMARK.json names for
    this mode, with its unit."""
    group = spec["per_layer"] if trace else spec["end_to_end"]
    values = measured["per_layer"] if trace else measured["end_to_end"]
    if trace:
        values = {**{m["name"]: 0.0 for m in group
                     if m["name"].split(".")[0] in run.w.idle_layers}, **values}
    missing = [m["name"] for m in group if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in group},
    }


def execute(workload: str, seed: int, seconds: int, trace: bool,
            size: int | None = None, tamper=None, out=None) -> dict:
    """Run one workload and print the summary and result lines."""
    out = out or sys.stdout
    spec = load_spec()
    run = Run(workload, seed, seconds, trace, size=size, tamper=tamper)
    _prepare_env(run.work)
    try:
        measured = run.execute()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    result = result_line(spec, run, measured, trace)
    out.write(json.dumps(measured["summary"], default=float) + "\n")
    out.write(json.dumps(result) + "\n")
    out.flush()
    return result


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    execute(args.workload, args.seed, args.seconds, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "drivel_spark")):
        sys.stderr.write("perfbench: drivel_spark/ not found next to perfbench/; "
                         "run from a full checkout of the repository\n")
        sys.exit(2)
    sys.exit(main())
