"""The benchmark's workloads.  Each drives the program only through its
public functions, one op at a time (closed loop, one client):

* ``audio_validate`` — ``job.cmd_validate`` with ``--check-audio``, a
  drift baseline, 64 scopes, a fresh checkpoint store and a report
  directory.  The SNR decode row pass sets the wall time; the profile
  pass (here the resumable, checkpointed one) overlaps it.  After the
  measured loop, one resume call on the last store checks and times the
  checkpoint restore path.
* ``infer_produce_roundtrip`` — on a TPC-H-shaped lineitem table:
  ``profiling.profile`` → ``TableProfile.to_json_schema`` →
  ``produce.generator.produce_from_profile`` + parquet write → profile
  of the written rows.  Type/format detection, enum inference, the
  profile accumulators and their sketches, and produce writes; no
  constraints.
"""

from __future__ import annotations

import argparse
import os
import pickle
import shutil
import time

from . import inputs, oracle

# column-accumulator attributes holding a sketch
SKETCHES = ("hll", "kll", "tdigest", "freq")


def sketch_bytes(prof) -> dict[str, float]:
    """Pickled size of each sketch kind, summed over the profile's columns."""
    out = {f"sketches.{k}_bytes": 0.0 for k in SKETCHES}
    for acc in prof.acc.cols.values():
        for kind in SKETCHES:
            sk = getattr(acc, kind, None)
            if sk is not None:
                out[f"sketches.{kind}_bytes"] += len(pickle.dumps(sk, protocol=4))
    return out


def _install_profiling_trace(tracer) -> None:
    from drivel_spark.profiling.accumulator import TableAccumulator

    def partial(args, _out):
        tracer.count("profiling.partials")
        tracer.count("profiling.partial_bytes", len(args[0]))

    tracer.wrap(TableAccumulator, "from_bytes", "profiling.driver_merge",
                static=True, on_call=partial)
    tracer.wrap(TableAccumulator, "merge", "profiling.driver_merge")


def _capture_sketches(tracer, prof) -> None:
    for k, v in sketch_bytes(prof).items():
        tracer.count(k, v)


class AudioValidate:
    name = "audio_validate"
    # clips; at least 1,501 so the fixtures inject a duplicate key (and
    # with it an SNR failure)
    default_size = 2000
    idle_layers = ("core", "produce")  # reported as 0
    # sizing: op 1 pays codegen, JIT and Python worker start (~15 s);
    # op 2 is within ~10% of the ops after it and so never the median
    # of the (at least 3) measured ops
    warmup_ops = 1

    def __init__(self, work: str, tracer):
        self.work = work
        self.tracer = tracer
        self.digests: set[str] = set()
        self.last_out: dict | None = None
        self.last_store: str | None = None

    def make_inputs(self, cache: str, seed: int, size: int, procs: int) -> dict:
        self.inp = inputs.audio_inputs(cache, seed, size, procs)
        self.rows = size
        self.expected = oracle.validate_expectations(self.inp["data"], self.inp["clean"])
        return self.inp

    def input_problems(self) -> list[str]:
        return oracle.self_consistency(self.expected)

    def setup(self, spark) -> None:
        """Drift baseline: profile the clean twin (``cmd_baseline``)."""
        from drivel_spark.job import cmd_baseline

        self.baseline = os.path.join(self.work, "baseline.pkl")
        cmd_baseline(argparse.Namespace(data=self.inp["clean"], out=self.baseline))

    def install_trace(self) -> None:
        import drivel_spark.io as dio
        import drivel_spark.job as job
        from drivel_spark.checkpoint.store import CheckpointStore
        from drivel_spark.constraints.validate import ValidationResult

        t = self.tracer
        t.wrap(dio, "read_table", "io.read_table")
        t.wrap(job, "resumable_profile", "checkpoint.resumable_profile",
               on_call=lambda a, out: _capture_sketches(t, out[0]))
        t.wrap(job, "profile", "profiling.profile",
               on_call=lambda a, out: _capture_sketches(t, out))
        t.wrap(job, "validate", "constraints.validate")
        t.wrap(ValidationResult, "passfail_pdf", "constraints.passfail")
        t.wrap(CheckpointStore, "append", "checkpoint.append")
        t.wrap(CheckpointStore, "committed", "checkpoint.committed")
        _install_profiling_trace(t)

    def _validate(self, i: int, store: str) -> tuple[dict, str]:
        from drivel_spark.job import cmd_validate

        report = os.path.join(self.work, f"report{i}")
        args = argparse.Namespace(
            data=self.inp["data"], baseline=self.baseline, checkpoint=store,
            run_id="perfbench", check_audio=True, n_scopes=64, report=report,
        )
        return cmd_validate(args), report

    def op(self, i: int) -> dict:
        store = os.path.join(self.work, f"store{i}")
        out, report = self.tracer.op("job", self._validate, i, store)
        return {"out": out, "report": report, "store": store}

    def check(self, res: dict) -> list[str]:
        problems = oracle.check_validate(self.expected, res["out"], res["report"])
        self.digests.add(res["out"].get("passfail_digest"))
        if len(self.digests) > 1:
            problems.append(f"passfail_digest varies across ops: {sorted(self.digests)}")
        shutil.rmtree(res["report"], ignore_errors=True)
        if self.last_store:
            shutil.rmtree(self.last_store, ignore_errors=True)
        self.last_out, self.last_store = res["out"], res["store"]
        return problems

    def timings(self, res: dict, wall: float) -> dict[str, float]:
        return {"job_s": wall, "rows_per_s": self.rows / wall}

    def layer_metrics(self, res: dict, wall: float, spark_c: dict) -> dict[str, float]:
        self_t = self.tracer.self_times()
        total = self.tracer.total_times()
        busy = sum(total.get(k, 0.0) for k in (
            "profiling.profile", "checkpoint.resumable_profile", "constraints.validate"))
        return {
            "job.self_s": self_t.get("job", 0.0),
            "job.overlap_ratio": busy / wall,
            "constraints.validate_s": self_t.get("constraints.validate", 0.0),
            "constraints.passfail_s": self_t.get("constraints.passfail", 0.0),
            "constraints.spark_jobs": spark_c["jobs"],
            "constraints.shuffle_write_bytes": spark_c["shuffle_write_bytes"],
            "checkpoint.resumable_profile_s": self_t.get("checkpoint.resumable_profile", 0.0),
            "checkpoint.append_s": self_t.get("checkpoint.append", 0.0),
            "checkpoint.committed_s": self_t.get("checkpoint.committed", 0.0),
        }

    def finish(self) -> tuple[list[str], dict[str, float]]:
        """Resume on the last measured op's (complete) store."""
        if self.last_out is None:
            return ["no successful op to resume"], {}
        t0 = time.perf_counter()
        out, report = self._validate(-1, self.last_store)
        resume_s = time.perf_counter() - t0
        problems = oracle.check_validate(self.expected, out, report)
        problems += oracle.check_resume(self.last_out, out)
        st = out.get("resume") or {}
        n_units = st.get("n_units") or 0
        return problems, {
            "checkpoint.resume_s": resume_s,
            "checkpoint.units_recomputed": st.get("n_recomputed", 0),
            "checkpoint.units_restored": st.get("n_restored", 0),
            "checkpoint.restore_ratio": (st.get("n_restored", 0) / n_units) if n_units else 0.0,
        }


class InferProduceRoundtrip:
    name = "infer_produce_roundtrip"
    default_size = 40_000  # lineitem rows
    idle_layers = ("constraints", "checkpoint")  # reported as 0
    # sizing: as for audio_validate
    warmup_ops = 1

    def __init__(self, work: str, tracer):
        self.work = work
        self.tracer = tracer

    def make_inputs(self, cache: str, seed: int, size: int, procs: int) -> dict:
        self.inp = inputs.lineitem_inputs(cache, seed, size)
        self.rows = size
        self.seed = seed
        self.expected = oracle.table_expectations(self.inp["data"])
        return self.inp

    def input_problems(self) -> list[str]:
        return [] if self.expected["n_rows"] == self.rows else ["input row count"]

    def setup(self, spark) -> None:
        self.spark = spark

    def install_trace(self) -> None:
        _install_profiling_trace(self.tracer)

    def _profile(self, df):
        from drivel_spark.profiling import profile

        # all-narrow table: 8192-row Arrow batches, as the describe and
        # produce verbs request for narrow scans
        prof = self.tracer.call("profiling.profile", profile, df, arrow_batch=8192)
        if self.tracer.enabled:
            _capture_sketches(self.tracer, prof)
        return prof

    def _roundtrip(self, i: int) -> dict:
        from drivel_spark.io import read_table
        from drivel_spark.produce.generator import produce_from_profile

        t = self.tracer
        out_path = os.path.join(self.work, f"produced{i}")
        t0 = time.perf_counter()
        src = t.call("io.read_table", read_table, self.spark, self.inp["data"])
        prof = self._profile(src)
        t1 = time.perf_counter()
        schema = t.call("core.emit", prof.to_json_schema)

        def generate_write():
            produce_from_profile(self.spark, prof, self.rows, seed=self.seed + i).write.mode(
                "overwrite").parquet(out_path)

        t2 = time.perf_counter()
        t.call("produce.generate_write", generate_write)
        t3 = time.perf_counter()
        produced = t.call("io.read_table", read_table, self.spark, out_path)
        prof2 = self._profile(produced)
        t4 = time.perf_counter()
        schema2 = t.call("core.emit", prof2.to_json_schema)
        return {"summary": prof.summary(), "schema": schema, "schema2": schema2,
                "out_path": out_path, "infer_s": (t1 - t0) + (t4 - t3),
                "produce_s": t3 - t2}

    def op(self, i: int) -> dict:
        return self.tracer.op("job", self._roundtrip, i)

    def check(self, res: dict) -> list[str]:
        problems = oracle.check_profile(self.expected, res["summary"])
        problems += oracle.check_produced(self.expected, res["out_path"], self.rows)
        if res["schema2"] != res["schema"]:
            problems.append("re-inferred JSON Schema differs from the source's")
        res["bytes_written"] = oracle.dir_bytes(res["out_path"])
        shutil.rmtree(res["out_path"], ignore_errors=True)
        return problems

    def timings(self, res: dict, wall: float) -> dict[str, float]:
        # both profile passes (source and produced rows) count as infer
        return {"job_s": wall, "rows_per_s": 2 * self.rows / res["infer_s"],
                "produce_rows_per_s": self.rows / res["produce_s"]}

    def layer_metrics(self, res: dict, wall: float, spark_c: dict) -> dict[str, float]:
        self_t = self.tracer.self_times()
        return {
            "job.self_s": self_t.get("job", 0.0),
            "job.overlap_ratio": self.tracer.total_times().get("profiling.profile", 0.0) / wall,
            "core.emit_s": self_t.get("core.emit", 0.0),
            "produce.generate_write_s": self_t.get("produce.generate_write", 0.0),
            "produce.bytes_written_per_row": res.get("bytes_written", 0) / self.rows,
        }

    def finish(self) -> tuple[list[str], dict[str, float]]:
        return [], {}


WORKLOADS = {w.name: w for w in (AudioValidate, InferProduceRoundtrip)}
