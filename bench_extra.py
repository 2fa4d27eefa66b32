"""Focused per-query micro-bench (guide §1.4): times selected declared
queries with the noop sink (computation only, no collect/driver
transfer), median of N reps, and optionally dumps
``.explain("formatted")`` per query.  This is NOT the driver-timed
harness — ``bench.py`` stays frozen; numbers from here are cited in
OPTIMIZATION_r06.md as isolation evidence only.

Usage:
    python bench_extra.py q1 q2 ...            # time with noop sink
    DRIVEL_XREPS=5 python bench_extra.py q1    # rep count
    DRIVEL_XPLAN=/tmp/plans python bench_extra.py q1   # also dump plans
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ["DRIVEL_ENGINE_ONLY"] = "1"

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: bench_extra.py <query> [<query> ...]")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    reps = max(1, int(os.environ.get("DRIVEL_XREPS", "5")))
    plan_dir = os.environ.get("DRIVEL_XPLAN")

    from drivel_spark.config import build_session

    spark = build_session("drivel-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        if plan_dir:
            import contextlib
            import io

            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
            spark.catalog.clearCache()
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "min": min(samples),
            "max": max(samples),
            "n": reps,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"all": out}))
    spark.stop()


if __name__ == "__main__":
    main()
