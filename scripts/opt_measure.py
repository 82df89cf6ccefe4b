"""Per-query optimization measurement harness.

For each named query: warm it at sf0.001, then time ``fn(spark,
SF_DIR).count()`` (the bench methodology) over N passes at the bench
SF, and optionally dump ``explain('formatted')`` plus the executed
plan to plans/<name>_<tag>.txt at the repo root (git-ignored). Also
reports the number of Spark jobs each build+count triggered (eager
actions inside builders are invisible in a plan dump but dominate
several multi-stage queries).

Usage:
    python scripts/opt_measure.py name1,name2 [--tag=before] [--passes=2]
                                  [--sf=/root/testdata/sf0.1] [--no-plans]
    python scripts/opt_measure.py --top=25 [--tag=before]   # slowest from BENCH_FULL.json
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PLAN_DIR = os.path.join(ROOT, "plans")


def n_jobs(spark) -> int:
    """Cumulative Spark job count for this app (DAGScheduler's next id)."""
    nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nid if isinstance(nid, int) else nid.get()


def main() -> None:
    names: list[str] = []
    tag = "before"
    passes = 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    top = 0
    dump_plans = True
    for a in sys.argv[1:]:
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--passes="):
            passes = int(a.split("=", 1)[1])
        elif a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--top="):
            top = int(a.split("=", 1)[1])
        elif a == "--no-plans":
            dump_plans = False
        elif not a.startswith("--"):
            names.extend(a.split(","))

    if top:
        with open(os.path.join(ROOT, "BENCH_FULL.json")) as fh:
            prev = json.load(fh)
        names = [
            n
            for n, _ in sorted(prev["queries"].items(), key=lambda kv: -kv[1])[:top]
        ]

    from crypto_etl_pipeline_spark.queries import REGISTRY
    from crypto_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="opt_measure")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(PLAN_DIR, exist_ok=True)

    out = {}
    for name in names:
        if name not in REGISTRY:
            print(f"{name} SKIP (not registered)")
            continue
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        t0 = time.perf_counter()
        fn(spark, "/root/testdata/sf0.001").count()
        warm = time.perf_counter() - t0

        times, job_counts = [], []
        for i in range(passes):
            spark.sparkContext.setJobDescription(f"{tag}:{name}:pass{i}")
            j0 = n_jobs(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            df.count()
            dt = time.perf_counter() - t0
            times.append(dt)
            job_counts.append(n_jobs(spark) - j0)
            if i == 0 and dump_plans:
                try:
                    plan = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                except Exception:
                    import contextlib
                    import io

                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        df.explain("formatted")
                    plan = buf.getvalue()
                with open(os.path.join(PLAN_DIR, f"{name}_{tag}.txt"), "w") as fh:
                    fh.write(plan)
            if i == 0:
                build = t_build
        best = min(times)
        out[name] = {
            "best": round(best, 3),
            "all": [round(t, 3) for t in times],
            "warm_sf0001": round(warm, 3),
            "build_s": round(build, 3),
            "jobs": job_counts[-1],
        }
        print(
            f"{name:45s} best={best:7.3f}  warm0.001={warm:6.3f}  "
            f"build={build:6.3f}  jobs={job_counts[-1]}"
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
