"""Benchmark harness — runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
two JSON lines: the full result (per-query seconds under "queries"),
then a compact summary line.

Each query is executed to completion (count of the result — forces the
full plan without collecting data to the driver) and wall-clock timed.
A warmup pass on sf0.001 triggers JVM/codegen warm paths first so the
numbers measure the plans, not JIT compilation.

Usage:
    SPARK_GRAFT_SF_DIR=<directory of sf* parquet tables> python bench.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from crypto_etl_pipeline_spark.queries import REGISTRY
    from crypto_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warmup at the smallest SF: JIT, codegen caches, parquet footer
    # reads, and Python worker spawn for the pandas_udf-backed queries.
    for name in REGISTRY:
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001").count()

    # Two timed passes, min per query: this shared host shows steal-time
    # spikes that inflate a single pass by up to ~10x (measured); the
    # min of two passes measures the PLAN, not the hypervisor's mood.
    timings: dict[str, float] = {}
    for _ in range(2):
        for name, spec in REGISTRY.items():
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).count()
            dt = round(time.perf_counter() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "registry_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": 2,
        "agg": "min",
        "sf": sf_val,
    }
    # Per-query timings go to a committed artifact; stdout gets the full
    # line FIRST and then a compact summary line LAST. A reader that
    # keeps only a short stdout tail (~2000 chars) cannot hold the
    # ~10 KB per-query dict, so the last line carries the slowest-query
    # map, the sha256 of the file's text and the file it lives in.
    bench_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    file_text = json.dumps(full, indent=1, sort_keys=True) + "\n"
    # Only attest the sha/file when the write actually landed, so the
    # summary never points at a stale or absent file.
    wrote_ok = False
    try:
        with open(bench_path, "w") as fh:
            fh.write(file_text)
        wrote_ok = True
    except OSError:
        pass
    print(json.dumps(full))
    summary = {k: v for k, v in full.items() if k != "queries"}
    summary["n_queries"] = len(timings)
    summary["slowest"] = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    if wrote_ok:
        summary["bench_full_sha256"] = hashlib.sha256(file_text.encode()).hexdigest()
        summary["queries_file"] = "BENCH_FULL.json"
    else:
        summary["bench_full_write_failed"] = True
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
