#!/usr/bin/env python3
"""Regenerate ``pins.json``, the output digests every benchmark run checks.

For the benchmark's scale and the self-test's scale, this first runs the
DuckDB oracle sweep (``scripts/verify_contract.py``) over every workload
query on the generated tables, and refuses to pin if any query
mismatches or raises. Only then does it collect each query's result
with the benchmark's session settings and write its digest.

Usage: python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run


def main() -> int:
    config = run.load_config()
    names = sorted({q for w in config["workloads"].values() for q in w["queries"]})
    scales = (config["sf"], config["selftest_sf"])
    work = os.path.join(run.WORK, "pin")
    run.configure(work, trace=False)
    dirs = {sf: run.data_dir(sf)[0] for sf in scales}

    for sf, data in dirs.items():
        sweep = [sys.executable, os.path.join(run.ROOT, "scripts", "verify_contract.py"),
                 data, "--sample", ",".join(names)]
        if subprocess.run(sweep, cwd=run.ROOT).returncode != 0:
            print(f"oracle sweep failed at sf{sf}; pins.json left unchanged", file=sys.stderr)
            return 1

    sys.path.insert(0, run.ROOT)
    from crypto_etl_pipeline_spark.queries import REGISTRY
    from crypto_etl_pipeline_spark.session import get_spark

    spark = get_spark()
    try:
        pins = {}
        for sf, data in dirs.items():
            pins[str(sf)] = {}
            for name in names:
                df = REGISTRY[name].fn(spark, data)
                pins[str(sf)][name] = run.digest([tuple(r) for r in df.collect()], df.columns)
    finally:
        spark.stop()
    with open(os.path.join(run.HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(names)} queries at sf {', '.join(map(str, scales))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
