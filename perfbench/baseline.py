#!/usr/bin/env python3
"""Measure the benchmark's baseline and write ``baseline.json``.

Runs every workload of ``BENCHMARK.json`` once per seed untraced and
once per traced seed traced, then records for each metric its median,
quartiles and quartile spread as a share of the median (the driver's
steadiness test), the tracing overhead (traced ``pass_s`` minus
untraced ``pass_s``), the loop type, client count and ``nproc``.

Usage: python3 perfbench/baseline.py [--seeds 1-10] [--traced-seeds 1-3] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import run


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def collect(workload: str, seed_list: list[int], trace: int, seconds: int) -> tuple[dict, int]:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    failed = 0
    for seed in seed_list:
        cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(workload, "trace" if trace else "", seed, json.dumps(
            {k: round(v[-1], 4) for k, v in values.items()}), flush=True)
    return {k: {"unit": units[k], **summary(v)} for k, v in values.items()}, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seeds", default="1-3")
    ap.add_argument("--out", default=os.path.join(run.HERE, "baseline.json"))
    args = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    config = run.load_config()
    report = {"nproc": run.cores(), "loop": config["loop"],
              "clients": config["clients"], "sf": config["sf"],
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in spec["workloads"]:
        name = w["name"]
        e2e, failed = collect(name, seeds(args.seeds), 0, spec["run_seconds"])
        layers, traced_failed = collect(name, seeds(args.traced_seeds), 1, spec["run_seconds"])
        report["workloads"][name] = {
            "queries": config["workloads"][name]["queries"],
            "passes": config["workloads"][name]["passes"],
            "why": w["why"],
            "failed": failed + traced_failed,
            "end_to_end": e2e,
            "per_layer": layers,
            "trace_overhead_s": layers["trace.pass_s"]["median"] - e2e["pass_s"]["median"],
        }
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
