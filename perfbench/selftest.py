#!/usr/bin/env python3
"""Self-test of the benchmark at the self-test scale (sf0.001), with
``--seconds 0`` so each workload runs only its floor of passes.

Checks, for every workload:

- the untraced run prints all six end-to-end metrics by name with their
  units on its detail line, and every gated metric of ``BENCHMARK.json``
  with its unit on its last line, with no failed query;
- the traced run prints every per-layer metric of ``BENCHMARK.json``
  with its unit;

and that a deliberately wrong pinned digest raises ``failed_frac`` above 0.

Usage: python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run


def bench(workload: str, trace: int, sf: str, pins: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "0", "--trace", str(trace), "--sf", sf, "--pins", pins]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    detail, result = (json.loads(line) for line in out.strip().splitlines()[-2:])
    return detail, result


def check_metrics(got: dict, want: list[dict], where: str) -> list[str]:
    errors = []
    for m in want:
        value = got.get(m["name"])
        if value is None:
            errors.append(f"{where}: {m['name']} missing")
        elif value["unit"] != m["unit"] or not isinstance(value["value"], (int, float)):
            errors.append(f"{where}: {m['name']} printed as {value}, want unit {m['unit']}")
    return errors


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    config = run.load_config()
    sf = str(config["selftest_sf"])
    pins = os.path.join(run.HERE, "pins.json")
    errors = []
    for w in spec["workloads"]:
        name = w["name"]
        detail, result = bench(name, 0, sf, pins)
        e2e = [{"name": k, "unit": u} for k, u in run.END_TO_END_UNITS.items()]
        errors += check_metrics(detail["metrics"], e2e, f"{name} detail")
        errors += check_metrics(result["metrics"], spec["end_to_end"], f"{name} result")
        if result["failed"] or not result["correct"]:
            errors.append(f"{name}: {result['failed']} of {result['attempted']} failed")
        _, traced = bench(name, 1, sf, pins)
        errors += check_metrics(traced["metrics"], spec["per_layer"], f"{name} traced")
        print(f"{name}: checked", flush=True)

    with open(pins) as fh:
        wrong = json.load(fh)
    victim = spec["workloads"][0]["name"]
    first = config["workloads"][victim]["queries"][0]
    wrong[sf][first] = "0" * 64
    wrong_path = os.path.join(run.WORK, "wrong_pins.json")
    os.makedirs(run.WORK, exist_ok=True)
    with open(wrong_path, "w") as fh:
        json.dump(wrong, fh)
    detail, result = bench(victim, 0, sf, wrong_path)
    if not detail["metrics"]["failed_frac"]["value"] > 0 or result["correct"]:
        errors.append(f"a wrong pin for {first} left failed_frac at 0")
    os.remove(wrong_path)

    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
