"""Core-count scaling tier (VERDICT r13 task #8).

At sf0.1 the whole registry is scheduler/overhead-bound — the full
suite runs FASTER on 8 cores than 32 — so the driver's `scaling` block
cannot show parallel speedup at that SF. This script measures the
slowest-N queries (from BENCH_FULL.json) at a LARGER fixture
(default .scale/sf1.0, built by scripts/gen_scale_sf.py 10) at one
core count per process (Spark pins the master for the JVM's lifetime),
and merges per-core-count results into one JSON.

Usage:
    python scripts/gen_scale_sf.py 10 .scale/sf1.0   # once
    python scripts/scale_cores.py --top=20 --warmup=<small sf dir>

Each tier first runs every query once, untimed, on the small SF
directory given by ``--warmup=DIR`` (Python-worker spawn and JIT
warmup would otherwise land in the first timed run); without the flag,
or if DIR does not exist, the warmup is skipped.

The parent process re-execs itself once per core count (the only way
to honor a different local[N] master per measurement), then merges
`scale_cores_sf1.json`: {query: {"c1": sec, "c2": sec, "c4": sec,
"speedup": c1/c4}}. speedup > 1 = the query parallelizes; ~1 or below
= still overhead-bound at this SF. The tiers fit a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_BIG = os.path.join(ROOT, ".scale", "sf1.0")
OUT = os.path.join(ROOT, "scale_cores_sf1.json")
CORE_TIERS = (1, 2, 4)


def _slowest(top: int) -> list[str]:
    with open(os.path.join(ROOT, "BENCH_FULL.json")) as fh:
        prev = json.load(fh)
    return [n for n, _ in sorted(prev["queries"].items(), key=lambda kv: -kv[1])[:top]]


def _run_tier(
    cpus: int, names: list[str], sf_dir: str, warmup_dir: str | None
) -> dict[str, float]:
    from crypto_etl_pipeline_spark.queries import REGISTRY
    from crypto_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"scale_cores_{cpus}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    if warmup_dir is not None and os.path.isdir(warmup_dir):
        for n in names:
            if n in REGISTRY:
                REGISTRY[n].fn(spark, warmup_dir).count()
    elif warmup_dir is not None:
        print(f"warmup dir {warmup_dir} missing — warmup skipped", flush=True)
    for n in names:
        if n not in REGISTRY:
            continue
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            REGISTRY[n].fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
            try:
                jrdds = spark.sparkContext._jsc.getPersistentRDDs()
            except AttributeError:
                spark.catalog.clearCache()
            else:
                for _rid, _rdd in jrdds.items():
                    _rdd.unpersist()
        out[n] = round(best, 3)
        print(f"c{cpus} {n}: {best:.3f}s", flush=True)
    spark.stop()
    return out


def main() -> None:
    top = 20
    sf_dir = SF_BIG
    names_arg = None
    warmup_dir = None
    tier = None
    for a in sys.argv[1:]:
        if a.startswith("--top="):
            top = int(a.split("=", 1)[1])
        elif a.startswith("--sf="):
            sf_dir = os.path.abspath(a.split("=", 1)[1])
        elif a.startswith("--only="):
            names_arg = a.split("=", 1)[1]
        elif a.startswith("--warmup="):
            warmup_dir = os.path.abspath(a.split("=", 1)[1])
        elif a.startswith("--tier="):  # internal: child invocation
            tier = int(a.split("=", 1)[1])

    if not os.path.isdir(sf_dir):
        raise SystemExit(f"{sf_dir} missing — run scripts/gen_scale_sf.py first")
    names = names_arg.split(",") if names_arg else _slowest(top)

    if tier is not None:
        res = _run_tier(tier, names, sf_dir, warmup_dir)
        with open(f"{OUT}.c{tier}.part", "w") as fh:
            json.dump(res, fh)
        return

    # parent: one child process per core tier (fresh JVM each)
    for cpus in CORE_TIERS:
        subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                f"--tier={cpus}",
                f"--sf={sf_dir}",
                "--only=" + ",".join(names),
                *([f"--warmup={warmup_dir}"] if warmup_dir else []),
            ],
            check=True,
        )
    merged: dict[str, dict[str, float]] = {}
    for cpus in CORE_TIERS:
        with open(f"{OUT}.c{cpus}.part") as fh:
            part = json.load(fh)
        for n, v in part.items():
            merged.setdefault(n, {})[f"c{cpus}"] = v
        os.remove(f"{OUT}.c{cpus}.part")
    for n, d in merged.items():
        lo, hi = f"c{CORE_TIERS[0]}", f"c{CORE_TIERS[-1]}"
        if d.get(hi):
            d["speedup"] = round(d[lo] / d[hi], 3)
    with open(OUT, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(merged))


if __name__ == "__main__":
    main()
