#!/usr/bin/env python3
"""Closed-loop benchmark of the query engine, one client.

One process and one SparkSession (``session.get_spark`` at
``local[nproc]``) run a workload's queries one after another with no
think time. Each query calls its builder ``REGISTRY[name].fn(spark,
data_dir)`` and then writes every output column through the ``noop``
sink, so the whole result is produced. ``--seed`` shuffles the query
order of every pass; the tables are fixed (``gen.py``, seed 42).

A run:

1. generates the tables into ``perfbench/.work/data`` if absent (the
   build step, not part of any metric);
2. set-up (``setup_s``, from the script's start): starts the session
   and makes one warm pass at the
   benchmark's scale that collects every result and compares its
   order-insensitive digest with the pin in ``pins.json``;
3. runs whole shuffled passes back to back, at least the workload's
   ``passes`` and until ``--seconds`` have elapsed. The pass floor, not
   the clock, sets the run's length at the benchmark's settings, so the
   number of samples does not flip with small timing changes.

``pass_s`` sums each query's fastest run over the passes: on a shared
host a stall (CPU steal) in one pass then does not count, and the later,
warmer passes set it. The detail line reports the steal seen.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` turns on the
Spark event log (configured from outside the package) and prints the
per-layer metrics folded from it (``layers.py``); the per-query profiles
land in ``perfbench/.work/<workload>/profile.jsonl``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` ({name: {value, unit}}). The line before it
carries the same run's details, including ``failed_frac`` and the
percentile ``query_tail_s`` stands for.

Usage:
  python3 perfbench/run.py --workload etl_clean --seed 1 --seconds 8 --trace 0
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import math
import os
import random
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END_UNITS = {
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "setup_s": "s",
    "failed_frac": "1",
    "peak_rss_mb": "MB",
}
# failed_frac is 0 on a correct run, so it is reported on the detail
# line and through ``failed``/``attempted``, not as a gated metric.
GATED = ("pass_s", "query_p50_s", "query_tail_s", "setup_s", "peak_rss_mb")
# The driver JVM's heap ceiling. At the session's default of 8g the
# heap's high-water mark, and with it peak_rss_mb, swung by a quarter
# between identical runs; at 1g it tracks what the queries hold.
DRIVER_MEM = "1g"


def load_config() -> dict:
    """Workload lists, pass floors and scales from ``workloads.json``."""
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _norm_value(v):
    """Floats rounded to 9 decimals (as the oracle sweep does) and then to
    9 significant digits, so that a sum whose last bits depend on the
    order partial aggregates merge in still digests the same."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{round(v, 9):.9g}") + 0.0
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return _norm_value(float(v))
    return v


def digest(rows, cols) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple(_norm_value(r[i]) for i in order) for r in rows), key=repr)
    payload = repr(([cols[i] for i in order], norm))
    return hashlib.sha256(payload.encode()).hexdigest()


def data_dir(sf: float) -> tuple[str, float]:
    """The tables at ``sf``, generated on first use; returns (dir, seconds spent)."""
    path = os.path.join(WORK, "data", f"sf{sf}")
    if os.path.isdir(path):
        return path, 0.0
    from gen import generate

    t0 = time.perf_counter()
    generate(sf, path)
    return path, time.perf_counter() - t0


def configure(run_dir: str, trace: bool) -> None:
    """Environment for the JVM and Python workers, set before pyspark starts.

    Keeps every file the run writes (temp dirs, shuffle files, warehouse,
    event log) under ``run_dir``."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # No hsperfdata file in /tmp from the launcher or driver JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None


def tail_percentile(n: int) -> int:
    """Highest integer percentile with at least 10 samples beyond it (50 at least)."""
    for p in range(99, 50, -1):
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return 50


def percentile(values, p: int) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)


class Failures:
    """Queries that raised or failed the output check, with their errors."""

    def __init__(self, log_path: str):
        self.count = 0
        self.log_path = log_path

    def add(self, name: str, what: str) -> None:
        self.count += 1
        with open(self.log_path, "a") as fh:
            fh.write(f"{name}: {what}\n")


def warm_pass(spark, registry, names, data, pins, failures) -> None:
    """Collect every result once and compare its digest with the pin."""
    for name in names:
        try:
            df = registry[name].fn(spark, data)
            got = digest([tuple(r) for r in df.collect()], df.columns)
        except Exception:  # noqa: BLE001 - a failing query is counted, the run goes on
            failures.add(name, traceback.format_exc())
            continue
        if pins.get(name) != got:
            failures.add(name, f"digest {got} != pinned {pins.get(name)}")


def timed_passes(spark, registry, names, data, min_passes, seconds, rng, failures, probe):
    """Whole shuffled passes, back to back, until at least ``min_passes`` have
    run and ``seconds`` have elapsed; returns {name: [latency_s]} and the
    number of queries attempted."""
    latencies = {name: [] for name in names}
    attempted = 0
    begin = time.perf_counter()
    for pass_index in itertools.count():
        if pass_index >= min_passes and time.perf_counter() - begin >= seconds:
            return latencies, attempted
        order = list(names)
        rng.shuffle(order)
        for name in order:
            attempted += 1
            q0 = time.perf_counter()
            try:
                if probe:
                    probe.start(name, pass_index)
                df = registry[name].fn(spark, data)
                if probe:
                    probe.built(df)
                df.write.format("noop").mode("overwrite").save()
                if probe:
                    probe.done()
            except Exception:  # noqa: BLE001 - a failing query is counted, the run goes on
                failures.add(name, traceback.format_exc())
                continue
            latencies[name].append(time.perf_counter() - q0)


def parse_args(argv, config):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(config["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=config["sf"],
                    help="table scale; only the self-test changes it")
    ap.add_argument("--pins", default=os.path.join(HERE, "pins.json"),
                    help="pinned digests; only the self-test changes it")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    config = load_config()
    args = parse_args(argv, config)
    workload = config["workloads"][args.workload]
    names = workload["queries"]
    with open(args.pins) as fh:
        pins = json.load(fh).get(str(args.sf), {})

    data, gen_s = data_dir(args.sf)
    run_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    configure(run_dir, bool(args.trace))
    spark_log = os.path.join(run_dir, "spark.log")
    failures = Failures(os.path.join(run_dir, "failures.log"))

    # The JVM inherits fd 2: its log, progress bars and the accumulator
    # errors the traced run counts all go to spark.log.
    saved_stderr = os.dup(2)
    with open(spark_log, "w") as log:
        os.dup2(log.fileno(), 2)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from crypto_etl_pipeline_spark.queries import REGISTRY
        from crypto_etl_pipeline_spark.session import get_spark

        spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        rng = random.Random(args.seed)
        warm_order = list(names)
        rng.shuffle(warm_order)
        warm_pass(spark, REGISTRY, warm_order, data, pins, failures)
        setup_s = time.perf_counter() - T_START - gen_s

        probe = None
        if args.trace:
            from layers import Probe

            probe = Probe(spark)
        steal0 = steal_s()
        per_query, attempted = timed_passes(
            spark, REGISTRY, names, data, workload["passes"], args.seconds, rng, failures, probe,
        )
        rss = peak_rss_mb(spark)
        steal = steal_s() - steal0
    finally:
        if spark is not None:
            stop(spark)
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)

    attempted += len(names)  # the warm pass checked each once
    latencies = [x for v in per_query.values() for x in v]
    n = len(latencies)
    tail_p = tail_percentile(n)
    e2e = {
        # One pass over the list from each query's fastest run, so that a
        # stall of the host in one pass does not count.
        "pass_s": sum(min(v) for v in per_query.values() if v),
        "query_p50_s": statistics.median(latencies),
        "query_tail_s": percentile(latencies, tail_p) if tail_p > 50 else statistics.median(latencies),
        "setup_s": setup_s,
        "failed_frac": failures.count / attempted,
        "peak_rss_mb": rss,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cores": cores(),
        "loop": config["loop"], "clients": config["clients"],
        "queries_timed": n, "query_tail_percentile": tail_p,
        "query_latencies_s": per_query, "host_steal_s": steal,
        "generate_s": gen_s,
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
    }
    if args.trace:
        from layers import fold

        layers, extra = fold(probe, run_dir, data, spark_log, cores())
        detail.update(extra, profile=os.path.join(run_dir, "profile.jsonl"))
        metrics = layers
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END_UNITS[k]} for k in GATED}
    if failures.count:
        sys.stderr.write(open(failures.log_path).read()[-4000:])
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failures.count == 0,
        "attempted": attempted,
        "failed": failures.count,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
