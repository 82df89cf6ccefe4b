"""Driver-contract verification sweep: run EVERY oracled query in both
engines at a chosen SF and compare rows/columns/values exactly like
the driver's correctness gate.

Usage:
    python scripts/verify_contract.py [sf_dir] [--sample name1,name2] [--gate]
                                      [--resume-from path/to/prior.log]

``--resume-from`` skips every query with a MATCH line in a prior run's
log — the recovery path when a long sweep is killed partway (e.g. the
round-12 concurrent-JVM wedge): re-launch with the dead run's log and
only the remainder executes.

Defaults to /root/testdata/sf0.01 (the driver's gate SF). Exits
non-zero if any query mismatches. This is the same compare the local
pytest harness runs (tests/test_oracle_parity.py), packaged for
one-command verification outside pytest.

``--gate`` additionally runs the two subsets that went red in round 11
while the oracle sweep stayed green — the registry plan lints
(cartesian/broadcast/posting/global-window/fingerprint) and the golden
reference-parity tests — so a pre-commit check and the full-suite gate
cannot diverge."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else round(v, 9))
            elif hasattr(v, "__float__") and not isinstance(v, (int, bool)):
                vals.append(round(float(v), 9))
            else:
                vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main() -> int:
    import duckdb

    from crypto_etl_pipeline_spark.queries import REGISTRY
    from crypto_etl_pipeline_spark.session import get_spark
    from crypto_etl_pipeline_spark.sources.tables import TABLES

    # Accept both ``--flag=value`` and ``--flag value`` (the docstring
    # shows the space form; round-12's parser only took ``=``).
    argv = sys.argv[1:]
    positional: list[str] = []
    flag_vals: dict[str, str] = {}
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--"):
            if "=" in a:
                k, v = a.split("=", 1)
                flag_vals[k] = v
            elif a in ("--sample", "--resume-from") and i + 1 < len(argv):
                flag_vals[a] = argv[i + 1]
                i += 1
            else:
                flag_vals[a] = ""
        else:
            positional.append(a)
        i += 1
    sf = positional[0] if positional else "/root/testdata/sf0.01"
    sample = None
    done_prior: set[str] = set()
    if "--sample" in flag_vals:
        sample = set(flag_vals["--sample"].split(","))
    if "--resume-from" in flag_vals:
        with open(flag_vals["--resume-from"]) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) >= 2 and parts[1] == "MATCH":
                    done_prior.add(parts[0])
        print(f"resume: skipping {len(done_prior)} already-MATCHed queries",
              flush=True)

    spark = get_spark(app_name="verify-contract", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    bad = 0
    names = sorted(
        n
        for n, s in REGISTRY.items()
        if s.oracle and (sample is None or n in sample) and n not in done_prior
    )
    for name in names:
        spec = REGISTRY[name]
        try:
            sdf = spec.fn(spark, sf)
            cols = sdf.columns
            srows = _norm([tuple(r) for r in sdf.collect()], cols)
            res = con.execute(spec.oracle)
            dcols = [d[0] for d in res.description]
            drows = _norm(res.fetchall(), dcols)
            ok = sorted(cols) == sorted(dcols) and srows == drows
            if ok:
                print(f"{name} MATCH {len(srows)}", flush=True)
            else:
                bad += 1
                diff = [(a, b) for a, b in zip(srows, drows) if a != b][:2]
                print(f"{name} MISMATCH rows={len(srows)}/{len(drows)} first={diff}", flush=True)
        except Exception as ex:  # noqa: BLE001 - report-and-continue sweep
            bad += 1
            print(f"{name} ERROR {type(ex).__name__}: {str(ex)[:200]}", flush=True)
    print(f"DONE bad={bad} total={len(names)}", flush=True)
    spark.stop()
    if bad:
        return 1
    if "--gate" in sys.argv:
        import subprocess

        print("GATE: running plan lints + golden parity", flush=True)
        rc = subprocess.call(
            [
                sys.executable, "-m", "pytest", "-q",
                "tests/test_registry_lint.py",
                "tests/test_golden_parity.py",
            ],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        print(f"GATE {'GREEN' if rc == 0 else 'RED'}", flush=True)
        return rc
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
