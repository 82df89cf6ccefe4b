"""Data-quality validation (SURVEY.md §5.1 guards + R:74-78 SLOs).

The reference *states* quality targets in prose (completeness > 95 %,
accuracy > 85 %) with no measurement code, and enforces only two
runtime guards (empty API table, missing file). This module makes the
targets measurable engine-side:

- ``completeness``: per-column non-null ratio in ONE agg pass.
- ``violations``: rows failing declarative predicates, for
  quarantine-style flows (flag, never drop — data_dictionary.txt:20's
  philosophy applied to validity).
- ``rule_report`` / ``fk_orphan_count``: violation counts per rule and
  per foreign-key edge, one scan each.
- ``table_checksum``: order-insensitive content checksum for
  reconciliation.

Schemas are enforced where data enters (explicit read schemas in
``sources/``), not by a separate guard here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def completeness(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n, n_nonnull, ratio) — one row per column, one scan."""
    cols = cols or df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(F.col(c)).alias(c) for c in cols],  # count(col) skips nulls
    ).first()
    spark = df.sparkSession
    data = [
        (c, row["_n"], row[c], round(row[c] / row["_n"], 6) if row["_n"] else None)
        for c in cols
    ]
    return spark.createDataFrame(data, "column string, n long, n_nonnull long, ratio double")


def violations(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Rows failing any named predicate, with the list of failed checks.

    Each predicate states what VALID rows satisfy; output rows carry
    ``failed_checks`` (array of names). Null predicate results count as
    failures (unknown validity is not validity).
    """
    flags = [
        F.when(~F.coalesce(pred, F.lit(False)), F.lit(name)).alias(f"_chk_{name}")
        for name, pred in checks.items()
    ]
    out = df.select("*", F.array_compact(F.array(*flags)).alias("failed_checks"))
    return out.where(F.size("failed_checks") > 0)


def rule_report(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """(rule, n_violations) — every rule counted in ONE scan.

    The dual of :func:`violations`: instead of materializing failing
    rows, aggregate a violation count per rule with a single
    conditional-sum pass (map-side partials, one-row shuffle), then
    unpivot the counts with ``stack`` so downstream consumers see a
    long-format report. At 100 TB this is the shape a nightly
    data-contract job runs: N rules never cost N scans.
    """
    n = len(checks)
    agg = df.agg(
        *[
            F.sum(
                F.when(~F.coalesce(pred, F.lit(False)), 1).otherwise(0)
            ).cast("long").alias(f"_r{i}")
            for i, (_, pred) in enumerate(checks.items())
        ]
    )
    stack_args = ", ".join(
        f"'{name}', _r{i}" for i, name in enumerate(checks)
    )
    return agg.select(
        F.expr(f"stack({n}, {stack_args}) as (rule, n_violations)")
    )


def fk_orphan_count(
    child: DataFrame, parent: DataFrame, rule: str
) -> DataFrame:
    """(rule, n_violations) — child rows whose ``l_orderkey`` has no
    parent ``o_orderkey`` match.

    Referential integrity as a LEFT ANTI join (never a row-multiplying
    outer join); the parent side is key-projected so only the join key
    shuffles, and AQE broadcasts it when the parent is dimension-sized.
    """
    orphans = child.select(F.col("l_orderkey")).join(
        parent.select(F.col("o_orderkey").alias("l_orderkey")).distinct(), "l_orderkey", "left_anti"
    )
    return orphans.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).alias("n_violations"),
    )


def table_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-``event_type`` order-insensitive content checksum for cheap table
    reconciliation (drift detection between a table and its replica /
    yesterday's snapshot / another engine's copy).

    Per-row 60-bit hash from md5 of the canonical row string (the
    ``cols`` joined with unit separators; caller pre-casts columns to
    PORTABLE string forms — longs/strings directly, doubles via a
    fixed-scale decimal — so both engines render identical bytes),
    summed per event type. Addition makes the checksum mergeable: one
    partial/final hash aggregate, so reconciling two 100 TB tables
    costs two scans and ships k group rows — no row-level join,
    no sort. The sum runs in DECIMAL(38,0) (no overflow below ~1e19
    rows) and is reduced mod 2^61 so the COMPARED output is a plain
    BIGINT on both engines (DECIMAL/HUGEINT outputs are lint-banned).

    A single changed/missing/extra row flips its group's checksum with
    probability 1 - 2^-60 (tests plant a one-row perturbation).
    """
    from crypto_etl_pipeline_spark.operators.phash import md5_long

    row = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    h = md5_long(row, 15)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(h.cast("decimal(38,0)")) % F.lit(2**61))
        .cast("long")
        .alias("checksum"),
    ]
    return df.groupBy("event_type").agg(*aggs)
