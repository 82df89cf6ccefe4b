"""Time-series join operators: as-of join and binned range join (§2.13).

Spark has no native ASOF JOIN (DuckDB does). Two scalable
formulations, both pure DataFrame compositions:

- ``asof_join``: the union-and-carry trick. Tag left/right rows, union
  them, sort within (key) by (ts, side) via a partitioned window, and
  carry the last right-side value forward with ``last(ignorenulls)``.
  ONE shuffle on the key — same cost as a regular join, no range
  explosion, no per-key driver loop. This beats the naive
  inequality-join (BroadcastNestedLoop, O(n*m) per key) that Spark
  would otherwise plan.
- ``range_join_binned``: equi-join on coarse time buckets (bucket and
  bucket+1) then filter to the exact range — turns an inequality join
  into a pair of equi-joins whose candidate volume is bounded by bin
  width, the standard trick where native range-join support is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    right_cols: list[str],
) -> DataFrame:
    """For each left row, attach the latest right row with
    right.ts <= left.ts within the same `by` group; each carried column
    ``c`` comes back as ``c_asof``.

    Matches DuckDB ``ASOF JOIN`` / pandas ``merge_asof`` semantics
    (backward search, inclusive). Right rows sort before left rows at
    equal timestamps so an exactly-simultaneous right row IS matched.

    The carried values ride in ONE struct per right row (null struct on
    left rows): ``last(ignorenulls)`` then skips left rows but never a
    matched right ROW — so a null inside a carried column is attached
    as that row's null, exactly like DuckDB/merge_asof, instead of
    falling back to an older non-null value.
    """
    rvals_type = (
        "struct<"
        + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_cols)
        + ">"
    )
    l_tag = left.select(
        F.col(by), F.col("ts"), F.lit(1).alias("_is_left"),
        F.lit(None).cast(rvals_type).alias("_rvals"),
        F.struct(*left.columns).alias("_row"),
    )
    r_tag = right.select(
        F.col(by), F.col("ts"), F.lit(0).alias("_is_left"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_rvals"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("_row"),
    )
    # right (0) sorts before left (1) at equal ts -> inclusive match
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("ts").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tag.unionByName(r_tag).select(
        "*", F.last(F.col("_rvals"), ignorenulls=True).over(w).alias("_rvals_f")
    )
    out = carried.where(F.col("_is_left") == 1).select(
        F.col("_row.*"),
        *[F.col(f"_rvals_f.{c}").alias(f"{c}_asof") for c in right_cols],
    )
    return out


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    right_ts: str,
    max_gap_seconds: int,
) -> DataFrame:
    """Pairs (left, right) with the same ``user_id`` and
    right_ts in (left.p_ts - max_gap, left.p_ts].

    Bin both sides at max_gap granularity; a qualifying right row lives
    in the left row's bin or the one before, so two equi-joins (union)
    cover the range, then the exact predicate filters. Candidate count
    per left row is bounded by rows-per-2-bins — never a full per-key
    cross product.
    """
    # Fractional epoch seconds (microsecond precision) — unix_timestamp
    # truncates to whole seconds, which would flip membership for
    # sub-second gaps at the boundaries.
    l_ep = F.col("p_ts").cast("double")
    r_ep = F.col(right_ts).cast("double")
    gap = F.lit(max_gap_seconds)
    lb = left.withColumn("_bin", F.floor(l_ep / gap))
    rb = right.withColumn("_bin", F.floor(r_ep / gap))
    shifted = rb.withColumn("_bin", F.col("_bin") + 1)
    cand = lb.join(rb, ["user_id", "_bin"]).unionByName(lb.join(shifted, ["user_id", "_bin"]))
    delta = l_ep - r_ep
    return cand.where((delta >= 0) & (delta < max_gap_seconds)).drop("_bin")


def ewma(
    df: DataFrame,
    by: str,
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per ``by`` group.

    The EWMA recurrence y_i = (1-a)*y_{i-1} + a*x_i is a linear scan a
    SQL window cannot express without numerically unstable pow()
    rescaling, so this is the canonical applyInPandas case: groups are
    Arrow-shipped to pandas, ``Series.ewm(adjust=False)`` runs the O(n)
    vectorized recurrence, and only (group key, order cols, ewma) come
    back. Scale shape: one shuffle on ``by``; group size is bounded by
    per-entity history, never the table — the same partitioning
    contract as asof_join. Spilling risk is per-group, so a pathological
    entity needs time-slicing upstream (not needed for bounded keys).

    The shuffle is an EXPLICIT fixed-width repartition, not a plain
    groupBy exchange: AQE's coalescing is byte-advisory (64 MB) and
    blind to Python CPU cost, so it happily merges a small-byte /
    Python-heavy stage down to ONE partition and serializes every
    group through a single worker — measured 6.7x slower at sf0.1.
    A user-specified partition count is exempt from AQE coalescing.
    """
    import pandas as pd  # noqa: F401  (arrow path requires pandas)

    spark = df.sparkSession
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = spark.sparkContext.defaultParallelism
    df = df.repartition(n_part, F.col(by))
    key_field = df.schema[by]
    order_fields = [df.schema[c] for c in order_cols]
    schema_parts = [f"{key_field.name} {key_field.dataType.simpleString()}"] + [
        f"{f.name} {f.dataType.simpleString()}" for f in order_fields
    ] + [f"{out_col} double"]
    out_schema = ", ".join(schema_parts)

    def _ewm(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        out = pdf[[by, *order_cols]].copy()
        out[out_col] = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return out

    return df.groupBy(by).applyInPandas(_ewm, schema=out_schema)
