"""Grouped-map Pandas operators (SURVEY.md §2.11 user-facing UDF story).

``applyInPandas`` is the escape hatch for per-group logic that SQL
aggregates can't express (model fitting per key, complex reshapes).
The z-score normalizer here is deliberately SQL-expressible so the
DuckDB oracle can value-check the PLUMBING — group partitioning, Arrow
batch shape (one pandas DataFrame per group), schema contract — which
is exactly what breaks in real pipelines.

Scale note: each group must fit in one executor's memory as a pandas
DataFrame. Key by high-cardinality columns; for giant groups fall back
to window expressions or mapInPandas over pre-sorted partitions.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zscore_by_group(df: DataFrame) -> DataFrame:
    """Per-``user_id`` z-score of ``value``, appended as ``zscore``, via
    grouped-map applyInPandas.

    Population stddev==0 or single-row groups yield null (matching the
    SQL convention where sample stddev of one row is null).
    """
    # Explicit fixed-width repartition: AQE's byte-advisory coalescing
    # would merge this small-byte / Python-heavy stage to one partition
    # and serialize all groups through a single worker (see
    # operators/timeseries.ewma — measured 6.7x at sf0.1). A
    # user-specified partition count is exempt from coalescing.
    spark = df.sparkSession
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = spark.sparkContext.defaultParallelism
    df = df.repartition(n_part, F.col("user_id"))
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, zscore double"

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        std = v.std(ddof=1)  # sample stddev == SQL stddev
        if pd.isna(std) or std == 0:
            z = pd.Series([None] * len(pdf), dtype="float64")
        else:
            z = (v - v.mean()) / std
        return pdf.assign(zscore=z)

    return df.groupBy("user_id").applyInPandas(norm, schema=schema)
