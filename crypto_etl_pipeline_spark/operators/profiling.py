"""Data-quality profiling (SURVEY.md §2.1 S5).

The reference renders ydata-profiling HTML reports
(crypto_etl_pipeline.py:261-287; the DAG variant silently fails on an
undefined BASE_PATH — SURVEY.md S5 note). The engine equivalent is a
*DataFrame of per-column statistics* computed in one distributed agg
pass: type, null count, distinct estimate, min/max/mean/std/quantiles,
skewness/kurtosis. :func:`render_profile_html` then renders that
column-sized stats table to a standalone HTML artifact on the driver
(parity with ``ProfileReport(...).to_file(...)``) — the distributed
pass and the rendering stay strictly separated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType


def profile(df: DataFrame) -> DataFrame:
    """One row per column: null/distinct/numeric stats in a single pass.

    Distinct counts use approx_count_distinct (HLL sketch, rsd=0.02 —
    tight enough that the profile query's 5% accuracy contract holds
    with margin at every test SF) — the same choice every engine makes
    at scale; exact distincts are available per-column via
    countDistinct when needed.
    """
    spark = df.sparkSession
    aggs = [F.count(F.lit(1)).alias("_n")]
    numeric_cols, string_cols = [], []
    for f in df.schema.fields:
        c = F.col(f.name)
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"{f.name}__nulls"))
        aggs.append(F.approx_count_distinct(c, rsd=0.02).alias(f"{f.name}__distinct"))
        if isinstance(f.dataType, NumericType):
            numeric_cols.append(f.name)
            aggs += [
                F.avg(c).alias(f"{f.name}__mean"),
                F.stddev(c).alias(f"{f.name}__std"),
                F.min(c).cast("double").alias(f"{f.name}__min"),
                F.max(c).cast("double").alias(f"{f.name}__max"),
                F.percentile(c, F.lit(0.5)).alias(f"{f.name}__median"),
                F.skewness(c).alias(f"{f.name}__skew"),
                F.kurtosis(c).alias(f"{f.name}__kurt"),
            ]
        elif isinstance(f.dataType, StringType):
            string_cols.append(f.name)
            aggs.append(F.avg(F.length(c)).alias(f"{f.name}__avg_len"))
    row = df.agg(*aggs).first()

    records = []
    for f in df.schema.fields:
        rec = {
            "column": f.name,
            "dtype": f.dataType.simpleString(),
            "n": row["_n"],
            "nulls": row[f"{f.name}__nulls"],
            "approx_distinct": row[f"{f.name}__distinct"],
            "mean": row[f"{f.name}__mean"] if f.name in numeric_cols else None,
            "std": row[f"{f.name}__std"] if f.name in numeric_cols else None,
            "min": row[f"{f.name}__min"] if f.name in numeric_cols else None,
            "max": row[f"{f.name}__max"] if f.name in numeric_cols else None,
            "median": row[f"{f.name}__median"] if f.name in numeric_cols else None,
            "skewness": row[f"{f.name}__skew"] if f.name in numeric_cols else None,
            "kurtosis": row[f"{f.name}__kurt"] if f.name in numeric_cols else None,
            "avg_length": row[f"{f.name}__avg_len"] if f.name in string_cols else None,
        }
        records.append(rec)
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType as S,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("column", S()),
            StructField("dtype", S()),
            StructField("n", LongType()),
            StructField("nulls", LongType()),
            StructField("approx_distinct", LongType()),
            StructField("mean", DoubleType()),
            StructField("std", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
            StructField("median", DoubleType()),
            StructField("skewness", DoubleType()),
            StructField("kurtosis", DoubleType()),
            StructField("avg_length", DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [tuple(r[f.name] for f in schema.fields) for r in records], schema
    )


def render_profile_html(profile_df: DataFrame, title: str, path: str) -> str:
    """Render a :func:`profile` DataFrame to a standalone HTML report.

    Driver-side by design (S5 parity with the reference's
    ``ProfileReport(df).to_file(...)``, crypto_etl_pipeline.py:270-273):
    the input is one row per COLUMN of the profiled table, so the
    collect here is schema-sized, never data-sized. Returns ``path``.
    """
    import html as _html

    rows = profile_df.collect()
    cols = profile_df.columns

    def cell(v):
        if v is None:
            return ""
        if isinstance(v, float):
            return f"{v:.6g}"
        return _html.escape(str(v))

    n = rows[0]["n"] if rows else 0
    head = "".join(f"<th>{_html.escape(c)}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{cell(r[c])}</td>" for c in cols) + "</tr>" for r in rows
    )
    doc = f"""<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{_html.escape(title)}</title>
<style>
body {{ font-family: sans-serif; margin: 2em; }}
table {{ border-collapse: collapse; }}
th, td {{ border: 1px solid #999; padding: 4px 8px; text-align: right; }}
th {{ background: #eee; }} td:first-child, th:first-child {{ text-align: left; }}
</style></head>
<body><h1>{_html.escape(title)}</h1>
<p>{len(rows)} columns &middot; {n} rows profiled</p>
<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>
</body></html>
"""
    with open(path, "w", encoding="utf-8") as f:
        f.write(doc)
    return path

