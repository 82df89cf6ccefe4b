"""EP2 — the API classification dataflow (SURVEY.md §3 EP2).

fetch -> explicit-schema DataFrame -> 7-column projection -> CASE
trend classification -> sink. One narrow-only stage, zero shuffles
(the reference spreads this over three Airflow tasks with CSV
handoffs, crypto_etl_pipeline.py:43-92 / 237-253 / 295-359).

Column name and label casing follow the colab flow (``tendencia``,
sentence-case labels) because the shipped golden artifact uses them
(SURVEY.md §2.9 divergence #2).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.functions.classify import classify_trend
from crypto_etl_pipeline_spark.sources.rest import API_FIELDS, rest_source


def classify_api_table(api_df: DataFrame) -> DataFrame:
    """Project to the 7 API fields and add the 5-way trend label (F8).

    Null pct-change rows classify "Tendencia estable" (null comparisons
    fall through the CASE chain — matching pandas NaN semantics,
    SURVEY.md §1.2).
    """
    return api_df.select(*API_FIELDS).withColumn(
        "tendencia", classify_trend(F.col("price_change_percentage_24h"))
    )


def run_api_pipeline(
    spark: SparkSession,
    fetch: Callable[[], Sequence[dict]] | None = None,
    out_dir: str | None = None,
) -> DataFrame:
    """EP2 end-to-end with the reference's empty-fetch guard.

    Raises ValueError when the fetch produced no rows
    (crypto_etl_pipeline.py:89-92). With ``out_dir``, also persists the
    classified table and renders the S5 profiling HTML report (the
    reference's t4, crypto_etl_pipeline.py:261-287 — which its DAG
    silently fails to write; here it is a real artifact).
    """
    df = rest_source(spark, fetch) if fetch is not None else rest_source(spark)
    if df.isEmpty():
        raise ValueError("No se obtuvieron datos de la API")
    classified = classify_api_table(df)
    if out_dir is not None:
        from crypto_etl_pipeline_spark.operators.profiling import (
            profile,
            render_profile_html,
        )
        from crypto_etl_pipeline_spark.sources.sinks import write_csv

        write_csv(classified, f"{out_dir}/api_classified_csv")
        render_profile_html(
            profile(classified), "API data quality report", f"{out_dir}/api_profile.html"
        )
    return classified
