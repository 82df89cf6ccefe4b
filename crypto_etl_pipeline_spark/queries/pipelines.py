"""Composed-pipeline and skew-operator queries.

``pipeline_historical_clean`` runs the ENTIRE EP3 cleaning plan
(parse cascade -> exact-median imputation -> IQR outlier flag,
plans/historical.py) on a messy table synthesized deterministically
from TPC-H columns, against one closed-form SQL oracle — the driver
thereby value-checks the composed pipeline, not just its pieces
(golden-file tests cover the real reference data separately).

Skew queries exercise operators/skew.py against plain-SQL oracles:
salting must be a pure execution-strategy change, never a semantic
one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table


def _messy_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the raw Kaggle shape (strings with $, %, commas,
    Million/Billion, '-' markers) from the part table — deterministic,
    engine-independent (integer-derived renderings only)."""
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    size_s = F.col("p_size").cast("string")
    frac = (k % 10).cast("string")
    return part.select(
        k.cast("string").alias("Rank"),
        F.col("p_name").alias("Coin Name"),
        F.col("p_brand").alias("Symbol"),
        F.when(k % 7 == 0, F.lit(" $-   "))
        .otherwise(F.format_number(k * 3 + 11, 0))
        .alias(" Price "),
        F.when(k % 9 == 0, F.lit("-"))
        .otherwise(F.concat((k % 13 - 6).cast("string"), F.lit("."), frac, F.lit("%")))
        .alias("1h"),
        F.when(k % 11 == 0, F.lit("-"))
        .otherwise(F.concat((k % 17 - 8).cast("string"), F.lit("."), frac, F.lit("%")))
        .alias("24h"),
        F.when(k % 6 == 0, F.lit(" - "))
        .otherwise(F.concat(F.lit("$"), F.format_number(k * 1000 + 123, 0), F.lit(" ")))
        .alias(" 24h Volume "),
        F.format_number(k * 100 + 7, 0).alias("Circulating Supply"),
        F.when(k % 5 == 0, F.concat(size_s, F.lit(" Million")))
        .when(k % 5 == 1, F.concat(size_s, F.lit("."), frac, F.lit(" Billion")))
        .when(k % 5 == 2, F.format_number(k * 1000, 0))
        .when(k % 5 == 3, F.lit("-"))
        .otherwise(F.concat(size_s, F.lit("."), frac, F.lit(" Million")))
        .alias("Total Supply"),
        F.when(k % 8 == 0, F.lit(" $-   "))
        .otherwise(F.concat(F.lit("$"), F.format_number(k * 2000 + 999, 0), F.lit(" ")))
        .alias(" Market Cap "),
    )


# The same messy columns, rendered in DuckDB SQL.
_MESSY_SQL = """
    SELECT p_partkey,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE cast(p_partkey * 3 + 11 AS DOUBLE) END AS current_price,
           CASE WHEN p_partkey % 9 = 0 THEN NULL
                ELSE (cast(p_partkey % 13 - 6 AS VARCHAR) || '.' ||
                      cast(p_partkey % 10 AS VARCHAR))::DOUBLE / 100 END AS pct_1h,
           CASE WHEN p_partkey % 6 = 0 THEN NULL
                ELSE cast(p_partkey * 1000 + 123 AS DOUBLE) END AS volume_24h,
           CASE p_partkey % 5
             WHEN 0 THEN p_size * 1000000
             WHEN 1 THEN cast(trunc((cast(p_size AS VARCHAR) || '.' ||
                          cast(p_partkey % 10 AS VARCHAR))::DOUBLE * 1e9) AS BIGINT)
             WHEN 2 THEN p_partkey * 1000
             WHEN 3 THEN NULL
             ELSE cast(trunc((cast(p_size AS VARCHAR) || '.' ||
                  cast(p_partkey % 10 AS VARCHAR))::DOUBLE * 1e6) AS BIGINT)
           END AS total_supply
    FROM part
"""


@register(
    "pipeline_historical_clean",
    oracle=f"""
    WITH parsed AS ({_MESSY_SQL}),
    med AS (
      SELECT quantile_cont(current_price, 0.5) AS m_price,
             quantile_cont(pct_1h, 0.5)        AS m_pct,
             quantile_cont(volume_24h, 0.5)    AS m_vol,
             quantile_cont(total_supply, 0.5)  AS m_supply
      FROM parsed
    ),
    imputed AS (
      SELECT p_partkey,
             coalesce(current_price, m_price)                    AS current_price,
             round(coalesce(pct_1h, m_pct), 6)                   AS pct_1h,
             coalesce(volume_24h, m_vol)                         AS volume_24h,
             coalesce(total_supply, cast(trunc(m_supply) AS BIGINT)) AS total_supply
      FROM parsed, med
    ),
    bounds AS (
      SELECT quantile_cont(current_price, 0.25) AS q1,
             quantile_cont(current_price, 0.75) AS q3
      FROM imputed
    )
    SELECT p_partkey, current_price, pct_1h, volume_24h, total_supply,
           NOT (current_price BETWEEN q1 - 1.5 * (q3 - q1)
                                  AND q3 + 1.5 * (q3 - q1)) AS is_outlier
    FROM imputed, bounds
    """,
    description="Composed EP3 pipeline (parse -> impute -> flag) on a synthesized messy table",
    tags=("pipeline", "cleaning"),
)
def pipeline_historical_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.functions.cleaning import (
        parse_grouped_number,
        parse_money,
        parse_percent,
        parse_unit_suffix,
    )
    from crypto_etl_pipeline_spark.plans.historical import _impute_then_flag

    messy = _messy_historical(spark, sf_dir)
    parsed = messy.select(
        F.col("Rank").cast("long").alias("p_partkey"),
        parse_grouped_number(F.col(" Price ").alias("x")).alias("current_price"),
        parse_percent(F.col("1h")).alias("pct_1h"),
        parse_money(F.col(" 24h Volume ")).alias("volume_24h"),
        parse_unit_suffix(F.col("Total Supply")).alias("total_supply"),
    )
    flagged = _impute_then_flag(
        parsed, ("current_price", "pct_1h", "volume_24h", "total_supply"), "current_price"
    )
    return flagged.select(
        "p_partkey",
        "current_price",
        F.round("pct_1h", 6).alias("pct_1h"),
        "volume_24h",
        "total_supply",
        "is_outlier",
    )


@register(
    "skew_salted_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name,
           round(l_extendedprice, 2) AS extendedprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size > 40
    """,
    description="Salted hot-key join == plain join (semantics preserved under salting)",
    tags=("skew", "join"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") > 40)
    joined = salted_join(li, part, key="p_partkey", salt_from="l_linenumber", n_salts=8)
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "p_name",
        F.round("l_extendedprice", 2).alias("extendedprice"),
    )


@register(
    "skew_two_phase_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events
    GROUP BY event_type
    """,
    description="Two-phase exact distinct-count (salt-spread dedup, then count)",
    tags=("skew", "agg"),
)
def skew_two_phase_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.operators.skew import two_phase_distinct_count

    ev = load_table(spark, sf_dir, "events")
    return two_phase_distinct_count(ev)
