"""CSV sources (SURVEY.md §2.1 S2).

The dirty historical CSV is read with an ALL-STRING explicit schema
(SURVEY.md §1.3): Spark CSV inference would coerce some columns and
destroy the messy tokens (``"$-"``, ``"21 Million"``, ``"0.40%"``)
that the cleaning expression library must see. Header names in the
raw file carry stray spaces (``" Price "``); the schema is positional
under ``header=True``, so fields are declared with stripped names.

Reference behavior: ``pd.read_csv(path)`` with inference
(crypto_etl_pipeline.py:137), raising on a missing file
(crypto_etl_pipeline.py:138-141) — Spark raises AnalysisException
natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

# Stripped header names of the raw Kaggle file, in file order
# (reference CryptocurrencyData.csv line 1; stripping per
# crypto_etl_pipeline.py:144).
HISTORICAL_RAW_COLUMNS = (
    "Rank",
    "Coin Name",
    "Symbol",
    "Price",
    "1h",
    "24h",
    "7d",
    "30d",
    "24h Volume",
    "Circulating Supply",
    "Total Supply",
    "Market Cap",
)

HISTORICAL_RAW_SCHEMA = StructType(
    [StructField(c, StringType(), nullable=True) for c in HISTORICAL_RAW_COLUMNS]
)


def read_dirty_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a messy CSV with the explicit all-string
    ``HISTORICAL_RAW_SCHEMA``.

    Quoted fields with embedded commas (``"36,456.94"``) are handled by
    the standard quote rules; no type is inferred, so every cleaning
    decision is an explicit, testable expression downstream.
    """
    return (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema(HISTORICAL_RAW_SCHEMA)
        .csv(path)
    )


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV with inference — for already-clean intermediates only."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)
