"""Query registry — every operator from SURVEY.md §2 (+ §2.13 extensions)
as a named (PySpark builder, DuckDB oracle SQL) pair.

The driver contract (``__spark_entry__.py`` at the repo root) runs
each Spark builder at sf0.01 and hash-compares against the oracle SQL
executed by DuckDB over the same parquet. Column names are aliased
identically on both sides; float outputs are rounded identically on
both sides so the order-insensitive value hash is stable across
engines.
"""

from __future__ import annotations

from crypto_etl_pipeline_spark.queries.base import REGISTRY, QuerySpec, register  # noqa: F401

# Importing the submodules populates REGISTRY.
from crypto_etl_pipeline_spark.queries import relational  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import cleaning  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import text  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import vector  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import streaming  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import analytics  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import pipelines  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import timeseries  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import quality  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import tpch_extra  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import market  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import behavior  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import retrieval  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import selection  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import web  # noqa: F401, E402
from crypto_etl_pipeline_spark.queries import preference  # noqa: F401, E402


def queries():
    """name -> builder, in registration order (module import order
    above, then definition order within each module)."""
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql():
    """name -> DuckDB oracle SQL for every oracled query, in
    registration order."""
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
