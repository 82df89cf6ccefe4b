"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Both dicts are in registration order: the ``queries`` submodules in
the order ``crypto_etl_pipeline_spark/queries/__init__.py`` imports
them, then definition order within each module. A consumer that
samples the first N names therefore always gets the same set, starting
with the relational, then the cleaning, then the text queries.

Implementation lives in ``crypto_etl_pipeline_spark`` (see SURVEY.md §2
for the operator inventory each query exercises).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crypto_etl_pipeline_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: scan -> project ->
    CASE trend classification (SURVEY.md §2.8 F8) -> group-count (A6)."""
    from crypto_etl_pipeline_spark.queries.cleaning import classify_trend_lineitem

    return classify_trend_lineitem(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §2.13."""
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query.

    Hash-based operators (MinHash/SimHash/LSH/IVF) derive their hashes
    from md5 / exact-integer projections, reproducible in DuckDB, so
    they carry full oracles too. Since round 6 EVERY registered query
    carries a full oracle (iterative ops are unrolled or replayed via
    recursive CTEs; approximation quality is additionally pytest-gated
    where relevant) — the rows-only set is empty.
    """
    return _q.oracle_sql()
