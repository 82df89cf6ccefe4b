"""crypto_etl_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the *capability surface* of
luz-alizon123/Crypto-ETL-Pipeline (see /root/repo/SURVEY.md) as an
idiomatic Spark DataFrame engine:

- ``session``     — SparkSession factory tuned for scale (AQE, Arrow, broadcast).
- ``sources``     — parquet/CSV/REST readers and CSV/parquet sinks.
- ``functions``   — the cleaning/classification expression library
                    (pure Column builders; SURVEY.md §2.8 F1-F13).
- ``operators``   — dedup, similarity search, text analysis (§2.13
                    extensions), skew mitigation, profiling (S5).
- ``plans``       — end-to-end pipeline compositions (EP2 api flow,
                    EP3 historical cleaning flow).
- ``streaming``   — incremental / availableNow runs, watermarked aggs,
                    stateful sessionization over event streams (§2.10).
- ``multimodal``  — binary-column plumbing for image/audio payloads (§2.13).
- ``queries``     — the driver-facing registry: every operator as a
                    named (PySpark builder, DuckDB oracle SQL) pair.

Everything is built on public PySpark APIs only.
"""

__version__ = "0.1.0"
