from crypto_etl_pipeline_spark.operators import dedup, profiling, similarity, textops  # noqa: F401
