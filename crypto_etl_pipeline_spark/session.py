"""SparkSession factory.

One place to encode the 100 TB-scale posture (SURVEY.md §2.13, §4):
AQE on (runtime partition coalescing + skew-join splitting), Arrow on
(fast pandas/Python interchange for the few Pandas-UDF operators),
sane shuffle parallelism, and the parquet nanosecond-timestamp
compatibility flag needed for the driver's ``events`` table
(TIMESTAMP(NANOS) is read as LongType and converted by the loader).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "crypto-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Config rationale (each scales past local mode):

    - ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin:
      runtime re-planning; on a 1000-executor cluster this coalesces
      small post-shuffle partitions and splits skewed join keys.
    - ``spark.sql.autoBroadcastJoinThreshold``: 64 MB — dimension
      tables (region/nation/supplier/part at any SF that matters)
      broadcast instead of shuffling the fact table.
    - ``spark.sql.execution.arrow.pyspark.enabled``: Arrow batches for
      pandas_udf / applyInPandas / mapInPandas paths.
    - ``spark.sql.legacy.parquet.nanosAsLong``: the driver testdata's
      ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark 4 refuses
      by default; read it as long ns-since-epoch (loader converts).
    - ``spark.sql.files.maxPartitionBytes``: 128 MB split granularity
      so a 100 TB scan yields ~800k well-sized tasks, not fewer huge
      ones.
    - ``spark.python.sql.dataFrameDebugging.enabled``: off. When on,
      every Column/DataFrame call records its Python call site
      (``getActiveSession``, a conf read, an ``inspect`` stack walk
      and ``PySparkCurrentOrigin`` set/clear: about 7 Py4J round trips
      per call), more than half the Python-side time of a Column call.
      The cost: a runtime error no longer carries the Python file:line
      "DataFrame context"; its error class and message are unchanged.
      A static conf, so it applies only when this call creates the
      session.
    - ``spark.sql.codegen.cache.maxEntries``: 1024 (Spark's default is
      100). Janino-compiled classes live in one JVM-wide LRU cache keyed
      by the generated source; a miss recompiles (about 15 ms a class).
      Distinct classes per working set: 121 for a pass of the
      ``etl_clean`` benchmark workload and about 211 for
      ``curation_stream`` (both at sf0.01), 427 for the driver's first
      50 queries and 4,755 for the whole registry (sf0.001). At 100
      entries the two workloads thrashed: a warm pass recompiled 95
      and 210 classes; at 1024 it compiles none. The cache stays
      bounded on purpose: a class costs about 23 KB of metaspace (1024
      entries, at most about 24 MB), and some queries emit new class
      text on every run (AQE numbers codegen stages in planning
      order), so an unbounded cache would only grow. Static and read
      once per JVM, on first codegen: it does nothing when
      ``getOrCreate`` returns a session that already exists, such as
      one the caller built itself.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    return builder.getOrCreate()
