"""Parquet table loaders for the driver testdata star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table under a
scale-factor directory.

Scale notes:
- Parquet scans get Catalyst predicate pushdown + column pruning for
  free; loaders never cache data or collect.
- Schema memo: inferring a parquet schema is a Spark job (~40-55 ms
  on local[4], almost all fixed cost), and builders call
  ``load_table`` hundreds of times per pass. The first load of a path
  infers once; every later load passes the memoized schema to
  ``spark.read.schema(...)``, which plans with no job. The memo holds
  one entry per path, tagged with the path's stat key (``_stat_key``:
  mtime + size of a file; file listing + newest mtime of a directory
  dataset) and replaced when that key changes, so a rewritten table is
  re-inferred. Only the schema is memoized: every call returns a fresh
  relation, because builders self-join tables they load twice and a
  shared relation makes their column references ambiguous. The
  footer row-count memo (``table_row_count``) follows the same rule.
- ``events.ts`` is parquet TIMESTAMP(NANOS); Spark 4 can only read it
  with ``spark.sql.legacy.parquet.nanosAsLong=true`` (set here at
  runtime — it is a runtime SQLConf), which yields a LongType of
  ns-since-epoch. The loader converts to TimestampType by integer
  division to microseconds (floor), matching DuckDB's ns→us cast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _stat_key(path: str) -> tuple:
    """Change-detection key of a parquet path: ``(mtime_ns, size)`` of
    a single file; for a directory dataset, its sorted data-file
    listing ``(relpath, size)`` plus the newest file mtime (a rewrite
    can keep the directory's own mtime while replacing its files)."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    files = []
    newest = st.st_mtime_ns
    for root, _dirs, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            fst = os.stat(f)
            files.append((os.path.relpath(f, path), fst.st_size))
            newest = max(newest, fst.st_mtime_ns)
    return (tuple(sorted(files)), newest)


def _memoized(memo: dict, path: str, compute):
    """One memo entry per path, replaced when the path's stat key
    changes; ``compute()`` runs only on a miss. Two threads missing on
    one path both compute and store equal values, so no lock."""
    key = _stat_key(path)
    hit = memo.get(path)
    if hit is None or hit[0] != key:
        hit = memo[path] = (key, compute())
    return hit[1]


_SCHEMA_MEMO: dict[str, tuple[tuple, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes the events timestamp.

    Schema inference runs once per path version (module docstring);
    the returned relation is new on every call."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _memoized(_SCHEMA_MEMO, path, lambda: spark.read.parquet(path).schema)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns-since-epoch long -> TimestampType (microsecond precision,
        # floor division — same truncation DuckDB applies reading ns).
        # MUST be integer `div`: `/` promotes to double, and ns epochs
        # (~1.7e18) exceed 2^53, so float division jitters the low bits
        # by up to ~512 ns — enough to flip rounding boundaries.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP_NTZ
    # under Spark 4's inferTimestampNTZ; DuckDB treats the same values
    # as naive-in-UTC. With the session timezone pinned to UTC
    # (session.py), casting NTZ -> TIMESTAMP (LTZ) preserves the wall
    # clock AND the instant, so epoch arithmetic (`cast(ts as double)`,
    # unix_timestamp, window()) behaves identically on both engines.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_temp_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` can be used."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


_ROW_COUNT_MEMO: dict[str, tuple[tuple, int]] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of one testdata table from the parquet FOOTER.

    Parquet footers carry the per-row-group row counts, so the total is
    metadata — no Spark job, no data pages read (the `_emb_count`
    precedent from queries/vector.py, generalized). Used by report
    queries whose output includes the RAW table cardinality: a
    ``df.count()`` there costs a full scan job per call at bench time
    while computing a number the file format already stores. Memoized
    like the schema: one entry per path, replaced when the path's stat
    key changes, so a rewritten table is re-counted while footers of
    unchanged inputs are read once.

    Coupling contract (ADVICE r13 #3): this equals ``load_table(...)
    .count()`` only while load_table applies NO row filter to the
    table — pinned by tests/test_round14_hardening.py so a future
    filter cannot silently desynchronize the report numbers built on
    this count.
    """
    import pyarrow.dataset as pads

    path = os.path.join(sf_dir, f"{name}.parquet")
    return _memoized(
        _ROW_COUNT_MEMO, path, lambda: pads.dataset(path, format="parquet").count_rows()
    )
