"""Sinks (SURVEY.md §2.1 S3/S4).

CSV/Parquet writers plus the reference's timestamped-copy "download"
step (crypto_etl_pipeline.py:295-359) re-expressed as a write with a
timestamped directory name. Intermediates prefer Parquet (schema
carried, splittable, column-pruned on re-read) — the reference's
CSV-everywhere handoffs re-infer schemas lossily (SURVEY.md §1.3).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str) -> None:
    """S3 — headered CSV, full overwrite, coalesced to one partition for
    parity with single-file consumers (reference df.to_csv). Its callers
    write small cleaned outputs; a 100 TB result belongs in
    :func:`write_parquet`, not funnelled through one task."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink; optional partition columns for downstream pruning."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def timestamp_suffix(now: datetime | None = None) -> str:
    """File-name timestamp, format per crypto_etl_pipeline.py:322."""
    return (now or datetime.now()).strftime("%Y%m%d_%H%M%S")


def write_timestamped_csv(
    df: DataFrame, base_dir: str, stem: str, now: datetime | None = None
) -> str:
    """S4 — versioned copy: ``{base_dir}/{stem}_{ts}`` (one dir per run).

    Returns the written path. Read-back stats (rows/cols) are the
    caller's concern: ``df.count()``, ``len(df.columns)``.
    """
    path = f"{base_dir}/{stem}_{timestamp_suffix(now)}"
    write_csv(df, path)
    return path


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink — the de-facto interchange format for
    training-data corpora. One JSON object per line, splittable,
    readable by any downstream tokenizer pipeline."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark, path: str):
    """JSON-lines events source with an EXPLICIT schema.

    Schema inference on JSON costs a full extra pass over the data and
    silently widens types; at 100 TB it is never acceptable — the events
    DDL is fixed here, and corrupt rows surface as nulls in the columns
    they fail to parse."""
    return spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    new file count.

    The small-files problem is operational debt at 100 TB: streaming
    sinks and fine-grained partitions accumulate kilobyte files whose
    per-file open/footer costs dominate scans. Compaction = read ->
    repartition(ceil(bytes/target)) -> rewrite to a temp dir -> atomic
    directory swap (write NEVER overwrites the live dir in place — a
    mid-rewrite crash must leave the original readable). Row contents
    are preserved exactly; only the file layout changes.

    Crash-safety contract: the swap is two renames (POSIX rename cannot
    exchange two directories atomically), so there IS a window where
    ``path`` is absent with the original parked at ``{path}__old`` and
    the compacted data complete at ``{path}__compacting``. Entry-time
    recovery makes that window survivable rather than fatal: a rerun
    (or any caller) first rolls an orphaned ``__old`` back into place,
    then clears stale ``__old``/``__compacting`` leftovers — no crash
    point loses data or wedges the next run.
    """
    import glob
    import math
    import os
    import shutil

    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    if not os.path.exists(path) and os.path.exists(old):
        # Crashed between the two renames of a prior run: the original is
        # intact at __old — roll it back (conservative; this run then
        # recompacts from it).
        os.rename(old, path)
    if os.path.exists(old):
        shutil.rmtree(old)  # post-swap crash: new data live, __old stale
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # pre-swap crash: original live, tmp partial

    total = sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def scratch_dir(prefix: str) -> str:
    """mkdtemp + interpreter-exit cleanup, for queries that materialize
    intermediate parquet (partitioned layouts, persisted indexes,
    schema-evolution generations). The streaming module keeps its own
    identical helper for checkpoints/stores; both exist so repeated
    bench/driver runs never accumulate orphaned scratch data under
    /tmp (the round-4 advisor finding, generalized)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
