"""Spark 4 Python DataSource WRITER: transactional NDJSON batch sink.

Completes the custom-connector story next to the reader in
rest_datasource.py (SURVEY.md §2.1 S3/S4 extension): the writer side
of the Python DataSource API, with the two-phase commit contract a
real external sink needs —

- each task streams its partition to a STAGED ``part-*.ndjson`` file
  (never visible to readers mid-write) and returns a commit message
  (file name, row count);
- ``commit`` runs ONCE on the driver after every task succeeded: it
  promotes staged files into the target directory and writes a
  ``_MANIFEST.json`` recording the file list + row total (readers
  treat the manifest as the source of truth, so a torn job is
  invisible — the same recovery discipline as streaming/incremental
  ``run_cdc_stream``);
- ``abort`` deletes the staging directory, leaving any previous
  committed state untouched.

The "webhook" framing: NDJSON is the wire format batch-POST ingest
endpoints speak; swapping the file write for an HTTP POST per batch
changes only ``_emit`` (and inherits the same at-least-once-per-task
semantics, which is why the manifest records file-grain idempotency
keys). Usage::

    spark.dataSource.register(NdjsonSinkDataSource)
    df.write.format("ndjson_sink").mode("append").option("path", out).save()
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


class _PartCommit(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


def _sink_path(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("ndjson_sink requires .option('path', ...)")
    return path


def _stage_part(path: str, rows: Iterator) -> _PartCommit:
    """Executor side of both writers: stream one partition to a staged
    ``part-*.ndjson`` under ``{path}/_staging``."""
    staging = os.path.join(path, "_staging")
    os.makedirs(staging, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.ndjson"
    n = 0
    with open(os.path.join(staging, name), "w") as f:
        for row in rows:
            f.write(json.dumps(row.asDict(), default=str) + "\n")
            n += 1
    return _PartCommit(name, n)


class _NdjsonWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = _sink_path(options)
        self.overwrite = overwrite

    def write(self, rows: Iterator) -> _PartCommit:
        return _stage_part(self.path, rows)

    # -- driver side, exactly once after all tasks succeed -----------------
    def commit(self, messages) -> None:
        staging = os.path.join(self.path, "_staging")
        if self.overwrite:
            for entry in os.listdir(self.path):
                if entry != "_staging":
                    full = os.path.join(self.path, entry)
                    shutil.rmtree(full) if os.path.isdir(full) else os.remove(full)
        files, total = [], 0
        manifest_path = os.path.join(self.path, "_MANIFEST.json")
        if not self.overwrite and os.path.exists(manifest_path):
            # Append mode accumulates: the manifest is the readers' source
            # of truth, so a second append must carry forward every file a
            # previous job committed, not replace the list with its own.
            with open(manifest_path) as f:
                prev = json.load(f)
            files = list(prev.get("files", []))
            total = int(prev.get("total_rows", 0))
        for m in messages:
            os.replace(
                os.path.join(staging, m.filename), os.path.join(self.path, m.filename)
            )
            files.append({"file": m.filename, "rows": m.n_rows})
            total += m.n_rows
        with open(manifest_path, "w") as f:
            json.dump({"files": files, "total_rows": total}, f)
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class NdjsonSinkDataSource(DataSource):
    """``df.write.format("ndjson_sink")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "ndjson_sink"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _NdjsonWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "DataSourceStreamWriter":
        return _NdjsonStreamWriter(self.options)


class _NdjsonStreamWriter(DataSourceStreamWriter):
    """Streaming flavor: one manifest PER MICRO-BATCH, replay-idempotent.

    Exactly-once story: tasks stage exactly like the batch writer;
    ``commit(messages, batchId)`` promotes parts under a
    ``batch-{batchId}-`` prefix AFTER deleting any files a previous
    attempt of the SAME batch left behind, then (re)writes
    ``_MANIFEST-{batchId}.json``. A replayed micro-batch therefore
    REPLACES its own output instead of appending a duplicate — the
    sink-side half of exactly-once that foreachBatch users must
    hand-roll. Readers sum the manifests, never the directory listing.
    """

    def __init__(self, options: dict):
        self.path = _sink_path(options)

    def write(self, rows: Iterator) -> _PartCommit:
        return _stage_part(self.path, rows)

    def commit(self, messages, batchId: int) -> None:
        staging = os.path.join(self.path, "_staging")
        prefix = f"batch-{batchId}-"
        for entry in os.listdir(self.path):
            if entry.startswith(prefix):
                os.remove(os.path.join(self.path, entry))
        files, total = [], 0
        for m in messages:
            if m is None:
                continue
            final = prefix + m.filename
            os.replace(os.path.join(staging, m.filename), os.path.join(self.path, final))
            files.append({"file": final, "rows": m.n_rows})
            total += m.n_rows
        with open(os.path.join(self.path, f"_MANIFEST-{batchId}.json"), "w") as f:
            json.dump({"batch_id": batchId, "files": files, "total_rows": total}, f)
        # Every promoted part was os.replace'd out of _staging above, so
        # anything left is an orphan from a failed/speculative attempt —
        # drop the directory or it grows unbounded over a long stream.
        # (Micro-batches of a query are sequential, so nothing live here.)
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)
