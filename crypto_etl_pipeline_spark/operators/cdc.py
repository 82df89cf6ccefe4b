"""Changeset application (CDC upsert/delete) over a keyed snapshot.

The batch MERGE shape every incremental pipeline needs: given a
snapshot table and a stream-captured changeset (insert / update /
delete rows with a sequence column), produce the next snapshot.
Formulated as pick-latest-per-key + anti/union — pure DataFrame ops,
one shuffle on the key each side, no driver involvement, so the same
plan runs on a 100 TB snapshot (where the key shuffle is the unavoidable
cost and AQE handles skewed keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def apply_changeset(snapshot: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Next snapshot after applying ``changes`` (op in I/U/D).

    The LATEST change per key wins (highest ``seq``; ties broken by
    preferring D — a delete at the same sequence number is final).
    Unchanged snapshot rows pass through via an anti join on the change
    keys; surviving I/U rows are unioned in with the snapshot's column
    order. Delete wins at equal seq so replayed changesets are
    idempotent.
    """
    w = Window.partitionBy(key).orderBy(
        F.desc("seq"), F.desc(F.col("op") == "D")
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    untouched = snapshot.join(latest.select(key), key, "left_anti")
    upserts = latest.where(F.col("op") != "D").select(*snapshot.columns)
    return untouched.unionByName(upserts)
