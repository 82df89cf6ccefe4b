"""Skew-mitigation operators (100 TB posture, SURVEY.md §2.13).

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions. These helpers cover
the cases AQE cannot:

- ``salted_join``: explicit key salting for a hot-key equi-join. The
  skewed (large) side gets a random-free deterministic salt derived
  from a row-local column; the small side is replicated across all
  salt values. AQE can split a skewed partition of ONE join, but when
  the same hot key dominates repeatedly (power-law user_id, null-heavy
  keys), salting bounds every task by construction.
- ``two_phase_distinct_count``: exact count-distinct per hot group
  without funneling each group through one task — phase 1 dedups
  (group, value) pairs across salted partitions, phase 2 counts.

Everything is deterministic: salts derive from xxhash64 of row
content, not rand(), so retries/replays produce identical plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, from_col: str, n_salts: int) -> DataFrame:
    """Deterministic salt in [0, n_salts) from a row-local column."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(F.col(from_col)), F.lit(n_salts)).cast("int"))


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_from: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join where ``skewed``'s hot keys are spread over n_salts tasks.

    ``small`` is exploded n_salts times (one copy per salt value) so the
    shuffle key becomes (key, salt) — a hot key's rows now land on
    n_salts partitions instead of one. Cost: small side volume x
    n_salts, which is the explicit version of what AQE's skew split
    does adaptively. ``salt_from`` must be a column of ``skewed`` that
    varies within a key group (e.g. the fact table's line number).

    Inner only: under an outer join every UNMATCHED small-side row
    would surface once per salt replica.
    """
    s = with_salt(skewed, salt_from, n_salts)
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return s.join(replicated, [key, "_salt"]).drop("_salt")


def two_phase_distinct_count(df: DataFrame) -> DataFrame:
    """Exact per-``event_type`` COUNT(DISTINCT user_id), as ``n_distinct``,
    without a hot-group funnel.

    Phase 1: dedup (group, value) — the shuffle key includes the value,
    so a hot group spreads over many partitions. Phase 2: count rows
    per group (now at most |distinct values| rows per group). This is
    the classic two-job rewrite of the single-shuffle distinct-agg.
    """
    return (
        df.select("event_type", "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
