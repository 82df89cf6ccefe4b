"""Broadcast Bloom filters as Column expressions.

The runtime-filter discipline made explicit: build a compact bitset
over the SMALL side's key set (here: eval-set n-grams), ship it to
every task as a plan literal, and drop the big side's non-matching
mass BEFORE it reaches the exchange. The filter is probabilistic
(false positives only), so callers always exact-verify survivors with
the real join — the final result is identical to the unfiltered plan,
which is what lets the DuckDB oracle stay the plain exact-join SQL.

At 100 TB this is the difference between shuffling every training
n-gram and shuffling only the (tiny) contaminated fraction plus an
eps of false positives: with m = 2^16 bits and k = 4 hashes the FP
rate at n = 4k keys is (1 - e^(-kn/m))^k ~ 0.2%, and the bitset is
8 KiB — broadcast-free (a literal in the plan), executor-cached, and
mergeable by OR if built per shard.

Spark's own storePartitionedJoin runtime filters do this implicitly
for equi-joins; the explicit operator form works for any expression
(n-grams synthesized by HOFs, as here) and any verify topology.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: filter geometry: 2^16 bits = 1024 longs = 8 KiB plan literal.
BLOOM_M_BITS = 1 << 16
BLOOM_SEEDS = (11, 23, 37, 53)


def _positions(col: Column) -> list[Column]:
    """k bit positions for a key: pmod(xxhash64(key, seed), m)."""
    return [F.pmod(F.xxhash64(col, F.lit(s)), F.lit(BLOOM_M_BITS)) for s in BLOOM_SEEDS]


def build_bloom_bits(df: DataFrame, col: str) -> list[int]:
    """Aggregate the key column into a bitset (list of m/64 longs).

    Distributed part: one explode + DISTINCT over at most m distinct
    positions — the exchange is bounded by the filter geometry, not
    the key count. Driver part: OR-ing <= BLOOM_M_BITS position ints into
    m/64 longs. Returns plain Python ints suitable for a plan literal.
    """
    pos_rows = (
        df.select(F.explode(F.array(*_positions(F.col(col)))).alias("p"))
        .distinct()
        .collect()
    )
    words = [0] * (BLOOM_M_BITS // 64)
    for r in pos_rows:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # to signed int64 for the array<long> literal
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_might_contain(col: Column, bits: list[int]) -> Column:
    """Membership test as a pure codegen expression: for each seed,
    element_at the 8 KiB long-array literal and getbit the position.
    All k bits set => maybe-member (verify with the exact join);
    any bit clear => definitely absent (safe to drop pre-shuffle)."""
    arr = F.lit(bits)
    test = None
    for p in _positions(col):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        bit = F.getbit(word, (p % 64).cast("int")) == 1
        test = bit if test is None else (test & bit)
    return test
