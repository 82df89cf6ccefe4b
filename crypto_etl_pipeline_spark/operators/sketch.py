"""Mergeable histogram sketches: the scale representation for
distribution statistics (quantiles, CDFs) over 100 TB.

Exact percentiles need the raw data; a histogram sketch needs only
(entity, bin, count) rows — integer counts, MERGEABLE BY ADDITION
across any partitioning of the input (time windows, shards, streams),
which is what makes it the right state for continuous aggregates
(streaming/incremental.run_sketch_rollup_stream) and multi-resolution
rollups (store hourly sketches, merge to any range at read time).

Two binning modes:

- ``fixed_bin`` (``bin = clamp(floor(value / width), 0, n-1)``): the
  streaming mode — a stream cannot know global bounds up front, and
  fixed bins keep every batch's sketch mergeable with every other's.
- ``bounded_bin`` (equi-width over per-entity [min, max]): the batch
  mode — tighter bins for a known dataset, used by
  queries/market.histogram_quantile_rollup.

``quantile_from_sketch`` interpolates the NEAREST-RANK quantile
(smallest value with CDF >= p) from cumulative bin counts; the
estimate is within one bin width of the true nearest-rank statistic by
construction (tests/test_round3_ops.py pins the bound).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def fixed_bin(value: Column) -> Column:
    """Stream-safe bin id over 100 bins of width 5: clamp(floor(value / 5), 0, 99)."""
    return F.least(F.greatest(F.floor(value / 5.0), F.lit(0)), F.lit(99)).cast("long")


def histogram_sketch(
    df: DataFrame, bin_col: Column
) -> DataFrame:
    """(event_type, bin, c) — the mergeable sketch rows (one narrow shuffle,
    map-side partial counts)."""
    return df.groupBy(F.col("event_type"), bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("c")
    )


def merge_sketches(*sketches: DataFrame) -> DataFrame:
    """Union + re-sum: the associative/commutative merge that makes the
    representation streaming- and shard-safe."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    cols = [c for c in out.columns if c != "c"]
    return out.groupBy(*cols).agg(F.sum("c").alias("c"))


#: output column -> quantile that :func:`quantile_from_sketch` estimates
SKETCH_QUANTILES = {"est_p50": 0.50, "est_p95": 0.95}


def quantile_from_sketch(
    sketch: DataFrame,
    lo: Column,
    width: Column,
) -> DataFrame:
    """Interpolated nearest-rank ``SKETCH_QUANTILES`` from an
    (event_type, bin, c) sketch.

    ``lo``/``width`` are per-entity columns (join them onto the sketch
    first, or pass literals for fixed-bin sketches). The cumulative
    window runs over <= n_bins rows per entity — driver-free and tiny
    regardless of input scale.

    The sketch is lazily checkpointed here: each requested quantile
    adds a join branch over the cumulative table, and without the
    checkpoint every branch would re-derive the whole sketch subtree —
    including the FACT TABLE SCAN feeding it (audited: 12 exchanges /
    multiple scans for two quantiles). The sketch is entities x bins
    rows, so caching it is the cheap side of that trade at any scale.
    """
    sketch = sketch.localCheckpoint(eager=False)
    w_cum = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("event_type")
    cum = sketch.select(
        "event_type", "bin", "c", lo.alias("_lo"), width.alias("_w"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("total"),
    )
    est = cum.groupBy("event_type", "total").agg(
        *[
            F.min(F.when(F.col("cum") >= p * F.col("total"), F.col("bin"))).alias(f"_b_{name}")
            for name, p in SKETCH_QUANTILES.items()
        ]
    )
    out = est
    for name, p in SKETCH_QUANTILES.items():
        picked = cum.select(
            F.col("event_type"),
            F.col("bin").alias(f"_b_{name}"),
            F.col("cum").alias(f"_cum_{name}"),
            F.col("c").alias(f"_c_{name}"),
            F.col("_lo").alias(f"_lo_{name}"),
            F.col("_w").alias(f"_w_{name}"),
        )
        out = out.join(F.broadcast(picked), ["event_type", f"_b_{name}"])
        interp = F.col(f"_lo_{name}") + F.col(f"_w_{name}") * (
            F.col(f"_b_{name}")
            + (p * F.col("total") - F.col(f"_cum_{name}") + F.col(f"_c_{name}"))
            / F.col(f"_c_{name}")
        )
        out = out.withColumn(name, F.round(interp, 6))
    return out.select(
        "event_type",
        F.col("total").cast("long").alias("n_rows"),
        *SKETCH_QUANTILES,
    )


# ---------------------------------------------------------------------------
# Frequent items: distributed Misra-Gries with an exact verify pass.
#
# The reference has no frequency sketching (its only distribution stat
# is the eager describe(), C:210); this is the heavy-hitter surface a
# 100 TB pipeline needs where an exact GROUP BY over the item domain
# would itself be a giant shuffle (e.g. token frequencies across a web
# corpus). Design follows the mergeable-summaries formulation (Agarwal
# et al., PODS'12): Misra-Gries summaries merge by adding weights and
# re-pruning, so per-partition summaries combine associatively — the
# same property that makes the histogram sketch above stream-safe.
# ---------------------------------------------------------------------------


def _mg_add_and_prune(counts: dict, new_counts, cap: int) -> dict:
    """The batched Misra-Gries fold rule, shared by the mapInPandas
    partial pass and the property tests: fold ``(term, count)`` pairs
    into the running summary; if more than ``cap`` (= k-1) counters
    survive, subtract the (cap+1)-th largest weight from all and drop
    the non-positive. Each prune removes >= k*thresh total weight, so
    the summed thresholds — the max under-count of any term — are
    bounded by n/k: w(t) >= count(t) - n/k (Misra-Gries'82 /
    mergeable-summaries PODS'12)."""
    for t, c in new_counts:
        counts[t] = counts.get(t, 0) + int(c)
    if len(counts) > cap:
        ws = sorted(counts.values(), reverse=True)
        thresh = ws[cap]
        counts = {t: w - thresh for t, w in counts.items() if w > thresh}
    return counts


def misra_gries_partials(df: DataFrame, term_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries(k) summaries -> (term, w) rows.

    One Arrow-batched pass per partition (mapInPandas): each batch is
    first collapsed with a vectorized ``value_counts`` — the Python
    loop runs over the batch's DISTINCT terms, not its rows — and
    folded into the running summary with the mergeable-summaries rule
    (add weights; if more than k-1 counters survive, subtract the k-th
    largest weight from all and drop the non-positive). Each summary
    is at most k-1 rows, so the operator emits <= partitions*(k-1)
    rows no matter the input size.

    Guarantees carried to the caller:
    - weight lower bound: w(t) >= count_p(t) - n_p/k per partition;
    - superset: any term with GLOBAL count > n/k appears in at least
      one partition's summary (pigeonhole over count_p > n_p/k), so
      the union of partials is a candidate superset for global heavy
      hitters — the contract ``heavy_hitters_exact`` verifies against.

    NULL contract: NULL terms are EXCLUDED at the operator boundary
    (filtered here, and again in ``verify_heavy_hitters`` so the total
    n counts non-null terms only). A naive GROUP BY would report a
    NULL group; this operator's domain is non-null terms by contract —
    pandas value_counts drops NaN/None silently, so without the
    explicit filter the exclusion would be an implementation accident
    rather than a documented semantic.
    """
    import pandas as pd

    if k < 2:
        raise ValueError("misra_gries_partials needs k >= 2")
    cap = k - 1
    df = df.where(F.col(term_col).isNotNull())

    def run(batches):
        counts: dict = {}
        for pdf in batches:
            counts = _mg_add_and_prune(
                counts, pdf[term_col].value_counts().items(), cap
            )
        yield pd.DataFrame(
            {"term": list(counts.keys()), "w": [counts[t] for t in counts]}
        )

    return df.select(F.col(term_col).alias(term_col)).mapInPandas(
        run, schema="term string, w long"
    )


def heavy_hitters_exact(df: DataFrame, k: int) -> DataFrame:
    """Exact frequent ``term`` values (count*k > n) via candidate-verify.

    Two passes over the term stream, never a full-domain shuffle:

    1. sketch pass — ``misra_gries_partials`` reduces each partition
       to <= k-1 candidate rows; the union of partials (a few hundred
       rows at any scale) is a proven superset of the true heavy
       hitters, so nothing outside it needs counting.
    2. verify pass — candidates broadcast back onto the stream; terms
       outside the candidate set collapse into a single NULL bucket
       (they only contribute to the total), so the exact aggregation
       shuffles at most k distinct keys + 1 regardless of domain size.

    Output: (term, n_occurrences, share) for terms with strictly
    count*k > n — strict, because the Misra-Gries superset guarantee
    only covers counts strictly above n/k.
    """
    partials = misra_gries_partials(df, "term", k)
    return verify_heavy_hitters(df, "term", partials.select("term"), k)


def verify_heavy_hitters(
    df: DataFrame, term_col: str, candidates: DataFrame, k: int
) -> DataFrame:
    """The exact verify pass: count ONLY candidate terms over ``df``
    (everything else folds into one NULL bucket that feeds the total),
    keep strictly count*k > n. ``candidates`` is any candidate-superset
    table with a ``term`` column — batch MG partials or a streamed MG
    store (streaming/incremental.run_mg_stream).

    NULL contract (see ``misra_gries_partials``): NULL terms are
    excluded up front, so n = count of NON-NULL terms and the
    non-candidate fold bucket contains only real terms."""
    df = df.where(F.col(term_col).isNotNull())
    cand = (
        candidates.select(F.col("term").alias("_cand_term"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    flagged = df.join(
        F.broadcast(cand), df[term_col] == cand["_cand_term"], "left"
    )
    counts = (
        flagged.groupBy(
            F.when(F.col("_hit") == 1, F.col(term_col)).alias("term")
        )
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        # <= k+1 rows, but TWO consumers (the total aggregate and the
        # filtered output): without a checkpoint each branch re-embeds
        # the whole verify subtree — including the term-stream SCAN and
        # the sketch pass — doubling the query (observed in the sf0.1
        # plan: two MapInPandas over two parquet scans).
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("n_occurrences").alias("_n"))
    return (
        counts.where(F.col("term").isNotNull())
        .crossJoin(F.broadcast(total))
        .where(F.col("n_occurrences") * k > F.col("_n"))
        .select(
            "term",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("_n"), 6).alias("share"),
        )
    )


def merge_mg_summaries(base: DataFrame, delta: DataFrame, k: int) -> DataFrame:
    """Merge two Misra-Gries summaries (term, w) into one, pruned back
    to <= k-1 rows: sum weights by term; if more than k-1 terms
    survive, subtract the k-th largest weight from all and drop the
    non-positive (Agarwal et al., PODS'12). Errors ADD across merges —
    the merged summary of the whole stream still satisfies
    w(t) >= count(t) - n/k, so any term with count > n/k keeps
    positive weight. Every step is a tiny DataFrame op over
    <= 2(k-1) rows; nothing reaches the driver."""
    from pyspark.sql.window import Window

    merged = base.unionByName(delta).groupBy("term").agg(F.sum("w").alias("w"))
    ranked = merged.withColumn(
        "_r", F.row_number().over(Window.orderBy(F.desc("w"), F.asc("term")))
    )
    kth = ranked.where(F.col("_r") >= k).agg(
        F.coalesce(F.max("w"), F.lit(0)).alias("_t")
    )
    return (
        ranked.crossJoin(F.broadcast(kth))
        .select("term", (F.col("w") - F.col("_t")).alias("w"))
        .where(F.col("w") > 0)
    )


def cms_frequency_contract(
    df: DataFrame,
    col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 1,
) -> DataFrame:
    """Count-Min Sketch point-frequency estimates with the classic
    one-sided error contract checked against exact counts (Cormode &
    Muthukrishnan, J. Algorithms '05).

    The sketch is the distributed half: ``F.count_min_sketch`` is a
    DECLARATIVE aggregate — each partition builds and map-side-merges a
    fixed ceil(2/eps) x ceil(ln(1/delta)) counter grid, so at 100 TB a
    partition ships the grid, never its keys — the mergeable-by-addition
    complement to Misra-Gries (which keeps k-1 exact-ish keys; CMS
    answers point queries for ANY key at eps*n additive error). The
    serialized grid deserializes through the JVM's
    ``util.sketch.CountMinSketch`` (same UTF-8-byte hashing on both
    write and read paths); the read side evaluates k = |distinct terms|
    lookups on the driver — bounded by the column's domain, the same
    driver-legitimacy class as the profiling report.

    Output per term: exact count plus two contract booleans the oracle
    asserts as literal true — ``est_ge_exact`` (CMS never
    underestimates: counters only ever add) and ``est_within_eps``
    (est <= exact + eps * n; holds with prob >= ``confidence`` per
    query, deterministic once ``seed`` is fixed). The raw estimate is
    engine-specific and deliberately excluded from the compared
    surface (the approx_distinct_users pattern).
    """
    exact = df.groupBy(col).agg(F.count(F.lit(1)).alias("n_exact"))
    sk = df.agg(
        F.count_min_sketch(
            F.col(col), F.lit(float(eps)), F.lit(float(confidence)), F.lit(seed)
        ).alias("s")
    ).first()["s"]
    cms = df.sparkSession._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk)
    )
    rows = exact.collect()  # k distinct terms — bounded domain
    n_total = sum(r["n_exact"] for r in rows)
    data = []
    for r in rows:
        est = int(cms.estimateCount(r[col]))
        data.append(
            (
                r[col],
                r["n_exact"],
                bool(est >= r["n_exact"]),
                bool(est <= r["n_exact"] + eps * n_total),
            )
        )
    return df.sparkSession.createDataFrame(
        data, "term string, n_exact long, est_ge_exact boolean, est_within_eps boolean"
    )


# ---------------------------------------------------------------------------
# KMV (k minimum values) distinct sketch — Beyer et al., SIGMOD'07
# ---------------------------------------------------------------------------

#: hash domain for the 15-hex-digit md5 prefix: 16^15 = 2^60.
KMV_DOMAIN = float(1 << 60)


def kmv_sketch(df: DataFrame, group_col: str, k: int) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct portable md5
    hashes of ``user_id`` (phash.md5_long, 15 hex digits — the same
    cross-engine hash the MinHash oracle rides).

    Plan: distinct (group, hash) — one shuffle with map-side combine —
    then a per-group rank<=k filter, which Spark executes as
    WindowGroupLimit: a bounded k-heap per partition BEFORE the window
    sort, so the post-distinct cost is O(n log k) and the output is
    groups x k rows no matter the corpus. The sketch is mergeable by
    construction (k smallest of a union == k smallest of the merged
    row sets), which is what makes it the right distinct-cardinality /
    set-overlap summary to ship between corpus shards at 100 TB.
    """
    from pyspark.sql.window import Window

    from crypto_etl_pipeline_spark.operators.phash import md5_long

    hashed = (
        df.select(F.col(group_col).alias("grp"), F.col("user_id").cast("string").alias("_key"))
        .select("grp", md5_long(F.col("_key"), 15).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    return hashed.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") <= k).drop("_rk")


def kmv_pair_overlap(sketches: DataFrame, k: int) -> DataFrame:
    """Pairwise union / intersection / Jaccard ESTIMATES from per-group
    KMV sketches alone — the corpus is never rescanned per pair.

    For each group pair (a < b): merge the two k-row sketches, keep the
    k smallest distinct hashes (the KMV of the union), and apply the
    standard estimators: union D_hat = (k-1)/U_(k) when the merged
    sketch is full, else the exact count of distinct hashes seen;
    Jaccard rho = |{h in merged sketch present in BOTH sketches}| / k'
    (k' = merged sketch size); intersection = rho * D_hat. Every
    quantity is integer/hash-deterministic, so the whole estimator is
    exactly reproducible by the DuckDB oracle (identical md5 prefixes,
    identical division operands).

    Pair-stage cost is groups^2 * k sketch rows — a dim-table compute,
    independent of corpus size.
    """
    from pyspark.sql.window import Window

    # groupBy instead of distinct(): same result, but the Aggregate
    # node makes the group-cardinality bound visible to the broadcast
    # lint (plans/lint.py) — `grps` is group-grained, never row-grained.
    grps = sketches.groupBy("grp").agg(F.count(F.lit(1)).alias("_n")).select("grp")
    pairs = (
        grps.select(F.col("grp").alias("grp_a"))
        .join(F.broadcast(grps.select(F.col("grp").alias("grp_b"))), F.col("grp_a") < F.col("grp_b"))
    )
    side_a = pairs.join(
        sketches.select(F.col("grp").alias("grp_a"), "h"), "grp_a"
    ).select("grp_a", "grp_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = pairs.join(
        sketches.select(F.col("grp").alias("grp_b"), "h"), "grp_b"
    ).select("grp_a", "grp_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("grp_a", "grp_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    top = merged.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") <= k)
    agg = top.groupBy("grp_a", "grp_b").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.max("h").alias("_hk"),
        F.sum((F.col("in_a") * F.col("in_b"))).alias("_both"),
    )
    union_est = F.when(
        F.col("_cnt") < k, F.col("_cnt").cast("double")
    ).otherwise((F.lit(float(k - 1))) / (F.col("_hk").cast("double") / F.lit(KMV_DOMAIN)))
    jacc = F.col("_both").cast("double") / F.col("_cnt").cast("double")
    return agg.select(
        "grp_a",
        "grp_b",
        F.round(union_est, 6).alias("union_est"),
        F.round(jacc, 6).alias("jaccard_est"),
        F.round(jacc * union_est, 6).alias("intersect_est"),
    )


def kmv_merge(base: DataFrame, delta: DataFrame, k: int) -> DataFrame:
    """Merge two per-group KMV sketches: k smallest DISTINCT hashes of
    the union — associative and commutative by construction (min-k of
    a union is order-free), which is the property that makes KMV the
    right distinct-count state for streams and shard trees alike."""
    from pyspark.sql.window import Window

    both = base.unionByName(delta).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    return both.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") <= k).drop("_rk")


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-cardinality estimate per group from a KMV sketch:
    (k-1)/U_(k) when the sketch is full, else the exact count of
    hashes seen (the sketch IS the value set below k)."""
    agg = sketch.groupBy("grp").agg(
        F.count(F.lit(1)).alias("sketch_size"), F.max("h").alias("_hk")
    )
    est = F.when(F.col("sketch_size") < k, F.col("sketch_size").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("_hk").cast("double") / F.lit(KMV_DOMAIN))
    )
    return agg.select("grp", "sketch_size", F.round(est, 6).alias("distinct_est"))
