"""Analytics-surface queries: pivot, explode, date arithmetic,
deterministic sampling, cube, correlation, profiling.

These round out the §2.12 absence ledger — operators the reference
lacks entirely but a complete engine must offer. All are built-ins;
each SQL-expressible one carries a DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.operators.textops import tokens
from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "view")  # stable pivot columns


@register(
    "pivot_user_event_values",
    oracle="""
    SELECT user_id,
           round(coalesce(sum(CASE WHEN event_type = 'click'    THEN value END), 0), 4) AS click,
           round(coalesce(sum(CASE WHEN event_type = 'error'    THEN value END), 0), 4) AS error,
           round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 4) AS purchase,
           round(coalesce(sum(CASE WHEN event_type = 'view'     THEN value END), 0), 4) AS view
    FROM events
    GROUP BY user_id
    """,
    description="Pivot event_type -> columns (explicit value list, no extra scan)",
    tags=("analytics",),
)
def pivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Explicit pivot values: skips Spark's distinct-collection pre-scan
    # and fixes the output schema (required at scale and for the oracle).
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0.0)).alias(t) for t in EVENT_TYPES]
    )


@register(
    "explode_doc_tokens",
    oracle="""
    SELECT t.tok AS token, count(*) AS n
    FROM documents, LATERAL unnest(regexp_split_to_array(text, '\\s+')) AS t(tok)
    WHERE length(t.tok) >= 4
    GROUP BY t.tok
    HAVING count(*) >= 3
    """,
    description="explode(split(text)) token frequency (flatten + filter + agg)",
    tags=("analytics", "text"),
)
def explode_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.length("token") >= 4)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
    )


@register(
    "date_shipping_delay",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(avg(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_delay_days,
           max(date_diff('day', o_orderdate, l_shipdate))           AS max_delay_days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    description="Date arithmetic: ship-vs-order day deltas by priority",
    tags=("analytics", "join"),
)
def date_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(delay), 4).alias("avg_delay_days"),
            F.max(delay).alias("max_delay_days"),
        )
    )


@register(
    "sample_by_key",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
    description="Deterministic 5% key-mod sample (reproducible, partition-prunable)",
    tags=("analytics",),
)
def sample_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Key-mod sampling is deterministic across engines and runs — unlike
    # df.sample(), whose RNG is partition-layout-dependent. At scale the
    # predicate pushes into the scan.
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )


@register(
    "cube_order_status_priority",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')    AS orderstatus,
           coalesce(o_orderpriority, 'ALL')  AS orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    description="CUBE over two dims (all grouping-set combinations)",
    tags=("analytics", "agg"),
)
def cube_order_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n",
            "total",
        )
    )


@register(
    "corr_lineitem_price_qty",
    oracle="""
    SELECT round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc
    FROM lineitem
    """,
    description="Pearson correlations in one agg pass (profiling S5 component)",
    tags=("analytics", "stats"),
)
def corr_lineitem_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
    )


def _profile_oracle() -> str:
    """Generate the per-column profile oracle: one UNION ALL branch per
    events column. Spark's skewness/kurtosis are POPULATION moments
    (m3/m2^1.5, m4/m2^2 - 3 with m_k = avg((x-mu)^k)) — DuckDB's
    skewness()/kurtosis() are sample-corrected, so the oracle computes
    the population forms from raw central moments (verified equal to
    Spark at ~1e-13 before rounding)."""
    numeric = [("event_id", "bigint"), ("user_id", "bigint"), ("value", "double")]
    other = [("ts", "timestamp", False), ("event_type", "string", True), ("props", "string", True)]
    ctes = ["n_ AS (SELECT count(*) AS n FROM events)"]
    for c, _ in numeric:
        ctes.append(
            f"{c}_s AS (SELECT avg({c}) AS mu, stddev_samp({c}) AS sd "
            f"FROM events WHERE {c} IS NOT NULL)"
        )
        ctes.append(
            f"{c}_m AS (SELECT avg(pow({c} - mu, 2)) AS m2, "
            f"avg(pow({c} - mu, 3)) AS m3, avg(pow({c} - mu, 4)) AS m4 "
            f"FROM events, {c}_s WHERE {c} IS NOT NULL)"
        )
    rows = []
    for c, dt in numeric:
        rows.append(f"""
    SELECT '{c}' AS col_name, '{dt}' AS dtype, (SELECT n FROM n_) AS n,
           (SELECT count(*) FILTER ({c} IS NULL) FROM events)::BIGINT AS nulls,
           true AS distinct_within_5pct,
           (SELECT round(mu, 6) FROM {c}_s) AS mean,
           (SELECT round(sd, 6) FROM {c}_s) AS std,
           (SELECT min({c})::DOUBLE FROM events) AS vmin,
           (SELECT max({c})::DOUBLE FROM events) AS vmax,
           (SELECT round(quantile_cont({c}, 0.5), 6) FROM events) AS median,
           (SELECT round(m3 / pow(m2, 1.5), 6) FROM {c}_m) AS skew,
           (SELECT round(m4 / pow(m2, 2) - 3, 6) FROM {c}_m) AS kurt,
           NULL::DOUBLE AS avg_len""")
    for c, dt, has_len in other:
        avg_len = (
            f"(SELECT round(avg(length({c})), 6) FROM events)"
            if has_len
            else "NULL::DOUBLE"
        )
        rows.append(f"""
    SELECT '{c}', '{dt}', (SELECT n FROM n_),
           (SELECT count(*) FILTER ({c} IS NULL) FROM events)::BIGINT,
           true, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
           NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, {avg_len}""")
    return "WITH " + ",\n    ".join(ctes) + "\n    UNION ALL".join(rows)


@register(
    "profile_events_table",
    oracle=_profile_oracle(),
    description="Single-pass per-column profile (S5): nulls/HLL-distinct-contract/stats/skew/kurtosis — fully oracled (was rows-only through round 4)",
    tags=("profiling", "stats"),
)
def profile_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline profiling op, now FULLY oracled: the
    only engine-specific value (the HLL distinct estimate) leaves the
    compared surface as a 5%-accuracy contract boolean (the
    approx_distinct_users pattern; rsd=0.02 gives <=2.8% observed
    error at every test SF), everything else — null counts, population
    skewness/kurtosis, exact interpolated medians, sample stddev —
    compares as rounded values. Two agg passes (profile + exact
    distincts for the contract) and a 6-row collect: driver-legitimate,
    bounded by column count, never rows."""
    from concurrent.futures import ThreadPoolExecutor

    from crypto_etl_pipeline_spark.operators.profiling import profile

    ev = load_table(spark, sf_dir, "events")
    # r13: the two agg passes (profile stats, exact distincts for the
    # 5% contract) are independent — run them as concurrent jobs so the
    # second pass back-fills the first's task tail (guide §2.6) instead
    # of paying two full scans sequentially. Results and the compared
    # surface are unchanged.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_p = pool.submit(lambda: {r["column"]: r for r in profile(ev).collect()})
        f_ex = pool.submit(
            ev.agg(*[F.countDistinct(F.col(c)).alias(c) for c in ev.columns]).first
        )
        p, ex = f_p.result(), f_ex.result()
    data = []
    for c in ev.columns:
        r = p[c]
        data.append(
            (
                c,
                r["dtype"],
                r["n"],
                r["nulls"],
                bool(abs(r["approx_distinct"] - ex[c]) <= 0.05 * ex[c]),
                r["mean"],
                r["std"],
                r["min"],
                r["max"],
                r["median"],
                r["skewness"],
                r["kurtosis"],
                r["avg_length"],
            )
        )
    out = spark.createDataFrame(
        data,
        "col_name string, dtype string, n long, nulls long, "
        "distinct_within_5pct boolean, mean double, std double, "
        "vmin double, vmax double, median double, skew double, "
        "kurt double, avg_len double",
    )
    return out.select(
        "col_name",
        "dtype",
        "n",
        "nulls",
        "distinct_within_5pct",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        "vmin",
        "vmax",
        F.round("median", 6).alias("median"),
        F.round("skew", 6).alias("skew"),
        F.round("kurt", 6).alias("kurt"),
        F.round("avg_len", 6).alias("avg_len"),
    )


@register(
    "grouping_sets_status_priority",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    description="Explicit GROUPING SETS with grouping_id (two single-dim sets + grand total)",
    tags=("analytics", "agg"),
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed grouping sets — the shape rollup/cube can't express (each
    dim alone plus the grand total, no (status, priority) pairs).
    grouping_id disambiguates a real NULL key from a superaggregate
    row; one Expand + one hash agg, same partial/final split as any
    groupBy at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "gid",
            "n",
            "total",
        )
    )


@register(
    "json_extract_props_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_k,
           round(avg(k), 6) AS avg_k,
           min(k) AS min_k, max(k) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
    description="Semi-structured JSON extraction (from_json) + grouped stats over event props",
    tags=("json", "agg"),
)
def json_extract_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing of the props column via from_json with an
    explicit schema (never schema inference on the hot path — the
    parser is a codegen'd expression, one map-only pass at any scale),
    then grouped stats including a null-audit count."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "cdc_apply_changeset",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority, 'D' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2, o_orderdate,
             o_orderpriority, 'U', 1
      FROM orders WHERE o_orderkey % 100 = 1
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 4, o_orderdate,
             o_orderpriority, 'U', 2
      FROM orders WHERE o_orderkey % 100 = 1
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 'I', 1
      FROM orders WHERE o_orderkey % 100 = 2
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 8, o_orderdate,
             o_orderpriority, 'U', 1
      FROM orders WHERE o_orderkey % 100 = 3
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority, 'D', 1
      FROM orders WHERE o_orderkey % 100 = 3
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC, (op = 'D') DESC) AS rn
        FROM changes) WHERE rn = 1
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM (
      SELECT o.* FROM orders o LEFT JOIN latest l USING (o_orderkey)
      WHERE l.o_orderkey IS NULL
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority
      FROM latest WHERE op != 'D'
    )
    """,
    description="CDC MERGE: apply an I/U/D changeset to a keyed snapshot (latest-seq wins, delete-final)",
    tags=("cdc", "join"),
)
def cdc_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changeset synthesized deterministically from the orders table on
    both engines: deletes (key%100=0), two-version updates (key%100=1,
    latest seq wins -> x4), inserts under shifted keys (key%100=2), and
    an equal-seq U+D conflict (key%100=3, delete wins). Updated prices
    use power-of-two multiplies — exact in binary floating point, so no
    rounding discipline is needed on the money column."""
    from crypto_etl_pipeline_spark.operators.cdc import apply_changeset

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def chg(pred, price: F.Column, op: str, seq: int, shift: int = 0):
        return o.where(pred).select(
            (k + shift).alias("o_orderkey"), "o_custkey", "o_orderstatus",
            price.alias("o_totalprice"), "o_orderdate", "o_orderpriority",
            F.lit(op).alias("op"), F.lit(seq).alias("seq"),
        )

    p = F.col("o_totalprice")
    changes = (
        chg(k % 100 == 0, p, "D", 1)
        .unionByName(chg(k % 100 == 1, p * 2, "U", 1))
        .unionByName(chg(k % 100 == 1, p * 4, "U", 2))
        .unionByName(chg(k % 100 == 2, p, "I", 1, shift=10_000_000))
        .unionByName(chg(k % 100 == 3, p * 8, "U", 1))
        .unionByName(chg(k % 100 == 3, p, "D", 1))
    )
    nxt = apply_changeset(o, changes, key="o_orderkey")
    return nxt.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after_view,
           (SELECT count(*) FROM p) AS n_purchased_after_click,
           round((SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v), 6)
             AS click_rate,
           round((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM c), 6)
             AS purchase_rate
    """,
    description="Ordered funnel conversion (view -> click -> purchase) with per-stage rates",
    tags=("analytics", "join"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage ordered funnel: each stage joins back to the prior
    stage's first-event time (events strictly after it count). The
    stage tables are user-keyed aggregates, so every join shuffles on
    user_id once and the final counts are scalar crossJoins — no
    driver-side logic."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t_view"))
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked_after_view"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased_after_click"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_viewed",
            "n_clicked_after_view",
            "n_purchased_after_click",
            F.round(F.col("n_clicked_after_view") / F.col("n_viewed"), 6).alias("click_rate"),
            F.round(F.col("n_purchased_after_click") / F.col("n_clicked_after_view"), 6).alias(
                "purchase_rate"
            ),
        )
    )


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_distinct,
           true AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
    description="HLL approx_count_distinct with its 5% accuracy contract oracle-checked",
    tags=("approx", "agg"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates have engine-specific sketch values, so the
    oracle checks the CONTRACT instead: the HLL estimate (rsd=0.02) must
    land within 5% of the exact distinct count, emitted as a boolean the
    DuckDB side asserts as literal true. At 100 TB the approx variant is
    the one you run — the sketch is mergeable map-side, the exact count
    shuffles every distinct (type, user) pair."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_distinct"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        )
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("_approx") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "approx_percentile_value",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS exact_median,
           true AS approx_within_1pct
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    description="approx_percentile with its accuracy contract oracle-checked against the exact median",
    tags=("approx", "agg"),
)
def approx_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract pattern for quantile sketches: the approximate
    median (accuracy=10000) must land within 1% of the exact
    interpolated median. The exact percentile is also emitted so the
    value itself is hash-compared."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("_exact"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("_approx"),
        )
        .select(
            "event_type",
            F.round("_exact", 4).alias("exact_median"),
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= 0.01 * F.abs(F.col("_exact"))
            ).alias("approx_within_1pct"),
        )
    )


@register(
    "roundtrip_jsonl_events",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(user_id)::BIGINT AS sum_users,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    description="JSONL sink -> explicit-schema source roundtrip, aggregate vs direct-parquet oracle",
    tags=("source", "sink", "agg"),
)
def roundtrip_jsonl_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes the events table to JSON-lines and reads it back with an
    explicit schema before aggregating — the oracle aggregates the
    original parquet directly, so any loss in the JSONL write/read path
    (type widening, row drops, encoding) breaks the hash match. The ts
    column stays out of the projection: JSON timestamp serialization is
    format-lossy by design (micros -> text), which is a property of the
    format, not this engine."""
    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir

    from crypto_etl_pipeline_spark.sources.sinks import read_jsonl, write_jsonl

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = scratch_dir("events_jsonl_") + "/events"
    write_jsonl(ev, path)
    back = read_jsonl(spark, path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("sum_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@register(
    "orc_roundtrip_documents",
    oracle="""
    SELECT lang, source,
           count(*)::BIGINT AS n_docs,
           sum(length(text))::BIGINT AS total_chars,
           md5(string_agg(md5(text), '' ORDER BY doc_id)) AS content_digest
    FROM documents
    GROUP BY lang, source
    """,
    description="ORC sink -> source roundtrip (Spark's second columnar format): per-(lang, source) counts plus an order-pinned content digest vs the direct-parquet oracle",
    tags=("source", "sink", "agg"),
)
def orc_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC coverage for the format surface (Spark ships the reader/
    writer natively; Hive-heavy lakes are ORC-first): documents go out
    as snappy ORC and come back, and the oracle aggregates the ORIGINAL
    parquet — so a row drop, encoding corruption, or string mangling in
    the ORC path breaks the value hash. The content digest is an
    order-pinned md5-of-md5s (ORDER BY doc_id inside the aggregate on
    both engines), which catches byte-level text corruption that
    count/sum rollups cannot. Zlib-vs-snappy and stripe sizing are
    format knobs, not semantics — defaults here."""
    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("docs_orc_") + "/documents"
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("doc_id").alias("k"),
                                    F.md5("text").alias("h"),
                                )
                            )
                        ),
                        lambda s: s.h,
                    ),
                )
            ).alias("content_digest"),
        )
    )


@register(
    "partitioned_write_prune_read",
    oracle="""
    SELECT l_linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
    description="partitionBy write -> partition-pruned read-back, value-checked against direct scan",
    tags=("source", "sink", "agg"),
)
def partitioned_write_prune_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes lineitem partitioned by l_returnflag, reads back with a
    partition filter (pruned at planning — only the 'R' directory is
    listed), and aggregates; the oracle scans the original parquet
    directly. Value-checks the partitioned-layout path end to end —
    the plan-level PartitionFilters assertion lives in
    tests/test_scale_patterns.py."""
    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir, write_parquet

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    path = scratch_dir("li_part_") + "/lineitem"
    write_parquet(li, path, partition_by=["l_returnflag"])
    back = spark.read.parquet(path).where(F.col("l_returnflag") == "R")
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


@register(
    "window_rank_suite",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4)       OVER w AS acctbal_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume,
           first_value(c_custkey) OVER w AS richest_in_segment,
           round(c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment), 4)
             AS bal_vs_segment_avg
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
    description="Window-function breadth: ntile, percent_rank, cume_dist, first_value, windowed avg delta",
    tags=("window",),
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One partitioned-ordered window feeds four ranking functions plus
    an unordered windowed aggregate — all inside a single Window
    physical operator per spec (partitioned by segment, so no global
    window at any scale). The order key is (acctbal DESC, custkey) to
    make every rank deterministic under ties."""
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    wa = Window.partitionBy("c_mktsegment")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("acctbal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("c_custkey").over(w).alias("richest_in_segment"),
        F.round(F.col("c_acctbal") - F.avg("c_acctbal").over(wa), 4).alias("bal_vs_segment_avg"),
    )


SNM_WINDOW = 64  #: sorted-neighborhood half-width (candidates per row <= 2w+1)


@register(
    "fuzzy_match_suppliers",
    oracle=f"""
    WITH dirty AS (
      SELECT s_suppkey AS dirty_id,
             CASE WHEN s_suppkey % 2 = 1
                  THEN substr(s_name, 1, 17) || 'X' ELSE s_name END AS dirty_name
      FROM supplier
    ),
    u AS (
      SELECT dirty_name AS nm, 0 AS side, dirty_id AS uid FROM dirty
      UNION ALL
      SELECT s_name, 1, s_suppkey FROM supplier
    ),
    ranked AS (
      SELECT nm, side, uid,
             row_number() OVER (ORDER BY nm, side, uid) AS rn
      FROM u
    ),
    l AS (SELECT uid AS dirty_id, nm AS dirty_name, rn FROM ranked WHERE side = 0),
    r AS (SELECT uid AS s_suppkey, nm AS s_name, rn FROM ranked WHERE side = 1),
    cand AS (
      SELECT l.dirty_id, l.dirty_name, r.s_suppkey, r.s_name,
             levenshtein(l.dirty_name, r.s_name) AS dist
      FROM l JOIN r ON r.rn BETWEEN l.rn - {SNM_WINDOW} AND l.rn + {SNM_WINDOW}
      WHERE levenshtein(l.dirty_name, r.s_name) <= 2
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY dirty_id
                                   ORDER BY dist, s_name, s_suppkey) AS rk
      FROM cand
    )
    SELECT dirty_id, dirty_name, s_suppkey AS matched_id, dist,
           dirty_id = s_suppkey AS exact_entity
    FROM best WHERE rk = 1
    """,
    description=f"Record linkage: sorted-neighborhood fuzzy join (rank-band blocking, window {SNM_WINDOW}) — uncapped AND linear-in-corpus on any name distribution",
    tags=("linkage", "join", "window"),
)
def fuzzy_match_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over deterministically-corrupted supplier
    names (odd keys get their last char replaced): sorted-neighborhood
    blocking + levenshtein <= 2 + best-candidate rank.

    BLOCKING HISTORY (the round-10 scale correction, r11 fix): the
    original prefix-14 block is DEGENERATE on TPC-H 'Supplier#%09d'
    names — every supplier lands in ONE block, so the 'blocked' join
    was the all-pairs join on a single key, measured as a single-task
    >400 s DNF at sf1.0 (SCALE.md r10). Round 11 replaces the
    value-derived key with sorted-neighborhood blocking
    (operators/linkage.py `sorted_neighborhood_join`): blocks are
    POSITIONS in the globally sorted name order, so block size is the
    window width by construction and comparisons are <= n*(2w+1) on
    any distribution — this uncapped form now completes at sf1.0+ on
    the exact distribution that killed the prefix scheme. The capped
    prefix twin (`fuzzy_match_suppliers_capped` + `fuzzy_block_spill`)
    stays registered as defense-in-depth for value-derived keys and
    as the preserved adversarial fixture. Corrupted names still sit
    at distance 1 from SEVERAL sort-adjacent suppliers, so the
    deterministic (dist, name, key) tie-break can pick a neighbor —
    `exact_entity` reports linkage accuracy honestly."""
    from crypto_etl_pipeline_spark.operators.linkage import (
        sorted_neighborhood_join,
    )

    supp = load_table(spark, sf_dir, "supplier")
    dirty = supp.select(
        F.col("s_suppkey").alias("dirty_id"),
        F.when(
            F.col("s_suppkey") % 2 == 1,
            F.concat(F.substring("s_name", 1, 17), F.lit("X")),
        )
        .otherwise(F.col("s_name"))
        .alias("dirty_name"),
    )
    best = sorted_neighborhood_join(
        dirty,
        supp.select("s_suppkey", "s_name"),
        left_id="dirty_id",
        left_text="dirty_name",
        right_id="s_suppkey",
        right_text="s_name",
        window=SNM_WINDOW,
    )
    return best.select(
        "dirty_id",
        "dirty_name",
        F.col("s_suppkey").alias("matched_id"),
        "dist",
        (F.col("dirty_id") == F.col("s_suppkey")).alias("exact_entity"),
    )


@register(
    "fuzzy_match_suppliers_multipass",
    oracle=f"""
    WITH dirty AS (
      SELECT s_suppkey AS dirty_id,
             CASE WHEN s_suppkey % 4 = 1 THEN 'X' || substr(s_name, 2, 17)
                  WHEN s_suppkey % 4 = 3 THEN substr(s_name, 1, 17) || 'X'
                  ELSE s_name END AS dirty_name
      FROM supplier
    ),
    u AS (
      SELECT dirty_name AS nm, 0 AS side, dirty_id AS uid FROM dirty
      UNION ALL
      SELECT s_name, 1, s_suppkey FROM supplier
    ),
    r1 AS (SELECT nm, side, uid,
                  row_number() OVER (ORDER BY nm, side, uid) AS rn FROM u),
    r2 AS (SELECT nm, side, uid,
                  row_number() OVER (ORDER BY reverse(nm), side, uid) AS rn FROM u),
    c1 AS (
      SELECT l.uid AS dirty_id, l.nm AS dirty_name,
             r.uid AS s_suppkey, r.nm AS s_name
      FROM r1 l JOIN r1 r
        ON l.side = 0 AND r.side = 1
       AND r.rn BETWEEN l.rn - {SNM_WINDOW} AND l.rn + {SNM_WINDOW}
    ),
    c2 AS (
      SELECT l.uid AS dirty_id, l.nm AS dirty_name,
             r.uid AS s_suppkey, r.nm AS s_name
      FROM r2 l JOIN r2 r
        ON l.side = 0 AND r.side = 1
       AND r.rn BETWEEN l.rn - {SNM_WINDOW} AND l.rn + {SNM_WINDOW}
    ),
    cand AS (SELECT DISTINCT * FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)),
    scored AS (
      SELECT *, levenshtein(dirty_name, s_name) AS dist FROM cand
      WHERE levenshtein(dirty_name, s_name) <= 2
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY dirty_id
                                   ORDER BY dist, s_name, s_suppkey) AS rk
      FROM scored
    )
    SELECT dirty_id, dirty_name,
           CASE WHEN dirty_id % 4 = 1 THEN 'head'
                WHEN dirty_id % 4 = 3 THEN 'tail' ELSE 'none' END AS corruption,
           s_suppkey AS matched_id, dist,
           dirty_id = s_suppkey AS exact_entity
    FROM best WHERE rk = 1
    """,
    description=(
        f"Multi-pass sorted-neighborhood linkage (forward + reversed sort "
        f"keys, window {SNM_WINDOW}): head-corrupted names that a single "
        f"pass misses are caught by the reversed pass"
    ),
    tags=("linkage", "join", "window"),
)
def fuzzy_match_suppliers_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-pass answer to single-pass SNM's documented caveat: a
    name corrupted in its FIRST characters sorts far from its origin
    in forward name order (tests/test_round11_ops.py pins the miss),
    but adjacent in REVERSED order when the tail survives. Fixture:
    keys %4==1 get head corruption, %4==3 tail corruption — forward
    SNM alone recovers only the tail class; the
    ``keys=(None, F.reverse)`` union recovers BOTH at dist 1, and the
    ``corruption`` column makes per-class recall auditable in the
    output itself. Candidates stay <= n*(2w+1) PER PASS (cost is
    additive in passes, never multiplicative); each pass's global
    ordinals come from the same range-partitioned global_ordinals —
    no single-task sort anywhere."""
    from crypto_etl_pipeline_spark.operators.linkage import (
        sorted_neighborhood_join,
    )

    supp = load_table(spark, sf_dir, "supplier")
    dirty = supp.select(
        F.col("s_suppkey").alias("dirty_id"),
        F.when(
            F.col("s_suppkey") % 4 == 1,
            F.concat(F.lit("X"), F.substring("s_name", 2, 17)),
        )
        .when(
            F.col("s_suppkey") % 4 == 3,
            F.concat(F.substring("s_name", 1, 17), F.lit("X")),
        )
        .otherwise(F.col("s_name"))
        .alias("dirty_name"),
    )
    best = sorted_neighborhood_join(
        dirty,
        supp.select("s_suppkey", "s_name"),
        left_id="dirty_id",
        left_text="dirty_name",
        right_id="s_suppkey",
        right_text="s_name",
        window=SNM_WINDOW,
        keys=(None, F.reverse),
    )
    return best.select(
        "dirty_id",
        "dirty_name",
        F.when(F.col("dirty_id") % 4 == 1, "head")
        .when(F.col("dirty_id") % 4 == 3, "tail")
        .otherwise("none")
        .alias("corruption"),
        F.col("s_suppkey").alias("matched_id"),
        "dist",
        (F.col("dirty_id") == F.col("s_suppkey")).alias("exact_entity"),
    )


FUZZY_BLOCK_CAP = 64  #: max right-side rows per fuzzy block (engaged at gate SF)


@register(
    "fuzzy_match_suppliers_capped",
    oracle=f"""
    WITH dirty AS (
      SELECT s_suppkey AS dirty_id,
             CASE WHEN s_suppkey % 2 = 1
                  THEN substr(s_name, 1, 17) || 'X' ELSE s_name END AS dirty_name
      FROM supplier
    ),
    capped AS (
      SELECT s_suppkey, s_name, substr(s_name, 1, 14) AS blk
      FROM supplier
      QUALIFY row_number() OVER (PARTITION BY substr(s_name, 1, 14)
                                 ORDER BY s_name) <= {FUZZY_BLOCK_CAP}
    ),
    cand AS (
      SELECT d.dirty_id, d.dirty_name, s.s_suppkey, s.s_name,
             levenshtein(d.dirty_name, s.s_name) AS dist
      FROM dirty d JOIN capped s
        ON substr(d.dirty_name, 1, 14) = s.blk
      WHERE levenshtein(d.dirty_name, s.s_name) <= 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY dirty_id
                                   ORDER BY dist, s_name) AS rk
      FROM cand
    )
    SELECT dirty_id, dirty_name, s_suppkey AS matched_id, dist,
           dirty_id = s_suppkey AS exact_entity
    FROM ranked WHERE rk = 1
    """,
    description=f"Governed fuzzy linkage: the blocked join under a per-block right-side cap ({FUZZY_BLOCK_CAP}, QUALIFY-replayable) — the scale path for degenerate blocking keys",
    tags=("linkage", "join", "window", "governance"),
)
def fuzzy_match_suppliers_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governed twin of fuzzy_match_suppliers (whose prefix-14
    block is ONE corpus-sized key on TPC-H names — all-pairs, single
    task, >400 s DNF at sf1.0; see its docstring). block_cap keeps the
    first FUZZY_BLOCK_CAP right-side names per block in order, so
    per-block comparisons are |left| * cap — LINEAR in the corpus even
    when blocking degenerates completely. The cap is a count-based
    window, so DuckDB replays it with QUALIFY and the parity row tests
    ENGAGED-cap agreement at every SF (the gate corpus already has a
    100-row block vs cap 64). Matches lost to the cap are counted by
    fuzzy_block_spill, never silent — the same guard triad (cap +
    audit + adversarial measurement) as the shingle/simhash/LSH pair
    feeds."""
    from crypto_etl_pipeline_spark.operators.linkage import blocked_fuzzy_join

    supp = load_table(spark, sf_dir, "supplier")
    dirty = supp.select(
        F.col("s_suppkey").alias("dirty_id"),
        F.when(
            F.col("s_suppkey") % 2 == 1,
            F.concat(F.substring("s_name", 1, 17), F.lit("X")),
        )
        .otherwise(F.col("s_name"))
        .alias("dirty_name"),
    )
    best = blocked_fuzzy_join(
        dirty,
        supp.select("s_suppkey", "s_name"),
        left_id="dirty_id",
        left_text="dirty_name",
        right_text="s_name",
        block=lambda c: F.substring(c, 1, 14),
        block_cap=FUZZY_BLOCK_CAP,
    )
    return best.select(
        "dirty_id",
        "dirty_name",
        F.col("s_suppkey").alias("matched_id"),
        "dist",
        (F.col("dirty_id") == F.col("s_suppkey")).alias("exact_entity"),
    )


@register(
    "entity_resolution_clusters",
    oracle=f"""
    WITH RECURSIVE
    dirty AS MATERIALIZED (
      SELECT s_suppkey AS dirty_id,
             CASE WHEN s_suppkey % 2 = 1
                  THEN substr(s_name, 1, 17) || 'X' ELSE s_name END AS dirty_name
      FROM supplier
    ),
    capped AS MATERIALIZED (
      SELECT s_suppkey, s_name, substr(s_name, 1, 14) AS blk
      FROM supplier
      QUALIFY row_number() OVER (PARTITION BY substr(s_name, 1, 14)
                                 ORDER BY s_name) <= {FUZZY_BLOCK_CAP}
    ),
    ranked AS MATERIALIZED (
      SELECT d.dirty_id, s.s_suppkey,
             row_number() OVER (PARTITION BY d.dirty_id
                                ORDER BY levenshtein(d.dirty_name, s.s_name),
                                         s.s_name) AS rk
      FROM dirty d JOIN capped s
        ON substr(d.dirty_name, 1, 14) = s.blk
      WHERE levenshtein(d.dirty_name, s.s_name) <= 2
    ),
    m AS MATERIALIZED (
      SELECT dirty_id, s_suppkey AS matched_id
      FROM ranked WHERE rk = 1 AND dirty_id <> s_suppkey
    ),
    edges AS MATERIALIZED (
      SELECT dirty_id AS a, matched_id AS b FROM m
      UNION SELECT matched_id, dirty_id FROM m
    ),
    reach(id, label) AS (
      SELECT s_suppkey, s_suppkey FROM supplier
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.id
    )
    SELECT id AS s_suppkey,
           min(label)::BIGINT AS entity_id,
           min(label) = id    AS is_canonical
    FROM reach GROUP BY id
    """,
    description="Entity resolution end-to-end: capped fuzzy matches as an identity graph, connected components as entities (match -> cluster, the standard ER pipeline)",
    tags=("linkage", "iterative", "dedup"),
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLUSTER step fuzzy matching feeds in a real ER pipeline:
    best-match pairs from the GOVERNED (capped) fuzzy join become
    undirected identity edges, and the same iterative min-label
    connected-components operator the dedup surface uses
    (operators/cluster.py — per-iteration work distributed, loop over
    edge ENDPOINTS only, singletons rejoin at the end) resolves
    transitive entities: if dirty A matched B and dirty C matched B,
    A/B/C are one entity even though A and C never compared. The DuckDB
    twin is recursive-CTE reachability over the identical QUALIFY-
    capped edge set.

    Scale shape: edge volume <= |dirty| (one best match each), so the
    CC loop iterates over a match-bounded sliver of the corpus; the
    expensive stage remains the capped candidate join, already
    linear-in-corpus under the block cap."""
    from crypto_etl_pipeline_spark.operators.cluster import connected_components

    supp = load_table(spark, sf_dir, "supplier")
    matches = fuzzy_match_suppliers_capped(spark, sf_dir)
    edges = matches.where(F.col("dirty_id") != F.col("matched_id")).select(
        F.col("dirty_id").alias("src"), F.col("matched_id").alias("dst")
    )
    cc = connected_components(
        supp.select(F.col("s_suppkey").alias("id")), edges
    )
    return cc.select(
        F.col("id").alias("s_suppkey"),
        F.col("component").alias("entity_id"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )


@register(
    "fuzzy_block_spill",
    oracle=f"""
    WITH lb AS (
      SELECT substr(CASE WHEN s_suppkey % 2 = 1
                         THEN substr(s_name, 1, 17) || 'X' ELSE s_name END,
                    1, 14) AS block,
             count(*) AS n_left
      FROM supplier GROUP BY 1
    ),
    rb AS (
      SELECT substr(s_name, 1, 14) AS block, count(*) AS n_right
      FROM supplier GROUP BY 1
    )
    SELECT coalesce(lb.block, rb.block) AS block,
           coalesce(n_left, 0)::BIGINT  AS n_left,
           coalesce(n_right, 0)::BIGINT AS n_right,
           coalesce(least(n_right, {FUZZY_BLOCK_CAP}), 0)::BIGINT AS kept_right,
           (coalesce(n_left, 0)
              * (coalesce(n_right, 0)
                 - coalesce(least(n_right, {FUZZY_BLOCK_CAP}), 0)))::BIGINT
             AS skipped_comparisons
    FROM lb FULL JOIN rb ON lb.block = rb.block
    """,
    description="Audit half of the fuzzy block cap: per-block occupancy and the exact comparison count the cap absorbed",
    tags=("linkage", "governance"),
)
def fuzzy_block_spill_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fuzzy_match_suppliers_capped dropped: per block, both side
    sizes, kept right rows, and n_left * (n_right - kept) absorbed
    comparisons — the number that explains the capped twin's flat
    scale curve (at sf1.0 the single degenerate block absorbs
    10,000 * 9,936 comparisons; the uncapped query EXECUTES them).
    Always one row per occupied block, so the parity row is never
    vacuous."""
    from crypto_etl_pipeline_spark.operators.linkage import fuzzy_block_spill

    supp = load_table(spark, sf_dir, "supplier")
    dirty = supp.select(
        F.when(
            F.col("s_suppkey") % 2 == 1,
            F.concat(F.substring("s_name", 1, 17), F.lit("X")),
        )
        .otherwise(F.col("s_name"))
        .alias("dirty_name"),
    )
    return fuzzy_block_spill(
        dirty,
        supp.select("s_name"),
        left_text="dirty_name",
        right_text="s_name",
        block=lambda c: F.substring(c, 1, 14),
        block_cap=FUZZY_BLOCK_CAP,
    )


@register(
    "stratified_fixed_k_sample",
    oracle="""
    SELECT lang, doc_id
    FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'strat-v1'), 1, 15))::BIGINT
                          % 1000000,
                        doc_id) AS rk
      FROM documents
    ) WHERE rk <= 5
    """,
    description="Exactly-k-per-stratum deterministic sample (hash-ordered WindowGroupLimit)",
    tags=("sampling",),
)
def stratified_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 documents per language, chosen by salted-hash order —
    deterministic across runs/engines/layouts (df.sampleBy gives only
    EXPECTED fractions and is layout-dependent). Plans as
    WindowGroupLimit: the top-k prunes map-side before the shuffle, so
    at 100 TB each partition forwards at most k rows per stratum."""
    from pyspark.sql.window import Window

    from crypto_etl_pipeline_spark.operators.sampling import hash_gate

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        hash_gate(F.col("doc_id"), "strat-v1"), F.asc("doc_id")
    )
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 5)
        .select("lang", "doc_id")
    )


@register(
    "sql_interface_window",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS order_no
    FROM orders
    WHERE o_custkey < 100
    """,
    description="spark.sql textual interface: windowed running totals (same SQL text family as the oracle)",
    tags=("sql", "window"),
)
def sql_interface_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textual SQL surface over registered temp views — the same
    window query a DataFrame user writes with Window.partitionBy. The
    SQL goes through the identical Catalyst pipeline, which is the
    point: spark.sql IS the DataFrame API with a parser in front."""
    from crypto_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, ["orders"])
    return spark.sql("""
        SELECT o_custkey,
               o_orderkey,
               round(o_totalprice, 2) AS totalprice,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                 AS running_spend,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                 AS order_no
        FROM orders
        WHERE o_custkey < 100
    """)


@register(
    "null_semantics_suite",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           count(value) AS n_nonnull,
           sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           sum(CASE WHEN value IS NOT DISTINCT FROM lag_v THEN 1 ELSE 0 END)::BIGINT
             AS n_nullsafe_eq_prev,
           min(value) AS min_nonnull
    FROM (
      SELECT event_type, value,
             lag(value) OVER (PARTITION BY event_type ORDER BY event_id) AS lag_v
      FROM events
    )
    GROUP BY event_type
    """,
    description="Null-semantics breadth: count(col) vs count(*), IS NOT DISTINCT FROM (null-safe =), null-skipping min",
    tags=("nulls", "agg", "window"),
)
def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL three-valued logic surfaced explicitly: count(col) skips
    nulls, the null-safe comparator (<=> / IS NOT DISTINCT FROM) treats
    null=null as true, aggregate min ignores nulls. The engine's
    missing-is-null discipline (never NaN) is what makes these
    semantics match the oracle exactly."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    lagd = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("lag_v")
    )
    return lagd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_nonnull"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.when(F.col("value").eqNullSafe(F.col("lag_v")), 1).otherwise(0)).alias(
            "n_nullsafe_eq_prev"
        ),
        F.min("value").alias("min_nonnull"),
    )


@register(
    "decimal_exact_money_agg",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_exact,
           CAST(CAST(avg(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS avg_exact,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
    description="Exact DECIMAL(18,4) money aggregation — no float rounding discipline needed",
    tags=("decimal", "agg"),
)
def decimal_exact_money_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-money path: casting to DECIMAL before aggregating makes
    the sum associative and engine-independent — no rounding discipline,
    the values compare exactly. The cast itself is well-defined
    because o_totalprice carries 2-decimal values exactly representable
    at scale 4. The AGGREGATION stays decimal end to end (that is the
    operator); only the final result columns are cast to DOUBLE on
    BOTH engines for the compared surface — the driver's value-hash
    canonicalizes DECIMAL fetch results differently per engine
    (decimal.Decimal vs float), so DECIMAL must never appear in an
    output schema (lint-enforced). avg is first normalized to
    DECIMAL(18,4) on both sides (DuckDB's avg(DECIMAL) returns DOUBLE
    while Spark stays exact at (22,8)) so the rounding point is
    identical before the final double cast; true-decimal equality is
    pinned by the local parity test."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(18,4)")
    return orders.groupBy("o_orderstatus").agg(
        F.sum(d).cast("double").alias("total_exact"),
        F.avg(d).cast("decimal(18,4)").cast("double").alias("avg_exact"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "array_agg_order_history",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           array_to_string(list(o_orderkey ORDER BY o_orderdate, o_orderkey), ',')
             AS order_keys,
           array_to_string(list(DISTINCT o_orderstatus ORDER BY o_orderstatus), ',')
             AS statuses
    FROM orders
    WHERE o_custkey < 50
    GROUP BY o_custkey
    """,
    description="Ordered collect_list / sorted collect_set per group (array aggregation)",
    tags=("agg", "array"),
)
def array_agg_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with DETERMINISTIC element order: collect_list
    gives no ordering guarantee under parallel merge, so the rows are
    collected as (date, key) structs and array_sort'ed — the only way
    an array-valued aggregate can hash-match across engines/layouts.
    The registered output serializes both lists as comma-joined strings
    (array_join): the gate's pandas canonicalizer cannot sort/hash list
    cells, and the registry lint rejects ArrayType/MapType final
    schemas. The array form remains one array_join away internally."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.array_sort(
                F.collect_list(F.struct("o_orderdate", "o_orderkey"))
            ).alias("_hist"),
            F.array_sort(F.collect_set("o_orderstatus")).alias("_statuses"),
        )
        .select(
            "o_custkey",
            "n_orders",
            F.array_join(
                F.transform(F.col("_hist"), lambda s: s.getField("o_orderkey")),
                ",",
            ).alias("order_keys"),
            F.array_join(F.col("_statuses"), ",").alias("statuses"),
        )
    )


@register(
    "pagerank_trade_graph",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT 'C' || o_custkey AS c, 'S' || l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r1 AS (
      SELECT e.dst AS node, 0.15 + 0.85 * sum(1.0 / d.deg) AS rank
      FROM edges e JOIN deg d ON e.src = d.src GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node, 0.15 + 0.85 * sum(r1.rank / d.deg) AS rank
      FROM edges e JOIN deg d ON e.src = d.src JOIN r1 ON r1.node = e.src
      GROUP BY e.dst
    )
    SELECT node, round(rank, 6) AS rank
    FROM r2 ORDER BY round(rank, 6) DESC, node LIMIT 20
    """,
    description="PageRank (2 power iterations) on the bipartite customer-supplier trade graph",
    tags=("graph", "iterative", "topk"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-looped PageRank over the bidirectional customer<->supplier
    edge set (distinct trading pairs). Fixed 2 iterations so the DuckDB
    twin unrolls exactly; ranking rounds before ordering so FP summation
    noise (~1e-15) cannot flip the top-20 cut."""
    from crypto_etl_pipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # distinct on the INT key pair, then build the labels: hash-agg on
    # two longs shuffles ~16 B/row instead of two strings, and the
    # int-pair -> string-pair mapping is injective so the result set is
    # identical to the oracle's DISTINCT over concatenated labels.
    # The iteration runs on LONG node ids (2*custkey for customers,
    # 2*suppkey+1 for suppliers — injective, disjoint): every join and
    # aggregation in the power iterations hashes 8-byte longs instead
    # of strings. The 'C{k}'/'S{k}' labels the oracle compares exist
    # only in the final 16.5k-row projection before the top-20 cut
    # (where the oracle's lexicographic label tie-break also applies).
    pairs = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank(edges)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("C"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("S"), ((F.col("node") - 1) / 2).cast("long").cast("string"))
    )
    return (
        ranks.select(label.alias("node"), F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


@register(
    "window_rolling_7d_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 4)
             AS spend_7d
    FROM orders
    WHERE o_custkey < 200
    """,
    description="Time-RANGE window frame: per-customer rolling 7-day spend",
    tags=("window", "timeseries"),
)
def window_rolling_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over EVENT TIME (not row counts): every order sums
    the same customer's orders in the trailing 7 days, including
    same-timestamp peers — the semantics ROWS frames cannot express.
    Spark range frames need a numeric order key, so the timestamp
    becomes epoch seconds and the frame is -7 days in seconds; the
    7-day bound is inclusive on both engines. Values rounded on the
    4-decimal grid (sums of 2dp money never tie there)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-7 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("spend_7d"),
    )


@register(
    "csv_corrupt_record_audit",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           sum(CASE WHEN o_orderkey % 50 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_corrupt,
           round(sum(CASE WHEN o_orderkey % 50 != 0 THEN o_totalprice END), 4)
             AS clean_total
    FROM orders
    GROUP BY o_orderstatus
    """,
    description="PERMISSIVE CSV parse of a deliberately-corrupted file: malformed rows null out, audit matches the known corruption pattern",
    tags=("source", "robustness"),
)
def csv_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-input contract check: orders are written to CSV with
    totalprice replaced by unparseable text on every key%50==0 row, then
    read back with an explicit schema in PERMISSIVE mode (the default:
    malformed fields null out, rows survive). The oracle knows the
    corruption pattern arithmetically, so the hash match proves
    PERMISSIVE nulls land exactly on the corrupted rows — none lost,
    none invented. FAILFAST/DROPMALFORMED are the strict alternatives;
    a 100 TB ingest almost always wants this audit-then-quarantine
    shape instead."""
    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    dirty = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 50 == 0, F.lit("NOT_A_NUMBER"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("o_totalprice"),
    )
    path = scratch_dir("orders_dirty_") + "/orders_csv"
    dirty.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias("n_corrupt"),
        F.round(F.sum("o_totalprice"), 4).alias("clean_total"),
    )


def _interleave16_sql() -> str:
    """SQL fragment interleaving the low 16 bits of u16 (even positions)
    and t16 (odd positions) — identical arithmetic in both engines."""
    terms = []
    for i in range(16):
        terms.append(f"(((u16 >> {i}) & 1) << {2 * i})")
        terms.append(f"(((t16 >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_layout_events",
    oracle=f"""
    WITH dims AS (
      SELECT event_id,
             (user_id & 65535)::BIGINT AS u16,
             (floor(epoch(ts))::BIGINT // 3600) & 65535 AS t16
      FROM events
    ),
    z AS (
      SELECT event_id, u16, t16, ({_interleave16_sql()})::BIGINT AS zvalue
      FROM dims
    )
    SELECT zvalue // 65536 AS zbucket,
           count(*) AS n,
           min(zvalue) AS zmin,
           max(zvalue) AS zmax
    FROM z GROUP BY zvalue // 65536
    """,
    description="Z-order (Morton) interleave of (user, hour) + range bucketing — multi-dim layout clustering",
    tags=("layout", "agg"),
)
def zorder_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-dimensional data-layout pass: interleaving the low 16
    bits of user_id and event-hour gives a Morton (Z-order) key; range-
    partitioning and sorting by it before a write co-locates rows close
    in BOTH dimensions, so parquet row-group min/max stats prune scans
    filtered on either column. Here the zvalue + its range buckets are
    value-checked; the write path is write_parquet + repartitionByRange
    (plan-tested separately). The 32-term bit interleave is plan-time
    unrolled shifts — fully codegen'd, no HOF."""
    ev = load_table(spark, sf_dir, "events")
    u16 = F.col("user_id").bitwiseAND(65535)
    t16 = F.floor(F.unix_timestamp("ts") / 3600).cast("long").bitwiseAND(65535)
    dims = ev.select("event_id", u16.alias("u16"), t16.alias("t16"))
    z = None
    for i in range(16):
        for col, off in (("u16", 0), ("t16", 1)):
            term = F.shiftleft(
                F.shiftright(F.col(col), i).bitwiseAND(1), 2 * i + off
            ).cast("long")
            z = term if z is None else z + term
    zdf = dims.select("event_id", z.alias("zvalue"))
    return (
        zdf.groupBy((F.col("zvalue") / 65536).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zvalue").alias("zmin"),
            F.max("zvalue").alias("zmax"),
        )
    )


@register(
    "map_type_event_counts",
    oracle="""
    SELECT user_id,
           '{' || string_agg('"' || event_type || '":' || n, ',' ORDER BY event_type)
               || '}' AS type_counts_json
    FROM (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    WHERE user_id < 100
    GROUP BY user_id
    """,
    description="MapType surface: per-user event-type count map, serialized sorted for cross-engine hashing",
    tags=("map", "agg"),
)
def map_type_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds a real MapType column (map_from_entries over sorted
    entries) then serializes with to_json — maps have no canonical
    order, so the sorted-entry JSON string is the only representation
    that hash-compares across engines. The map construction itself is
    the surface under test; the JSON is transport."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_type.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("event_type", "n")))
            ).alias("_m")
        )
        .select("user_id", F.to_json(F.col("_m")).alias("type_counts_json"))
    )


@register(
    "regexp_extract_entity_ids",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, 'Customer#(0*)([0-9]+)$', 2)::BIGINT AS name_id,
           c_custkey = regexp_extract(c_name, 'Customer#(0*)([0-9]+)$', 2)::BIGINT
             AS consistent
    FROM customer
    """,
    description="Structured regexp_extract with capture groups (entity-id parse + consistency audit)",
    tags=("text", "regex"),
)
def regexp_extract_entity_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-group extraction over the common Java-regex/RE2 subset:
    parse the numeric entity id out of the formatted name and audit it
    against the key column — the structured-parse shape every log/ID
    pipeline needs. Leading zeros strip via a separate group so the
    cast is exact."""
    cust = load_table(spark, sf_dir, "customer")
    name_id = F.regexp_extract(F.col("c_name"), r"Customer#(0*)([0-9]+)$", 2).cast("long")
    return cust.select(
        "c_custkey",
        name_id.alias("name_id"),
        (F.col("c_custkey") == name_id).alias("consistent"),
    )


@register(
    "stat_aggregate_suite",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS price_sd,
           round(stddev_pop(l_extendedprice), 4)  AS price_sd_pop,
           round(var_samp(l_quantity), 4)         AS qty_var,
           round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_price_qty,
           round(covar_pop(l_extendedprice, l_discount), 6)  AS cov_price_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Statistical aggregate breadth: stddev/var/covar (sample + population) per group",
    tags=("stats", "agg"),
)
def stat_aggregate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates, both sample and population flavors —
    definitionally identical across engines (unlike skewness/kurtosis,
    whose bias corrections differ — those stay in the rows-only
    profile). All compute in ONE partial+final agg pass over the
    grouped scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("price_sd_pop"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("cov_price_qty"),
        F.round(F.covar_pop("l_extendedprice", "l_discount"), 6).alias("cov_price_disc"),
    )


@register(
    "unpivot_customer_metrics",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, round(c_acctbal, 2) AS value
    FROM customer WHERE c_custkey < 100
    UNION ALL
    SELECT c_custkey, 'nationkey', c_nationkey::DOUBLE
    FROM customer WHERE c_custkey < 100
    """,
    description="unpivot/melt (inverse of pivot): wide numeric columns -> (metric, value) rows",
    tags=("analytics", "reshape"),
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide->long reshape via the native unpivot operator (Expand
    under the hood — one pass, rows x n_metrics output, no shuffle);
    values share one column so they widen to double, exactly like the
    oracle's UNION ALL."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 100)
    return cust.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "value")


@register(
    "ansi_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity = 25 THEN NULL
                ELSE round(l_extendedprice / (l_quantity - 25), 6) END AS price_per_offset,
           TRY_CAST(l_returnflag AS BIGINT) AS flag_as_number
    FROM lineitem
    WHERE l_orderkey < 2000
    """,
    description="ANSI-safe arithmetic: try_divide (div-by-zero -> null) and try_cast under ANSI mode",
    tags=("ansi", "functions"),
)
def ansi_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 runs ANSI mode: plain division by zero RAISES. try_divide
    is the explicit opt-out that yields null instead — the oracle
    mirrors it with a CASE guard; try_cast of a non-numeric string
    nulls identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # round 6, not 4: 2dp-price / small-integer quotients terminate
        # with up to 6 decimals (divisors <= 25 contribute <= 4 digits),
        # so the 4-decimal grid sits exactly on .xxxx5 ties where the
        # engines' rounding disagrees; at 6 decimals the exact value IS
        # the grid point
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25), 6
        ).alias("price_per_offset"),
        F.col("l_returnflag").try_cast("long").alias("flag_as_number"),
    )


@register(
    "argmax_user_events",
    oracle="""
    SELECT user_id,
           arg_max(event_type, event_id) AS last_event_type,
           arg_min(event_type, event_id) AS first_event_type,
           round(arg_max(coalesce(value, 0.0), event_id), 6) AS last_value
    FROM events
    GROUP BY user_id
    """,
    description="argmax/argmin aggregates (max_by/min_by) per group — no window, no self-join",
    tags=("agg",),
)
def argmax_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by: the single-pass argmax aggregate that replaces the
    window-row_number-filter idiom when only one extremum row is needed
    — map-side partial aggregation instead of a full sort per group.
    Keyed on event_id (unique) so the extremum is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "event_id").alias("last_event_type"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
        F.round(
            F.max_by(F.coalesce(F.col("value"), F.lit(0.0)), F.col("event_id")), 6
        ).alias("last_value"),
    )


@register(
    "hll_sketch_mergeable_rollup",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, count(DISTINCT user_id) AS exact_daily
      FROM events GROUP BY date_trunc('day', ts)
    )
    SELECT (SELECT count(*) FROM daily) AS n_days,
           (SELECT count(DISTINCT user_id) FROM events) AS exact_total,
           true AS daily_estimates_within_5pct,
           true AS merged_estimate_within_5pct
    FROM (SELECT 1)
    """,
    description="Mergeable HLL sketches: per-day sketch rollup + union == direct estimate (contract oracle)",
    tags=("approx", "sketch", "agg"),
)
def hll_sketch_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE scale pattern for distinct counts over rollups: build one
    HLL sketch per day (mergeable binary state, map-side partial), then
    hll_union_agg the daily sketches into the overall estimate — at
    100 TB you store the daily sketches and answer any date-range
    distinct-count from them without rescanning. The oracle checks the
    accuracy CONTRACT: every daily estimate and the merged estimate
    land within 5% of the exact counts (booleans assert true), plus the
    exact totals hash-compare."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    daily_ok = daily.select(
        F.min(
            (
                F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("exact_daily"))
                <= 0.05 * F.col("exact_daily")
            ).cast("int")
        ).alias("_all_ok"),
        F.count(F.lit(1)).alias("n_days"),
    ).agg(
        F.first("n_days").alias("n_days"),
        (F.min("_all_ok") == 1).alias("daily_estimates_within_5pct"),
    )
    merged = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_merged_est")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_total"))
    return (
        daily_ok.crossJoin(merged)
        .crossJoin(exact)
        .select(
            "n_days",
            "exact_total",
            "daily_estimates_within_5pct",
            (
                F.abs(F.col("_merged_est") - F.col("exact_total"))
                <= 0.05 * F.col("exact_total")
            ).alias("merged_estimate_within_5pct"),
        )
    )


@register(
    "degree_distribution_trade_graph",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT o_custkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT 'C' || o_custkey AS node FROM pairs
        UNION ALL SELECT 'S' || l_suppkey FROM pairs
      ) GROUP BY node
    )
    SELECT degree, count(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
    description="Degree distribution of the customer-supplier trade graph (graph-health histogram)",
    tags=("graph", "agg"),
)
def degree_distribution_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation (node degree -> degree histogram) over the
    distinct trade pairs: the first groupBy clusters on node, the
    second on the (tiny-cardinality) degree — the classic graph-health
    check that detects hub formation before an iterative algorithm is
    run. Distinct runs on integer keys; labels are built after."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    nodes = pairs.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("node")
    ).unionByName(
        pairs.select(F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "window_dense_rank_lead",
    oracle="""
    SELECT event_type, event_id,
           round(value, 6) AS value,
           dense_rank() OVER w AS drank,
           round(lead(value, 1) OVER w, 6) AS next_value,
           round(nth_value(value, 3) OVER (PARTITION BY event_type
                   ORDER BY value DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS third_highest
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
    """,
    description="Window-function completion: dense_rank, lead, nth_value (deterministic tie-break)",
    tags=("window", "analytics"),
)
def window_dense_rank_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounds out the rank-function family beyond window_rank_suite:
    dense_rank (no rank gaps on ties), lead (forward offset), and
    nth_value over a running frame (null until 3 rows seen — both
    engines agree because the ORDER includes the unique event_id
    tie-break). One exchange on event_type, shared by all three
    window functions (same partitioning + ordering)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_type",
        "event_id",
        F.round("value", 6).alias("value"),
        F.dense_rank().over(w).alias("drank"),
        F.round(F.lead("value", 1).over(w), 6).alias("next_value"),
        F.round(F.nth_value("value", 3).over(w_run), 6).alias("third_highest"),
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH pe AS (
      SELECT DISTINCT user_id,
             regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT AS k,
             date_trunc('day', ts) AS day
      FROM events
      WHERE event_type = 'purchase' AND props IS NOT NULL
    ),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM pe a JOIN pe b ON a.k = b.k AND a.day = b.day AND a.user_id < b.user_id
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
      GROUP BY node
    ),
    tri AS (
      SELECT count(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS w FROM deg)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           w AS n_wedges,
           t AS n_triangles,
           round(CASE WHEN w > 0 THEN 3.0 * t / w ELSE 0 END, 6) AS global_clustering
    FROM tri, wed
    """,
    description="Exact triangle count + global clustering on the purchase co-occurrence graph (degree-ordered orientation)",
    tags=("graph", "join", "agg"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles of the user co-purchase graph: an edge links two users
    with purchase events sharing the same props-k value on the same
    day. The co-occurrence self-join is bounded the same way as
    event_type_cooccurrence — DISTINCT (user, k, day) first, so the
    pair blow-up is per-(k, day) group, never events^2. Counting uses
    degree-ordered orientation (operators/graph.py triangle_stats):
    each wedge is enumerated only at its lowest-(degree, id) vertex,
    bounding intermediate rows at O(m^1.5) even on skewed graphs,
    while the oracle counts the same triangles with the plain ordered
    triple join that is only feasible at oracle scale."""
    from crypto_etl_pipeline_spark.operators.graph import triangle_stats

    ev = load_table(spark, sf_dir, "events")
    pe = (
        ev.where((F.col("event_type") == "purchase") & F.col("props").isNotNull())
        .select(
            "user_id",
            F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("long").alias("k"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .distinct()
    )
    a = pe.alias("a")
    b = pe.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    return triangle_stats(edges)


@register(
    "ab_welch_t_test",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
      GROUP BY event_type
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
           round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat,
           round(pow(a.v / a.n + b.v / b.n, 2)
                 / (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)),
                 2) AS welch_df
    FROM g a, g b
    WHERE a.event_type = 'purchase' AND b.event_type = 'click'
    """,
    description="A/B hypothesis test: Welch's unequal-variance t statistic + Satterthwaite df between two event cohorts",
    tags=("stats", "agg", "ab-test"),
)
def ab_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation primitive: Welch's t between two cohorts,
    computed entirely from ONE grouped aggregation pass (n, mean,
    sample variance per cohort) — the sufficient statistics — then
    pure scalar math over two broadcast 1-row branches. No second
    scan, no per-row work beyond the agg; at 100 TB this is the same
    single partial+final agg as any GROUP BY. df rounds to 2 and t to
    4: both derive from variance ratios whose last-ulp association
    differences across engines sit well below those precisions."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = g.where(F.col("event_type") == "purchase").alias("a")
    b = g.where(F.col("event_type") == "click").alias("b")
    se2 = F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")
    return (
        a.crossJoin(F.broadcast(b))
        .select(
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(F.col("a.m"), 6).alias("mean_a"),
            F.round(F.col("b.m"), 6).alias("mean_b"),
            F.round((F.col("a.m") - F.col("b.m")) / F.sqrt(se2), 4).alias("t_stat"),
            F.round(
                F.pow(se2, F.lit(2))
                / (
                    F.pow(F.col("a.v") / F.col("a.n"), F.lit(2)) / (F.col("a.n") - 1)
                    + F.pow(F.col("b.v") / F.col("b.n"), F.lit(2)) / (F.col("b.n") - 1)
                ),
                2,
            ).alias("welch_df"),
        )
    )


@register(
    "window_ntile_quartiles",
    oracle="""
    WITH spend AS (
      SELECT user_id, event_type, round(sum(value), 4) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, event_type
    ),
    q AS (
      SELECT event_type, s,
             ntile(4)       OVER (PARTITION BY event_type ORDER BY s, user_id) AS quartile,
             percent_rank() OVER (PARTITION BY event_type ORDER BY s, user_id) AS pr
      FROM spend
    )
    SELECT event_type, quartile,
           count(*)           AS n_users,
           round(avg(s), 4)   AS avg_spend,
           round(max(pr), 6)  AS max_pr
    FROM q GROUP BY 1, 2
    """,
    description="ntile / percent_rank window coverage: per-type user-spend quartiles with deterministic tie-breaks",
    tags=("window", "analytics"),
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing (ntile) + relative standing (percent_rank)
    over per-user spend within each event type. Spend is rounded
    BEFORE ranking so cross-engine last-ulp sum differences cannot
    flip the sort; (s, user_id) makes the order total. The window
    partitions by event_type — bounded partitions, map-side sort; the
    quartile re-aggregation rides the same clustering."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    spend = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value"), 4).alias("s")
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("s"), F.asc("user_id"))
    q = spend.select(
        "event_type",
        "s",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
    )
    return q.groupBy("event_type", "quartile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("s"), 4).alias("avg_spend"),
        F.round(F.max("pr"), 6).alias("max_pr"),
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    v AS (
      SELECT user_id, ts AS start_ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS end_ts,
             CASE WHEN cum >= 200 THEN 'gold'
                  WHEN cum >= 50 THEN 'silver'
                  ELSE 'bronze' END AS tier
      FROM p
    ),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT v.tier,
           count(*)               AS n_clicks,
           round(sum(c.value), 4) AS click_value
    FROM c JOIN v
      ON c.user_id = v.user_id
     AND c.ts >= v.start_ts AND (c.ts < v.end_ts OR v.end_ts IS NULL)
    GROUP BY v.tier
    """,
    description="SCD type-2 point-in-time join: facts matched to the dimension version valid at event time",
    tags=("join", "timeseries", "scd2"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slowly-changing-dimension pattern end to end: build a
    type-2 versioned dimension (each purchase opens a tier version;
    validity [ts, next-purchase ts) via lead(); the cumulative-spend
    tier is a deterministic left-to-right running sum, so both engines
    bucket identically), then join click facts to the version valid AT
    THE CLICK'S TIMESTAMP — equi on user_id with the interval
    predicate as a post-join filter. The version table is per-entity
    small (versions-per-user rows); at 100 TB both sides cluster on
    user_id and the interval filter evaluates inside the joined
    partition — never a cross of fact x all-versions."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    p = (
        ev.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.sum("value").over(wp.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        )
    )
    v = p.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        F.lead("ts").over(wp).alias("end_ts"),
        F.when(F.col("cum") >= 200, "gold")
        .when(F.col("cum") >= 50, "silver")
        .otherwise("bronze")
        .alias("tier"),
    )
    c = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = c.alias("c").join(
        v.alias("v"),
        (F.col("c.user_id") == F.col("v.user_id"))
        & (F.col("c.ts") >= F.col("v.start_ts"))
        & ((F.col("c.ts") < F.col("v.end_ts")) | F.col("v.end_ts").isNull()),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum(F.col("c.value")), 4).alias("click_value"),
    )


@register(
    "reconcile_checksum_events",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           (sum(('0x' || substr(md5(
                event_id::VARCHAR || chr(31) || user_id::VARCHAR || chr(31) ||
                coalesce(CAST(round(value, 6) AS DECIMAL(18,6))::VARCHAR, chr(0))
              ), 1, 15))::BIGINT)::HUGEINT % 2305843009213693952)::BIGINT AS checksum
    FROM events
    GROUP BY event_type
    """,
    description="Order-insensitive per-group content checksum (mergeable 60-bit row-hash sum mod 2^61) — two-scan table reconciliation, no row-level join",
    tags=("quality", "agg"),
)
def reconcile_checksum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation at 100 TB: comparing a table against its
    replica / yesterday's snapshot by row-level join is a massive
    shuffle; an addition-mergeable content checksum costs one
    partial/final hash aggregate per side and ships k group rows.
    Row hash = md5 of the canonical row string (portable fixed-scale
    string forms, unit-separator joined, null sentinel); group
    checksum = sum mod 2^61 (BIGINT output on both engines — the
    DECIMAL/HUGEINT lint). The oracle match IS a cross-engine
    reconciliation of the events table; the one-row-perturbation
    sensitivity is pinned in tests/test_round5_ops.py."""
    from crypto_etl_pipeline_spark.operators.validate import table_checksum

    ev = load_table(spark, sf_dir, "events")
    canon = ev.select(
        "event_type",
        F.col("event_id").cast("string").alias("k1"),
        F.col("user_id").cast("string").alias("k2"),
        F.round("value", 6).cast("decimal(18,6)").cast("string").alias("k3"),
    )
    return table_checksum(canon, ["k1", "k2", "k3"])


@register(
    "cms_frequency_contract",
    oracle="""
    SELECT event_type AS term,
           count(*)   AS n_exact,
           true       AS est_ge_exact,
           true       AS est_within_eps
    FROM events GROUP BY event_type
    """,
    description="Count-Min Sketch point-frequency estimates with the one-sided error contract (never under, <= exact + eps*n) oracle-checked against exact counts",
    tags=("approx", "sketch", "agg"),
)
def cms_frequency_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third mergeable frequency sketch beside HLL (distinct) and
    Misra-Gries (heavy hitters): CMS answers point-frequency queries
    for ANY key at eps*n additive one-sided error from a fixed
    depth x width counter grid that merges by addition — at 100 TB
    each partition ships the grid, never its keys. Estimates are
    engine-specific, so the oracle checks the CONTRACT booleans plus
    the exact counts (operators/sketch.py cms_frequency_contract)."""
    from crypto_etl_pipeline_spark.operators.sketch import (
        cms_frequency_contract as cms,
    )

    ev = load_table(spark, sf_dir, "events")
    return cms(ev, "event_type", eps=0.001, confidence=0.99, seed=17)


@register(
    "schema_evolution_merge_read",
    oracle="""
    SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 2 END AS ingest_batch,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value,
           count(CASE WHEN user_id % 2 = 1 THEN value END) AS n_value_eur,
           round(coalesce(sum(CASE WHEN user_id % 2 = 1
                                   THEN round(value * 0.9, 4) END), 0), 4)
             AS sum_value_eur
    FROM events
    GROUP BY 1, 2
    """,
    description="Parquet schema evolution: two batches with drifted schemas -> one mergeSchema scan, per-batch null accounting",
    tags=("source", "sink", "agg"),
)
def schema_evolution_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema DRIFT at the ingest boundary — the capability a long-lived
    100 TB table needs: batch 1 lands with the original column set,
    batch 2 adds a `value_eur` column, and ONE `mergeSchema` scan reads
    both generations with the missing column null-filled for the old
    files. The batches are written as `ingest_batch=N` partition
    directories, so schema lineage rides the partition column and old
    files are never rewritten (additive evolution — the only kind
    plain parquet supports; renames/drops need a table format's
    metadata log). Per-batch non-null accounting of the evolved column
    is the compared surface: it proves the null-fill semantics, not
    just that the read succeeded. The oracle replays both generations
    arithmetically from the source table."""
    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = scratch_dir("schema_evo_") + "/events"
    b1 = ev.where(F.col("user_id") % 2 == 0)
    b2 = ev.where(F.col("user_id") % 2 == 1).withColumn(
        "value_eur", F.round(F.col("value") * 0.9, 4)
    )
    b1.write.mode("overwrite").parquet(root + "/ingest_batch=1")
    b2.write.mode("overwrite").parquet(root + "/ingest_batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy("ingest_batch", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count("value_eur").alias("n_value_eur"),
        F.round(F.coalesce(F.sum("value_eur"), F.lit(0.0)), 4).alias("sum_value_eur"),
    )


UNIVERSE_RATE = 0.2
UNIVERSE_SALT = "universe-v1"


@register(
    "consistent_universe_sample",
    oracle=f"""
    WITH s AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE ('0x' || substr(md5(c_custkey::VARCHAR || '{UNIVERSE_SALT}'), 1, 15))::BIGINT
            % 1000000 < {int(UNIVERSE_RATE * 1_000_000)}
    ),
    o AS (
      SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
      FROM orders
      WHERE ('0x' || substr(md5(o_custkey::VARCHAR || '{UNIVERSE_SALT}'), 1, 15))::BIGINT
            % 1000000 < {int(UNIVERSE_RATE * 1_000_000)}
      GROUP BY o_custkey
    ),
    e AS (
      SELECT user_id, count(*) AS n_events
      FROM events
      WHERE ('0x' || substr(md5(user_id::VARCHAR || '{UNIVERSE_SALT}'), 1, 15))::BIGINT
            % 1000000 < {int(UNIVERSE_RATE * 1_000_000)}
      GROUP BY user_id
    )
    SELECT s.c_mktsegment AS segment,
           count(*) AS n_customers,
           coalesce(sum(o.n_orders), 0)::BIGINT AS n_orders,
           round(coalesce(sum(o.spend), 0), 4) AS sum_spend,
           coalesce(sum(e.n_events), 0)::BIGINT AS n_events
    FROM s
    LEFT JOIN o ON o.o_custkey = s.c_custkey
    LEFT JOIN e ON e.user_id = s.c_custkey
    GROUP BY s.c_mktsegment
    """,
    description="Universe sampling: one hash gate on the shared key, applied independently per table, preserves joins in the sample",
    tags=("sampling", "join"),
)
def consistent_universe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIVERSE sampling (the Quickr/VerdictDB family's join-preserving
    sample): gating every table on the SAME hash of the shared key
    selects a consistent 20% sub-universe of customers — a sampled
    customer keeps ALL its orders and events, so join structure and
    per-entity statistics survive, where independent row-Bernoulli samples of two
    fact tables would retain rate^2 of the join pairs. The gate is a
    pure expression evaluated INSIDE each scan (no coordination, no
    shuffle, no sampled-key broadcast needed); at 100 TB this is how a
    dev-scale consistent slice of a whole warehouse is cut in one pass
    per table. Gate arithmetic is the repo's portable md5 contract, so
    the oracle replays each per-table gate bit-for-bit."""
    from crypto_etl_pipeline_spark.operators.sampling import hash_bernoulli_sample

    cust = hash_bernoulli_sample(
        load_table(spark, sf_dir, "customer"), "c_custkey", UNIVERSE_RATE, UNIVERSE_SALT
    ).select("c_custkey", "c_mktsegment")
    orders = hash_bernoulli_sample(
        load_table(spark, sf_dir, "orders"), "o_custkey", UNIVERSE_RATE, UNIVERSE_SALT
    )
    events = hash_bernoulli_sample(
        load_table(spark, sf_dir, "events"), "user_id", UNIVERSE_RATE, UNIVERSE_SALT
    )
    o = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("spend")
    )
    e = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    joined = cust.join(o, cust.c_custkey == o.o_custkey, "left").join(
        e, cust.c_custkey == e.user_id, "left"
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.coalesce(F.sum("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.round(F.coalesce(F.sum("spend"), F.lit(0.0)), 4).alias("sum_spend"),
        F.coalesce(F.sum("n_events"), F.lit(0)).cast("long").alias("n_events"),
    )


@register(
    "global_sequence_ids",
    oracle="""
    SELECT doc_id, lang,
           row_number() OVER (ORDER BY lang, doc_id) AS seq
    FROM documents
    """,
    description="Dense global sequence numbers without a single-partition sort (range partitions + offset shift)",
    tags=("window", "ids"),
)
def global_sequence_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ordinals are the canonical scale trap: the oracle's
    `row_number() OVER (ORDER BY ...)` is correct SQL but plans as ONE
    task holding the whole table. The operator instead range-partitions
    on the order key, numbers each range in parallel, and shifts by
    broadcast cumulative partition counts — same answer, full
    parallelism, and the only global object is an n_partitions-row
    count table (operators/sampling.py `global_ordinals`). The driver
    uses this shape for sharded training-data manifests (sample ids,
    sequence ids, pack offsets)."""
    from crypto_etl_pipeline_spark.operators.sampling import global_ordinals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return global_ordinals(docs, ["lang", "doc_id"]).select("doc_id", "lang", "seq")


@register(
    "dpp_partitioned_star_probe",
    oracle="""
    SELECT l_linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
    description="Dynamic partition pruning: dim filter prunes fact partitions at RUNTIME through the join key",
    tags=("source", "join", "agg"),
)
def dpp_partitioned_star_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star-schema scan-reduction Catalyst performs at RUNTIME:
    the fact lands partitioned by join key, the dimension carries the
    selective filter, and DPP turns the dim's broadcast into a
    partition filter on the fact scan (`dynamicpruningexpression` in
    PartitionFilters) — the fact directories for non-matching keys are
    never listed, let alone read. Distinct from
    partitioned_write_prune_read, where the literal predicate prunes
    at PLAN time: here the pruning value only exists after the dim is
    filtered, which is exactly the shape of a 100 TB fact joined to a
    curated dim slice. The plan property (dynamicpruningexpression
    present, static pruning absent) is asserted in
    tests/test_scale_patterns.py."""
    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir, write_parquet

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    root = scratch_dir("dpp_star_")
    write_parquet(li, root + "/fact", partition_by=["l_returnflag"])
    dim = li.select(F.col("l_returnflag").alias("flag")).distinct().withColumn(
        "flag_class",
        F.when(F.col("flag") == "R", "returned").otherwise("kept"),
    )
    write_parquet(dim, root + "/dim")
    fact = spark.read.parquet(root + "/fact")
    dim_r = spark.read.parquet(root + "/dim").where(F.col("flag_class") == "returned")
    return (
        fact.join(F.broadcast(dim_r), fact.l_returnflag == dim_r.flag)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


ARES_K = 50


@register(
    "sample_weighted_ares",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars AS weight,
             ln((('0x' || substr(md5(doc_id::VARCHAR || 'ares-v1'), 1, 15))::BIGINT
                 % 1000000 + 1) / 1000000.0) / n_chars AS k
      FROM documents
    )
    SELECT doc_id, weight, round(k, 9) AS sample_key,
           row_number() OVER (ORDER BY k DESC, doc_id) AS rank
    FROM keyed ORDER BY k DESC, doc_id LIMIT {ARES_K}
    """,
    description="Efraimidis-Spirakis weighted sampling without replacement: top-k of ln(u)/w with hash-derived u",
    tags=("sampling", "topk"),
)
def sample_weighted_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE weight-proportional sampling (A-ES): the complement
    of pps_systematic_sample's exact-MASS contract — here exactly k
    rows come back, heavier rows proportionally more likely, no
    replacement, and the result is a pure function of (row key, salt)
    so re-runs and engines agree. Plans as one scan + TopK. The 1-ulp
    libm-vs-JVM ln() divergence could in principle flip an ordering of
    two keys within ~1e-16 of each other — with 500 keys spread over
    ~0.1 the collision probability is ~1e-13, and the compared key
    itself rounds at 9 decimals."""
    from pyspark.sql.window import Window

    from crypto_etl_pipeline_spark.operators.sampling import ares_sample

    docs = load_table(spark, sf_dir, "documents")
    s = ares_sample(docs, "doc_id", "n_chars", ARES_K)
    w = Window.orderBy(F.desc("_key"), F.asc("doc_id"))
    return s.select(
        "doc_id",
        "weight",
        F.round("_key", 9).alias("sample_key"),
        F.row_number().over(w).alias("rank"),
    )


@register(
    "trend_regression_by_type",
    oracle="""
    SELECT event_type,
           count(value) AS n,
           round(regr_slope(value, epoch_us(ts) / 3600000000.0), 6)
             AS slope_per_hour,
           round(regr_intercept(value, epoch_us(ts) / 3600000000.0), 4)
             AS intercept,
           round(regr_r2(value, epoch_us(ts) / 3600000000.0), 6) AS r2
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    description="Per-group OLS trend via SQL regression aggregates (regr_slope/intercept/r2) — one pass, no ML library",
    tags=("timeseries", "agg", "ml"),
)
def trend_regression_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is this metric drifting? — answered with the ANSI regression
    AGGREGATES: per event type, the OLS slope of value against
    hours-since-epoch, plus intercept and r2, all from ONE hash
    aggregation pass (the engines maintain the co-moment sufficient
    statistics internally — the same mergeable-moments machinery as
    stddev/covar, so it scales exactly like any sum). The near-zero r2
    on this synthetic corpus is itself the correct reading: value has
    no time trend, and the regression says so with a number rather
    than a shrug. Both engines accumulate co-moments in double and
    round on the same grid."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = F.unix_micros(F.col("ts")) / 3_600_000_000.0
    return ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_hour"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


STRAT_N = 120  #: global sample size allocated across lang strata
#: one salt PER sampling operator (the mixtemp-v1/srccap-v1/ares-v1
#: discipline): stratified_fixed_k_sample already owns "strat-v1", and
#: sharing it would rank every stratum in the identical hash order —
#: the two "independent" samples would be perfectly nested.
STRAT_SALT = "strat-exact-v1"


@register(
    "sample_stratified_exact",
    oracle=f"""
    WITH sz AS (
      SELECT lang, count(*)::BIGINT AS n_s FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(n_s)::BIGINT AS n FROM sz),
    quota AS (
      SELECT lang, n_s,
             ({STRAT_N} * n_s) // t.n AS base,
             ({STRAT_N} * n_s) % t.n  AS rem
      FROM sz, tot t
    ),
    alloc AS (
      SELECT lang, n_s,
             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC)
                         <= {STRAT_N} - (SELECT sum(base) FROM quota)
                    THEN 1 ELSE 0 END AS quota
      FROM quota
    ),
    gated AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(doc_id::VARCHAR || '{STRAT_SALT}'), 1, 15))::BIGINT
               % 1000000 AS g
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, g,
             row_number() OVER (PARTITION BY lang ORDER BY g, doc_id) AS strat_rank
      FROM gated
    )
    SELECT r.doc_id, r.lang, r.strat_rank, a.quota
    FROM ranked r JOIN alloc a USING (lang)
    WHERE r.strat_rank <= a.quota
    """,
    description="Stratified exact-size sampling: largest-remainder quota allocation per lang, deterministic hash-ranked selection within stratum",
    tags=("sampling", "window"),
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional stratified sampling with an EXACT global size — the
    eval-set construction contract (hash_bernoulli gives expected
    size, A-ES gives exact size but global weighting; evaluation sets
    need exact size AND per-stratum proportionality). Quotas use
    integer largest-remainder (Hamilton) apportionment: base =
    (N*n_s) div n, the N - sum(base) leftovers go to the largest
    (N*n_s) mod n remainders — all integer arithmetic, so both engines
    agree without an FP edge. Selection ranks within each stratum by
    the md5 hash gate (reproducible across runs/engines/partitionings,
    unlike df.sample) — a per-stratum window, never a global sort; the
    quota table is stratum-cardinality-sized and broadcasts. At 100 TB
    the per-stratum TopK (quota rows each) replaces the full window
    sort via WindowGroupLimit pushdown — rank filter <= quota is
    exactly the pattern Spark rewrites to a per-partition bounded
    heap."""
    from pyspark.sql.window import Window

    from crypto_etl_pipeline_spark.operators.sampling import hash_gate

    docs = load_table(spark, sf_dir, "documents")
    sz = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_s"))
    tot = sz.agg(F.sum("n_s").alias("n"))
    quota = (
        sz.join(F.broadcast(tot))
        .select(
            "lang",
            "n_s",
            # integer `div`, not `/`+cast: float division of big longs
            # jitters low bits at corpus scale (the load_table ns note)
            F.expr(f"({STRAT_N} * n_s) div n").alias("base"),
            ((F.lit(STRAT_N) * F.col("n_s")) % F.col("n")).alias("rem"),
        )
    )
    w_rem = Window.orderBy(F.desc("rem"), F.asc("lang"))
    w_base = Window.partitionBy()
    alloc = quota.select(
        "lang",
        (
            F.col("base")
            + F.when(
                F.row_number().over(w_rem)
                <= F.lit(STRAT_N) - F.sum("base").over(w_base),
                1,
            ).otherwise(0)
        ).alias("quota"),
    )
    w_lang = Window.partitionBy("lang").orderBy(
        hash_gate(F.col("doc_id"), STRAT_SALT).asc(), F.asc("doc_id")
    )
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w_lang).alias("strat_rank"),
    )
    return ranked.join(F.broadcast(alloc), "lang").where(
        F.col("strat_rank") <= F.col("quota")
    ).select("doc_id", "lang", "strat_rank", "quota")


@register(
    "variant_props_shred",
    oracle="""
    SELECT event_type,
           CAST(floor(k / 10.0) AS BIGINT) AS k_bucket,
           count(*) AS n,
           min(k) AS min_k, max(k) AS max_k,
           round(avg(value), 6) AS avg_value
    FROM (SELECT event_type, value,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    WHERE k IS NOT NULL
    GROUP BY event_type, CAST(floor(k / 10.0) AS BIGINT)
    """,
    description="Spark 4 VARIANT type: parse_json + variant_get typed path shred, bucketed histogram per event type",
    tags=("json", "variant", "agg"),
)
def variant_props_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through the VARIANT type (new in
    Spark 4.0) rather than from_json-with-schema: ``parse_json`` builds
    the binary variant once, ``variant_get`` extracts a typed path.
    At scale this is the right default for ragged/evolving JSON —
    variant parsing is a codegen'd expression and, on variant-shredded
    parquet, path extraction prunes to the shredded subcolumn instead
    of re-parsing text. The sibling ``json_extract_props_stats`` pins
    the schema-full ``from_json`` form; this pins the schemaless
    VARIANT form over the same column, so both parse paths are under
    oracle. Output is a (event_type x k-decade) histogram with a
    value-average join-back — one shuffle on the composite group key."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", "value", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("k") / 10.0).cast("long").alias("k_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


KMV_K = 64
_KMV_DOMAIN_SQL = "1152921504606846976.0"  # 16^15 = 2^60, the md5-prefix domain


@register(
    "sketch_kmv_audience_overlap",
    oracle=f"""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (SELECT DISTINCT event_type AS grp,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM events),
    sk AS (SELECT grp, h FROM (
             SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk FROM h)
           WHERE rk <= {KMV_K}),
    grps AS (SELECT DISTINCT grp FROM sk),
    pairs AS (SELECT a.grp AS ga, b.grp AS gb FROM grps a JOIN grps b ON a.grp < b.grp),
    sides AS (
      SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b FROM pairs p JOIN sk s ON s.grp = p.ga
      UNION ALL
      SELECT p.ga, p.gb, s.h, 0, 1 FROM pairs p JOIN sk s ON s.grp = p.gb
    ),
    merged AS (SELECT ga, gb, h, max(in_a) AS ia, max(in_b) AS ib
               FROM sides GROUP BY ga, gb, h),
    top AS (SELECT * FROM (
              SELECT ga, gb, h, ia, ib,
                     row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
              FROM merged) WHERE rk <= {KMV_K}),
    est AS (SELECT ga, gb, count(*) AS cnt, max(h) AS hk,
                   sum(ia * ib)::BIGINT AS nboth
            FROM top GROUP BY ga, gb),
    ex AS (SELECT a.event_type AS ga, b.event_type AS gb, count(*) AS inter
           FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY a.event_type, b.event_type),
    nsz AS (SELECT event_type, count(*) AS n FROM u GROUP BY event_type)
    SELECT e.ga AS grp_a, e.gb AS grp_b,
           round(CASE WHEN e.cnt < {KMV_K} THEN e.cnt::DOUBLE
                      ELSE {KMV_K - 1}.0 / (e.hk::DOUBLE / {_KMV_DOMAIN_SQL}) END, 6) AS union_est,
           (na.n + nb.n - coalesce(ex.inter, 0)) AS exact_union,
           round(e.nboth::DOUBLE / e.cnt::DOUBLE, 6) AS jaccard_est,
           round(coalesce(ex.inter, 0)::DOUBLE
                 / (na.n + nb.n - coalesce(ex.inter, 0)), 6) AS exact_jaccard,
           round((e.nboth::DOUBLE / e.cnt::DOUBLE)
                 * CASE WHEN e.cnt < {KMV_K} THEN e.cnt::DOUBLE
                        ELSE {KMV_K - 1}.0 / (e.hk::DOUBLE / {_KMV_DOMAIN_SQL}) END, 6) AS intersect_est,
           coalesce(ex.inter, 0) AS exact_intersect
    FROM est e
    JOIN nsz na ON na.event_type = e.ga
    JOIN nsz nb ON nb.event_type = e.gb
    LEFT JOIN ex ON ex.ga = e.ga AND ex.gb = e.gb
    """,
    description="KMV distinct sketches per audience + pairwise union/intersect/Jaccard estimates vs exact, hash-deterministic",
    tags=("sketch", "agg", "approx"),
)
def sketch_kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from mergeable KMV sketches (Beyer
    et al., SIGMOD'07) — the set-operation counterpart to the HLL
    rollup: HLL unions, KMV also INTERSECTS (rho * D_union), which is
    what corpus-overlap / cross-segment dedup planning actually needs.
    Per-group sketch = k smallest portable md5 hashes (one distinct
    shuffle + WindowGroupLimit bounded heap); every pairwise estimate
    is computed from the groups^2 x k sketch rows alone — the corpus
    is never rescanned per pair, so at 100 TB the pair stage is a
    dim-table job. Exact union/intersection/Jaccard ride alongside so
    the estimator error is visible in the result (and the whole thing
    is hash-deterministic: the DuckDB twin reproduces every estimate
    bit-for-bit, same md5 prefixes, same division operands)."""
    from crypto_etl_pipeline_spark.operators.sketch import kmv_pair_overlap, kmv_sketch

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_sketch(ev, "event_type", KMV_K)
    est = kmv_pair_overlap(sk, KMV_K)

    u = ev.distinct()
    a, b = u.alias("a"), u.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("grp_a"), F.col("b.event_type").alias("grp_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    nsz = u.groupBy(F.col("event_type")).agg(F.count(F.lit(1)).alias("n"))
    na = nsz.select(F.col("event_type").alias("grp_a"), F.col("n").alias("n_a"))
    nb = nsz.select(F.col("event_type").alias("grp_b"), F.col("n").alias("n_b"))
    exact_inter = F.coalesce(F.col("inter"), F.lit(0))
    exact_union = F.col("n_a") + F.col("n_b") - exact_inter
    return (
        est.join(F.broadcast(na), "grp_a")
        .join(F.broadcast(nb), "grp_b")
        .join(F.broadcast(inter), ["grp_a", "grp_b"], "left")
        .select(
            "grp_a",
            "grp_b",
            "union_est",
            exact_union.alias("exact_union"),
            "jaccard_est",
            F.round(exact_inter.cast("double") / exact_union, 6).alias("exact_jaccard"),
            "intersect_est",
            exact_inter.alias("exact_intersect"),
        )
    )


@register(
    "bucketed_join_colocated",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    description="Bucketed co-located join: bucketBy(8, custkey) both sides -> SortMergeJoin with ZERO join-side exchanges",
    tags=("join", "layout", "bucketing"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE bucketing story for repeated big joins at 100 TB: pay the
    shuffle once at write time (bucketBy + sortBy on the join key,
    same bucket count both sides), then every subsequent join on that
    key is exchange-free — each task merge-joins bucket i of both
    tables in place. The plan this produces has a SortMergeJoin with
    NO Exchange under either side (asserted in
    tests/test_round6b_ops.py; the only exchange left is the tiny
    post-join segment rollup). The layout sibling queries pin the
    other two write-time levers: partitioned-write pruning
    (partitioned_write_prune_read) and z-order clustering
    (zorder_layout_events); this one pins co-location. Bucket count 8
    is the test-scale stand-in for the production rule: buckets ~=
    cluster cores, chosen once per table family."""
    import atexit
    import os
    import re

    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    root = scratch_dir("bucketed_join_")
    # Per-invocation table names (suffix = the mkdtemp tail): fixed
    # global names collide across sessions sharing a metastore, and a
    # long-lived session would keep a catalog entry pointing at scratch
    # data the atexit cleanup deletes. The catalog entries are dropped
    # at interpreter exit, the same lifetime as the scratch files.
    suffix = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(root))
    orders_tbl, customer_tbl = f"orders_{suffix}", f"customer_{suffix}"
    (
        orders.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", root + "/orders_b")
        .saveAsTable(orders_tbl)
    )
    (
        customer.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", root + "/customer_b")
        .saveAsTable(customer_tbl)
    )

    def _drop_tables(s=spark, names=(orders_tbl, customer_tbl)):
        try:
            for n in names:
                s.sql(f"DROP TABLE IF EXISTS {n}")
        except Exception:
            pass  # session already stopped at interpreter exit

    atexit.register(_drop_tables)
    o = spark.table(orders_tbl)
    c = spark.table(customer_tbl)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "kcore_trade_graph",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT 'C' || o_custkey AS c, 'S' || l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    deg0 AS (SELECT src AS node, count(*) AS deg0 FROM edges GROUP BY src),
    kk AS (SELECT CAST(ceil(percentile_cont(0.5) WITHIN GROUP (ORDER BY deg0)) AS BIGINT) AS k
           FROM deg0),
    alive1 AS (SELECT node, deg0 FROM deg0 WHERE deg0 >= (SELECT k FROM kk)),
    e1 AS (SELECT e.src, e.dst FROM edges e
           JOIN alive1 a ON e.src = a.node
           JOIN alive1 b ON e.dst = b.node),
    deg1 AS (SELECT src AS node, count(*) AS deg FROM e1 GROUP BY src)
    SELECT d.node, a.deg0, d.deg AS deg_final
    FROM deg1 d JOIN alive1 a USING (node)
    WHERE d.deg >= (SELECT k FROM kk)
    """,
    description="k-core peel (2 threshold rounds, k = median degree) on the customer-supplier trade graph",
    tags=("graph", "iterative"),
)
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-subgraph extraction by k-core peeling — the graph-side
    quality screen (spam/bot rings and low-engagement fringes peel
    off; the surviving core is where graph-derived features are
    trustworthy). Threshold k = ceil(median initial degree), computed
    IN the plan (exact interpolated percentile + 1-row broadcast
    join-back — scale-adaptive, no magic constant going stale at a
    different SF). Two threshold rounds are the registered,
    oracle-unrolled contract (the pagerank discipline); peel-to-
    fixpoint correctness is pinned in pytest against a hand-built
    clique+pendants fixture. Each round is one degree groupBy + two
    semi-joins — O(E) per round, AQE-planned, no driver materialization
    of anything graph-sized. Reference parity: no reference analogue
    (the reference never joins, SURVEY §2.3); extension surface."""
    from crypto_etl_pipeline_spark.operators.graph import kcore_peel

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # r14: distinct on the INT key pair, label strings built AFTER —
    # the pagerank_trade_graph discipline: the distinct's hash
    # aggregation shuffles ~16 B/row of longs instead of two labeled
    # strings, and the int-pair -> label mapping is injective so the
    # edge set is identical to the oracle's DISTINCT over labels.
    pairs = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        # each peel round references the edge set again; without a cut
        # the lazy plan re-derives the lineitem-orders join per round
        # (measured 3.8 s -> the checkpoint halves it). At scale this is
        # the standard persist-the-edge-list discipline for iterative
        # graph work.
        .localCheckpoint(eager=False)
    )
    return kcore_peel(edges)


@register(
    "ab_ks_test",
    oracle="""
    WITH e AS (
      SELECT round(value, 2) AS v, event_type FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ),
    g AS (
      SELECT v,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM e GROUP BY v
    ),
    tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM g),
    c AS (SELECT v,
                 sum(ca) OVER (ORDER BY v)::BIGINT AS cuma,
                 sum(cb) OVER (ORDER BY v)::BIGINT AS cumb
          FROM g),
    d AS (SELECT max(abs(cuma::DOUBLE / (SELECT na FROM tot)
                         - cumb::DOUBLE / (SELECT nb FROM tot))) AS ks FROM c),
    l AS (SELECT ks,
                 ks * sqrt(((SELECT na FROM tot) * (SELECT nb FROM tot))::DOUBLE
                           / ((SELECT na FROM tot) + (SELECT nb FROM tot))) AS lam
          FROM d)
    SELECT (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b,
           round(ks, 6) AS ks_d,
           round(lam, 6) AS ks_lambda,
           round(least(1.0, 2 * (exp(-2 * lam * lam) - exp(-8 * lam * lam)
                      + exp(-18 * lam * lam))), 6) AS p_approx
    FROM l
    """,
    description="Two-sample Kolmogorov-Smirnov over a fixed-resolution ECDF grid: sup-norm distance + 3-term asymptotic p",
    tags=("stats", "agg", "ab-test"),
)
def ab_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape counterpart to `ab_welch_t_test` (means) and
    `text_chi2_source_quality` (categories): the KS sup-norm detects
    ANY distributional difference between two cohorts. Values round to
    a 0.01 grid first (the quality_percentile_normalize discipline:
    continuous ECDFs need a grid for the dim-table plan), then the
    corpus reduces to per-grid-value conditional counts — one grouped
    agg — and the single cumulative window runs over the GRID (value
    cardinality, never corpus rows), so no corpus-sized sort exists at
    any scale. D and the 3-term Kolmogorov p-approximation are scalar
    math over exact integer cumulative counts: deterministic across
    engines to well below the round-6 output grid."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    g = (
        ev.select(
            F.round("value", 2).alias("v"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ib"),
        )
        .groupBy("v")
        .agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    )
    tot = g.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select("v", F.sum("ca").over(w).alias("cuma"), F.sum("cb").over(w).alias("cumb"))
    d = (
        c.join(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(
                    F.col("cuma").cast("double") / F.col("na")
                    - F.col("cumb").cast("double") / F.col("nb")
                )
            ).alias("ks"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    lam = F.col("ks") * F.sqrt(
        (F.col("na") * F.col("nb")).cast("double") / (F.col("na") + F.col("nb"))
    )
    return d.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("ks", 6).alias("ks_d"),
        F.round(lam, 6).alias("ks_lambda"),
        F.round(
            F.least(
                F.lit(1.0),
                2
                * (
                    F.exp(-2 * lam * lam)
                    - F.exp(-8 * lam * lam)
                    + F.exp(-18 * lam * lam)
                ),
            ),
            6,
        ).alias("p_approx"),
    )


@register(
    "label_propagation_communities",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT 2*c AS src, 2*s+1 AS dst FROM pairs
              UNION ALL SELECT 2*s+1, 2*c FROM pairs),
    n1 AS (
      SELECT dst AS node, src AS community, count(*) AS cnt
      FROM edges GROUP BY dst, src
    ),
    l1 AS (
      SELECT node, community FROM (
        SELECT node, community,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, community ASC) AS rn
        FROM n1) WHERE rn = 1
    ),
    n2 AS (
      SELECT e.dst AS node, l1.community, count(*) AS cnt
      FROM edges e JOIN l1 ON l1.node = e.src
      GROUP BY e.dst, l1.community
    ),
    l2 AS (
      SELECT node, community FROM (
        SELECT node, community,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, community ASC) AS rn
        FROM n2) WHERE rn = 1
    )
    SELECT CASE WHEN community % 2 = 0 THEN 'C' || CAST(community // 2 AS VARCHAR)
                ELSE 'S' || CAST((community - 1) // 2 AS VARCHAR) END AS community,
           count(*) AS n_nodes
    FROM l2 GROUP BY 1
    ORDER BY n_nodes DESC, community LIMIT 20
    """,
    description="Label-propagation communities (2 synchronous rounds, min-id tie-break) on the trade graph; top-20 by size",
    tags=("graph", "iterative", "topk"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    bipartite customer<->supplier trade graph — completes the graph
    family (pagerank = centrality, CC = reachability, k-core =
    cohesion, triangles = closure; LPA = mesoscale structure).
    Deterministic by construction: synchronous rounds + smallest-id
    tie-break, so the 2-round run unrolls into the SQL twin exactly.
    Same long-node-id discipline as pagerank_trade_graph (2k / 2k+1 —
    every join and aggregation hashes 8-byte longs; the 'C{k}'/'S{k}'
    labels exist only in the final bounded projection), and the same
    dimension-sized-node-set broadcast strategy: per-round label
    frames are Aggregate-bounded (lint-recognized), the fact-sized
    edge table never re-shuffles."""
    from crypto_etl_pipeline_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    labels = label_propagation(edges)
    name = F.when(
        F.col("community") % 2 == 0,
        F.concat(F.lit("C"), F.expr("CAST(community DIV 2 AS STRING)")),
    ).otherwise(
        F.concat(F.lit("S"), F.expr("CAST((community - 1) DIV 2 AS STRING)"))
    )
    return (
        labels.groupBy(name.alias("community"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(20)
    )


ZONEMAP_PROBES = (7, 42, 77, 99, 123)  #: user-id point predicates audited


def _zonemap_oracle() -> str:
    """Interleave 8 bits of user_id with 8 bits of the hour index (the
    zorder_layout_events recipe at audit width), bucket both layouts,
    and score zone-map skipping for the probe predicates."""
    z = " + ".join(
        f"(((u >> {i}) & 1) << {2 * i}) + (((h8 >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
    probes = ", ".join(str(p) for p in ZONEMAP_PROBES)
    return f"""
    WITH e AS (
      SELECT user_id AS u,
             (floor(epoch(ts))::BIGINT // 3600) AS h
      FROM events
    ),
    b AS (
      SELECT u, h // 16 AS tfile, ({z}) // 256 AS zfile
      FROM (SELECT u, h, h % 256 AS h8 FROM e)
    ),
    zones AS (
      SELECT 'time' AS layout, tfile AS f, min(u) AS umin, max(u) AS umax
      FROM b GROUP BY tfile
      UNION ALL
      SELECT 'zorder', zfile, min(u), max(u) FROM b GROUP BY zfile
    ),
    p AS (SELECT unnest([{probes}]) AS probe_user)
    SELECT layout, probe_user,
           count(*)::BIGINT AS n_files,
           sum(CASE WHEN probe_user BETWEEN umin AND umax THEN 1 ELSE 0 END)::BIGINT
             AS n_scan,
           round(1.0 - sum(CASE WHEN probe_user BETWEEN umin AND umax
                           THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS skip_frac
    FROM zones, p
    GROUP BY layout, probe_user
    """


@register(
    "join_key_skew_audit",
    oracle="""
    WITH k AS MATERIALIZED (
      SELECT 'events.user_id' AS key, count(*) AS n
      FROM events GROUP BY user_id
      UNION ALL
      SELECT 'lineitem.l_orderkey', count(*) FROM lineitem GROUP BY l_orderkey
      UNION ALL
      SELECT 'orders.o_custkey', count(*) FROM orders GROUP BY o_custkey
    ),
    t AS MATERIALIZED (
      SELECT key, sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
             max(n)::BIGINT AS max_per_key
      FROM k GROUP BY key
    ),
    hot AS (
      SELECT k.key, count(*)::BIGINT AS n_hot_keys
      FROM k JOIN t ON k.key = t.key
      WHERE k.n * t.n_keys > 2 * t.n_rows
      GROUP BY k.key
    )
    SELECT t.key, t.n_rows, t.n_keys, t.max_per_key,
           round(t.max_per_key * t.n_keys * 1.0 / t.n_rows, 6) AS imbalance,
           coalesce(h.n_hot_keys, 0)::BIGINT AS n_hot_keys,
           ((t.max_per_key * t.n_keys + t.n_rows - 1) // t.n_rows)::BIGINT
             AS suggested_salt
    FROM t LEFT JOIN hot h ON t.key = h.key
    """,
    description="Join-key skew diagnostic: per candidate key, rows/keys/max, imbalance factor, hot-key count, and the integer salting factor the skew join would need",
    tags=("join", "agg", "governance"),
)
def join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DIAGNOSTIC that tells you when skew_salted_join (and AQE's
    skew handling) is needed, before a straggler task tells you in
    production: per join-key candidate, the key-count profile — max
    rows per key, the imbalance factor max/avg, the hot-key count
    (keys holding > 2x the mean, decided by the INTEGER cross-multiplied
    form n * n_keys > 2 * n_rows so no division rounds), and the
    salting factor ceil(max/avg) computed with exact integer ceiling
    arithmetic. At 100 TB this is one groupBy-count per key column —
    map-side combined, output key-cardinality-bounded — and its
    imbalance column is precisely the number that decides between a
    plain shuffle join, AQE skew splitting, and explicit salting.

    The window-over-group trick in the oracle (count(*) OVER
    (PARTITION BY key) inside the per-key aggregate) is avoided Spark-
    side: hotness is computed per key-count row against the audit's
    own totals via a broadcast join-back of the 3-row totals frame."""
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    counts = None
    for label, df, col in (
        ("events.user_id", ev, "user_id"),
        ("lineitem.l_orderkey", li, "l_orderkey"),
        ("orders.o_custkey", orders, "o_custkey"),
    ):
        c = df.groupBy(F.col(col)).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(label).alias("key"), "n"
        )
        counts = c if counts is None else counts.unionByName(c)
    totals = counts.groupBy("key").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_per_key"),
    )
    hot = (
        counts.join(F.broadcast(totals), "key")
        .where(F.col("n") * F.col("n_keys") > 2 * F.col("n_rows"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_hot_keys"))
    )
    return (
        totals.join(hot, "key", "left")
        .select(
            "key",
            "n_rows",
            "n_keys",
            "max_per_key",
            F.round(
                F.col("max_per_key") * F.col("n_keys") * F.lit(1.0) / F.col("n_rows"),
                6,
            ).alias("imbalance"),
            F.coalesce("n_hot_keys", F.lit(0)).alias("n_hot_keys"),
            F.expr(
                "(max_per_key * n_keys + n_rows - 1) div n_rows"
            ).alias("suggested_salt"),
        )
    )


@register(
    "layout_skipping_audit",
    oracle=_zonemap_oracle(),
    description="Zone-map file-skipping effectiveness: time-bucketed vs Morton-bucketed layout scored against user-id point predicates",
    tags=("layout", "agg", "pushdown"),
)
def layout_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURES what zorder_layout_events builds: a writer that
    range-buckets by hour gives parquet row-group min/max stats that
    span the full user domain (every file must be scanned for a
    user-id predicate — skip 0), while Morton-bucketing the same rows
    (8 user bits interleaved with 8 hour bits, low 4 of each stripped
    into the file id) bounds each file to a 16-user x 16-hour tile, so
    the same zone maps skip ~90% of files. At 100 TB this difference
    IS the scan bill for selective predicates; the audit quantifies it
    from one corpus pass — per-(layout, file) min/max aggregation
    (file counts are bounded by the fixed 720-hour span and the 16x16
    key tiling, never by corpus size) — then scores the bounded zone
    table against a 5-probe literal frame. Bit interleave is the
    plan-time unrolled shift chain (fully codegen'd, no HOF); the hour
    recipe matches zorder_layout_events' proven cross-engine pair
    (floor(unix_timestamp/3600) vs floor(epoch)//3600)."""
    ev = load_table(spark, sf_dir, "events")
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    base = ev.select(F.col("user_id").alias("u"), h.alias("h"), (h % 256).alias("h8"))
    z = None
    for i in range(8):
        for col, off in (("u", 0), ("h8", 1)):
            term = F.shiftleft(
                F.shiftright(F.col(col), i).bitwiseAND(1), 2 * i + off
            ).cast("long")
            z = term if z is None else z + term
    files = base.select(
        "u",
        F.floor(F.col("h") / 16).cast("long").alias("tfile"),
        F.floor(z / 256).cast("long").alias("zfile"),
    )
    zones = (
        files.groupBy(F.col("tfile").alias("f"))
        .agg(F.min("u").alias("umin"), F.max("u").alias("umax"))
        .select(F.lit("time").alias("layout"), "f", "umin", "umax")
        .unionByName(
            files.groupBy(F.col("zfile").alias("f"))
            .agg(F.min("u").alias("umin"), F.max("u").alias("umax"))
            .select(F.lit("zorder").alias("layout"), "f", "umin", "umax")
        )
    )
    probes = spark.createDataFrame([(p,) for p in ZONEMAP_PROBES], ["probe_user"])
    hit = (
        (F.col("probe_user") >= F.col("umin")) & (F.col("probe_user") <= F.col("umax"))
    ).cast("long")
    return (
        zones.crossJoin(F.broadcast(probes))
        .groupBy("layout", "probe_user")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(hit).alias("n_scan"),
            F.round(1 - F.sum(hit) / F.count(F.lit(1)), 6).alias("skip_frac"),
        )
    )


# -- Mann-Whitney U (rank-sum) A/B test ----------------------------------------

#: Abramowitz & Stegun 26.2.17 constants for the normal tail Q(x) —
#: inlined identically in the Spark expression and the DuckDB oracle
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AS_T = 0.2316419


@register(
    "ab_mann_whitney_u",
    oracle=f"""
    WITH e AS (
      SELECT round(value, 2) AS v, event_type FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ),
    g AS (
      SELECT v,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM e GROUP BY v
    ),
    c AS (
      SELECT v, ca, cb,
             sum(cb) OVER (ORDER BY v)::BIGINT - cb AS cumb_below
      FROM g
    ),
    s AS (
      SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
             sum(ca * (cumb_below + cb / 2.0)) AS u_a,
             sum((ca + cb) * ((ca + cb) * (ca + cb) - 1.0)) AS tie_sum
      FROM c
    ),
    z AS (
      SELECT na, nb, u_a,
             na * nb / 2.0 AS mu,
             sqrt(na * nb / 12.0
                  * ((na + nb + 1.0)
                     - tie_sum / ((na + nb) * (na + nb - 1.0)))) AS sigma
      FROM s
    ),
    q AS (
      SELECT na, nb, u_a, mu, sigma,
             (u_a - mu) / sigma AS zval,
             abs((u_a - mu) / sigma) AS x
      FROM z
    ),
    t AS (
      SELECT na, nb, u_a, mu, sigma, zval, x,
             1.0 / (1.0 + {_AS_T} * x) AS tt,
             exp(-x * x / 2.0) / sqrt(2.0 * pi()) AS pdf
      FROM q
    )
    SELECT na AS n_a, nb AS n_b,
           round(u_a, 2) AS u_a,
           round(mu, 2) AS mu_u,
           round(sigma, 4) AS sigma_u,
           round(zval, 4) AS z,
           round(least(1.0, 2.0 * pdf * ({_AS_B[0]} * tt + {_AS_B[1]} * tt * tt
                 + {_AS_B[2]} * tt * tt * tt + {_AS_B[3]} * tt * tt * tt * tt
                 + {_AS_B[4]} * tt * tt * tt * tt * tt)), 6) AS p_approx
    FROM t
    """,
    description=(
        "Mann-Whitney U rank-sum test (purchase vs click values) over "
        "the fixed ECDF grid — tie-corrected normal approximation, "
        "A&S 26.2.17 tail"
    ),
    tags=("stats", "agg", "ab-test"),
)
def ab_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nonparametric complement to ab_welch_t_test (means) and
    ab_ks_test (sup-norm): U counts cross-group wins, robust to
    outliers and any monotone transform. Grid formulation — U_a =
    Σ_v ca(v)·(cumB_below(v) + cb(v)/2) — runs entirely over the
    0.01-rounded VALUE GRID (the ab_ks_test discipline): per-value
    counts are one map-side-combined aggregate, the cumulative window
    ranges over grid rows (never corpus rows), and everything after
    is 1-row arithmetic. The tie correction uses the same grid counts
    (t_v = ca+cb). The normal-tail p mirrors Abramowitz-Stegun
    26.2.17 verbatim in both engines (neither ships erf); |max error|
    7.5e-8 — far above the 1e-6 rounding grain only in the deep tail
    where p rounds to 0 anyway."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.where(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    ).select(F.round("value", 2).alias("v"), "event_type")
    g = e.groupBy("v").agg(
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("ca"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("cb"),
    )
    from pyspark.sql.window import Window

    cumw = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "v", "ca", "cb", (F.sum("cb").over(cumw) - F.col("cb")).alias("cumb_below")
    )
    s = c.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.sum(F.col("ca") * (F.col("cumb_below") + F.col("cb") / 2.0)).alias("u_a"),
        F.sum(
            (F.col("ca") + F.col("cb"))
            * ((F.col("ca") + F.col("cb")) * (F.col("ca") + F.col("cb")) - 1.0)
        ).alias("tie_sum"),
    )
    mu = F.col("na") * F.col("nb") / 2.0
    sigma = F.sqrt(
        F.col("na")
        * F.col("nb")
        / 12.0
        * (
            (F.col("na") + F.col("nb") + 1.0)
            - F.col("tie_sum")
            / ((F.col("na") + F.col("nb")) * (F.col("na") + F.col("nb") - 1.0))
        )
    )
    zc = (F.col("u_a") - mu) / sigma
    x = F.abs(zc)
    tt = 1.0 / (1.0 + _AS_T * x)
    pdf = F.exp(-x * x / 2.0) / F.sqrt(F.lit(2.0 * math.pi))
    poly = (
        _AS_B[0] * tt
        + _AS_B[1] * tt * tt
        + _AS_B[2] * tt * tt * tt
        + _AS_B[3] * tt * tt * tt * tt
        + _AS_B[4] * tt * tt * tt * tt * tt
    )
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("u_a", 2).alias("u_a"),
        F.round(mu, 2).alias("mu_u"),
        F.round(sigma, 4).alias("sigma_u"),
        F.round(zc, 4).alias("z"),
        F.round(F.least(F.lit(1.0), 2.0 * pdf * poly), 6).alias("p_approx"),
    )


BH_ALPHA = 0.05  #: FDR level for the Benjamini-Hochberg step-up rule


@register(
    "stats_bh_fdr_segments",
    oracle=f"""
    WITH e AS (
      SELECT c.c_mktsegment AS seg, round(o.o_totalprice, 2) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    casv AS (SELECT seg, v, count(*)::BIGINT AS ca FROM e GROUP BY seg, v),
    totv AS (SELECT v, count(*)::BIGINT AS ct FROM e GROUP BY v),
    segs AS (SELECT DISTINCT seg FROM e),
    full_g AS (
      SELECT s.seg, t.v, coalesce(casv.ca, 0) AS ca,
             t.ct - coalesce(casv.ca, 0) AS cb, t.ct AS t
      FROM totv t CROSS JOIN segs s
      LEFT JOIN casv ON casv.seg = s.seg AND casv.v = t.v
    ),
    c AS (
      SELECT seg, v, ca, cb, t,
             sum(cb) OVER (PARTITION BY seg ORDER BY v)::BIGINT - cb
               AS cumb_below
      FROM full_g
    ),
    s AS (
      SELECT seg, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
             sum(ca * (cumb_below + cb / 2.0)) AS u_a,
             sum(t * (t * t - 1.0)) AS tie_sum
      FROM c GROUP BY seg
    ),
    q AS (
      SELECT seg, na, nb,
             (u_a - na * nb / 2.0)
               / sqrt(na * nb / 12.0
                      * ((na + nb + 1.0)
                         - tie_sum / ((na + nb) * (na + nb - 1.0)))) AS zval
      FROM s
    ),
    p AS (
      SELECT seg, na, nb, zval,
             round(least(1.0,
               2.0 * (exp(-zval * zval / 2.0) / sqrt(2.0 * pi()))
                   * ({_AS_B[0]} * tt + {_AS_B[1]} * tt * tt
                      + {_AS_B[2]} * tt * tt * tt
                      + {_AS_B[3]} * tt * tt * tt * tt
                      + {_AS_B[4]} * tt * tt * tt * tt * tt)), 6) AS p_approx
      FROM (SELECT *, 1.0 / (1.0 + {_AS_T} * abs(zval)) AS tt FROM q)
    ),
    m AS (SELECT count(*)::BIGINT AS m FROM p),
    ranked AS (
      SELECT p.*, m.m,
             row_number() OVER (ORDER BY p_approx, seg) AS bh_rank
      FROM p CROSS JOIN m
    ),
    kstar AS (
      SELECT max(CASE WHEN p_approx <= {BH_ALPHA} * bh_rank / m
                      THEN bh_rank END) AS k FROM ranked
    )
    SELECT seg AS segment, na AS n_seg, nb AS n_rest,
           round(zval, 4) AS z, p_approx,
           bh_rank,
           round({BH_ALPHA} * bh_rank / m, 6) AS bh_threshold,
           coalesce(bh_rank <= kstar.k, false) AS rejected
    FROM ranked CROSS JOIN kstar
    """,
    description=(
        "Benjamini-Hochberg FDR over per-segment Mann-Whitney tests "
        "(each market segment's order totals vs the rest): step-up rule, "
        "rank thresholds, and the rejection set at alpha 0.05"
    ),
    tags=("stats", "ab-test", "governance"),
)
def stats_bh_fdr_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing governance for the A/B suite: running one test
    per segment inflates false positives, and BH (Benjamini-Hochberg
    1995) is the standard FDR control — sort the m p-values, find the
    largest k with p_(k) <= alpha*k/m, reject exactly ranks 1..k. Each
    segment's test is the tie-corrected Mann-Whitney grid formulation
    (ab_mann_whitney_u's shape, one grid pass for ALL segments: the
    (v, segment) spine is grid x |segments| rows, cumulative windows
    partition by segment). Determinism: p-values round to 6dp through
    the shared A&S 26.2.17 tail (identical arithmetic both engines),
    BH thresholds are the same double expression on both sides, and
    the step-up scan is POSITIONAL (rank ties broken by segment name)
    over an m-row frame — the global windows touch |segments| rows,
    never the corpus. Scale: two map-side-combined grid aggregates +
    one segment-partitioned window; everything after is dim-sized."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.round("o_totalprice", 2).alias("v")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    e = orders.join(cust, orders.o_custkey == cust.c_custkey).select("seg", "v")
    casv = e.groupBy("seg", "v").agg(F.count(F.lit(1)).cast("long").alias("ca"))
    totv = e.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    # groupBy (not .distinct()) so the broadcast side plans as an
    # Aggregate node: cardinality is bounded by the segment key (5
    # market segments), and the 100 TB broadcast lint recognizes
    # Aggregate as row-bounding.
    segs = e.groupBy("seg").agg(F.count(F.lit(1)).alias("_n")).select("seg")
    full_g = (
        totv.crossJoin(F.broadcast(segs))
        .join(casv, ["seg", "v"], "left")
        .select(
            "seg",
            "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            (F.col("ct") - F.coalesce("ca", F.lit(0))).alias("cb"),
            F.col("ct").alias("t"),
        )
    )
    cum = Window.partitionBy("seg").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = full_g.withColumn(
        "cumb_below", F.sum("cb").over(cum) - F.col("cb")
    )
    s = c.groupBy("seg").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * (F.col("cumb_below") + F.col("cb") / 2.0)).alias("u_a"),
        F.sum(F.col("t") * (F.col("t") * F.col("t") - 1.0)).alias("tie_sum"),
    )
    zval = (F.col("u_a") - F.col("na") * F.col("nb") / 2.0) / F.sqrt(
        F.col("na")
        * F.col("nb")
        / 12.0
        * (
            (F.col("na") + F.col("nb") + 1.0)
            - F.col("tie_sum")
            / ((F.col("na") + F.col("nb")) * (F.col("na") + F.col("nb") - 1.0))
        )
    )
    q = s.select("seg", "na", "nb", zval.alias("zval"))
    tt = 1.0 / (1.0 + _AS_T * F.abs(F.col("zval")))
    pdf = F.exp(-F.col("zval") * F.col("zval") / 2.0) / F.sqrt(
        F.lit(2.0) * F.lit(math.pi)
    )
    poly = (
        _AS_B[0] * tt
        + _AS_B[1] * tt * tt
        + _AS_B[2] * tt * tt * tt
        + _AS_B[3] * tt * tt * tt * tt
        + _AS_B[4] * tt * tt * tt * tt * tt
    )
    p = q.select(
        "seg",
        "na",
        "nb",
        "zval",
        F.round(F.least(F.lit(1.0), 2.0 * pdf * poly), 6).alias("p_approx"),
    )
    w_rank = Window.orderBy("p_approx", "seg")  # m rows — dim-sized
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        p.withColumn("bh_rank", F.row_number().over(w_rank))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "k",
            F.max(
                F.when(
                    F.col("p_approx")
                    <= F.lit(BH_ALPHA) * F.col("bh_rank") / F.col("m"),
                    F.col("bh_rank"),
                )
            ).over(w_all),
        )
    )
    return ranked.select(
        F.col("seg").alias("segment"),
        F.col("na").alias("n_seg"),
        F.col("nb").alias("n_rest"),
        F.round("zval", 4).alias("z"),
        "p_approx",
        "bh_rank",
        F.round(F.lit(BH_ALPHA) * F.col("bh_rank") / F.col("m"), 6).alias(
            "bh_threshold"
        ),
        F.coalesce(F.col("bh_rank") <= F.col("k"), F.lit(False)).alias(
            "rejected"
        ),
    )


# -- parquet footer introspection ----------------------------------------------

_FOOTER_COLS = ("l_extendedprice", "l_quantity", "l_discount", "l_tax")


@register(
    "parquet_footer_stats_audit",
    oracle="".join(
        (
            "    UNION ALL\n" if i else ""
        )
        + f"""    SELECT '{c}' AS column_name,
           count({c})::BIGINT AS num_values,
           round(min({c}), 4) AS min_value,
           round(max({c}), 4) AS max_value,
           0::BIGINT AS n_missing_stats
    FROM lineitem\n"""
        for i, c in enumerate(_FOOTER_COLS)
    ),
    description=(
        "Parquet footer statistics audit: per-column num_values/min/max "
        "aggregated from row-group footers ONLY (no data scan) must "
        "equal the true column stats"
    ),
    tags=("source", "quality", "layout"),
)
def parquet_footer_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map trust, verified: query planners (Spark's parquet
    filter pushdown, the layout_skipping_audit zone logic) PRUNE on
    footer min/max without reading pages — this audit proves the
    footers tell the truth by aggregating them (min of row-group
    mins, max of maxes, sum of value counts) and letting the oracle
    recompute the same stats from the DATA. A mismatch means silent
    wrong answers under predicate pushdown — the audit a lakehouse
    runs after any writer change.

    Scale shape: the Spark side reads ONLY footers — the input is the
    FILE LIST (thousands of paths at 100 TB), distributed via
    mapInPandas so each task opens its files' metadata with pyarrow
    (one ~KB read per file, no row groups decoded); the per-column
    rollup is a bounded aggregate (columns × files rows). The oracle's
    full-column recompute is the verification, not the plan."""
    import pandas as pd

    paths = spark.read.parquet(f"{sf_dir}/lineitem.parquet").inputFiles()
    files_df = spark.createDataFrame([(p,) for p in paths], "path STRING")
    cols = list(_FOOTER_COLS)

    def read_footers(batches):
        import pyarrow.parquet as pq
        from urllib.parse import unquote, urlparse

        for pdf in batches:
            out = {
                "column_name": [],
                "num_values": [],
                "mn": [],
                "mx": [],
                "missing_stats": [],
            }
            for path in pdf["path"]:
                # proper URI parse, not a prefix strip: inputFiles()
                # returns file:///... locally but s3a://bucket/... etc.
                # on a cluster (non-local schemes pass through to the
                # pyarrow filesystem dispatcher)
                u = urlparse(path)
                local = unquote(u.path) if u.scheme in ("", "file") else path
                f = pq.ParquetFile(local)
                schema_names = f.schema_arrow.names
                idx = {n: i for i, n in enumerate(schema_names)}
                for rg in range(f.metadata.num_row_groups):
                    for c in cols:
                        col_meta = f.metadata.row_group(rg).column(idx[c])
                        st = col_meta.statistics
                        out["column_name"].append(c)
                        if st is None or st.min is None or st.max is None:
                            # writer omitted stats, or an all-null
                            # chunk: exactly the malformed case this
                            # audit exists to catch — surface it as an
                            # explicit failure row (n_missing_stats>0
                            # and/or null min/max vs the oracle's data
                            # recompute), never an executor exception
                            out["num_values"].append(int(col_meta.num_values))
                            out["mn"].append(None)
                            out["mx"].append(None)
                            out["missing_stats"].append(1)
                        else:
                            out["num_values"].append(int(st.num_values))
                            out["mn"].append(float(st.min))
                            out["mx"].append(float(st.max))
                            out["missing_stats"].append(0)
            yield pd.DataFrame(out)

    per_rg = files_df.mapInPandas(
        read_footers,
        schema=(
            "column_name STRING, num_values LONG, mn DOUBLE, mx DOUBLE, "
            "missing_stats LONG"
        ),
    )
    return per_rg.groupBy("column_name").agg(
        F.sum("num_values").alias("num_values"),
        F.round(F.min("mn"), 4).alias("min_value"),
        F.round(F.max("mx"), 4).alias("max_value"),
        F.sum("missing_stats").cast("long").alias("n_missing_stats"),
    )


# -- one-pass correlation matrix -------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "corr_matrix_lineitem",
    oracle="".join(
        ("    UNION ALL\n" if i else "")
        + f"""    SELECT '{a}' AS col_a, '{b}' AS col_b,
           round(corr({a}, {b}), 6) AS pearson_r, count(*) AS n
    FROM lineitem\n"""
        for i, (a, b) in enumerate(
            (a, b)
            for ia, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[ia + 1 :]
        )
    ),
    description=(
        "Pearson correlation matrix over the lineitem measures — all "
        "6 pairs from ONE aggregation pass (feature-redundancy screen)"
    ),
    tags=("stats", "agg"),
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-redundancy screen before any modeling step: every
    pairwise Pearson r over the numeric measures, computed in ONE
    corpus pass — Spark evaluates all 6 corr() co-moment aggregates
    side by side in a single partial+final aggregation (the matrix
    generalization of corr_lineitem_price_qty), then a stack()
    unpivots the 1-row frame into the (col_a, col_b, r) surface.
    At 100 TB this is the difference between 1 scan and C(d,2) scans.
    Cross-engine: both engines compute textbook sample correlation
    from co-moments; 1e-12 association noise against the 1e-6 grain."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for ia, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[ia + 1 :]
    ]
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.round(F.corr(a, b), 6).alias(f"r_{i}")
            for i, (a, b) in enumerate(pairs)
        ],
    )
    stack_expr = ", ".join(
        f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(pairs)
    )
    return agg.select(
        F.expr(
            f"stack({len(pairs)}, {stack_expr}) AS (col_a, col_b, pearson_r)"
        ),
        "n",
    )


@register(
    "graph_adamic_adar_linkpred",
    oracle="""
    WITH posts AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    deg AS (SELECT s, count(*) AS d FROM posts GROUP BY s),
    probe AS (SELECT c, s FROM posts WHERE c < 10),
    cand AS (
      SELECT p.c AS probe_cust, q.c AS cand_cust,
             cast(round(1000000.0 / ln(deg.d)) AS BIGINT) AS term
      FROM probe p
      JOIN posts q ON p.s = q.s AND q.c <> p.c
      JOIN deg ON deg.s = p.s
    ),
    scored AS (
      SELECT probe_cust, cand_cust,
             count(*) AS common_suppliers,
             sum(term)::BIGINT AS aa_micro
      FROM cand GROUP BY probe_cust, cand_cust
    ),
    ranked AS (
      SELECT probe_cust, cand_cust, common_suppliers, aa_micro,
             row_number() OVER (PARTITION BY probe_cust
                                ORDER BY aa_micro DESC, cand_cust) AS rank
      FROM scored
    )
    SELECT probe_cust, cand_cust, common_suppliers, aa_micro, rank
    FROM ranked WHERE rank <= 5
    """,
    description=(
        "Adamic-Adar link prediction on the customer-supplier graph: "
        "top-5 co-purchase candidates per probe customer, integer-exact"
    ),
    tags=("graph", "join", "topk"),
)
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by shared-neighbor evidence (Adamic & Adar
    2003): two customers who buy from the same suppliers are likely
    to trade alike, and each shared supplier contributes 1/ln(deg) —
    popular suppliers carry less signal. Per-term FP discipline: the
    1/ln(deg) weight is computed ONCE per supplier as an integer
    micro-unit (round(1e6/ln(d)) — a single double op per distinct
    degree value, then BIGINT sums), so the pair score is an EXACT
    integer and the per-probe top-5 ordering can never flake on FP
    summation order. Scale shape: the probe side is a fixed 10-customer
    cohort, so the candidate join is |probe postings| x supplier
    degree — linear in postings, never all-pairs (the full pairwise AA
    would be the posting-self-join the lint exists to catch); degree
    is a supplier-bounded aggregate joined by broadcast. On a
    power-law graph you would additionally prune mega-hub suppliers
    (AA already discounts them toward zero) with the join_key_skew
    cap+audit discipline; TPC-H degrees are uniform (~500) so no cap
    engages here."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    posts = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        # r14: THREE consumers read this fact-join distinct (the degree
        # broadcast, the probe side, and the candidate posting side) —
        # un-checkpointed, each broadcast/probe job re-executed the
        # lineitem⋈orders + distinct subtree from the scan (guide §2.4;
        # the kcore/pagerank edge-list discipline).
        .localCheckpoint(eager=False)
    )
    deg = posts.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    probe = posts.where(F.col("c") < 10).select(F.col("c").alias("probe_cust"), "s")
    cand = (
        probe.join(posts.select(F.col("c").alias("cand_cust"), "s"), "s")
        .where(F.col("cand_cust") != F.col("probe_cust"))
        .join(F.broadcast(deg), "s")
        .withColumn("term", F.round(F.lit(1000000.0) / F.log("d"), 0).cast("long"))
    )
    scored = cand.groupBy("probe_cust", "cand_cust").agg(
        F.count(F.lit(1)).alias("common_suppliers"),
        F.sum("term").cast("long").alias("aa_micro"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_cust").orderBy(
        F.desc("aa_micro"), F.asc("cand_cust")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("probe_cust", "cand_cust", "common_suppliers", "aa_micro", "rank")
    )
