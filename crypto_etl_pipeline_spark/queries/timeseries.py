"""Time-series, TF-IDF, rollup-reuse, and subquery-shape queries.

The as-of join oracle uses DuckDB's native ASOF JOIN — the Spark
operator (operators/timeseries.py) must reproduce its backward-
inclusive semantics exactly with one shuffle. The range join oracle is
the plain inequality join the binned rewrite must equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_etl_pipeline_spark.operators.textops import tokens
from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table


@register(
    "asof_join_purchase_click",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           round(c.value, 6)                   AS click_value_asof
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    description="As-of join (latest prior click per purchase) == DuckDB ASOF JOIN",
    tags=("timeseries", "join"),
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.operators.timeseries import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(purchases, clicks, by="user_id", right_cols=["value"])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value_asof", 6).alias("click_value_asof"),
    )


@register(
    "range_join_click_before_purchase",
    oracle="""
    WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS c_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.p_id, c.c_id,
           round(epoch(p.ts) - epoch(c.ts), 4) AS gap_s
    FROM p JOIN c ON p.user_id = c.user_id
                 AND epoch(p.ts) - epoch(c.ts) >= 0
                 AND epoch(p.ts) - epoch(c.ts) < 86400
    """,
    description="Binned range join (clicks within 24h before purchase) == inequality join",
    tags=("timeseries", "join"),
)
def range_join_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.operators.timeseries import range_join_binned

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    joined = range_join_binned(p, c, right_ts="c_ts",
                               max_gap_seconds=86400)
    return joined.select(
        "p_id",
        "c_id",
        F.round(F.col("p_ts").cast("double") - F.col("c_ts").cast("double"), 4).alias("gap_s"),
    )


@register(
    "rollup_reuse_daily_from_hourly",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    description="Hypertable-style rollup reuse: daily aggregate composed FROM the hourly rollup",
    tags=("timeseries", "agg"),
)
def rollup_reuse_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Continuous-aggregate pattern: the daily rollup consumes the hourly
    # rollup (25x fewer rows), not the raw events — at scale the hourly
    # table is materialized incrementally (streaming/incremental.py) and
    # every coarser resolution derives from it. count/sum re-aggregate
    # losslessly (avg would carry sum+count).
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("hour")).alias("day"), F.col("event_type")
    ).agg(F.sum("n_events").alias("n_events"), F.round(F.sum("sum_value"), 4).alias("sum_value"))
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type", "n_events", "sum_value"
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lower(t.tok) AS token
      FROM documents, LATERAL unnest(regexp_split_to_array(text, '\\s+')) AS t(tok)
      WHERE length(t.tok) >= 4
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rk
      FROM scored
    )
    SELECT doc_id, token, tfidf, rk FROM ranked WHERE rk <= 3
    """,
    description="TF-IDF top-3 terms per document (tf x smoothed idf, WindowGroupLimit rank)",
    tags=("text", "analytics"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.length("token") >= 4)
        .select("doc_id", F.lower("token").alias("token"))
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)


@register(
    "scalar_subquery_rich_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE s_acctbal > (SELECT avg(s_acctbal) FROM supplier)
    """,
    description="Scalar-subquery filter (balance above global mean) via broadcast agg",
    tags=("analytics",),
)
def scalar_subquery_rich_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    mean = sup.agg(F.avg("s_acctbal").alias("_m"))
    return (
        sup.crossJoin(F.broadcast(mean))
        .where(F.col("s_acctbal") > F.col("_m"))
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


@register(
    "having_big_customers",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15 AND sum(o_totalprice) > 1000000
    """,
    description="GROUP BY + HAVING (post-aggregation predicate)",
    tags=("analytics", "agg"),
)
def having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("_sum"))
        .where((F.col("n_orders") >= 15) & (F.col("_sum") > 1_000_000))
        .select("o_custkey", "n_orders", F.round("_sum", 2).alias("total"))
    )


@register(
    "timeseries_gapfill_hourly",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             round(sum(coalesce(value, 0.0)), 4) AS hour_value
      FROM events WHERE user_id < 20
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    span AS (
      SELECT user_id, min(hour_ts) AS t0, max(hour_ts) AS t1 FROM hourly
      GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_ts
      FROM span
    ),
    joined AS (
      SELECT g.user_id, g.hour_ts, h.hour_value
      FROM grid g LEFT JOIN hourly h USING (user_id, hour_ts)
    )
    SELECT user_id,
           strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_s,
           hour_value IS NOT NULL AS observed,
           round(last_value(hour_value IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY hour_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS filled_value
    FROM joined
    """,
    description="Hypertable-style hourly gap-fill with forward-fill (dense grid + last ignorenulls)",
    tags=("timeseries", "window"),
)
def timeseries_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per user (sequence over the user's own span,
    exploded) left-joined to the observed hourly rollup, then
    forward-filled with last(ignorenulls) over a per-user window. Every
    stage partitions by user_id — the grid explode, the join, and the
    fill window share the key, so no global window and one effective
    shuffle at scale. The grid is generated, never collected."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("hour_value"))
    span = hourly.groupBy("user_id").agg(
        F.min("hour_ts").alias("_t0"), F.max("hour_ts").alias("_t1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_t0"), F.col("_t1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    joined = grid.join(hourly, ["user_id", "hour_ts"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
        F.col("hour_value").isNotNull().alias("observed"),
        F.round(F.last("hour_value", ignorenulls=True).over(w), 4).alias("filled_value"),
    )


@register(
    "session_window_batch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, coalesce(value, 0.0) AS v,
             CASE WHEN epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       > 21600 OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    numbered AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(v), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
    description="Built-in session_window gap sessionization (batch) == gaps-and-islands SQL",
    tags=("timeseries", "window", "session"),
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN dynamic-gap session window (F.session_window, 6h
    gap) — the declarative counterpart to the custom
    applyInPandasWithState sessionizer (stream_sessionize_stateful):
    same semantics, zero custom state code, and unlike the streaming
    append-mode variant it emits every session including each user's
    last. One shuffle on (user_id, merged session); DuckDB twin is the
    classic gaps-and-islands construction.

    The reported session_start is the window's start truncated to the
    first event's timestamp (session_window start == first event ts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "weekly_rollup_calendar",
    oracle="""
    WITH b AS (SELECT min(ts) AS lo, max(ts) AS hi FROM events)
    SELECT strftime(date_trunc('week', e.ts), '%Y-%m-%d') AS week_start,
           count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value,
           (date_trunc('week', e.ts) >= date_trunc('week', b.lo + INTERVAL 7 DAY)
            OR date_trunc('week', b.lo) = b.lo)
           AND date_trunc('week', e.ts) + INTERVAL 7 DAY <= b.hi + INTERVAL 1 MICROSECOND
             AS is_complete
    FROM events e CROSS JOIN b
    GROUP BY date_trunc('week', e.ts),
             (date_trunc('week', e.ts) >= date_trunc('week', b.lo + INTERVAL 7 DAY)
              OR date_trunc('week', b.lo) = b.lo)
             AND date_trunc('week', e.ts) + INTERVAL 7 DAY <= b.hi + INTERVAL 1 MICROSECOND
    """,
    description="CALENDAR (ISO Monday-anchored) week rollup with completeness flags — boundary semantics F.window's epoch-anchored durations miss",
    tags=("timeseries", "agg"),
)
def weekly_rollup_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar buckets are anchored to the calendar, not the epoch:
    `F.window('7 days')` starts its weeks at 1970-01-01 (a Thursday)
    unless hand-offset, while reporting weeks are ISO Monday-anchored
    — date_trunc('week') grouping gets that for free in BOTH engines.
    Each week carries an is_complete flag: edge weeks truncated by the
    data range are marked, because a dashboard that plots a partial
    period as a collapse is the classic self-inflicted incident (the
    corpus's last week ends mid-Tuesday and flags accordingly). Range
    bounds broadcast from a two-value aggregate; the rollup is one
    hash aggregation."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    w = F.date_trunc("week", F.col("ts"))
    complete = (
        (w >= F.date_trunc("week", F.col("lo") + F.expr("INTERVAL 7 DAY")))
        | (F.date_trunc("week", F.col("lo")) == F.col("lo"))
    ) & (w + F.expr("INTERVAL 7 DAY") <= F.col("hi") + F.expr("INTERVAL 1 MICROSECOND"))
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy(w.alias("_w"), complete.alias("is_complete"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("_w", "yyyy-MM-dd").alias("week_start"),
            "n_events",
            "sum_value",
            "is_complete",
        )
    )


# -- incremental materialized-view maintenance --------------------------------

#: base/delta cutoff for the rollup-merge demonstration — a fixed
#: literal inside the events span (2024-01-01 .. 2024-01-30) at every SF
_MV_CUTOFF = "2024-01-21 00:00:00"


@register(
    "incremental_rollup_merge",
    oracle=f"""
    WITH base AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n, sum(value) AS s, min(value) AS mn, max(value) AS mx
      FROM events WHERE ts < TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY 1, 2
    ),
    delta AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n, sum(value) AS s, min(value) AS mn, max(value) AS mx
      FROM events WHERE ts >= TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY 1, 2
    )
    SELECT strftime(coalesce(b.hour, d.hour), '%Y-%m-%d %H:%M:%S') AS hour_start,
           coalesce(b.event_type, d.event_type) AS event_type,
           coalesce(b.n, 0) + coalesce(d.n, 0) AS n_events,
           round(coalesce(b.s, 0) + coalesce(d.s, 0), 4) AS sum_value,
           round(least(coalesce(b.mn, d.mn), coalesce(d.mn, b.mn)), 6) AS min_value,
           round(greatest(coalesce(b.mx, d.mx), coalesce(d.mx, b.mx)), 6) AS max_value
    FROM base b FULL OUTER JOIN delta d
      ON b.hour = d.hour AND b.event_type = d.event_type
    """,
    description=(
        "Incremental materialized-view maintenance: hourly rollup kept "
        "as mergeable partials (count/sum/min/max), base + delta merged "
        "without touching base rows"
    ),
    tags=("events", "agg", "incremental"),
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch half of the lambda architecture: the hourly rollup is
    materialized once over the closed period (base), and each new
    ingest only aggregates ITS OWN rows (delta) and merges — count and
    sum add, min/max take least/greatest, avg derives from (sum, n).
    At 100 TB the base partials never rescan; the only corpus-scale
    work per refresh is the delta aggregation, and the merge join is
    rollup-sized (hours × types), not event-sized. The oracle runs the
    same split-and-merge; tests pin merge == full recompute, which is
    exactly the algebraic-mergability property (same discipline as the
    HLL/KMV/MG sketch stores, here for the exact aggregates).

    Cross-engine determinism: the merged sum adds TWO partial sums
    instead of one global fold — associativity noise ~1e-12 against
    the 1e-4 rounding grain; min/max and counts are exact."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = partial(ev.where(F.col("ts") < cutoff))
    delta = partial(ev.where(F.col("ts") >= cutoff))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d,
        (F.col("b.hour") == F.col("d.hour"))
        & (F.col("b.event_type") == F.col("d.event_type")),
        "full_outer",
    )
    return merged.select(
        F.date_format(
            F.coalesce(F.col("b.hour"), F.col("d.hour")), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_start"),
        F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias("event_type"),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n_events"),
        F.round(
            F.coalesce(F.col("b.s"), F.lit(0.0)) + F.coalesce(F.col("d.s"), F.lit(0.0)),
            4,
        ).alias("sum_value"),
        F.round(
            F.least(
                F.coalesce(F.col("b.mn"), F.col("d.mn")),
                F.coalesce(F.col("d.mn"), F.col("b.mn")),
            ),
            6,
        ).alias("min_value"),
        F.round(
            F.greatest(
                F.coalesce(F.col("b.mx"), F.col("d.mx")),
                F.coalesce(F.col("d.mx"), F.col("b.mx")),
            ),
            6,
        ).alias("max_value"),
    )


# -- Holt linear-trend forecasting ---------------------------------------------

#: Holt smoothing constants — exactly-representable doubles (0.5, 0.25)
#: so (1 - beta) etc. introduce zero rounding and the python loop and
#: the recursive-CTE oracle run bit-identical arithmetic
_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.25


@register(
    "forecast_holt_daily_revenue",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('day', ts)) AS rn,
             sum(value) AS y
      FROM events WHERE event_type = 'purchase' OR event_type = 'view'
      GROUP BY event_type, date_trunc('day', ts)
    ),
    init AS (
      SELECT d1.event_type, 1 AS t, d1.y AS l, d2.y - d1.y AS b
      FROM daily d1 JOIN daily d2
        ON d1.event_type = d2.event_type AND d1.rn = 1 AND d2.rn = 2
    ),
    holt AS (
      SELECT * FROM init
      UNION ALL
      SELECT h.event_type, h.t + 1,
             {_HOLT_ALPHA} * d.y + (1 - {_HOLT_ALPHA}) * (h.l + h.b),
             {_HOLT_BETA} * (({_HOLT_ALPHA} * d.y + (1 - {_HOLT_ALPHA}) * (h.l + h.b)) - h.l)
               + (1 - {_HOLT_BETA}) * h.b
      FROM holt h JOIN daily d
        ON d.event_type = h.event_type AND d.rn = h.t + 1
    ),
    last AS (
      SELECT event_type, max(rn) AS n_days FROM daily GROUP BY event_type
    )
    SELECT h.event_type, l.n_days,
           round(h.l, 6) AS level,
           round(h.b, 6) AS trend,
           round(h.l + h.b, 6) AS forecast_1d,
           round(h.l + 7 * h.b, 6) AS forecast_7d
    FROM holt h JOIN last l
      ON l.event_type = h.event_type AND h.t = l.n_days
    """,
    description=(
        "Holt linear-trend forecast of daily revenue per event type "
        "(alpha=0.5, beta=0.25; level/trend + 1-day and 7-day ahead)"
    ),
    tags=("timeseries", "ml", "iterative"),
)
def forecast_holt_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double exponential smoothing (Holt 1957) — the level+trend
    forecaster between EWMA (no trend, ewma_user_purchase_value) and
    the OLS trend fit (trend_regression_by_type, no recency
    weighting): l_t = αy_t + (1-α)(l_(t-1)+b_(t-1)),
    b_t = β(l_t-l_(t-1)) + (1-β)b_(t-1), forecast_h = l_T + h·b_T.

    Scale shape: the corpus-scale stage is the daily aggregate
    (map-side-combined); the sequential recurrence runs per series
    over the BOUNDED day grid inside applyInPandas (the EWMA
    discipline — groups are time-grid-sized, never corpus-sized; a
    longer history would time-slice upstream). Cross-engine
    determinism: α, β are exactly-representable doubles and the loop
    mirrors the recursive-CTE arithmetic term for term, so both
    engines run the identical IEEE sequence; daily-sum association
    noise (~1e-9 abs) is contracted by the α<1 recursion and sits far
    under the 1e-6 output grain."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum("value").alias("y"))
    )

    a, b_ = _HOLT_ALPHA, _HOLT_BETA

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort")
        ys = pdf["y"].tolist()
        lvl, tr = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            new_l = a * y + (1 - a) * (lvl + tr)
            tr = b_ * (new_l - lvl) + (1 - b_) * tr
            lvl = new_l
        # raw state out; rounding happens JVM-side with F.round so the
        # half-up rule matches the oracle (python round() is half-even)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(ys)],
                "_l": [lvl],
                "_b": [tr],
            }
        )

    state = daily.groupBy("event_type").applyInPandas(
        _holt, schema="event_type string, n_days long, _l double, _b double"
    )
    return state.select(
        "event_type",
        "n_days",
        F.round("_l", 6).alias("level"),
        F.round("_b", 6).alias("trend"),
        F.round(F.col("_l") + F.col("_b"), 6).alias("forecast_1d"),
        F.round(F.col("_l") + 7 * F.col("_b"), 6).alias("forecast_7d"),
    )


# -- sweep-line interval aggregation -------------------------------------------


@register(
    "orders_backlog_sweepline",
    oracle="""
    WITH lifespan AS (
      SELECT o.o_orderkey,
             date_trunc('month', o.o_orderdate) AS m_open,
             date_trunc('month', max(l.l_shipdate)) AS m_close
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, date_trunc('month', o.o_orderdate)
    ),
    opened AS (
      SELECT m_open AS m, count(*) AS n_opened FROM lifespan GROUP BY m_open
    ),
    closed AS (
      SELECT m_close AS m, count(*) AS n_closed FROM lifespan GROUP BY m_close
    ),
    merged AS (
      SELECT coalesce(o.m, c.m) AS m,
             coalesce(o.n_opened, 0) AS n_opened,
             coalesce(c.n_closed, 0) AS n_closed
      FROM opened o FULL OUTER JOIN closed c ON o.m = c.m
    )
    SELECT strftime(m, '%Y-%m') AS month,
           n_opened, n_closed,
           (sum(n_opened - n_closed) OVER (ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
             AS backlog_eom
    FROM merged
    """,
    description=(
        "Sweep-line interval aggregation: monthly order backlog from "
        "+1/-1 open/close boundary deltas and a month-grid cumulative "
        "(orders open from orderdate to last shipment)"
    ),
    tags=("timeseries", "agg", "window"),
)
def orders_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many orders are IN FLIGHT at each point in time — the
    interval-overlap count every ops dashboard needs, computed the
    sweep-line way: an order contributes +1 at its open month and -1
    at its close month (last shipment), so the backlog curve is one
    cumulative sum over boundary DELTAS instead of an
    interval-overlap join (which would be months x orders).

    Scale shape: the per-order lifespan is one keyed aggregate (max
    shipdate per order); open/close deltas are month-keyed aggregates
    (bounded by the calendar); the cumulative window runs over the
    ~80-month grid — never corpus rows (the repo-wide grid-window
    discipline). At 100 TB nothing changes: boundary extraction is
    map-side, the grid is still the calendar."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lifespan = (
        orders.select("o_orderkey", F.date_trunc("month", "o_orderdate").alias("m_open"))
        .join(
            li.groupBy("l_orderkey").agg(
                F.date_trunc("month", F.max("l_shipdate")).alias("m_close")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_orderkey", "m_open", "m_close")
    )
    opened = lifespan.groupBy(F.col("m_open").alias("m")).agg(
        F.count(F.lit(1)).alias("n_opened")
    )
    closed = lifespan.groupBy(F.col("m_close").alias("m")).agg(
        F.count(F.lit(1)).alias("n_closed")
    )
    merged = (
        opened.join(closed, "m", "full_outer")
        .select(
            "m",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
    )
    cum = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return merged.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(cum).alias("backlog_eom"),
    )


@register(
    "theil_sen_trend_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             round(sum(value), 4) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY date_trunc('day', ts)
    ),
    idx AS (
      SELECT y, row_number() OVER (ORDER BY d) - 1 AS x FROM daily
    ),
    slopes AS (
      SELECT a.x AS x1, b.x AS x2, (b.y - a.y) / (b.x - a.x) AS slope
      FROM idx a JOIN idx b ON a.x < b.x
    ),
    n AS (SELECT count(*) AS n_pairs FROM slopes),
    med AS (
      SELECT slope FROM (
        SELECT slope, row_number() OVER (ORDER BY slope, x1, x2) AS rn
        FROM slopes) s CROSS JOIN n
      WHERE rn = (n_pairs + 1) // 2
    ),
    resid AS (
      SELECT i.y - m.slope * i.x AS b0, i.x
      FROM idx i CROSS JOIN med m
    ),
    nb AS (SELECT count(*) AS n_days FROM resid),
    bmed AS (
      SELECT b0 FROM (
        SELECT b0, row_number() OVER (ORDER BY b0, x) AS rn FROM resid)
        r CROSS JOIN nb
      WHERE rn = (n_days + 1) // 2
    )
    SELECT nb.n_days, n.n_pairs,
           round(m.slope, 6) AS slope_per_day,
           round(bmed.b0, 4) AS intercept
    FROM med m CROSS JOIN bmed CROSS JOIN n CROSS JOIN nb
    """,
    description=(
        "Theil-Sen robust trend of daily purchase revenue: median of all "
        "pairwise slopes + median intercept (lower-median convention)"
    ),
    tags=("timeseries", "stats"),
)
def theil_sen_trend_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust counterpart to the OLS fit (trend_regression_by_type)
    and the smoothing forecasters (EWMA/Holt): Theil-Sen estimates the
    trend as the MEDIAN of all pairwise slopes, so up to ~29% of the
    days can be arbitrarily corrupted without moving the line — the
    estimator a revenue-anomaly monitor wants under promo spikes.
    Scale shape: the pairwise join is over the DAILY AGGREGATE, whose
    size is calendar-bounded — day_count^2/2 pairs regardless of
    corpus size, so the quadratic term never touches raw data and the
    only corpus-scale stage is the map-side-combined daily rollup
    (the Holt discipline). Determinism: daily sums round to 4dp
    before any slope (absorbing FP summation order), each slope is
    then a single IEEE division, the median is POSITIONAL (lower
    median, ties broken by (slope, x1, x2)), and the intercept is the
    positional median of y - slope*x under the selected slope."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.round(F.sum("value"), 4).alias("y"))
    )
    idx = daily.select(
        "y", (F.row_number().over(Window.orderBy("d")) - 1).alias("x")
    )
    a = idx.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = idx.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    slopes = a.join(b, F.col("x1") < F.col("x2")).select(
        "x1", "x2",
        ((F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1"))).alias("slope"),
    )
    n = slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    med = (
        slopes.withColumn(
            "rn", F.row_number().over(Window.orderBy("slope", "x1", "x2"))
        )
        .crossJoin(F.broadcast(n))
        .where(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .select("slope", "n_pairs")
    )
    resid = idx.crossJoin(F.broadcast(med)).select(
        (F.col("y") - F.col("slope") * F.col("x")).alias("b0"),
        "x", "slope", "n_pairs",
    )
    nb = idx.agg(F.count(F.lit(1)).alias("n_days"))
    bmed = (
        resid.withColumn("rn", F.row_number().over(Window.orderBy("b0", "x")))
        .crossJoin(F.broadcast(nb))
        .where(F.col("rn") == F.floor((F.col("n_days") + 1) / 2))
    )
    return bmed.select(
        "n_days", "n_pairs",
        F.round("slope", 6).alias("slope_per_day"),
        F.round("b0", 4).alias("intercept"),
    )
