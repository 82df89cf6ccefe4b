"""Market/time-series analytics: OHLC bars, VWAP, gap-fill resampling,
EWMA smoothing, rolling z-score anomaly flags.

The reference pipeline's domain is crypto market data (SURVEY.md §1:
CoinGecko prices P:43-92, historical OHLC-ish CSV K:1); these queries
re-express the standard market-data derivations a production version
of that pipeline computes downstream, over the driver's `events`
stream (`value` as the traded price, `props.k` as the traded size).

Engine notes:
- OHLC open/close are ORDER-DEPENDENT aggregates; both engines pick
  the row via row_number over (ts, event_id) so ties are deterministic
  and the value hash is stable.
- The gap-fill resample materializes the dense (entity x hour) grid
  with sequence()/generate_series and forward-fills with
  last(ignorenulls) — the hypertable "locf" pattern, expressed as one
  window over the grid join.
- EWMA is the one genuinely non-SQL recurrence here: Spark side runs
  operators/timeseries.ewma (Arrow + pandas ewm, O(n) per group); the
  oracle unrolls the recurrence as an O(n^2)-per-group weighted
  self-join, which only the oracle pays (test SFs), never the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table


@register(
    "ohlc_hourly_bars",
    oracle="""
    WITH b AS (
      SELECT date_trunc('hour', ts) AS hour, ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    ),
    o AS (
      SELECT hour, value,
             row_number() OVER (PARTITION BY hour ORDER BY ts ASC,  event_id ASC)  AS rn_a,
             row_number() OVER (PARTITION BY hour ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
           round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
           round(max(value), 4)                             AS high,
           round(min(value), 4)                             AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
           count(*)                                         AS n_trades,
           round(sum(value), 4)                             AS volume
    FROM o GROUP BY hour
    """,
    description="OHLC candlestick bars per hour (deterministic open/close via (ts,event_id) order)",
    tags=("market", "timeseries", "window", "agg"),
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly candles over the purchase stream. One exchange: the two
    row_number windows and the final groupBy all cluster on `hour`, so
    Catalyst plans exchange(hour) -> sort -> window -> sort -> window
    -> hash agg. At 100 TB the bar count is bounded by wall-clock
    hours x instruments — the aggregation collapses the stream."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.where(F.col("event_type") == "purchase").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "ts", "event_id", "value"
    )
    w_a = Window.partitionBy("hour").orderBy(F.asc("ts"), F.asc("event_id"))
    w_d = Window.partitionBy("hour").orderBy(F.desc("ts"), F.desc("event_id"))
    o = b.select(
        "hour",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return (
        o.groupBy("hour")
        .agg(
            F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 4).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
            F.round(F.sum("value"), 4).alias("volume"),
        )
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            "open", "high", "low", "close", "n_trades", "volume",
        )
    )


@register(
    "vwap_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           round(sum(value * k) / sum(k), 6) AS vwap,
           round(sum(value * k), 4)          AS turnover,
           sum(k)::BIGINT                    AS total_qty
    FROM (
      SELECT ts, value,
             regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT AS k
      FROM events WHERE event_type = 'purchase'
    )
    GROUP BY 1
    """,
    description="Daily volume-weighted average price; trade size parsed from the JSON props column",
    tags=("market", "timeseries", "agg", "json"),
)
def vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP = sum(price*qty)/sum(qty) per day, with qty extracted from
    the JSON `props` payload via get_json_object (JVM-side JSON path,
    no UDF). The oracle reads the same field with a regex — both yield
    the identical integer. Single shuffle on the day key with map-side
    partial sums; sum(k) stays LongType on the Spark side and is
    BIGINT-cast in the oracle per the HUGEINT lint."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return (
        p.groupBy("day")
        .agg(
            F.round(F.sum(F.col("value") * F.col("k")) / F.sum("k"), 6).alias("vwap"),
            F.round(F.sum(F.col("value") * F.col("k")), 4).alias("turnover"),
            F.sum("k").alias("total_qty"),
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "vwap", "turnover", "total_qty")
    )


@register(
    "resample_ffill_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n,
             round(round(sum(value), 2) / count(*), 6) AS a
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      FROM events
    ),
    grid AS (
      SELECT t.event_type, g.hour
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN bounds
      CROSS JOIN LATERAL unnest(generate_series(bounds.h0, bounds.h1, INTERVAL 1 HOUR)) AS g(hour)
    ),
    f AS (
      SELECT g.event_type, g.hour, h.n, h.a
      FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hour = h.hour
    )
    SELECT event_type,
           strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
           coalesce(n, 0) AS n_events,
           last_value(a IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_ffill
    FROM f
    """,
    description="Dense hourly resample with forward-fill (hypertable locf): grid via sequence(), fill via last(ignorenulls)",
    tags=("market", "timeseries", "window", "gapfill"),
)
def resample_ffill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-type hourly series. The dense grid is entity x
    sequence(min_hour, max_hour) — the bounds row is a 1-row broadcast,
    so grid construction never shuffles; the left join hits the hourly
    rollup (already clustered on the grid key), and the forward fill is
    one partitioned window. The filled average is made DETERMINISTIC
    before the fill: the raw sum is rounded on the 2-decimal input
    grid first (killing summation-order ulps that flipped a 6-decimal
    boundary at sf0.1), then divided and rounded once — the window
    only copies finished values."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6).alias("a"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
        )
    )
    f = grid.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return f.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("a", ignorenulls=True).over(w).alias("avg_value_ffill"),
    )


@register(
    "ewma_user_purchase_value",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id, a.event_id,
           round(sum(CASE WHEN b.rn = 1 THEN power(0.8, a.rn - 1) * b.value
                          ELSE 0.2 * power(0.8, a.rn - b.rn) * b.value END), 6)
             AS ewma_value
    FROM p a JOIN p b ON a.user_id = b.user_id AND b.rn <= a.rn
    GROUP BY a.user_id, a.event_id
    """,
    description="Per-user EWMA of purchase values: applyInPandas O(n) recurrence vs unrolled weighted-sum oracle",
    tags=("market", "timeseries", "pandas-udf", "recurrence"),
)
def ewma_user_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA with alpha=0.2, initialized at the first observation
    (pandas ewm(adjust=False) semantics): y_1 = x_1,
    y_i = 0.8*y_{i-1} + 0.2*x_i. The engine runs the O(n)-per-group
    Arrow/pandas recurrence (operators/timeseries.ewma); the oracle
    expands the closed form y_i = 0.8^(i-1)*x_1 +
    0.2*sum_{j=2..i} 0.8^(i-j)*x_j, whose weights are all <= 1 so the
    unrolled sum is numerically stable; both land on the same 6-decimal
    grid."""
    from crypto_etl_pipeline_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = ewma(p, by="user_id", order_cols=["ts", "event_id"], value_col="value",
               alpha=0.2, out_col="ewma_value")
    return out.select("user_id", "event_id", F.round("ewma_value", 6).alias("ewma_value"))


@register(
    "rolling_zscore_anomaly",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id, value,
             avg(value) OVER w         AS mu,
             stddev_samp(value) OVER w AS sd
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, event_id,
           round((value - mu) / sd, 4) AS z,
           abs(round((value - mu) / sd, 4)) > 3 AS is_anomaly
    FROM s WHERE sd IS NOT NULL AND sd > 0
    """,
    description="Rolling 24-observation z-score anomaly flag per event type (trailing window excludes current row)",
    tags=("market", "timeseries", "window", "quality"),
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score: each observation scored against the mean/std
    of its 24 predecessors (excluding itself — a self-inclusive window
    dilutes the very anomaly being scored). The anomaly flag compares
    the ROUNDED z so the boundary decision is made on the same
    4-decimal grid in both engines. One exchange on event_type; the
    frame never crosses partitions, so this scales as pure windowed
    streaming at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-24, -1)
    )
    s = ev.select(
        "event_type",
        "event_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return s.where(F.col("sd").isNotNull() & (F.col("sd") > 0)).select(
        "event_type",
        "event_id",
        z.alias("z"),
        (F.abs(z) > 3).alias("is_anomaly"),
    )


@register(
    "histogram_quantile_rollup",
    oracle="""
    WITH bounds AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi,
             CASE WHEN max(value) > min(value)
                  THEN (max(value) - min(value)) / 100 ELSE 1.0 END AS w
      FROM events GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type,
             least(cast(floor((e.value - b.lo) / b.w) AS BIGINT), 99) AS bin
      FROM events e JOIN bounds b USING (event_type)
    ),
    sketch AS (
      SELECT event_type, bin, count(*) AS c
      FROM binned GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS total
      FROM sketch
    ),
    est AS (
      SELECT c.event_type, c.total,
             min(CASE WHEN c.cum >= 0.50 * c.total THEN c.bin END) AS b50,
             min(CASE WHEN c.cum >= 0.95 * c.total THEN c.bin END) AS b95
      FROM cum c GROUP BY c.event_type, c.total
    )
    SELECT e.event_type,
           e.total::BIGINT AS n_rows,
           round(b.lo + b.w * (e.b50 + (0.50 * e.total - c50.cum + c50.c) / c50.c), 6)
             AS est_p50,
           round(b.lo + b.w * (e.b95 + (0.95 * e.total - c95.cum + c95.c) / c95.c), 6)
             AS est_p95
    FROM est e
    JOIN bounds b USING (event_type)
    JOIN cum c50 ON c50.event_type = e.event_type AND c50.bin = e.b50
    JOIN cum c95 ON c95.event_type = e.event_type AND c95.bin = e.b95
    """,
    description="Mergeable histogram quantile sketch: per-type 100-bin counts -> interpolated p50/p95",
    tags=("sketch", "agg", "window", "timeseries"),
)
def histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-quantile pattern a 100 TB hypertable uses: store
    per-(entity, window) 100-bin histograms — integer counts, mergeable
    by ADDITION across any time range (unlike exact percentiles, which
    need the raw data) — then interpolate quantiles from the cumulative
    bins at read time. Estimates the NEAREST-RANK quantile (smallest
    value with CDF >= p) within one bin width by construction — the
    mergeable-sketch convention; the interpolated-order-statistic
    convention differs by at most one rank. Both engines do the identical integer
    bin math and double interpolation, so the oracle is exact, not a
    tolerance check. Two scans (bounds, binning) + one narrow sketch
    shuffle; the interpolation works on <= 100 rows per entity."""
    from crypto_etl_pipeline_spark.operators.sketch import (
        histogram_sketch,
        quantile_from_sketch,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    ).select(
        "event_type", "lo",
        F.when(F.col("hi") > F.col("lo"), (F.col("hi") - F.col("lo")) / 100)
        .otherwise(F.lit(1.0)).alias("w"),
    )
    binned = ev.join(F.broadcast(bounds), "event_type")
    bin_col = F.least(
        F.floor((F.col("value") - F.col("lo")) / F.col("w")).cast("long"),
        F.lit(99),
    )
    sketch = histogram_sketch(binned, bin_col).join(
        F.broadcast(bounds), "event_type"
    )
    return quantile_from_sketch(
        sketch,
        lo=F.col("lo"),
        width=F.col("w"),
    )


@register(
    "decayed_user_value",
    oracle="""
    WITH b AS (SELECT max(ts) AS t_max FROM events),
    w AS (
      SELECT user_id,
             value * exp(-(epoch(b.t_max) - epoch(ts)) / 86400.0 * 0.1) AS wv
      FROM events, b
      WHERE event_type = 'purchase'
    )
    SELECT user_id,
           count(*) AS n_purchases,
           round(sum(wv), 4) AS decayed_value
    FROM w GROUP BY user_id
    """,
    description="Exponentially time-decayed per-user purchase value (recency weighting, half-life ~7d)",
    tags=("market", "timeseries", "agg"),
)
def decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted aggregate: each purchase contributes
    value * exp(-0.1 * age_days) relative to the corpus max timestamp
    (half-life ~= 6.9 days) — the decay-weighted counter behind
    recommendation freshness and churn features. Expressed as a plain
    weighted sum, it keeps map-side partial aggregation (a true
    decayed COUNTER would need state; this is the batch form). The
    anchor t_max is a 1-row broadcast; exp() agrees across engines to
    <1 ulp and the sum is rounded on a 4-decimal grid."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.max("ts").alias("t_max"))
    w = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(b))
        .select(
            "user_id",
            (
                F.col("value")
                * F.exp(
                    -(F.col("t_max").cast("double") - F.col("ts").cast("double"))
                    / 86400.0
                    * 0.1
                )
            ).alias("wv"),
        )
    )
    return w.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("wv"), 4).alias("decayed_value"),
    )


@register(
    "seasonal_anomaly_hour_profile",
    oracle="""
    WITH prof AS (
      SELECT event_type, extract(hour FROM ts) AS hod,
             avg(value)         AS mu,
             stddev_samp(value) AS sd,
             count(value)       AS n
      FROM events
      GROUP BY 1, 2
    )
    SELECT e.event_type, e.event_id, p.hod, p.n AS n_profile,
           round((e.value - p.mu) / p.sd, 4) AS z,
           abs(round((e.value - p.mu) / p.sd, 4)) > 3 AS is_anomaly
    FROM events e
    JOIN prof p ON p.event_type = e.event_type
                AND p.hod = extract(hour FROM e.ts)
    WHERE e.value IS NOT NULL AND p.sd IS NOT NULL AND p.sd > 0
    """,
    description="Seasonal anomaly: each event scored against its (type, hour-of-day) profile — the periodic baseline the trailing window misses",
    tags=("market", "timeseries", "quality"),
)
def seasonal_anomaly_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODIC-baseline anomaly scoring, the complement to
    rolling_zscore_anomaly's trailing window: a value normal at 14:00
    may be anomalous at 03:00, and a trailing frame spanning the
    boundary blurs exactly that. The (type, hour-of-day) profile is a
    24 x n_types-row aggregate — dimension-sized at ANY corpus scale —
    broadcast back over the fact scan, so the whole operator is one
    corpus pass plus a map-side join: cheaper than the windowed
    variant (no per-partition sort), and the profile table is the
    natural persisted artifact refreshed on a rollup cadence. Flags
    compare the ROUNDED z (both engines decide on the same 4-decimal
    grid)."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts")
    prof = (
        ev.groupBy("event_type", hod.alias("hod"))
        .agg(
            F.avg("value").alias("mu"),
            F.stddev_samp("value").alias("sd"),
            F.count("value").alias("n_profile"),
        )
        .where(F.col("sd").isNotNull() & (F.col("sd") > 0))
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return (
        ev.where(F.col("value").isNotNull())
        .withColumn("hod", hod)
        .join(F.broadcast(prof), ["event_type", "hod"])
        .select(
            "event_type",
            "event_id",
            "hod",
            "n_profile",
            z.alias("z"),
            (F.abs(z) > 3).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Technical-indicator family (r13): Bollinger bands, Cutler RSI, max
# drawdown, realized volatility, cross-asset return correlation.
#
# The reference pipeline's one analytic beyond cleaning is the 5-way
# percent-change trend classifier (SURVEY.md §2 F7/F8); these queries
# extend that to the standard indicator set a production crypto
# pipeline derives next. All five share the AGGREGATE-FIRST shape:
# stage 1 collapses the SF-scaled event stream into per-(instrument,
# day) bars — ONE shuffle, map-side partial aggregation — and every
# window thereafter runs over the bar table, whose row count is
# calendar-days x instruments and therefore INDEPENDENT of corpus
# scale (at 100 TB the bars are ~the same few thousand rows; only
# stage 1 grows). No indicator window ever sorts an SF-scaled frame
# (lint #5 clean by construction).
#
# Determinism: the daily close is a PICKED raw double (row_number
# desc = 1 on (ts, event_id)), never a float aggregate, so indicator
# inputs are bit-identical across engines; rolling means/stddevs over
# <=14-element frames follow the rolling_zscore_anomaly precedent
# (round on a 4- or 6-decimal grid before any comparison/ordering).
# ---------------------------------------------------------------------------

#: DuckDB CTE `daily(event_type, day, close, n_trades)` — per-
#: instrument daily bars with a deterministic last-trade close;
#: byte-identical semantics to :func:`_daily_close_df`
_DAILY_CTE = """
    daily AS (
      SELECT event_type, day,
             max(CASE WHEN rn_d = 1 THEN value END) AS close,
             count(*) AS n_trades
      FROM (
        SELECT event_type, date_trunc('day', ts) AS day, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
      )
      GROUP BY event_type, day
    )
"""


def _daily_close_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`_DAILY_CTE`. One exchange on (event_type,
    day); the close-picking window rides that same clustering."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w_d = Window.partitionBy("event_type", "day").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        b.withColumn("rn_d", F.row_number().over(w_d))
        .groupBy("event_type", "day")
        .agg(
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


@register(
    "ta_bollinger_bands",
    oracle=f"""
    WITH {_DAILY_CTE},
    w AS (
      SELECT event_type, day, close,
             avg(close)         OVER b AS mid,
             stddev_samp(close) OVER b AS sd,
             count(*)           OVER b AS n_win
      FROM daily
      WINDOW b AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day_s,
           round(close, 4)           AS close,
           round(mid, 4)             AS mid,
           round(mid + 2 * sd, 4)    AS upper,
           round(mid - 2 * sd, 4)    AS lower,
           CASE WHEN round(mid + 2 * sd, 4) > round(mid - 2 * sd, 4)
                THEN round((close - round(mid - 2 * sd, 4))
                           / (round(mid + 2 * sd, 4) - round(mid - 2 * sd, 4)), 4)
           END AS pct_b,
           CASE WHEN round(close, 4) > round(mid + 2 * sd, 4) THEN 'above'
                WHEN round(close, 4) < round(mid - 2 * sd, 4) THEN 'below'
                ELSE 'inside' END AS band_state
    FROM w WHERE n_win = 7
    """,
    description="Bollinger bands (7-day SMA +/- 2 sigma) with %B and band-breach state per instrument",
    tags=("market", "timeseries", "window", "indicator"),
)
def ta_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily bar table: mid = 7-bar SMA,
    bands at +/-2 sample stddevs, %B = (close - lower)/(upper - lower).
    Full-window rows only (n_win = 7) so every band is a true 7-bar
    statistic. The breach state and %B are computed from the ROUNDED
    bands, so the classification boundary sits on the same 4-decimal
    grid in both engines. Stage 2 runs over calendar_days x
    instruments rows — scale-free."""
    d = _daily_close_df(spark, sf_dir)
    b = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    w = d.select(
        "event_type",
        "day",
        "close",
        F.avg("close").over(b).alias("mid"),
        F.stddev_samp("close").over(b).alias("sd"),
        F.count(F.lit(1)).over(b).alias("n_win"),
    ).where(F.col("n_win") == 7)
    upper = F.round(F.col("mid") + 2 * F.col("sd"), 4)
    lower = F.round(F.col("mid") - 2 * F.col("sd"), 4)
    close_r = F.round(F.col("close"), 4)
    return w.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        close_r.alias("close"),
        F.round("mid", 4).alias("mid"),
        upper.alias("upper"),
        lower.alias("lower"),
        F.when(upper > lower, F.round((F.col("close") - lower) / (upper - lower), 4))
        .alias("pct_b"),
        F.when(close_r > upper, F.lit("above"))
        .when(close_r < lower, F.lit("below"))
        .otherwise(F.lit("inside"))
        .alias("band_state"),
    )


@register(
    "ta_rsi_cutler",
    oracle=f"""
    WITH {_DAILY_CTE},
    d AS (
      SELECT event_type, day, close,
             close - lag(close) OVER (PARTITION BY event_type ORDER BY day) AS diff
      FROM daily
    ),
    g AS (
      SELECT event_type, day, close,
             sum(greatest(diff, 0))  OVER w AS sum_gain,
             sum(greatest(-diff, 0)) OVER w AS sum_loss,
             count(diff)             OVER w AS n_diffs
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day_s,
           round(close, 4) AS close,
           round(100 * sum_gain / (sum_gain + sum_loss), 4) AS rsi,
           CASE WHEN round(100 * sum_gain / (sum_gain + sum_loss), 4) >= 70 THEN 'overbought'
                WHEN round(100 * sum_gain / (sum_gain + sum_loss), 4) <= 30 THEN 'oversold'
                ELSE 'neutral' END AS rsi_state
    FROM g
    WHERE n_diffs = 14 AND sum_gain + sum_loss > 0
    """,
    description="Cutler's RSI (14-bar SMA of gains vs losses) with overbought/oversold state per instrument",
    tags=("market", "timeseries", "window", "indicator"),
)
def ta_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI — the SMA variant of RSI (the Wilder original is
    an EWMA recurrence; the SMA form is the standard window-expressible
    twin and what batch engines compute): RSI = 100 * sum(gains) /
    (sum(gains) + sum(losses)) over the trailing 14 bar-to-bar diffs.
    Full windows only (n_diffs = 14); the overbought/oversold cut
    compares the ROUNDED RSI so both engines classify on the same
    grid. Diffs are exact double subtractions of picked closes —
    deterministic inputs, 14-term sums under the rolling_zscore
    precedent."""
    d0 = _daily_close_df(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    d = d0.select(
        "event_type",
        "day",
        "close",
        (F.col("close") - F.lag("close").over(wl)).alias("diff"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-13, 0)
    g = d.select(
        "event_type",
        "day",
        "close",
        F.sum(F.greatest(F.col("diff"), F.lit(0.0))).over(w).alias("sum_gain"),
        F.sum(F.greatest(-F.col("diff"), F.lit(0.0))).over(w).alias("sum_loss"),
        F.count("diff").over(w).alias("n_diffs"),
    ).where((F.col("n_diffs") == 14) & (F.col("sum_gain") + F.col("sum_loss") > 0))
    rsi = F.round(100 * F.col("sum_gain") / (F.col("sum_gain") + F.col("sum_loss")), 4)
    return g.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        F.round("close", 4).alias("close"),
        rsi.alias("rsi"),
        F.when(rsi >= 70, F.lit("overbought"))
        .when(rsi <= 30, F.lit("oversold"))
        .otherwise(F.lit("neutral"))
        .alias("rsi_state"),
    )


@register(
    "ta_max_drawdown",
    oracle=f"""
    WITH {_DAILY_CTE},
    dd AS (
      SELECT event_type, day,
             round((max(close) OVER w - close) / (max(close) OVER w), 6) AS dd
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    g AS (
      SELECT event_type, max(dd) AS max_drawdown, count(*) AS n_days
      FROM dd GROUP BY event_type
    )
    SELECT g.event_type, g.max_drawdown, g.n_days,
           strftime(min(dd.day), '%Y-%m-%d') AS trough_day
    FROM g JOIN dd ON dd.event_type = g.event_type AND dd.dd = g.max_drawdown
    GROUP BY g.event_type, g.max_drawdown, g.n_days
    """,
    description="Maximum drawdown per instrument: running-peak decline ratio, depth + first trough day",
    tags=("market", "timeseries", "window", "indicator"),
)
def ta_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown = max over days of (running_peak - close) /
    running_peak, with the FIRST day attaining it. The running peak is
    a max (exact, no float accumulation), so each dd is one exact
    division rounded to 6 — the equality join back to the per-
    instrument max is decided on that shared grid. Everything past
    stage 1 runs on the bar table (~150 rows here; days x instruments
    at any scale)."""
    d = _daily_close_df(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("close").over(w)
    dd = d.select(
        "event_type",
        "day",
        F.round((peak - F.col("close")) / peak, 6).alias("dd"),
    )
    g = dd.groupBy("event_type").agg(
        F.max("dd").alias("max_drawdown"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        dd.join(F.broadcast(g), "event_type")
        .where(F.col("dd") == F.col("max_drawdown"))
        .groupBy("event_type", "max_drawdown", "n_days")
        .agg(F.date_format(F.min("day"), "yyyy-MM-dd").alias("trough_day"))
    )


#: DuckDB CTE `rets(event_type, day, r)` — daily log returns over the
#: bar table; requires _DAILY_CTE in scope
_RETS_CTE = """
    rets AS (
      SELECT event_type, day, r FROM (
        SELECT event_type, day,
               ln(close / lag(close) OVER (PARTITION BY event_type ORDER BY day)) AS r
        FROM daily
      ) WHERE r IS NOT NULL
    )
"""


def _daily_returns_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`_RETS_CTE`: ln(close_t / close_{t-1}) per
    instrument-day. Inputs are picked closes, so each return is one
    exact division + ln — bit-identical across engines."""
    d = _daily_close_df(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    return (
        d.select(
            "event_type",
            "day",
            F.log(F.col("close") / F.lag("close").over(wl)).alias("r"),
        )
        .where(F.col("r").isNotNull())
    )


@register(
    "ta_realized_volatility",
    oracle=f"""
    WITH {_DAILY_CTE},
    {_RETS_CTE},
    w AS (
      SELECT event_type, day, r,
             stddev_samp(r) OVER b AS sd,
             count(*)       OVER b AS n_win
      FROM rets
      WINDOW b AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day_s,
           round(r, 6) AS log_return,
           round(sd * sqrt(365), 6) AS vol_ann
    FROM w WHERE n_win = 7
    """,
    description="Annualized realized volatility: 7-bar rolling stddev of daily log returns x sqrt(365)",
    tags=("market", "timeseries", "window", "indicator"),
)
def ta_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized vol — the trailing-window sample stddev of log
    returns, annualized by sqrt(365) (crypto trades every day). Runs
    entirely on the returns table (bars minus one row per instrument);
    full 7-return windows only. Returns themselves are exact
    (ln of a quotient of picked closes); the stddev follows the
    14-term-window precedent and both engines round on the 6-decimal
    grid."""
    rets = _daily_returns_df(spark, sf_dir)
    b = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    w = rets.select(
        "event_type",
        "day",
        "r",
        F.stddev_samp("r").over(b).alias("sd"),
        F.count(F.lit(1)).over(b).alias("n_win"),
    ).where(F.col("n_win") == 7)
    return w.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        F.round("r", 6).alias("log_return"),
        F.round(F.col("sd") * F.sqrt(F.lit(365.0)), 6).alias("vol_ann"),
    )


@register(
    "ta_returns_correlation",
    oracle=f"""
    WITH {_DAILY_CTE},
    {_RETS_CTE}
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_days,
           round(corr(a.r, b.r), 6) AS pearson_r
    FROM rets a
    JOIN rets b ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    description="Cross-instrument Pearson correlation of daily log returns (all pairs, day-aligned)",
    tags=("market", "timeseries", "stats", "agg"),
)
def ta_returns_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-asset co-movement matrix: day-aligned self-join of
    the returns table (bar-sized, NOT the event stream — the join is
    days x instruments^2 at worst), Pearson r per unordered pair.
    corr() is textbook co-moment correlation in both engines; 1e-12
    association noise against the 1e-6 grain (corr_matrix_lineitem
    precedent)."""
    rets = _daily_returns_df(spark, sf_dir)
    a = rets.select(
        F.col("event_type").alias("type_a"), "day", F.col("r").alias("ra")
    )
    b = rets.select(
        F.col("event_type").alias("type_b"), "day", F.col("r").alias("rb")
    )
    return (
        a.join(b, (a.day == b.day) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.corr("ra", "rb"), 6).alias("pearson_r"),
        )
    )
