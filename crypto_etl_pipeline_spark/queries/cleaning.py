"""Cleaning + classification operator queries (SURVEY.md §2.8 F1-F12, §2.4 A1-A3).

The reference cleans a messy Kaggle CSV (comma-grouped numbers, $-money
tokens, '%' percents, 'Million'/'Billion' unit suffixes, '-' missing
markers — reference crypto_etl_pipeline.py:130-210). The driver's
testdata has no such strings, so each query *synthesizes* the messy
format deterministically from typed columns (integer-derived, so the
string rendering is engine-independent), then applies the cleaning
expression library — proving the parse semantics against DuckDB.

DuckDB parity traps handled here:
- DuckDB ``cast(double AS bigint)`` ROUNDS; Python ``int()`` and Spark
  double->long casts TRUNCATE. Oracles use ``trunc()`` explicitly.
- DuckDB ``regexp_replace`` is first-match unless the 'g' flag is given.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.functions.classify import classify_trend, classify_trend_sql
from crypto_etl_pipeline_spark.functions.cleaning import (
    parse_grouped_number,
    parse_money,
    parse_percent,
    parse_unit_suffix,
)
from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# F2+F4: money-token parse ("$1,234" / " $-  " -> double / null).
# --------------------------------------------------------------------------
@register(
    "clean_money_tokens",
    oracle="""
    WITH messy AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN ' $-   '
                  ELSE '$' || format('{:,}', o_orderkey * 100 + 45) || ' '
             END AS raw_money
      FROM orders
    )
    SELECT o_orderkey, raw_money,
           try_cast(regexp_replace(raw_money, '[$, ]', '', 'g') AS DOUBLE) AS parsed
    FROM messy
    """,
    description="F2 money cleaning: strip [$, ], coerce, '-' -> null",
    tags=("cleaning",),
)
def clean_money_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    raw = F.when(F.col("o_orderkey") % 7 == 0, F.lit(" $-   ")).otherwise(
        F.concat(F.lit("$"), F.format_number(F.col("o_orderkey") * 100 + 45, 0), F.lit(" "))
    )
    return orders.select(
        "o_orderkey",
        raw.alias("raw_money"),
        parse_money(raw).alias("parsed"),
    )


# --------------------------------------------------------------------------
# F1+F4: comma-grouped number parse ("19,549,806" -> double).
# --------------------------------------------------------------------------
@register(
    "clean_grouped_numbers",
    oracle="""
    WITH messy AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN '-'
                  ELSE format('{:,}', c_custkey * 1000 + 7)
             END AS raw_supply
      FROM customer
    )
    SELECT c_custkey, raw_supply,
           try_cast(replace(raw_supply, ',', '') AS DOUBLE) AS parsed
    FROM messy
    """,
    description="F1 de-comma + F4 coercing parse",
    tags=("cleaning",),
)
def clean_grouped_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    raw = F.when(F.col("c_custkey") % 11 == 0, F.lit("-")).otherwise(
        F.format_number(F.col("c_custkey") * 1000 + 7, 0)
    )
    return cust.select(
        "c_custkey",
        raw.alias("raw_supply"),
        parse_grouped_number(raw).alias("parsed"),
    )


# --------------------------------------------------------------------------
# F6: percent normalization ("12.5%" -> 0.125; "-" -> null).
# --------------------------------------------------------------------------
@register(
    "clean_percent_tokens",
    oracle="""
    WITH messy AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN (l_orderkey + l_linenumber) % 9 = 0 THEN '-'
                  ELSE cast(cast(l_quantity AS BIGINT) - 25 AS VARCHAR) || '.' ||
                       cast(l_linenumber AS VARCHAR) || '%'
             END AS raw_pct
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, raw_pct,
           round(try_cast(regexp_replace(raw_pct, '%', '', 'g') AS DOUBLE) / 100, 6) AS parsed
    FROM messy
    """,
    description="F6 %-strip, coerce, divide by 100",
    tags=("cleaning",),
)
def clean_percent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    raw = F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 9 == 0, F.lit("-")).otherwise(
        F.concat(
            (F.col("l_quantity").cast("long") - 25).cast("string"),
            F.lit("."),
            F.col("l_linenumber").cast("string"),
            F.lit("%"),
        )
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        raw.alias("raw_pct"),
        F.round(parse_percent(raw), 6).alias("parsed"),
    )


# --------------------------------------------------------------------------
# F5: unit-suffix parse ("21 Million" / "88.3 Billion" / "52,600,000" / "-")
# with int() truncation-toward-zero parity.
# --------------------------------------------------------------------------
@register(
    "clean_unit_suffix_supply",
    oracle="""
    WITH messy AS (
      SELECT p_partkey,
             CASE p_partkey % 5
               WHEN 0 THEN cast(p_size AS VARCHAR) || ' Million'
               WHEN 1 THEN cast(p_size AS VARCHAR) || '.' || cast(p_partkey % 10 AS VARCHAR) || ' Billion'
               WHEN 2 THEN format('{:,}', p_partkey * 1000)
               WHEN 3 THEN '-'
               ELSE cast(p_size AS VARCHAR) || '.' || cast(p_partkey % 10 AS VARCHAR) || ' Million'
             END AS raw_total_supply
      FROM part
    )
    SELECT p_partkey, raw_total_supply,
           cast(trunc(
             CASE
               WHEN raw_total_supply IS NULL
                 OR regexp_replace(raw_total_supply, '[,$ ]', '', 'g') IN ('', '-') THEN NULL
               WHEN contains(regexp_replace(raw_total_supply, '[,$ ]', '', 'g'), 'Billion')
                 THEN try_cast(regexp_replace(regexp_replace(raw_total_supply, '[,$ ]', '', 'g'), 'Billion|Million', '', 'g') AS DOUBLE) * 1e9
               WHEN contains(regexp_replace(raw_total_supply, '[,$ ]', '', 'g'), 'Million')
                 THEN try_cast(regexp_replace(regexp_replace(raw_total_supply, '[,$ ]', '', 'g'), 'Billion|Million', '', 'g') AS DOUBLE) * 1e6
               ELSE try_cast(regexp_replace(raw_total_supply, '[,$ ]', '', 'g') AS DOUBLE)
             END) AS BIGINT) AS parsed
    FROM messy
    """,
    description="F5 Million/Billion suffix parse with int() truncation",
    tags=("cleaning",),
)
def clean_unit_suffix_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    frac = (F.col("p_partkey") % 10).cast("string")
    size_s = F.col("p_size").cast("string")
    raw = (
        F.when(F.col("p_partkey") % 5 == 0, F.concat(size_s, F.lit(" Million")))
        .when(F.col("p_partkey") % 5 == 1, F.concat(size_s, F.lit("."), frac, F.lit(" Billion")))
        .when(F.col("p_partkey") % 5 == 2, F.format_number(F.col("p_partkey") * 1000, 0))
        .when(F.col("p_partkey") % 5 == 3, F.lit("-"))
        .otherwise(F.concat(size_s, F.lit("."), frac, F.lit(" Million")))
    )
    return part.select(
        "p_partkey",
        raw.alias("raw_total_supply"),
        parse_unit_suffix(raw).alias("parsed"),
    )


# --------------------------------------------------------------------------
# F8: the 5-way trend classifier + A6 distribution — the reference's
# flagship dataflow shape (EP2: project -> CASE classify -> group-count).
# --------------------------------------------------------------------------
@register(
    "classify_trend_lineitem",
    oracle=f"""
    SELECT {classify_trend_sql("(l_tax - l_discount) * 100")} AS tendencia,
           count(*) AS count
    FROM lineitem
    GROUP BY 1
    ORDER BY count DESC, tendencia
    """,
    description="F8 trend CASE classifier + A6 value_counts (flagship shape)",
    tags=("cleaning", "classify", "flagship"),
)
def classify_trend_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pct = (F.col("l_tax") - F.col("l_discount")) * 100
    return (
        li.select(classify_trend(pct).alias("tendencia"))
        .groupBy("tendencia")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("tendencia"))
    )


@register(
    "classify_trend_rowlevel",
    oracle=f"""
    SELECT event_id,
           {classify_trend_sql("CASE WHEN event_type = 'error' THEN NULL ELSE value - 245 END")} AS tendencia
    FROM events
    """,
    description="F8 row-level classification incl. null->estable fall-through",
    tags=("cleaning", "classify"),
)
def classify_trend_rowlevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pct = F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
        F.col("value") - 245
    )
    return ev.select("event_id", classify_trend(pct).alias("tendencia"))


# --------------------------------------------------------------------------
# A2+F10: median imputation (impute-then-use, C-order — SURVEY §2.9 #1).
# Median computed in one agg, broadcast back as a scalar (no window).
# --------------------------------------------------------------------------
@register(
    "impute_median_event_value",
    oracle="""
    WITH holey AS (
      SELECT event_id,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events
    ),
    med AS (SELECT quantile_cont(v, 0.5) AS m FROM holey)
    SELECT event_id, round(coalesce(v, m), 6) AS value_filled
    FROM holey, med
    """,
    description="Exact-median imputation via agg + broadcast scalar (A2/F10)",
    tags=("cleaning", "stats"),
)
def impute_median_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    holey = ev.select(
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = holey.agg(F.percentile(F.col("v"), F.lit(0.5)).alias("m"))
    return (
        holey.crossJoin(F.broadcast(med))
        .select("event_id", F.round(F.coalesce(F.col("v"), F.col("m")), 6).alias("value_filled"))
    )


# --------------------------------------------------------------------------
# A1+P6: IQR outlier flagging (impute-order irrelevant here: no nulls in
# l_extendedprice). Two-pass agg+broadcast — never an unpartitioned window.
# --------------------------------------------------------------------------
@register(
    "iqr_outlier_flag",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS extendedprice,
           NOT (l_extendedprice BETWEEN q1 - 1.5 * (q3 - q1) AND q3 + 1.5 * (q3 - q1)) AS is_outlier
    FROM lineitem, bounds
    """,
    description="IQR*1.5 outlier flag via agg + broadcast bounds (A1/P6/F11)",
    tags=("cleaning", "stats"),
)
def iqr_outlier_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = F.col("l_extendedprice")
    q = F.percentile(c, F.lit([0.25, 0.75]))
    bounds = li.agg(q.getItem(0).alias("q1"), q.getItem(1).alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(c, 2).alias("extendedprice"),
            (~c.between(F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr)).alias("is_outlier"),
        )
    )


@register(
    "impute_grouped_median_by_user_bucket",
    oracle="""
    WITH holey AS (
      SELECT event_id, event_type, user_id % 10 AS bucket,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events
    ),
    med AS (
      SELECT event_type, bucket, quantile_cont(v, 0.5) AS m
      FROM holey GROUP BY event_type, bucket
    )
    SELECT h.event_id,
           round(coalesce(h.v, med.m), 6) AS value_filled,
           h.v IS NULL AND med.m IS NOT NULL AS was_imputed
    FROM holey h LEFT JOIN med USING (event_type, bucket)
    """,
    description="Per-group exact-median imputation: stratum medians broadcast back over the fact (conditional-mean imputation family)",
    tags=("cleaning", "stats"),
)
def impute_grouped_median_by_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified imputation — the global-median variant's realistic
    big sibling: filling a click's missing value with the GLOBAL median
    ignores that purchase values and view values live on different
    scales, so the fill comes from the row's own (event_type,
    user-bucket) stratum. The stratum median table is
    groups-cardinality-sized (exact `percentile` per group, one hash
    agg), broadcast back over the fact — same two-pass agg+broadcast
    discipline as the global variant, never an unpartitioned window.
    Strata that are entirely null (every click bucket) fill nothing
    and report was_imputed=false, surfacing coverage honestly instead
    of silently zero-filling."""
    ev = load_table(spark, sf_dir, "events")
    holey = ev.select(
        "event_id",
        "event_type",
        (F.col("user_id") % 10).alias("bucket"),
        F.when(F.col("event_type") == "click", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = holey.groupBy("event_type", "bucket").agg(
        F.percentile(F.col("v"), F.lit(0.5)).alias("m")
    )
    return holey.join(F.broadcast(med), ["event_type", "bucket"], "left").select(
        "event_id",
        F.round(F.coalesce(F.col("v"), F.col("m")), 6).alias("value_filled"),
        (F.col("v").isNull() & F.col("m").isNotNull()).alias("was_imputed"),
    )


@register(
    "winsorize_event_values",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id,
           round(CASE WHEN e.value < b.lo THEN b.lo
                      WHEN e.value > b.hi THEN b.hi
                      ELSE e.value END, 6) AS value_w,
           e.value < b.lo AS capped_low,
           e.value > b.hi AS capped_high
    FROM events e JOIN b USING (event_type)
    WHERE e.value IS NOT NULL
    """,
    description="Per-group percentile winsorization (p05/p95 caps): bounded-influence cleaning next to the IQR flag",
    tags=("cleaning", "stats"),
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — cap, don't drop: outliers get clamped to their
    stratum's exact p05/p95 so downstream means/regressions keep every
    row with bounded influence (the complement of iqr_outlier_flag,
    which only FLAGS). Per-type exact quantiles are one hash-agg pass
    (groups-cardinality output) broadcast back over the fact — the
    same two-pass agg+broadcast discipline as every scalar-stats
    operator here; never a global sort or window. Cap decisions
    compare raw values against exact-arithmetic quantile bounds
    identically in both engines; only the emitted value rounds."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    q = F.percentile(F.col("value"), F.lit([0.05, 0.95]))
    b = ev.groupBy("event_type").agg(q.getItem(0).alias("lo"), q.getItem(1).alias("hi"))
    j = ev.join(F.broadcast(b), "event_type")
    w = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return j.select(
        "event_id",
        F.round(w, 6).alias("value_w"),
        (F.col("value") < F.col("lo")).alias("capped_low"),
        (F.col("value") > F.col("hi")).alias("capped_high"),
    )


@register(
    "robust_zscore_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, med.m,
             quantile_cont(abs(e.value - med.m), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      WHERE e.value IS NOT NULL
      GROUP BY e.event_type, med.m
    )
    SELECT e.event_id,
           round((e.value - mad.m) / (1.4826 * mad.mad), 4) AS rz,
           abs(round((e.value - mad.m) / (1.4826 * mad.mad), 4)) > 3.5
             AS is_outlier
    FROM events e JOIN mad USING (event_type)
    WHERE e.value IS NOT NULL AND mad.mad > 0
    """,
    description="Median/MAD robust z-score per group: outlier scoring that outliers themselves cannot corrupt",
    tags=("cleaning", "stats", "quality"),
)
def robust_zscore_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust sibling of mean/stddev z-scores: median and MAD have
    a 50% breakdown point, so a contaminated stratum still scores its
    own contamination correctly (a heavy outlier inflates stddev and
    hides itself; it cannot move the median). Two grouped
    exact-percentile passes — medians, then median absolute deviation
    against the broadcast medians — each a groups-cardinality
    aggregate broadcast back over the fact; 1.4826 rescales MAD to
    sigma under normality. Flags compare the ROUNDED score (both
    engines decide on the same 4-decimal grid)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("m")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("mad"))
        .where(F.col("mad") > 0)
    )
    rz = F.round((F.col("value") - F.col("m")) / (1.4826 * F.col("mad")), 4)
    return ev.join(F.broadcast(mad), "event_type").select(
        "event_id", rz.alias("rz"), (F.abs(rz) > 3.5).alias("is_outlier")
    )
