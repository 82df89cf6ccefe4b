"""User-behavior analytics: weekly cohort retention and event-type
co-occurrence (market-basket).

Extension surface (reference has no multi-row analytics at all —
SURVEY.md §2.3 "no joins"); these are the event-stream shapes a
production pipeline derives from the same ingested data, each with a
hash-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table

from crypto_etl_pipeline_spark.queries.streaming import SESSION_GAP_SECONDS


@register(
    "cohort_weekly_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('week', min(ts)) AS w0
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.w0,
             date_diff('day', f.w0, date_trunc('week', e.ts)) // 7 AS k
      FROM events e JOIN first f ON e.user_id = f.user_id
    )
    SELECT strftime(w0, '%Y-%m-%d') AS cohort_week,
           k                        AS week_offset,
           count(*)                 AS n_active
    FROM act WHERE k BETWEEN 0 AND 3
    GROUP BY w0, k
    """,
    description="Weekly cohort retention: users grouped by first-seen week, counted per offset week 0-3",
    tags=("behavior", "cohort", "agg", "timeseries"),
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort = Monday-truncated week of a user's first event; a user
    counts once per (cohort, offset) week they were active in. Both
    engines truncate weeks to Monday and compute the offset as whole
    days / 7 (exact: both endpoints are week starts). Two shuffles:
    the first-seen agg and the distinct — the cohort join rides the
    user_id clustering, and `first` is per-user thin so AQE broadcasts
    it against the event scan."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("w0"))
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "w0",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("w0"))
                / F.lit(7)
            ).cast("long").alias("k"),
        )
        .distinct()
    )
    return (
        act.where((F.col("k") >= 0) & (F.col("k") <= 3))
        .groupBy("w0", "k")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.date_format("w0", "yyyy-MM-dd").alias("cohort_week"),
            F.col("k").alias("week_offset"),
            "n_active",
        )
    )


@register(
    "event_type_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    description="Market-basket co-occurrence: users performing both event types, per unordered type pair",
    tags=("behavior", "join", "agg"),
)
def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence via self-join of the DISTINCT (user, type) table —
    the distinct collapses the event stream to at most
    |users| x |types| rows BEFORE the join, so the pair blow-up is
    bounded by types^2 per user, never events^2. The `<` predicate
    halves the output (unordered pairs) and the join clusters on
    user_id, reusing the distinct's exchange."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "rolling_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    fan AS (
      SELECT DISTINCT g.report_day, du.user_id
      FROM du, LATERAL unnest(generate_series(du.day, du.day + INTERVAL 6 DAY,
                                              INTERVAL 1 DAY)) AS g(report_day)
    ),
    bounds AS (SELECT min(date_trunc('day', ts)) AS d0,
                      max(date_trunc('day', ts)) AS d1 FROM events)
    SELECT strftime(f.report_day, '%Y-%m-%d') AS day,
           count(*) AS wau
    FROM fan f, bounds b
    WHERE f.report_day BETWEEN b.d0 AND b.d1
    GROUP BY f.report_day
    """,
    description="Rolling 7-day distinct active users (WAU) via bounded explode fan-out — windowed COUNT DISTINCT that frames cannot express",
    tags=("behavior", "window", "timeseries", "agg"),
)
def rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window DISTINCT counting: SQL window frames cannot host
    COUNT(DISTINCT), and a day-range self-join multiplies the fact
    table. The scale pattern is a BOUNDED fan-out: dedupe to (day,
    user) first (collapsing the event stream), explode each pair into
    the <= 7 report days it contributes to, dedupe again, count. Work
    is O(active-pairs x window-days) regardless of event volume, and
    every stage is a plain hash aggregate. Report days outside the
    observed range are trimmed so partial windows at the edges match
    the oracle exactly."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    fan = (
        du.select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.col("day") + F.expr("interval 6 days"),
                    F.expr("interval 1 day"),
                )
            ).alias("report_day"),
            "user_id",
        )
        .distinct()
    )
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    return (
        fan.crossJoin(F.broadcast(bounds))
        .where((F.col("report_day") >= F.col("d0")) & (F.col("report_day") <= F.col("d1")))
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).alias("wau"))
        .select(F.date_format("report_day", "yyyy-MM-dd").alias("day"), "wau")
    )


@register(
    "semistructured_props_paths",
    oracle="""
    SELECT event_type,
           sum(regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT)::BIGINT AS sum_k_variant,
           sum(regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT)::BIGINT AS sum_k_map,
           count(props) AS n_parsed
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
    description="Semi-structured access paths: Spark 4 VARIANT (parse_json/try_variant_get) and MapType (from_json) must agree",
    tags=("behavior", "json", "variant", "map"),
)
def semistructured_props_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two engine-native routes into semi-structured payloads,
    value-checked against each other AND the oracle: VARIANT
    (parse_json -> try_variant_get: Spark 4's open-schema binary JSON,
    parsed once, fields extracted without re-tokenizing) and the
    closed-schema MapType (from_json with an explicit value type).
    At 100 TB the VARIANT column is what you STORE when producers add
    fields freely; the map is what you project when the schema is
    settled. try_-prefixed access returns null (never throws) on
    malformed rows, mirroring the pipeline's try_cast discipline."""
    ev = load_table(spark, sf_dir, "events").where(F.col("props").isNotNull())
    k_variant = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    k_map = F.element_at(F.from_json("props", "map<string,long>"), "k")
    return ev.groupBy("event_type").agg(
        F.sum(k_variant).alias("sum_k_variant"),
        F.sum(k_map).alias("sum_k_map"),
        F.count("props").alias("n_parsed"),
    )


@register(
    "rolling_wau_hll",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    fan AS (
      SELECT DISTINCT g.report_day, du.user_id
      FROM du, LATERAL unnest(generate_series(du.day, du.day + INTERVAL 6 DAY,
                                              INTERVAL 1 DAY)) AS g(report_day)
    ),
    bounds AS (SELECT min(date_trunc('day', ts)) AS d0,
                      max(date_trunc('day', ts)) AS d1 FROM events)
    SELECT strftime(f.report_day, '%Y-%m-%d') AS day,
           count(*) AS wau_exact,
           true AS within_5pct
    FROM fan f, bounds b
    WHERE f.report_day BETWEEN b.d0 AND b.d1
    GROUP BY f.report_day
    """,
    description="Rolling 7-day WAU via HLL sketch UNION over a window frame (mergeable-sketch window aggregate, 5% contract)",
    tags=("behavior", "window", "sketch", "agg"),
)
def rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH path for windowed distinct counting: rolling_wau's
    exact fan-out costs O(active-pairs x window-days); at a 90-day
    window that multiplier bites, and the mergeable alternative is one
    HLL sketch PER DAY union-merged across the frame —
    `hll_union_agg OVER (ROWS 6 PRECEDING)` — so cost is
    O(active-pairs) + days x window sketch merges on a DIM-SIZED day
    table (the unpartitioned window is over ~tens of day rows, not the
    fact). The estimate is engine-specific, so the compared surface is
    the exact count (same fan-out oracle as rolling_wau) plus the
    'within 5%' accuracy-contract boolean (HLL lgK=12 ~1.6% typical
    error; 5% is a >3-sigma bound) — the hll_sketch_mergeable_rollup
    discipline applied to window frames."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    daily = du.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    bounds = du.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # Contiguous calendar-day spine: with day GAPS in the activity data a
    # ROWS(-6,0) frame over active-day rows spans MORE than 7 calendar
    # days (inflating the union) and report days with no same-day
    # activity vanish from the sketch side while the exact fan-out still
    # emits them.  Left-joining the per-day sketches onto sequence(d0,d1)
    # makes row-frame == calendar-frame and keeps every report day.
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day")
    )
    spined = spine.join(daily, "day", "left")
    w = Window.orderBy("day").rowsBetween(-6, 0)
    est = spined.select(
        "day", F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("wau_est")
    )
    exact = (
        du.select(
            F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("report_day"),
            "user_id",
        )
        .distinct()
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).alias("wau_exact"))
    )
    joined = (
        exact.join(F.broadcast(bounds))
        .where(F.col("report_day").between(F.col("d0"), F.col("d1")))
        .join(est, est.day == F.col("report_day").cast("timestamp"))
    )
    return joined.select(
        F.date_format("report_day", "yyyy-MM-dd").alias("day"),
        "wau_exact",
        (
            F.abs(F.col("wau_est") - F.col("wau_exact")) / F.col("wau_exact") <= 0.05
        ).alias("within_5pct"),
    )


@register(
    "rfm_segmentation",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             max(o_orderdate)             AS last_order,
             count(*)                     AS frequency,
             round(sum(o_totalprice), 4)  AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey,
             ntile(4) OVER (ORDER BY last_order DESC, custkey) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, custkey)  AS f,
             ntile(4) OVER (ORDER BY monetary DESC, custkey)   AS m,
             frequency, monetary
      FROM rfm
    )
    SELECT r, f, m,
           count(*) AS n_customers,
           sum(frequency)::BIGINT AS n_orders,
           round(sum(monetary), 4) AS total_spend
    FROM scored GROUP BY r, f, m
    """,
    description="RFM segmentation: recency/frequency/monetary quartile grid over per-customer order aggregates",
    tags=("behavior", "window", "agg"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic customer-value grid: per-customer
    recency/frequency/monetary reduce the fact table once
    (customer-cardinality output), then three ntile(4) ranks cut the
    quartile grid and the 4x4x4 cells aggregate. Ordering keys are
    exact (dates, counts, a 4-rounded sum) with custkey tie-breaks, so
    quartile boundaries are engine-stable. The customer aggregate IS
    SF-scaled (r11 verdict #5), so the three quartile ranks use the
    range-partitioned global_ntile (global_sequence_ids pattern) —
    bit-identical to the window ntile under the unique tie-broken
    ordering, never a single-task sort."""
    from crypto_etl_pipeline_spark.operators.sampling import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    ).localCheckpoint(eager=False)
    scored = global_ntile(rfm, 4, [F.desc("last_order"), F.asc("custkey")], "r")
    scored = global_ntile(scored, 4, [F.desc("frequency"), F.asc("custkey")], "f")
    scored = global_ntile(scored, 4, [F.desc("monetary"), F.asc("custkey")], "m")
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("frequency").cast("long").alias("n_orders"),
        F.round(F.sum("monetary"), 4).alias("total_spend"),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    r AS (SELECT from_type, sum(n)::BIGINT AS row_n FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           round(c.n * 1.0 / r.row_n, 6) AS p
    FROM c JOIN r USING (from_type)
    """,
    description="First-order behavior Markov chain: per-user event-type transition counts and probabilities",
    tags=("behavior", "window", "agg"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What users do NEXT: the first-order Markov transition matrix
    over per-user event sequences — the model behind funnel
    leak-detection and next-action features. One per-user lead window
    (partitioned, never global) collapses the fact table to an
    n_types^2 count matrix; row-normalized probabilities are
    arithmetic on that dimension-sized table. The same shape serves
    session-path mining at 100 TB because everything after the window
    is tiny."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    r = c.groupBy("from_type").agg(F.sum("n").cast("long").alias("row_n"))
    return (
        c.join(F.broadcast(r), "from_type")
        .select("from_type", "to_type", "n", F.round(F.col("n") / F.col("row_n"), 6).alias("p"))
    )


@register(
    "inter_event_gap_profile",
    oracle=f"""
    WITH g AS (
      SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id)))
             / 1000000.0 AS gap_s
      FROM events
    )
    SELECT count(*) AS n_gaps,
           round(quantile_cont(gap_s, 0.5), 3)  AS gap_p50_s,
           round(quantile_cont(gap_s, 0.9), 3)  AS gap_p90_s,
           round(quantile_cont(gap_s, 0.99), 3) AS gap_p99_s,
           sum(CASE WHEN gap_s > {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END)::BIGINT
             AS n_above_gap,
           round(sum(CASE WHEN gap_s > {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS session_break_rate
    FROM g WHERE gap_s IS NOT NULL
    """,
    description="Per-user inter-event gap distribution: the measurement the sessionization gap is chosen from",
    tags=("behavior", "window", "quality"),
)
def inter_event_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session gaps are chosen the way watermarks are (see
    late_data_profile) — from the gap distribution itself: one
    per-user lag window produces every consecutive-event gap, and the
    quantiles say where 'same visit' ends and 'new session' begins.
    The registered SESSION_GAP_SECONDS (6h) sits between p50 and p90
    here, and session_break_rate is exactly the fraction of events
    that will open a new session under it — the knob and its
    consequence in one row. Partitioned window, never global; the
    quantile aggregate runs over the gap column only."""
    from pyspark.sql.window import Window

    from crypto_etl_pipeline_spark.queries.streaming import SESSION_GAP_SECONDS as GAP

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
            / 1_000_000.0
        ).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    q = F.percentile(F.col("gap_s"), F.lit([0.5, 0.9, 0.99]))
    above = F.sum((F.col("gap_s") > GAP).cast("long"))
    return g.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(q.getItem(0), 3).alias("gap_p50_s"),
        F.round(q.getItem(1), 3).alias("gap_p90_s"),
        F.round(q.getItem(2), 3).alias("gap_p99_s"),
        above.alias("n_above_gap"),
        F.round(above / F.count(F.lit(1)), 6).alias("session_break_rate"),
    )


# -- market-basket association rules ------------------------------------------

#: minimum orders containing the PAIR for a rule to be reported
_BASKET_MIN_PAIR = 3
_BASKET_TOPK = 20


@register(
    "basket_association_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
    isup AS (SELECT p, count(*) AS s FROM items GROUP BY p),
    pairs AS (
      SELECT a.p AS p_a, b.p AS p_b, count(*) AS s_ab
      FROM items a JOIN items b ON a.okey = b.okey AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING count(*) >= {_BASKET_MIN_PAIR}
    ),
    rules AS (
      SELECT pr.p_a, pr.p_b, pr.s_ab,
             sa.s AS s_a, sb.s AS s_b,
             round(pr.s_ab * 1.0 / sa.s, 6) AS confidence,
             round(pr.s_ab * 1.0 * n.n_orders / (sa.s * sb.s), 4) AS lift
      FROM pairs pr
      JOIN isup sa ON sa.p = pr.p_a
      JOIN isup sb ON sb.p = pr.p_b
      CROSS JOIN n
    )
    SELECT p_a, p_b, s_ab, s_a, s_b, confidence, lift
    FROM rules
    ORDER BY lift DESC, p_a, p_b
    LIMIT {_BASKET_TOPK}
    """,
    description=(
        f"Market-basket association rules over order contents: pair "
        f"support >= {_BASKET_MIN_PAIR}, confidence and lift, top-"
        f"{_BASKET_TOPK} by lift"
    ),
    tags=("join", "agg", "behavior"),
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori's reporting tail without the candidate generation: with
    itemsets of size 2, support/confidence/lift come straight from one
    self-join of the per-order item sets — lift(a→b) =
    P(ab)/(P(a)P(b)), the co-purchase signal a recommender/assortment
    pipeline reads.

    Scale shape: the self-join is keyed on okey, so matched volume is
    Σ C(order_width, 2) — order width is bounded (TPC-H ~7 items), so
    pair volume is LINEAR in orders (same matched-volume-bound
    argument as the dedup posting joins). Item supports are one keyed
    aggregate; the pair HAVING prunes before the support joins; the
    final top-k is TakeOrderedAndProject over the rounded-lift grid
    (ties broken on the exact (p_a, p_b) key so cross-engine order is
    total). N rides the scalar broadcast idiom."""
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = items.select(F.countDistinct("okey").alias("n_orders"))
    isup = items.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("p_a"), F.col("b.p").alias("p_b"))
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .where(F.col("s_ab") >= _BASKET_MIN_PAIR)
    )
    sa = isup.select(F.col("p").alias("p_a"), F.col("s").alias("s_a"))
    sb = isup.select(F.col("p").alias("p_b"), F.col("s").alias("s_b"))
    rules = (
        pairs.join(sa, "p_a")
        .join(sb, "p_b")
        .crossJoin(F.broadcast(n))
        .select(
            "p_a",
            "p_b",
            "s_ab",
            "s_a",
            "s_b",
            F.round(F.col("s_ab") * 1.0 / F.col("s_a"), 6).alias("confidence"),
            F.round(
                F.col("s_ab") * 1.0 * F.col("n_orders") / (F.col("s_a") * F.col("s_b")),
                4,
            ).alias("lift"),
        )
    )
    return rules.orderBy(
        F.desc("lift"), F.asc("p_a"), F.asc("p_b")
    ).limit(_BASKET_TOPK)


# -- multi-touch revenue attribution ------------------------------------------

_ATTR_WINDOW_S = 3600  #: touches within this many seconds before a purchase


@register(
    "event_attribution_linear",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    t AS (
      SELECT event_id AS t_id, event_type AS channel, user_id, ts FROM events
      WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
      SELECT p.p_id, p.value, t.channel
      FROM p JOIN t ON p.user_id = t.user_id
                   AND epoch(p.ts) - epoch(t.ts) >= 0
                   AND epoch(p.ts) - epoch(t.ts) < {_ATTR_WINDOW_S}
    ),
    per_p AS (SELECT p_id, count(*) AS n_touch FROM pairs GROUP BY p_id),
    weighted AS (
      SELECT pr.channel, pr.value / pp.n_touch AS w
      FROM pairs pr JOIN per_p pp USING (p_id)
    ),
    attributed AS (
      SELECT channel, count(*)::BIGINT AS n_events,
             sum(w) AS revenue
      FROM weighted GROUP BY channel
      UNION ALL
      SELECT 'direct', count(*)::BIGINT, sum(p.value)
      FROM p LEFT JOIN per_p pp ON pp.p_id = p.p_id
      WHERE pp.p_id IS NULL
    ),
    tot AS (SELECT sum(value) AS total FROM p)
    SELECT a.channel, a.n_events,
           round(a.revenue, 4) AS attributed_revenue,
           round(a.revenue / t.total, 6) AS revenue_share
    FROM attributed a CROSS JOIN tot t
    """,
    description=(
        "Linear multi-touch revenue attribution: purchase value split "
        "equally across click/view touches in the preceding hour; "
        "untouched purchases bucket to 'direct'"
    ),
    tags=("behavior", "join", "timeseries"),
)
def event_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution report a marketing/behavior pipeline runs on
    the event stream: each purchase's revenue splits 1/n across the
    user's touches (clicks + views) inside the preceding
    {_ATTR_WINDOW_S}-second window — linear attribution, the
    position-free baseline; purchases with no touch credit 'direct'.
    Shares sum to 1 over the three channels (pinned in tests).

    Scale shape: the touch join is the binned range join
    (operators/timeseries.py range_join_binned — two equi-joins on
    (user, time-bin) + exact predicate, candidates bounded per bin,
    never a per-user cross product); per-purchase touch counts and
    per-channel rollups are keyed aggregates; the grand total rides
    the 1-row broadcast. Revenue splits are exact rationals summed
    then rounded at 1e-4, far above association noise."""
    from crypto_etl_pipeline_spark.operators.timeseries import range_join_binned

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"), "value")
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
        "user_id",
        F.col("ts").alias("t_ts"),
    )
    pairs = range_join_binned(
        p, t, right_ts="t_ts",
        max_gap_seconds=_ATTR_WINDOW_S,
    ).select("p_id", "value", "channel")
    per_p = pairs.groupBy("p_id").agg(F.count(F.lit(1)).alias("n_touch"))
    weighted = pairs.join(per_p, "p_id").select(
        "channel", (F.col("value") / F.col("n_touch")).alias("w")
    )
    attributed = weighted.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("w").alias("revenue")
    )
    direct = (
        p.join(per_p, p.p_id == per_p.p_id, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("revenue"))
        .select(F.lit("direct").alias("channel"), "n_events", "revenue")
    )
    tot = p.agg(F.sum("value").alias("total"))
    return (
        attributed.unionByName(direct)
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_events",
            F.round("revenue", 4).alias("attributed_revenue"),
            F.round(F.col("revenue") / F.col("total"), 6).alias("revenue_share"),
        )
    )


# -- gaps and islands ----------------------------------------------------------


@register(
    "user_activity_streaks",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - to_days(row_number() OVER (PARTITION BY user_id ORDER BY d)::INTEGER)
               AS island
      FROM active
    ),
    streaks AS (
      SELECT user_id, island, count(*) AS len FROM grp GROUP BY user_id, island
    )
    SELECT len AS streak_len,
           count(*) AS n_streaks,
           count(DISTINCT user_id) AS n_users
    FROM streaks GROUP BY len
    """,
    description=(
        "Gaps-and-islands: consecutive-active-day streak histogram per "
        "user (the date - row_number island trick)"
    ),
    tags=("behavior", "window", "agg"),
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical gaps-and-islands pattern: within a user's sorted
    distinct active days, consecutive runs share the constant
    (day - row_number) island key, so streaks fall out of one window
    plus one aggregate — no self-join, no recursion. Output is the
    corpus streak-length histogram (n_streaks, distinct users at that
    length) — the engagement-persistence view behind retention
    cohorts (cohort_weekly_retention counts who returns; this counts
    how LONG they stay active without a break).

    Scale shape: the distinct (user, day) reduction is the only
    corpus-scale stage (map-side-combined); the island window is
    partitioned per user over that user's active DAYS (calendar-
    bounded, the asof/EWMA per-entity contract); both rollups are
    keyed aggregates on bounded keys."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("d")
    grp = active.select(
        "user_id",
        "d",
        F.date_sub(F.col("d").cast("date"), F.row_number().over(w)).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy(F.col("len").alias("streak_len")).agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "window_funnel_horizon",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click'
        AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 12 HOUR
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ts > t2.t2 AND e.ts <= t1.t1 + INTERVAL 12 HOUR
      GROUP BY e.user_id
    ),
    levels AS (
      SELECT u.user_id,
             CASE WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  WHEN t1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS level
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN t1 USING (user_id)
      LEFT JOIN t2 USING (user_id)
      LEFT JOIN t3 USING (user_id)
    )
    SELECT level, count(*) AS n_users FROM levels GROUP BY level
    """,
    description=(
        "First-touch funnel with a 12h horizon: view -> click -> purchase "
        "levels anchored at each user's first view"
    ),
    tags=("behavior", "funnel", "window"),
)
def window_funnel_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowFunnel shape (ClickHouse) under FIRST-TOUCH
    anchoring: each user's funnel clock starts at their first 'view';
    a 'click' counts if it lands strictly after that view and within
    the 12 h horizon, a 'purchase' if strictly after that click and
    still inside the same horizon. (ClickHouse's default maximizes
    the level over ALL candidate anchors; the first-touch variant is
    the attribution form and keeps every step a conditional min over
    exact timestamps — fully deterministic, no FP anywhere.) Three
    user-keyed conditional-min aggregations — each a map-side-combined
    pass over the events scan, the same shuffle key throughout, so at
    100 TB this is three cheap reuses of one partitioning, never a
    per-user sort. Measured levels at sf0.01: 113/34/3 users at
    1/2/3 (everyone views, so level 0 is empty here)."""
    events = load_table(spark, sf_dir, "events")
    t1 = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    horizon = F.col("t1") + F.expr("INTERVAL 12 HOURS")
    t2 = (
        events.join(t1, "user_id")
        .where(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= horizon)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.any_value("t1").alias("t1"))
    )
    t3 = (
        events.join(t2, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 12 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = events.select("user_id").distinct()
    levels = (
        users.join(t1.select("user_id", F.lit(1).alias("_l1")), "user_id", "left")
        .join(t2.select("user_id", F.lit(1).alias("_l2")), "user_id", "left")
        .join(t3.select("user_id", F.lit(1).alias("_l3")), "user_id", "left")
        .select(
            F.when(F.col("_l3").isNotNull(), 3)
            .when(F.col("_l2").isNotNull(), 2)
            .when(F.col("_l1").isNotNull(), 1)
            .otherwise(0)
            .alias("level")
        )
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "survival_km_repeat_purchase",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    t0 AS (SELECT user_id, min(ts) AS t0 FROM p GROUP BY user_id),
    t1 AS (
      SELECT p.user_id, min(p.ts) AS t1
      FROM p JOIN t0 USING (user_id) WHERE p.ts > t0.t0
      GROUP BY p.user_id
    ),
    fin AS (SELECT max(ts) AS tend FROM events),
    u AS (
      SELECT t0.user_id,
             CASE WHEN t1.t1 IS NOT NULL
                  THEN date_diff('day', CAST(t0.t0 AS DATE), CAST(t1.t1 AS DATE))
                  ELSE date_diff('day', CAST(t0.t0 AS DATE), CAST(fin.tend AS DATE))
             END AS dur,
             CASE WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 LEFT JOIN t1 USING (user_id) CROSS JOIN fin
    ),
    c AS (SELECT dur, sum(ev)::BIGINT AS d, sum(1 - ev)::BIGINT AS cns
          FROM u GROUP BY dur),
    tot AS (SELECT count(*)::BIGINT AS n FROM u),
    r AS (
      SELECT dur, d, cns,
             tot.n - coalesce(sum(d + cns) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM c CROSS JOIN tot
    ),
    s AS (
      SELECT dur, n_risk, d, cns,
             min((n_risk - d) * 1.0 / n_risk) OVER w AS mn,
             sum(ln(CASE WHEN n_risk = d THEN 1.0
                         ELSE (n_risk - d) * 1.0 / n_risk END)) OVER w AS ls
      FROM r
      WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT dur AS dur_days, n_risk::BIGINT AS n_risk, d AS n_events,
           cns AS n_censored,
           round(CASE WHEN mn = 0 THEN 0.0 ELSE exp(ls) END, 6) AS survival
    FROM s
    """,
    description=(
        "Kaplan-Meier product-limit curve for time-to-repeat-purchase: "
        "per-day risk set, events, right-censoring at corpus end, and "
        "the survival estimate"
    ),
    tags=("behavior", "stats", "timeseries"),
)
def survival_km_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis joins the behavioral suite (cohort retention =
    discrete survival without censoring; this is the censored,
    product-limit version): per purchasing user, duration = days from
    FIRST purchase to the next one (event) or to the corpus's last
    observed timestamp (right-censored — the estimator's whole point
    is that those users are not failures, just unobserved past the
    cut). S(t) = prod_{t_j <= t} (1 - d_j / n_j), the Kaplan-Meier
    1958 estimator.

    Scale shape: the only corpus-sized work is the per-user min/next
    aggregation (map-side combined groupBy); everything after lives
    on the CALENDAR-BOUNDED duration table (<= observation-window
    days rows), so the ordered windows run on a dim-sized frame — the
    Theil-Sen discipline. Determinism note: the product is computed
    as exp(sum(ln(factor))) over the ascending-duration frame with
    each factor a single IEEE division of exact BIGINTs; both engines
    sum the same <= |days| doubles and the result rounds at 6dp, so a
    cross-engine flip would need a value within ~5e-13 of the grid —
    the corpus_mix_temperature argument. The everyone-fails edge
    (factor 0 -> ln undefined) is guarded identically on both sides:
    ln takes a 1.0 placeholder and the running-min factor zeroes the
    survival instead."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    t0 = p.groupBy("user_id").agg(F.min("ts").alias("t0"))
    t1 = (
        p.join(t0, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    fin = ev.agg(F.max("ts").alias("tend"))
    u = (
        t0.join(t1, "user_id", "left")
        .crossJoin(F.broadcast(fin))
        .select(
            F.when(
                F.col("t1").isNotNull(),
                F.datediff(F.to_date("t1"), F.to_date("t0")),
            )
            .otherwise(F.datediff(F.to_date("tend"), F.to_date("t0")))
            .cast("long")
            .alias("dur"),
            F.col("t1").isNotNull().cast("int").alias("ev"),
        )
    )
    c = u.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("cns"),
    )
    tot = u.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # dur table is calendar-bounded (<= observation-window days), so
    # the single-partition ordered windows below are dim-sized
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    r = c.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n")
        - F.coalesce(F.sum(F.col("d") + F.col("cns")).over(w_prev), F.lit(0)),
    )
    factor = (F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")
    s = r.withColumn("mn", F.min(factor).over(w_cum)).withColumn(
        "ls",
        F.sum(
            F.log(
                F.when(F.col("n_risk") == F.col("d"), F.lit(1.0)).otherwise(
                    factor
                )
            )
        ).over(w_cum),
    )
    return s.select(
        F.col("dur").alias("dur_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.col("cns").alias("n_censored"),
        F.round(
            F.when(F.col("mn") == 0, F.lit(0.0)).otherwise(F.exp("ls")), 6
        ).alias("survival"),
    )
