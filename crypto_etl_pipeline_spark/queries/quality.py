"""Data-quality queries and the SQL entry point.

``sql_interface_q1`` proves the engine's second API surface: the same
plan expressed as SQL text over registered views — Catalyst compiles
both identically, and the oracle is shared with the DataFrame variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table


@register(
    "quality_completeness_events",
    oracle="""
    SELECT 'event_id' AS column, count(*) AS n, count(event_id) AS n_nonnull,
           round(count(event_id) * 1.0 / count(*), 6) AS ratio FROM events
    UNION ALL
    SELECT 'value', count(*), count(value),
           round(count(value) * 1.0 / count(*), 6) FROM events
    UNION ALL
    SELECT 'props', count(*), count(props),
           round(count(props) * 1.0 / count(*), 6) FROM events
    """,
    description="Per-column completeness ratios (the reference's prose SLO, measured)",
    tags=("quality",),
)
def quality_completeness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.operators.validate import completeness

    ev = load_table(spark, sf_dir, "events")
    return completeness(ev, ["event_id", "value", "props"])


@register(
    "quality_violations_orders",
    oracle="""
    WITH checked AS (
      SELECT o_orderkey,
             coalesce(o_totalprice > 0 AND o_totalprice < 490000, FALSE) AS ok_price,
             coalesce(o_orderstatus IN ('O','F','P'), FALSE)             AS ok_status
      FROM orders
    )
    SELECT o_orderkey,
           concat_ws(',',
             CASE WHEN NOT ok_price THEN 'price_in_range' END,
             CASE WHEN NOT ok_status THEN 'known_status' END) AS failed
    FROM checked
    WHERE NOT ok_price OR NOT ok_status
    """,
    description="Declarative row-validity checks; failing rows flagged with check names",
    tags=("quality",),
)
def quality_violations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.operators.validate import violations

    orders = load_table(spark, sf_dir, "orders")
    bad = violations(
        orders,
        {
            "price_in_range": (F.col("o_totalprice") > 0) & (F.col("o_totalprice") < 490_000),
            "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
        },
    )
    return bad.select(
        "o_orderkey", F.array_join("failed_checks", ",").alias("failed")
    )


@register(
    "sql_interface_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                        AS sum_qty,
           round(avg(l_extendedprice), 4)                   AS avg_price,
           count(*)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="Same engine, SQL surface: spark.sql over registered views",
    tags=("sql", "agg"),
)
def sql_interface_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)      AS sum_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               count(*)                       AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "grouped_map_zscore",
    oracle="""
    SELECT event_id, user_id,
           round((value - avg(value) OVER w) / stddev(value) OVER w, 6) AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
    description="Grouped-map applyInPandas z-score == SQL window normalization",
    tags=("pandas-udf", "quality"),
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_etl_pipeline_spark.operators.grouped import zscore_by_group

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = zscore_by_group(ev)
    return out.select("event_id", "user_id", F.round("zscore", 6).alias("zscore"))


@register(
    "quality_rule_report",
    oracle="""
    SELECT 'quantity_in_range' AS rule,
           sum(CASE WHEN NOT coalesce(l_quantity >= 1 AND l_quantity <= 50, FALSE)
                    THEN 1 ELSE 0 END)::BIGINT AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
                    THEN 1 ELSE 0 END)::BIGINT
    FROM lineitem
    UNION ALL
    SELECT 'discount_bounded',
           sum(CASE WHEN NOT coalesce(l_discount >= 0 AND l_discount <= 0.1, FALSE)
                    THEN 1 ELSE 0 END)::BIGINT
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_known',
           sum(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE)
                    THEN 1 ELSE 0 END)::BIGINT
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_references_orders',
           count(*)::BIGINT
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
    description="Data-contract report: N declarative rules counted in one scan + referential-integrity anti-join",
    tags=("quality", "agg", "join"),
)
def quality_rule_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly data-contract shape: every value rule is a conditional
    sum inside ONE aggregate pass over the fact table (N rules never
    cost N scans), unpivoted to long form with stack(); the FK rule is
    a key-projected LEFT ANTI join appended by union. Null predicate
    results count as violations (unknown validity is not validity)."""
    from crypto_etl_pipeline_spark.operators.validate import fk_orphan_count, rule_report

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rules = rule_report(
        li,
        {
            "quantity_in_range": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
            "price_positive": F.col("l_extendedprice") > 0,
            "discount_bounded": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
            "returnflag_known": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )
    fk = fk_orphan_count(li, orders, "orderkey_references_orders")
    return rules.unionByName(fk)


@register(
    "json_roundtrip_documents",
    oracle=f"""
    SELECT lang,
           count(*)                 AS n_docs,
           sum(n_chars)::BIGINT     AS total_chars,
           sum(('0x' || substr(md5(text), 1, 11))::BIGINT)::BIGINT AS text_checksum
    FROM documents
    GROUP BY lang
    """,
    description="JSONL sink->source round-trip fidelity: per-lang md5 checksum of text survives serialization",
    tags=("source", "sink", "json", "agg"),
)
def json_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes the documents table to JSON Lines, reads it back with an
    explicit schema (never inference — a malformed corpus must fail
    loudly, not re-type silently), and aggregates a per-language md5
    checksum of the text. The oracle computes the same checksum from
    the ORIGINAL parquet, so a green row proves byte-level fidelity of
    the JSON escape/unescape path for real corpus text (embedded
    quotes, newlines, unicode). The md5-prefix length (11 hex chars)
    keeps the per-lang sum far under int64 even at sf1."""
    import tempfile

    from crypto_etl_pipeline_spark.operators.phash import md5_long

    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="docs_jsonl_")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(md5_long(F.col("text"), 11)).alias("text_checksum"),
    )


@register(
    "ndjson_sink_roundtrip",
    oracle="""
    SELECT lang,
           count(*)             AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           sum(('0x' || substr(md5(text), 1, 11))::BIGINT)::BIGINT AS text_checksum
    FROM documents
    GROUP BY lang
    """,
    description="Custom Python DataSource writer round-trip: two-phase-commit NDJSON sink, checksum vs original parquet",
    tags=("sink", "json", "agg", "datasource"),
)
def ndjson_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the ndjson_sink Python DataSource WRITER end to end:
    documents -> staged part files -> driver commit (manifest) ->
    read-back -> per-lang md5 checksum equal to the ORIGINAL parquet's.
    Proves the custom sink's write/commit path loses nothing, the same
    way json_roundtrip_documents proves the built-in JSON codec."""
    import os
    import tempfile

    from crypto_etl_pipeline_spark.operators.phash import md5_long
    from crypto_etl_pipeline_spark.sources.ndjson_sink import NdjsonSinkDataSource

    spark.dataSource.register(NdjsonSinkDataSource)
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="ndjson_sink_")
    docs.write.format("ndjson_sink").mode("overwrite").option("path", out).save()
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(os.path.join(out, "part-*.ndjson"))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(md5_long(F.col("text"), 11)).alias("text_checksum"),
    )


_FK_PAIRS = [
    # (fact, fk, dim, pk) — the full schema's referential surface
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "quality_referential_audit",
    oracle="\n    UNION ALL\n    ".join(
        f"""SELECT '{fact}.{fk}' AS fk_edge,
           (SELECT count(*) FROM {fact}) AS n_rows,
           (SELECT count(*) FROM {fact} WHERE {fk} IS NULL) AS n_null_fk,
           (SELECT count(*) FROM {fact} f
             WHERE {fk} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {dim} d WHERE d.{pk} = f.{fk}))
             AS n_orphans"""
        for fact, fk, dim, pk in _FK_PAIRS
    ),
    description="Whole-schema referential-integrity audit: every FK edge's null and orphan counts in one report",
    tags=("quality", "join"),
)
def quality_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integrity dashboard a warehouse runs after every load: for
    EVERY foreign-key edge in the schema, how many rows, how many null
    keys, how many orphans (non-null key with no dimension partner).
    Each edge is a LEFT ANTI join of the fact's DISTINCT key set
    against the dimension — at 100 TB the distinct-key projection
    collapses the fact before any join; the dim side is UNHINTED
    because some "dims" (orders) are themselves fact-sized at scale;
    per-edge results are one-row aggregates unioned into the report.
    Flag, never drop: counts make the violation rate visible, policy
    decides downstream (same discipline as `violations`)."""
    rows = []
    for fact, fk, dim, pk in _FK_PAIRS:
        f = load_table(spark, sf_dir, fact)
        d = load_table(spark, sf_dir, dim).select(F.col(pk).alias("_pk")).distinct()
        keys = f.select(F.col(fk).alias("_fk"))
        # orphan keys: distinct non-null fks absent from the dim,
        # weighted back by their fact multiplicity
        key_counts = (
            keys.where(F.col("_fk").isNotNull())
            .groupBy("_fk")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        # no broadcast hint on the dim key set: `orders` serves as a
        # dim here and is fact-sized at scale — AQE broadcasts the
        # small edges and shuffles the big ones.
        orphans = key_counts.join(
            d, key_counts._fk == d._pk, "left_anti"
        ).agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("n_orphans"))
        stats = keys.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_fk").isNull().cast("long")).alias("n_null_fk"),
        )
        rows.append(
            stats.crossJoin(F.broadcast(orphans)).select(
                F.lit(f"{fact}.{fk}").alias("fk_edge"),
                "n_rows",
                "n_null_fk",
                F.col("n_orphans").cast("long").alias("n_orphans"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "join_cardinality_estimate",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders),
         b AS (SELECT DISTINCT user_id  AS k FROM events)
    SELECT (SELECT count(*) FROM a) AS n_left,
           (SELECT count(*) FROM b) AS n_right,
           (SELECT count(*) FROM a JOIN b USING (k)) AS n_overlap_exact,
           true AS within_10pct
    """,
    description="Pre-join key-overlap estimation from per-side HLL sketches (inclusion-exclusion, 10% contract)",
    tags=("quality", "sketch", "join"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a planner wants BEFORE committing to a 100 TB join: the key
    overlap |A∩B| estimated as |A| + |B| − |A∪B| from three HLL
    sketches — each side is ONE scan producing a few-KB sketch, the
    union is a driver-side merge, and no shuffle of either table
    happens at all (the sketches are the kind of per-partition/daily
    stats a warehouse maintains anyway). Registered over the
    orders-customer-activity pair (order keys vs event users). The
    estimate itself is engine-specific, so the compared surface is the
    exact counts plus a 10% accuracy-contract boolean — with ~1.6%
    typical HLL error per term and three terms, inclusion-exclusion
    stays well inside 10% when the overlap is a non-trivial fraction
    of the union, which the fixture guarantees (user ids are a subset
    of customer keys)."""
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    events = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    ska = orders.agg(
        F.hll_sketch_agg("k").alias("sk"), F.countDistinct("k").alias("n_left")
    )
    skb = events.agg(
        F.hll_sketch_agg("k").alias("sk"), F.countDistinct("k").alias("n_right")
    )
    both = ska.crossJoin(
        skb.select(F.col("sk").alias("skb"), "n_right")
    ).select(
        "n_left",
        "n_right",
        F.hll_sketch_estimate("sk").alias("ea"),
        F.hll_sketch_estimate("skb").alias("eb"),
        F.hll_sketch_estimate(
            F.hll_union("sk", "skb")
        ).alias("eu"),
    )
    exact = (
        orders.distinct()
        .join(events.distinct(), "k")
        .agg(F.count(F.lit(1)).alias("n_overlap_exact"))
    )
    est = F.col("ea") + F.col("eb") - F.col("eu")
    return both.crossJoin(F.broadcast(exact)).select(
        "n_left",
        "n_right",
        "n_overlap_exact",
        (
            F.abs(est - F.col("n_overlap_exact")) / F.col("n_overlap_exact") <= 0.10
        ).alias("within_10pct"),
    )


SKEW_TOP_K = 10


@register(
    "join_skew_profile",
    oracle=f"""
    WITH la AS (
      SELECT o_custkey AS k, count(*) AS n_left FROM orders GROUP BY 1
    ),
    rb AS (
      SELECT user_id AS k, count(*) AS n_right FROM events GROUP BY 1
    ),
    ta AS (
      SELECT k, n_left FROM (
        SELECT k, n_left, row_number() OVER (ORDER BY n_left DESC, k) AS rn FROM la
      ) WHERE rn <= {SKEW_TOP_K}
    ),
    tb AS (
      SELECT k, n_right FROM (
        SELECT k, n_right, row_number() OVER (ORDER BY n_right DESC, k) AS rn FROM rb
      ) WHERE rn <= {SKEW_TOP_K}
    ),
    tot AS (
      SELECT (SELECT sum(la.n_left * rb.n_right)
              FROM la JOIN rb USING (k))::BIGINT AS total_pairs
    ),
    heavy AS (SELECT k FROM ta UNION SELECT k FROM tb)
    SELECT h.k AS key,
           coalesce(la.n_left, 0)::BIGINT  AS n_left,
           coalesce(rb.n_right, 0)::BIGINT AS n_right,
           (coalesce(la.n_left, 0) * coalesce(rb.n_right, 0))::BIGINT AS est_pairs,
           round(coalesce(la.n_left, 0) * coalesce(rb.n_right, 0) * 1.0
                 / tot.total_pairs, 6) AS pair_share
    FROM heavy h
    LEFT JOIN la ON la.k = h.k
    LEFT JOIN rb ON rb.k = h.k
    CROSS JOIN tot
    """,
    description="Pre-join skew profile: heavy keys on both sides and their share of the join's output pairs",
    tags=("quality", "join", "topk"),
)
def join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew reconnaissance a planner (or an engineer choosing a
    salting factor) runs BEFORE a big join: per-side key histograms
    are two scans' worth of hash aggregation, the top-k cut is a
    TakeOrderedAndProject on each dim-sized histogram, and a heavy
    key's contribution to the join output is exactly n_left*n_right —
    so 'these 10 keys produce X% of all output pairs' falls out of
    arithmetic on two tiny tables. The exact total-pair denominator
    joins the two HISTOGRAMS (distinct-key-sized), never the facts.
    AQE's skew-join split handles the execution side at runtime;
    this is the observability side that says whether to pre-salt."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    events = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    la = orders.groupBy("k").agg(F.count(F.lit(1)).alias("n_left"))
    rb = events.groupBy("k").agg(F.count(F.lit(1)).alias("n_right"))

    def topk(df, col):
        w = Window.orderBy(F.desc(col), F.asc("k"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= SKEW_TOP_K)
            .drop("_rn")
        )

    tot = (
        la.join(rb, "k")
        .agg(F.sum(F.col("n_left") * F.col("n_right")).cast("long").alias("total_pairs"))
    )
    # a key heavy on EITHER side already skews the join: report the
    # union of both top-k sets, with the other side's count (0 when
    # the key is absent there — est_pairs 0 says "heavy but harmless")
    heavy = (
        topk(la, "n_left")
        .select("k")
        .unionByName(topk(rb, "n_right").select("k"))
        .distinct()
    )
    nl = F.coalesce(F.col("n_left"), F.lit(0)).cast("long")
    nr = F.coalesce(F.col("n_right"), F.lit(0)).cast("long")
    return (
        heavy.join(la, "k", "left")
        .join(rb, "k", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("key"),
            nl.alias("n_left"),
            nr.alias("n_right"),
            (nl * nr).cast("long").alias("est_pairs"),
            F.round(nl * nr / F.col("total_pairs"), 6).alias("pair_share"),
        )
    )


@register(
    "benford_first_digit_audit",
    oracle="""
    WITH d AS (
      SELECT substr(cast(abs(o_totalprice) AS VARCHAR), 1, 1)::BIGINT AS digit
      FROM orders WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n)::BIGINT AS total FROM c)
    SELECT c.digit,
           c.n,
           round(c.n * 1.0 / t.total, 6) AS observed,
           round(log10(1.0 + 1.0 / c.digit), 6) AS benford,
           round(pow(c.n * 1.0 / t.total - log10(1.0 + 1.0 / c.digit), 2)
                 / log10(1.0 + 1.0 / c.digit) * t.total, 4)
             AS chi2_term
    FROM c CROSS JOIN t
    """,
    description="Benford first-significant-digit audit: fabricated or truncated money columns diverge from log10(1+1/d)",
    tags=("quality", "stats"),
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forensic-accounting screen applied as a data-quality gate:
    naturally-occurring multiplicative quantities put digit d first
    with probability log10(1+1/d); synthetic, truncated, or
    unit-mangled money columns don't, and a per-digit chi-square term
    points at WHICH digits carry the deviation (a spike at 1 after a
    unit change, flat after fabrication). First digits come from the
    string form of |x| >= 1 — exact in both engines — so the whole
    audit is one 9-row group table; the chi2 decomposition is
    arithmetic on it. The synthetic TPC-H-ish prices here are
    near-uniform (NOT Benford-shaped) and the audit says so —
    that is the point of an audit."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull() & (F.abs("o_totalprice") >= 1)
    )
    d = orders.select(
        F.substring(F.abs(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    obs = F.col("n") / F.col("total")
    ben = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed"),
        F.round(ben, 6).alias("benford"),
        F.round(F.pow(obs - ben, 2) / ben * F.col("total"), 4).alias("chi2_term"),
    )


_RECURSIVE_TREE_SQL = """
WITH RECURSIVE tree(doc_id, depth, path_chars) AS (
  SELECT doc_id, 0 AS depth, CAST(n_chars AS BIGINT) AS path_chars
  FROM documents WHERE doc_id = 0
  UNION ALL
  SELECT d.doc_id, t.depth + 1, t.path_chars + d.n_chars
  FROM documents d
  JOIN tree t ON CAST(floor((d.doc_id - 1) / 2.0) AS BIGINT) = t.doc_id
  WHERE d.doc_id >= 1
)
SELECT depth,
       count(*) AS n_docs,
       CAST(sum(path_chars) AS BIGINT) AS total_path_chars,
       min(path_chars) AS min_path_chars,
       max(path_chars) AS max_path_chars
FROM tree GROUP BY depth
"""


@register(
    "sql_recursive_hierarchy_rollup",
    oracle=_RECURSIVE_TREE_SQL,
    description="Spark 4 WITH RECURSIVE: ancestor-chain rollup over an implicit binary-heap hierarchy on documents",
    tags=("sql", "hierarchy", "iterative"),
)
def sql_recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (org-chart / BOM-style) traversal — the operator
    family recursive CTEs exist for, new in Spark 4.0. The hierarchy
    is the implicit binary-heap parent edge parent(d) = floor((d-1)/2)
    over doc_id, so the recursion depth is log2(n) (~9 at the gate SF,
    ~13 at sf0.1) — comfortably inside Spark's default 100-level
    recursion limit, and each iteration is a hash join of the frontier
    (level l has ~2^l rows) against the base table, so the total work
    is O(n log n) joins with a frontier that fans out, never the whole
    table squared. The IDENTICAL SQL text runs on both engines —
    recursive CTE syntax is the portable contract here (the repo's
    driver-loop twin for unbounded iteration is
    operators/cluster.py:connected_components; this is the in-plan
    bounded-depth form)."""
    from crypto_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, ("documents",))
    return spark.sql(_RECURSIVE_TREE_SQL)


# -- privacy: k-anonymity / l-diversity audit -------------------------------

#: minimum group size for a quasi-identifier combination to count as
#: k-anonymous (Sweeney 2002); groups below it are re-identifiable.
KANON_K = 10
#: minimum distinct sensitive-attribute values per group (l-diversity,
#: Machanavajjhala et al. 2007) — a k-anonymous group whose members all
#: share one sensitive value still discloses it.
KANON_L = 4
#: sensitive-attribute banding: account balance in fixed 2000-unit
#: bands (range ~[-1000, 10000) -> bands -1..4). Fixed-width, NOT
#: ntile: a quantile bucketing needs a global sort; the band is a pure
#: per-row expression.
KANON_BAND = 2000.0


@register(
    "quality_kanonymity_audit",
    oracle=f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
           count(*) AS group_n,
           count(DISTINCT CAST(floor(c_acctbal / {KANON_BAND}) AS INT)) AS n_bands,
           count(*) >= {KANON_K} AS k_anonymous,
           count(DISTINCT CAST(floor(c_acctbal / {KANON_BAND}) AS INT)) >= {KANON_L} AS l_diverse
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    description="Privacy audit: k-anonymity group sizes + l-diversity of a banded sensitive attribute over quasi-identifiers",
    tags=("quality", "privacy"),
)
def quality_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-readiness privacy audit (extension: the reference has no
    privacy surface; pairs with the PII detectors in queries/text.py).
    Quasi-identifiers (nation, market segment) partition customers into
    equivalence classes; a class smaller than K is re-identifiable by
    linking those attributes to an external table, and a class whose
    members share fewer than L distinct sensitive-attribute values
    (banded account balance) discloses the attribute even when k-
    anonymous. One keyed aggregation over the bounded quasi-id space:
    count + count-distinct both map-side-combine, the flags are scalar
    expressions on the aggregate — no shuffle beyond the group-by, no
    per-row state, identical cost shape at 100x the customers."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(KANON_BAND)).cast("int")
    return (
        cust.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            band.alias("_band"),
        )
        .groupBy("nationkey", "segment")
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.countDistinct("_band").alias("n_bands"),
        )
        .withColumn("k_anonymous", F.col("group_n") >= KANON_K)
        .withColumn("l_diverse", F.col("n_bands") >= KANON_L)
    )


# -- PII incidence with Wilson confidence bounds ------------------------------

#: Wilson z for a 95% interval — fixed literal so both engines run the
#: identical closed-form arithmetic
_WILSON_Z = 1.96
#: deterministic seeding rate: docs with Knuth-hash residue < 30 get an
#: email planted (the corpus has no organic PII — same seeding idea as
#: text_pii_redact, but CONDITIONAL so per-source rates vary)
_PII_SEED_PCT = 30


@register(
    "pii_rate_wilson_by_source",
    oracle=f"""
    WITH seeded AS (
      SELECT source,
             CASE WHEN (doc_id * 2654435761) % 100 < {_PII_SEED_PCT}
                  THEN text || ' reach user' || doc_id || '@example.org now'
                  ELSE text END AS t
      FROM documents
    ),
    flags AS (
      SELECT source,
             CASE WHEN len(regexp_extract_all(t,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) > 0
                  THEN 1 ELSE 0 END AS hit
      FROM seeded
    ),
    agg AS (
      SELECT source, count(*) AS n, sum(hit)::BIGINT AS k,
             sum(hit) * 1.0 / count(*) AS p
      FROM flags GROUP BY source
    )
    SELECT source, n, k AS n_pii,
           round(p, 6) AS rate,
           round((p + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
                  - {_WILSON_Z} * sqrt(p * (1.0 - p) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
           round((p + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
                  + {_WILSON_Z} * sqrt(p * (1.0 - p) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
    FROM agg
    """,
    description=(
        "PII incidence per source with Wilson 95% confidence bounds "
        "(deterministically seeded corpus; email regex detection)"
    ),
    tags=("quality", "text"),
)
def pii_rate_wilson_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure with the uncertainty a governance
    report needs: the point rate plus the Wilson score interval, which
    stays inside [0,1] and behaves at small n and extreme p (unlike
    the Wald interval) — the right bound for 'is source X's PII rate
    provably under policy?'. The corpus carries no organic PII, so a
    deterministic Knuth-hash residue plants an email in ~{_PII_SEED_PCT}%
    of docs (both engines build byte-identical input, and the rate
    VARIES by source through sampling, making the interval
    non-vacuous).

    Scale shape: detection is one map-only regex pass; the aggregate
    is source-keyed (bounded rows); the Wilson algebra is a pure
    projection on the bounded frame. Cross-engine determinism: n and
    k are exact integers, p = k/n is one IEEE division, and the bound
    expressions are mirrored verbatim — identical double arithmetic
    rounded at 1e-6."""
    from crypto_etl_pipeline_spark.operators.textops import PII_PATTERNS

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "source",
        F.when(
            (F.col("doc_id") * 2654435761) % 100 < _PII_SEED_PCT,
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    flags = seeded.select(
        "source",
        (
            F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_PATTERNS["email"]), F.lit(0)))
            > 0
        )
        .cast("int")
        .alias("hit"),
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").alias("k")
    )
    z = _WILSON_Z
    p = F.col("k") * 1.0 / F.col("n")
    n = F.col("n")
    center = p + z * z / (2.0 * n)
    half = z * F.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
    denom = 1.0 + z * z / n
    return agg.select(
        "source",
        "n",
        F.col("k").alias("n_pii"),
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


# -- CUSUM drift alarm ----------------------------------------------------------

_CUSUM_K = 0.5  #: slack in sd units (detects >= 1 sd shifts fastest)
_CUSUM_H = 4.0  #: alarm threshold in sd units (the classic h=4 design)


@register(
    "quality_cusum_drift_alarm",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('day', ts)) AS rn,
             count(*)::DOUBLE AS y
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    stats AS (
      SELECT event_type, avg(y) AS mu,
             sqrt(sum((y - (SELECT avg(y) FROM daily d2
                            WHERE d2.event_type = daily.event_type))
                      * (y - (SELECT avg(y) FROM daily d2
                              WHERE d2.event_type = daily.event_type)))
                  / (count(*) - 1)) AS sd
      FROM daily GROUP BY event_type
    ),
    cusum AS (
      SELECT d.event_type, d.rn,
             greatest(0.0, d.y - s.mu - {_CUSUM_K} * s.sd) AS cp,
             greatest(0.0, s.mu - {_CUSUM_K} * s.sd - d.y) AS cn
      FROM daily d JOIN stats s USING (event_type) WHERE d.rn = 1
      UNION ALL
      SELECT d.event_type, d.rn,
             greatest(0.0, c.cp + d.y - s.mu - {_CUSUM_K} * s.sd),
             greatest(0.0, c.cn + s.mu - {_CUSUM_K} * s.sd - d.y)
      FROM cusum c
      JOIN daily d ON d.event_type = c.event_type AND d.rn = c.rn + 1
      JOIN stats s ON s.event_type = c.event_type
    )
    SELECT c.event_type, s.n_days,
           round(st.mu, 4) AS mu, round(st.sd, 4) AS sd,
           round(c.cp, 4) AS cusum_pos_final,
           round(c.cn, 4) AS cusum_neg_final,
           round(mx.max_cp, 4) AS cusum_pos_max,
           mx.max_cp > {_CUSUM_H} * st.sd OR mx.max_cn > {_CUSUM_H} * st.sd
             AS alarm
    FROM cusum c
    JOIN (SELECT event_type, max(rn) AS n_days FROM daily GROUP BY event_type) s
      ON s.event_type = c.event_type AND c.rn = s.n_days
    JOIN (SELECT event_type, max(cp) AS max_cp, max(cn) AS max_cn
          FROM cusum GROUP BY event_type) mx
      ON mx.event_type = c.event_type
    JOIN stats st ON st.event_type = c.event_type
    """,
    description=(
        "CUSUM drift alarm over daily event counts per type "
        "(k=0.5sd slack, h=4sd alarm — the SPC control chart for "
        "pipeline-volume regressions)"
    ),
    tags=("quality", "timeseries", "iterative"),
)
def quality_cusum_drift_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control for ingest volume (Page 1954): the
    one-sided CUSUMs C+_t = max(0, C+_(t-1) + y_t - mu - k·sd) and
    C-_t accumulate small sustained shifts that per-day z-score
    alarms (rolling_zscore_anomaly) miss — THE monitor a pipeline
    runs on its own daily row counts. Output per type: final and max
    statistics plus the h=4sd alarm flag.

    Scale shape: the corpus-scale stage is the daily count aggregate
    (map-side-combined); mu/sd are a bounded per-type aggregate, and
    the recurrence runs per series over the BOUNDED day grid inside
    applyInPandas (the Holt/EWMA discipline). The recursive-CTE
    oracle replays the recurrence term for term; sums feeding mu/sd
    carry ~1e-9 association noise against the 1e-4 output grain."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))

    k, h = _CUSUM_K, _CUSUM_H

    def _cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort")
        ys = pdf["y"].tolist()
        n = len(ys)
        mu = sum(ys) / n
        sd = (sum((y - mu) * (y - mu) for y in ys) / (n - 1)) ** 0.5
        cp = cn = 0.0
        max_cp = max_cn = 0.0
        for y in ys:
            cp = max(0.0, cp + y - mu - k * sd)
            cn = max(0.0, cn + mu - k * sd - y)  # same term order as the CTE
            max_cp = max(max_cp, cp)
            max_cn = max(max_cn, cn)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "_mu": [mu],
                "_sd": [sd],
                "_cp": [cp],
                "_cn": [cn],
                "_mxp": [max_cp],
                "_mxn": [max_cn],
            }
        )

    state = daily.groupBy("event_type").applyInPandas(
        _cusum,
        schema=(
            "event_type string, n_days long, _mu double, _sd double, "
            "_cp double, _cn double, _mxp double, _mxn double"
        ),
    )
    return state.select(
        "event_type",
        "n_days",
        F.round("_mu", 4).alias("mu"),
        F.round("_sd", 4).alias("sd"),
        F.round("_cp", 4).alias("cusum_pos_final"),
        F.round("_cn", 4).alias("cusum_neg_final"),
        F.round("_mxp", 4).alias("cusum_pos_max"),
        ((F.col("_mxp") > h * F.col("_sd")) | (F.col("_mxn") > h * F.col("_sd"))).alias(
            "alarm"
        ),
    )


# -- differential-privacy release shape ----------------------------------------

_DP_EPS = 1.0  #: epsilon for the count release (sensitivity 1 -> b = 1/eps)


@register(
    "privacy_dp_noised_counts",
    oracle=f"""
    WITH counts AS (
      SELECT n.n_name AS nation, count(*) AS true_count
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    u AS (
      SELECT nation, true_count,
             ('0x' || substr(md5(nation), 1, 12))::BIGINT / 281474976710656.0 - 0.5
               AS uu
      FROM counts
    )
    SELECT nation, true_count,
           round(true_count
                 - (1.0 / {_DP_EPS})
                   * CASE WHEN uu >= 0 THEN 1.0 ELSE -1.0 END
                   * ln(1.0 - 2.0 * abs(uu)), 4) AS released_count,
           round(abs((1.0 / {_DP_EPS})
                 * CASE WHEN uu >= 0 THEN 1.0 ELSE -1.0 END
                 * ln(1.0 - 2.0 * abs(uu))), 4) AS abs_noise,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon
    FROM u
    """,
    description=(
        "Differential-privacy count release (Laplace mechanism, "
        "sensitivity 1, eps=1): per-nation customer counts with "
        "inverse-CDF noise — deterministic hash-uniform stand-in so "
        "the release plumbing is oracle-testable"
    ),
    tags=("quality", "privacy"),
)
def privacy_dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epsilon-DP release SHAPE (Dwork et al. 2006) for a
    sensitivity-1 counting query: noised = true + Lap(1/eps) via the
    inverse CDF -b*sign(u)*ln(1-2|u|) over u ~ U(-1/2, 1/2). The
    uniform here is the md5 hash of the group key mapped to
    [−0.5, 0.5) — a DETERMINISTIC stand-in so both engines draw the
    identical noise and the whole release replays as SQL; a
    production release swaps in a calibrated RNG (and publishes ONLY
    released_count — true_count and abs_noise are audit columns for
    this testing surface, alongside quality_kanonymity_audit and
    pii_rate_wilson_by_source in the privacy family).

    Scale shape: the group counts are one keyed aggregate (nations-
    bounded); the noise projection is per-group arithmetic on the
    bounded frame. The mechanism's shape — never release a raw
    small-group count — is the complement to the k-anonymity audit's
    detection of exactly those groups."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from crypto_etl_pipeline_spark.operators.phash import md5_long

    counts = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    uu = md5_long(F.col("nation"), 12) / F.lit(float(1 << 48)) - 0.5
    noise = (
        (1.0 / _DP_EPS)
        * F.when(uu >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1.0 - 2.0 * F.abs(uu))
    )
    return counts.select(
        "nation",
        "true_count",
        F.round(F.col("true_count") - noise, 4).alias("released_count"),
        F.round(F.abs(noise), 4).alias("abs_noise"),
        F.lit(_DP_EPS).alias("epsilon"),
    )


@register(
    "quality_psi_event_drift",
    oracle="""
    WITH halves AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS half
      FROM events
    ),
    counts AS (
      SELECT event_type,
             sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) + 1 AS c_ref,
             sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) + 1 AS c_cur
      FROM halves GROUP BY event_type
    ),
    tot AS (SELECT sum(c_ref) AS n_ref, sum(c_cur) AS n_cur FROM counts)
    SELECT c.event_type,
           (c.c_ref - 1)::BIGINT AS n_before,
           (c.c_cur - 1)::BIGINT AS n_after,
           cast(round(1000000.0
                 * (c.c_cur * 1.0 / t.n_cur - c.c_ref * 1.0 / t.n_ref)
                 * ln((c.c_cur * 1.0 / t.n_cur) / (c.c_ref * 1.0 / t.n_ref)))
              AS BIGINT) AS psi_micro
    FROM counts c CROSS JOIN tot t
    """,
    description=(
        "Population Stability Index drift per event type between the two "
        "time halves (Laplace-smoothed, integer micro-unit contributions)"
    ),
    tags=("quality", "drift", "stats"),
)
def quality_psi_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI — the ML-ops drift score a model monitor alarms on
    (conventional reading: total < 0.1 stable, 0.1-0.25 shifting,
    > 0.25 retrain): per category, (p_cur - p_ref) * ln(p_cur/p_ref)
    with add-one smoothing so an absent category cannot divide by
    zero. Sits beside the distributional tests this repo already
    carries (KL drift = one directed term, chi2 = independence,
    CUSUM = sequential): PSI is the symmetric, bounded-category
    scorecard form. NULL timestamps follow the oracle's CASE/ELSE
    semantics — a null ts is neither < nor >= the cut, so the CASE
    falls to ELSE 'cur'; the Spark side mirrors that with
    when(ts < cut, 1).otherwise(0) / when(ts < cut, 0).otherwise(1)
    rather than predicate-casts (which would return NULL on null ts
    and silently drop the row from BOTH halves — r10 ADVICE).
    Determinism: category counts are exact integers;
    each contribution is a short fixed chain of IEEE ops on two exact
    rationals, rounded ONCE into an integer micro-unit — summing the
    per-type column (the monitor's total) is then exact arithmetic,
    the adamic-adar recipe. Scale: one map-side-combined groupBy over
    the events scan; everything after is category-bounded."""
    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    counts = events.groupBy("event_type").agg(
        (F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)) + 1).alias("c_ref"),
        (F.sum(F.when(F.col("ts") < cut, 0).otherwise(1)) + 1).alias("c_cur"),
    )
    tot = counts.agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    p_cur = F.col("c_cur") * 1.0 / F.col("n_cur")
    p_ref = F.col("c_ref") * 1.0 / F.col("n_ref")
    return counts.crossJoin(F.broadcast(tot)).select(
        "event_type",
        (F.col("c_ref") - 1).cast("long").alias("n_before"),
        (F.col("c_cur") - 1).cast("long").alias("n_after"),
        F.round(F.lit(1000000.0) * (p_cur - p_ref) * F.log(p_cur / p_ref), 0)
        .cast("long")
        .alias("psi_micro"),
    )


# --------------------------------------------------------------------------
# Encoding-anomaly (mojibake) audit — round 12, the data-quality twin
# of operators/unicodeops: real web corpora carry double-encoded UTF-8
# ("cafÃ©"), U+FFFD replacement chars from lossy transcodes, and stray
# C1 controls; all three are cheap expression-level signals.
# --------------------------------------------------------------------------
_FFFD = chr(0xFFFD)
_C1 = f"[{chr(0x0080)}-{chr(0x009F)}]"
#: the double-encoded UTF-8 signature: 'Ã' followed by a char in
#: U+0080..U+00BF (the Latin-1 reading of a UTF-8 continuation byte)
_MOJI_PAIR = f"{chr(0x00C3)}[{chr(0x0080)}-{chr(0x00BF)}]"


@register(
    "quality_mojibake_audit",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id, source,
             CASE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 5
               WHEN 0 THEN text || ' caf' || chr({0x00C3}) || chr({0x00A9})
               WHEN 1 THEN chr({0xFFFD}) || text || chr({0xFFFD})
               WHEN 2 THEN substr(text, 1, 3) || chr({0x0085}) || substr(text, 4)
               ELSE text
             END AS s
      FROM documents
    ),
    sig AS (
      SELECT source,
             length(s) - length(replace(s, chr({0xFFFD}), '')) AS fffd,
             length(s) - length(regexp_replace(s, '{_C1}', '', 'g')) AS c1,
             len(regexp_extract_all(s, '{_MOJI_PAIR}')) AS moji
      FROM dirty
    )
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN fffd + c1 + moji > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
           sum(fffd)::BIGINT AS fffd_chars,
           sum(c1)::BIGINT AS c1_chars,
           sum(moji)::BIGINT AS mojibake_pairs,
           round(sum(CASE WHEN fffd + c1 + moji > 0 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS flag_rate
    FROM sig GROUP BY source
    """,
    description="Encoding-anomaly audit: U+FFFD, C1 controls, and double-encoded-UTF-8 pair counts per source over synthesized dirty variants",
    tags=("quality", "text", "cleaning"),
)
def quality_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The detect side of the unicode-cleaning story (unicodeops
    canonicalizes what survives; this measures what should be dropped
    or re-decoded): per source, counts of the three classic encoding
    corruptions — U+FFFD replacement characters (lossy transcodes),
    C1 control bytes (Latin-1/CP1252 confusion), and the 'Ã'+
    continuation-range bigram that is the fingerprint of UTF-8 decoded
    as Latin-1 and re-encoded. Corruption is synthesized
    deterministically (md5-parity class % 5 — decorrelated from source,
    which is itself a doc_id modulus) identically in both engines. All
    three signals are regexp/replace length-deltas — map-only
    expression work, one dim-keyed groupBy; at 100 TB this is a free
    rider on the corpus's first quality scan."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 5
    s = (
        F.when(m == 0, F.concat(F.col("text"), F.lit(" caf" + chr(0xC3) + chr(0xA9))))
        .when(m == 1, F.concat(F.lit(_FFFD), F.col("text"), F.lit(_FFFD)))
        .when(
            m == 2,
            F.concat(
                F.substring(F.col("text"), 1, 3),
                F.lit(chr(0x85)),
                F.expr("substring(text, 4)"),
            ),
        )
        .otherwise(F.col("text"))
    )
    sig = docs.select(
        "source",
        (F.length(s) - F.length(F.replace(s, F.lit(_FFFD), F.lit("")))).cast("long").alias("fffd"),
        (F.length(s) - F.length(F.regexp_replace(s, _C1, ""))).cast("long").alias("c1"),
        F.regexp_count(s, F.lit(_MOJI_PAIR)).cast("long").alias("moji"),
    )
    flagged = (F.col("fffd") + F.col("c1") + F.col("moji") > 0).cast("long")
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flagged).alias("n_flagged"),
        F.sum("fffd").alias("fffd_chars"),
        F.sum("c1").alias("c1_chars"),
        F.sum("moji").alias("mojibake_pairs"),
        F.round(F.sum(flagged) / F.count(F.lit(1)), 6).alias("flag_rate"),
    )


# ---------------------------------------------------------------------------
# Annotation-agreement family (r13): Cohen's kappa, Fleiss' kappa, and
# approximate functional-dependency discovery (g3 error).
#
# Label-quality auditing for training data: when multiple labelers (or
# heuristic auto-labelers) tag a corpus, chance-corrected agreement is
# the accept/reject gate on the labeling scheme itself. The three
# "annotators" here are deterministic single-pass heuristics over the
# documents table (length, token count, type-token ratio buckets onto
# the shared {low, mid, high} space) — the same derive-in-both-engines
# pattern as the URL/unicode families, so the agreement statistics are
# fully oracled. Kappas are computed from EXACT INTEGER contingency
# aggregates (one fixed-shape double expression at the end — no float
# accumulation anywhere), so both engines agree bit-for-bit before the
# 6-decimal rounding.
#
# Scale shape: every query is ONE aggregation pass over the corpus
# (conditional integer sums, map-side combinable) producing a 1-row or
# dimension-sized result. No windows, no joins on the fact table.
# ---------------------------------------------------------------------------

#: annotator label expressions, DuckDB dialect — {low, mid, high}
_ANN_A_SQL = "CASE WHEN n_chars < 200 THEN 'low' WHEN n_chars < 400 THEN 'mid' ELSE 'high' END"
_ANN_B_SQL = (
    "CASE WHEN len(regexp_split_to_array(text, '\\s+')) < 40 THEN 'low' "
    "WHEN len(regexp_split_to_array(text, '\\s+')) < 70 THEN 'mid' ELSE 'high' END"
)
_ANN_C_SQL = (
    "CASE WHEN len(list_distinct(regexp_split_to_array(text, '\\s+'))) * 1.0 "
    "     / len(regexp_split_to_array(text, '\\s+')) < 0.40 THEN 'low' "
    "WHEN len(list_distinct(regexp_split_to_array(text, '\\s+'))) * 1.0 "
    "     / len(regexp_split_to_array(text, '\\s+')) < 0.55 THEN 'mid' ELSE 'high' END"
)


def _annotators_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, a, b, c): three deterministic heuristic annotators on
    the shared {low, mid, high} label space. Spark twin of the
    _ANN_*_SQL expressions (token split uses textops.WS_SPLIT — the
    engine-parity whitespace class)."""
    from crypto_etl_pipeline_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    nt = textops.token_count(F.col("text"))
    ttr = textops.unique_token_count(F.col("text")) / nt
    lab = lambda v, lo, mid: (  # noqa: E731 — tiny local shorthand
        F.when(v < lo, "low").when(v < mid, "mid").otherwise("high")
    )
    return docs.select(
        "doc_id",
        lab(F.col("n_chars"), F.lit(200), F.lit(400)).alias("a"),
        lab(nt, F.lit(40), F.lit(70)).alias("b"),
        lab(ttr, F.lit(0.40), F.lit(0.55)).alias("c"),
    )


@register(
    "quality_cohen_kappa",
    oracle=f"""
    WITH lab AS (
      SELECT {_ANN_A_SQL} AS a, {_ANN_B_SQL} AS b FROM documents
    ),
    agg AS (
      SELECT count(*) AS n,
             sum(CASE WHEN a = b THEN 1 ELSE 0 END)  AS agree,
             sum(CASE WHEN a = 'low'  THEN 1 ELSE 0 END) AS al,
             sum(CASE WHEN a = 'mid'  THEN 1 ELSE 0 END) AS am,
             sum(CASE WHEN a = 'high' THEN 1 ELSE 0 END) AS ah,
             sum(CASE WHEN b = 'low'  THEN 1 ELSE 0 END) AS bl,
             sum(CASE WHEN b = 'mid'  THEN 1 ELSE 0 END) AS bm,
             sum(CASE WHEN b = 'high' THEN 1 ELSE 0 END) AS bh
      FROM lab
    )
    SELECT n::BIGINT AS n_docs,
           round(agree * 1.0 / n, 6) AS po,
           round((al * bl + am * bm + ah * bh) * 1.0 / (n * n), 6) AS pe,
           round((n * agree - (al * bl + am * bm + ah * bh)) * 1.0
                 / (n * n - (al * bl + am * bm + ah * bh)), 6) AS kappa
    FROM agg
    """,
    description="Cohen's kappa between two heuristic annotators (length vs token-count buckets) — exact-integer contingency",
    tags=("quality", "stats", "agg", "annotation"),
)
def quality_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected inter-annotator agreement. kappa is evaluated
    as (n*agree - S) / (n^2 - S) with S = sum_k marginalA_k *
    marginalB_k — ALL integers from one conditional-sum aggregation
    pass, so the only float op is the final division (identical in
    both engines). At 100 TB this is a single map-side-combined scan
    emitting 8 longs."""
    lab = _annotators_df(spark, sf_dir)
    cnt = lambda col, v: F.sum((F.col(col) == v).cast("long"))  # noqa: E731
    agg = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("agree"),
        cnt("a", "low").alias("al"), cnt("a", "mid").alias("am"), cnt("a", "high").alias("ah"),
        cnt("b", "low").alias("bl"), cnt("b", "mid").alias("bm"), cnt("b", "high").alias("bh"),
    )
    s = F.col("al") * F.col("bl") + F.col("am") * F.col("bm") + F.col("ah") * F.col("bh")
    n = F.col("n")
    return agg.select(
        n.alias("n_docs"),
        F.round(F.col("agree") / n, 6).alias("po"),
        F.round(s / (n * n), 6).alias("pe"),
        F.round((n * F.col("agree") - s) / (n * n - s), 6).alias("kappa"),
    )


@register(
    "quality_fleiss_kappa",
    oracle=f"""
    WITH lab AS (
      SELECT {_ANN_A_SQL} AS a, {_ANN_B_SQL} AS b, {_ANN_C_SQL} AS c FROM documents
    ),
    nij AS (
      SELECT (CASE WHEN a='low'  THEN 1 ELSE 0 END + CASE WHEN b='low'  THEN 1 ELSE 0 END
              + CASE WHEN c='low'  THEN 1 ELSE 0 END) AS nl,
             (CASE WHEN a='mid'  THEN 1 ELSE 0 END + CASE WHEN b='mid'  THEN 1 ELSE 0 END
              + CASE WHEN c='mid'  THEN 1 ELSE 0 END) AS nm,
             (CASE WHEN a='high' THEN 1 ELSE 0 END + CASE WHEN b='high' THEN 1 ELSE 0 END
              + CASE WHEN c='high' THEN 1 ELSE 0 END) AS nh
      FROM lab
    ),
    agg AS (
      SELECT count(*) AS n,
             sum(nl*nl + nm*nm + nh*nh) AS s,
             sum(nl) AS tl, sum(nm) AS tm, sum(nh) AS th
      FROM nij
    )
    SELECT n::BIGINT AS n_docs,
           round((s - n * 3) * 1.0 / (n * 3 * 2), 6) AS p_bar,
           round((tl*tl + tm*tm + th*th) * 1.0 / ((n*3) * (n*3)), 6) AS p_exp,
           round(((s - n * 3) * 1.0 / (n * 3 * 2)
                  - (tl*tl + tm*tm + th*th) * 1.0 / ((n*3) * (n*3)))
                 / (1 - (tl*tl + tm*tm + th*th) * 1.0 / ((n*3) * (n*3))), 6) AS kappa
    FROM agg
    """,
    description="Fleiss' kappa across three heuristic annotators (length/token/TTR buckets) — exact-integer category counts",
    tags=("quality", "stats", "agg", "annotation"),
)
def quality_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-rater chance-corrected agreement (m = 3 raters, 3
    categories). Per-item category counts n_ij are small integers
    built by conditional sums (no explode/unpivot); the corpus
    aggregate carries 5 longs (N, S = sum n_ij^2, T_j); P_bar, P_e and
    kappa are fixed-shape double expressions over those exact
    integers — deterministic across engines, rounded on the 6-decimal
    grid. One map-side-combined pass, 1-row result."""
    lab = _annotators_df(spark, sf_dir)
    one = lambda col, v: (F.col(col) == v).cast("long")  # noqa: E731
    nij = lab.select(
        (one("a", "low") + one("b", "low") + one("c", "low")).alias("nl"),
        (one("a", "mid") + one("b", "mid") + one("c", "mid")).alias("nm"),
        (one("a", "high") + one("b", "high") + one("c", "high")).alias("nh"),
    )
    agg = nij.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.col("nl") * F.col("nl") + F.col("nm") * F.col("nm") + F.col("nh") * F.col("nh")
        ).alias("s"),
        F.sum("nl").alias("tl"), F.sum("nm").alias("tm"), F.sum("nh").alias("th"),
    )
    n, s = F.col("n"), F.col("s")
    t2 = F.col("tl") * F.col("tl") + F.col("tm") * F.col("tm") + F.col("th") * F.col("th")
    p_bar = (s - n * 3) / (n * 3 * 2)
    p_exp = t2 / ((n * 3) * (n * 3))
    return agg.select(
        n.alias("n_docs"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_exp, 6).alias("p_exp"),
        F.round((p_bar - p_exp) / (1 - p_exp), 6).alias("kappa"),
    )


#: candidate FDs probed by quality_fd_violations: (name, table, lhs, rhs)
_FD_CANDIDATES = (
    ("orders.o_orderkey->o_orderstatus", "orders", "o_orderkey", "o_orderstatus"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
)


@register(
    "quality_fd_violations",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{name}' AS fd,
           sum(rows_g)::BIGINT AS n_rows,
           count(*)::BIGINT AS n_groups,
           sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT AS violating_groups,
           sum(rows_g - max_cnt)::BIGINT AS min_fix_rows,
           round(sum(rows_g - max_cnt) * 1.0 / sum(rows_g), 6) AS g3_error
    FROM (
      SELECT {lhs}, sum(c) AS rows_g, count(*) AS n_rhs, max(c) AS max_cnt
      FROM (SELECT {lhs}, {rhs}, count(*) AS c FROM {table} GROUP BY 1, 2)
      GROUP BY 1
    )"""
        for name, table, lhs, rhs in _FD_CANDIDATES
    ),
    description="Approximate functional-dependency audit: per-candidate violation groups and exact g3 repair error",
    tags=("quality", "profiling", "agg"),
)
def quality_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD discovery's verification step (TANE/g3): for each candidate
    X -> Y, the g3 error is the minimal fraction of rows to delete so
    the FD holds exactly = 1 - sum_g max_y count(g, y) / n. Two-level
    hash aggregation per candidate — (X, Y) counts, then per-X
    rollup — all integers, map-side combinable, no windows or joins;
    the key FD (o_orderkey -> status) must come back with 0
    violations. At 100 TB each candidate is one shuffle on X; a
    production profiler would run all candidates of one table in a
    shared grouping-sets pass or over a sample — noted, not needed at
    these SFs."""
    out = None
    for name, table, lhs, rhs in _FD_CANDIDATES:
        tab = load_table(spark, sf_dir, table)
        g2 = tab.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("c"))
        g1 = g2.groupBy(lhs).agg(
            F.sum("c").alias("rows_g"),
            F.count(F.lit(1)).alias("n_rhs"),
            F.max("c").alias("max_cnt"),
        )
        res = g1.agg(
            F.lit(name).alias("fd"),
            F.sum("rows_g").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("n_rhs") > 1).cast("long")).alias("violating_groups"),
            F.sum(F.col("rows_g") - F.col("max_cnt")).alias("min_fix_rows"),
            F.round(
                F.sum(F.col("rows_g") - F.col("max_cnt")) / F.sum("rows_g"), 6
            ).alias("g3_error"),
        ).select("fd", "n_rows", "n_groups", "violating_groups", "min_fix_rows", "g3_error")
        out = res if out is None else out.unionByName(res)
    return out
