"""Invariant tests for the round-3 operators, beyond oracle parity.

Oracle parity proves Spark == DuckDB; these prove both are RIGHT:
algebraic invariants that hold regardless of data (OHLC ordering, EWMA
bounds/fixpoints, rule-report consistency with the row-level
validator).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_ohlc_bar_invariants(spark):
    """low <= open, close <= high; volume >= high (n>=1 rows of
    positive value sums exceed any single element only when all
    positive — here just check volume >= high when n_trades == 1 means
    equality of all four prices)."""
    from crypto_etl_pipeline_spark.queries.market import ohlc_hourly_bars

    bars = ohlc_hourly_bars(spark, SF)
    bad = bars.where(
        (F.col("low") > F.col("open"))
        | (F.col("low") > F.col("close"))
        | (F.col("high") < F.col("open"))
        | (F.col("high") < F.col("close"))
    )
    assert bad.count() == 0
    single = bars.where(F.col("n_trades") == 1).where(
        (F.col("open") != F.col("close")) | (F.col("high") != F.col("low"))
    )
    assert single.count() == 0


def test_ewma_constant_series_is_fixpoint(spark):
    """EWMA of a constant series equals the constant at every step, for
    any alpha — the recurrence's fixpoint."""
    from crypto_etl_pipeline_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, i, 7.5) for i in range(20)] + [(2, i, -3.25) for i in range(5)],
        "k long, i long, v double",
    )
    out = ewma(df, by="k", order_cols=["i"], value_col="v", alpha=0.3, out_col="e")
    assert out.count() == 25
    assert out.where(F.abs(F.col("e") - F.when(F.col("k") == 1, 7.5).otherwise(-3.25)) > 1e-12).count() == 0


def test_ewma_bounded_by_running_extrema(spark):
    """EWMA is a convex combination of observed values, so it can never
    leave the running [min, max] envelope of its own history."""
    from pyspark.sql.window import Window

    from crypto_etl_pipeline_spark.operators.timeseries import ewma
    from crypto_etl_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").where(F.col("event_type") == "purchase")
    p = ev.select("user_id", "ts", "event_id", "value")
    out = ewma(p, by="user_id", order_cols=["ts", "event_id"], value_col="value", out_col="e", alpha=0.2)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = out.join(p, ["user_id", "ts", "event_id"]).select(
        "e",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
    )
    assert joined.where((F.col("e") < F.col("lo") - 1e-9) | (F.col("e") > F.col("hi") + 1e-9)).count() == 0


def test_rule_report_counts_match_row_level_validator(spark):
    """The one-scan aggregate report and the row-materializing
    validator must agree rule-by-rule (same predicates, same null
    handling)."""
    from crypto_etl_pipeline_spark.operators.validate import rule_report, violations
    from crypto_etl_pipeline_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    checks = {
        "quantity_in_range": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
        "price_positive": F.col("l_extendedprice") > 0,
    }
    report = {r["rule"]: r["n_violations"] for r in rule_report(li, checks).collect()}
    rows = violations(li, checks).select(F.explode("failed_checks").alias("rule"))
    per_rule = {r["rule"]: r["n"] for r in rows.groupBy("rule").agg(F.count(F.lit(1)).alias("n")).collect()}
    for rule in checks:
        assert report[rule] == per_rule.get(rule, 0), rule


def test_fk_orphan_count_zero_on_consistent_fk(spark):
    from crypto_etl_pipeline_spark.operators.validate import fk_orphan_count
    from crypto_etl_pipeline_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    row = fk_orphan_count(li, orders, "fk").first()
    assert row["n_violations"] == 0
    # and a broken parent set reports exactly the removed keys' rows
    half = orders.where(F.col("o_orderkey") % 2 == 0)
    broken = fk_orphan_count(li, half, "fk").first()
    expect = li.where(F.col("l_orderkey") % 2 == 1).count()
    assert broken["n_violations"] == expect


def test_connected_components_singletons_and_chain(spark):
    """Endpoint-restricted CC: singletons keep their own id; a chain
    component converges to its min label even when the diameter forces
    several rounds."""
    from crypto_etl_pipeline_spark.operators.cluster import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    # chain 5-6-7-8-9 plus isolated 0..4
    edges = spark.createDataFrame([(i, i + 1) for i in range(5, 9)], "src long, dst long")
    got = {
        (r["id"], r["component"])
        for r in connected_components(nodes, edges, max_iter=10).collect()
    }
    expect = {(i, i) for i in range(5)} | {(i, 5) for i in range(5, 10)}
    assert got == expect


def test_pagerank_sums_preserved_on_regular_graph(spark):
    """On a k-regular bidirectional graph every node has the same rank
    (symmetry), and with damping d the fixpoint value is exactly 1.0."""
    from crypto_etl_pipeline_spark.operators.graph import pagerank

    # 4-cycle, bidirectional: 2-regular
    pairs = [(i, (i + 1) % 4) for i in range(4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    ranks = pagerank(edges).collect()
    assert len(ranks) == 4
    for r in ranks:
        assert r["rank"] == pytest.approx(1.0, abs=1e-12)


def test_histogram_quantile_within_one_bin_of_exact(spark):
    """The sketch's interpolated p50/p95 must land within one bin width
    of the exact NEAREST-RANK quantile (smallest value with CDF >= p) —
    the construction's error bound. (The interpolated-order-statistic
    convention `percentile()` uses index p*(n-1), which can sit one
    rank lower; across a value gap that is arbitrarily far in value
    space, so it is NOT the statistic this sketch estimates.)"""
    import math

    from crypto_etl_pipeline_spark.queries.market import histogram_quantile_rollup
    from crypto_etl_pipeline_spark.sources.tables import load_table

    est = {r["event_type"]: r for r in histogram_quantile_rollup(spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    by_type = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for t, e in est.items():
        vals = sorted(by_type[t])
        n = len(vals)
        w = (vals[-1] - vals[0]) / 100
        for p, col in ((0.50, "est_p50"), (0.95, "est_p95")):
            nearest_rank = vals[max(math.ceil(p * n) - 1, 0)]
            assert abs(e[col] - nearest_rank) <= w + 1e-9, (t, col)


def test_rolling_wau_matches_naive_range_join(spark):
    """Differential: the bounded-explode WAU must equal the naive
    day-grid x (day,user) range join — an independent second Spark
    implementation, not just the SQL oracle."""
    from crypto_etl_pipeline_spark.queries.behavior import rolling_wau
    from crypto_etl_pipeline_spark.sources.tables import load_table

    fast = {(r["day"], r["wau"]) for r in rolling_wau(spark, SF).collect()}

    ev = load_table(spark, SF, "events")
    du = ev.select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id").distinct()
    days = ev.select(F.date_trunc("day", F.col("ts")).alias("report_day")).distinct()
    naive = (
        days.join(
            du,
            (F.col("day") <= F.col("report_day"))
            & (F.col("day") >= F.col("report_day") - F.expr("interval 6 days")),
        )
        .select("report_day", "user_id")
        .distinct()
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).alias("wau"))
        .select(F.date_format("report_day", "yyyy-MM-dd").alias("day"), "wau")
    )
    assert fast == {(r["day"], r["wau"]) for r in naive.collect()}


def test_pack_training_sequences_invariants(spark):
    """Packing layout invariants: offsets inside the window, spans >= 1,
    and per-language conservation — the last doc's cum position equals
    the language's total token count."""
    from crypto_etl_pipeline_spark.queries.text import pack_training_sequences

    out = pack_training_sequences(spark, SF)
    cap = 2048
    assert out.where((F.col("offset_in_pack") < 0) | (F.col("offset_in_pack") >= cap)).count() == 0
    assert out.where(F.col("n_packs_spanned") < 1).count() == 0
    # conservation: first_pack*cap + offset == cumulative tokens before the doc,
    # so summing n_tok per lang equals the final doc's position + its tokens
    per_lang = out.groupBy("lang").agg(
        F.sum("n_tok").alias("total"),
        F.max(F.col("first_pack") * cap + F.col("offset_in_pack") + F.col("n_tok")).alias("end_pos"),
    )
    assert per_lang.where(F.col("total") != F.col("end_pos")).count() == 0


def test_decayed_value_bounded_by_plain_sum(spark):
    """Decay weights are in (0, 1], so the decayed value is positive
    and never exceeds the undecayed sum."""
    from crypto_etl_pipeline_spark.queries.market import decayed_user_value
    from crypto_etl_pipeline_spark.sources.tables import load_table

    dec = decayed_user_value(spark, SF)
    ev = load_table(spark, SF, "events").where(F.col("event_type") == "purchase")
    plain = ev.groupBy("user_id").agg(F.sum("value").alias("plain_sum"))
    joined = dec.join(plain, "user_id")
    assert joined.where(
        (F.col("decayed_value") <= 0)
        | (F.col("decayed_value") > F.col("plain_sum") + 1e-6)
    ).count() == 0


def test_inverted_index_postings_consistency(spark):
    """Posting lists are sorted, duplicate-free, and their length equals
    the advertised document frequency. Since round 10 the registered
    output serializes the list as a comma-joined string (the driver's
    canonicalizer cannot hash list cells) — parse it back here."""
    from crypto_etl_pipeline_spark.queries.text import inverted_index_postings

    rows = inverted_index_postings(spark, SF).collect()
    assert rows, "band filter should keep some terms at sf0.001"
    for r in rows:
        assert isinstance(r["postings"], str), "output must stay driver-hashable"
        p = [int(x) for x in r["postings"].split(",")]
        assert p == sorted(p) and len(p) == len(set(p)) == r["df"], r["term"]
