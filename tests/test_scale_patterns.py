"""Physical-layout patterns for the 100 TB posture: partition pruning
and bucketed (shuffle-free) joins. These assert on the PLAN — the
point is what the engine does NOT do (read everything, shuffle the
fact table), which row-level tests cannot see.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A filter on the partition column must prune directories at plan
    time — the scan's partition count drops, no data files from other
    partitions are listed."""
    from crypto_etl_pipeline_spark.sources.sinks import write_parquet
    from crypto_etl_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "events_by_day")
    write_parquet(ev.withColumn("day", F.to_date("ts")), out, partition_by=["day"])

    read = spark.read.parquet(out).where(F.col("day") == "2024-01-05")
    plan = read.queryExecution if False else read._jdf.queryExecution().toString()
    # Catalyst turns the day filter into a partition filter, not a data filter
    assert "PartitionFilters" in plan
    assert read.count() > 0
    total = spark.read.parquet(out).count()
    assert read.count() < total


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the Exchange:
    the sort-merge join reads co-located buckets directly. This is the
    at-rest co-location strategy for repeated 100 TB fact-fact joins."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        from crypto_etl_pipeline_spark.sources.tables import load_table

        orders = load_table(spark, "/root/testdata/sf0.001", "orders")
        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey").saveAsTable("b_orders"))
        (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
         .sortBy("l_orderkey").saveAsTable("b_lineitem"))

        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).groupBy("o_orderpriority").count()
        plan = _plan(joined)
        # the join itself must not introduce a shuffle of either side
        join_section = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in join_section, join_section[:2000]

        # and the result matches the unbucketed join
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_broadcast_join_no_fact_shuffle(spark):
    """Dimension joins must broadcast: the fact side stays un-shuffled
    until aggregation."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    df = REGISTRY["q5_nation_revenue"].fn(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    from crypto_etl_pipeline_spark.queries import REGISTRY

    df = REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the needed columns
    assert "l_comment" not in plan


def test_round2_tpch_shapes_all_broadcast(spark):
    """Every dimension join in the round-2 TPC-H shapes must resolve to
    BroadcastHashJoin — a SortMergeJoin on a dimension side means a
    needless fact-table shuffle at 100 TB."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    for name in [
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_item_customers",
        "q18_large_volume_orders",
        "q19_disjunctive_revenue",
    ]:
        plan = _plan(REGISTRY[name].fn(spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_pick_latest_plans_as_window_group_limit(spark):
    """CDC pick-latest (row_number = 1) and the stratified top-k must
    plan as WindowGroupLimit — the map-side prune that keeps per-group
    selection from shuffling whole groups."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    for name in ["cdc_apply_changeset", "stratified_fixed_k_sample"]:
        plan = _plan(REGISTRY[name].fn(spark, "/root/testdata/sf0.001"))
        assert "WindowGroupLimit" in plan, name


def test_quantize_evaluates_scale_once(spark):
    """The int8-quantization scale (an array_max) must appear exactly
    once in the optimized plan — CollapseProject inlining it into the
    HOF lambdas would re-evaluate it per vector element."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    df = REGISTRY["embedding_int8_quantize"].fn(spark, "/root/testdata/sf0.001")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("array_max") == 1


def test_q6_pushdown(spark):
    """Q6's filters must reach the parquet scan."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    plan = _plan(REGISTRY["q6_forecast_revenue"].fn(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_python_grouped_stages_keep_parallelism(spark):
    """AQE's byte-advisory coalescing must NOT serialize Python-heavy
    grouped stages: the ewma / zscore operators pin a user repartition
    (exempt from coalescing) under their FlatMapGroupsInPandas, so the
    Python stage runs wide even when the shuffled bytes are tiny
    (measured 6.7x wall-clock difference at sf0.1)."""
    from crypto_etl_pipeline_spark.operators.grouped import zscore_by_group
    from crypto_etl_pipeline_spark.operators.timeseries import ewma
    from crypto_etl_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts", "value"
    )
    for df in (
        ewma(ev, by="user_id", order_cols=["ts", "event_id"], value_col="value", alpha=0.2),
        zscore_by_group(ev.drop("ts")),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan
        # the user repartition survives into the physical plan
        assert "REPARTITION_BY_NUM" in plan, plan[:2000]


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """At 100 TB the cheapest row is the one the join never sees: with a
    selective dimension filter and a non-broadcast join, the optimizer
    must inject a runtime bloom filter (built from the filtered dim
    keys) onto the fact side, so fact rows that cannot match are
    dropped at the scan, before the shuffle. Thresholds are lowered to
    make the sf0.001 fixture cross the size gates the feature is tuned
    for — the assertion is about the rewrite, not the gates."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized, optimized[:2000]
        assert "might_contain" in optimized, optimized[:2000]
        # The filter must land on the FACT (lineitem) branch: the
        # might_contain predicate references the fact join key.
        assert any(
            "might_contain" in line and "l_orderkey" in line
            for line in optimized.splitlines()
        ), optimized[:2000]
        # And the rewrite must not change results.
        n = j.collect()
        for k, v in confs.items():
            if k == "spark.sql.optimizer.runtime.bloomFilter.enabled":
                spark.conf.set(k, "false")
        assert j.collect() == n
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# The plan-fingerprint regression guard lives in
# tests/test_registry_lint.py::test_no_cartesian_product_plans, which
# runs all three plan checks (cartesian, broadcast-hint boundedness,
# fingerprint snapshot) on ONE plan build per query — it used to be a
# second full-registry pass here, ~2 min of duplicated plan builds.


def test_dpp_probe_prunes_at_runtime(spark):
    """dpp_partitioned_star_probe must carry a DYNAMIC pruning
    expression on the fact scan (runtime partition pruning through the
    dim join) — and no static partition literal, since the pruning
    value only exists after the dim filter runs."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    df = REGISTRY["dpp_partitioned_star_probe"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # static pruning would read 'PartitionFilters: [... (l_returnflag = R)]'
    assert "(l_returnflag = R)" not in plan.replace("#", " ")


def test_ivf_persisted_probe_uses_dpp(spark):
    """The persisted cell-partitioned IVF index must be probed through
    DYNAMIC partition pruning: the nprobe cell ids come from the
    broadcast probe join, so the index scan's PartitionFilters carry a
    dynamicpruningexpression — the at-rest ANN layout claim, enforced."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    df = REGISTRY["ann_ivf_probe_only"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
