from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SESSION_T0: float | None = None
_FAILED_NODEIDS: set[str] = set()

#: the gate-cost tripwire's own nodeid — a run whose ONLY failure is
#: the tripwire still measured a healthy tree (every other test green),
#: so its cost figure may ratchet the budget (r11 ADVICE #1: under the
#: strict rule such a run could never lower the budget that failed it)
_TRIPWIRE_NODEID = "tests/test_gate_budget.py::test_per_query_gate_cost_within_budget"


def pytest_sessionstart(session):
    global _SESSION_T0
    _SESSION_T0 = time.perf_counter()
    _FAILED_NODEIDS.clear()


def pytest_runtest_logreport(report):
    if report.failed:
        _FAILED_NODEIDS.add(report.nodeid)


def pytest_sessionfinish(session, exitstatus):
    """Record the full-suite gate cost to GATE_COST.json (VERDICT r8
    task #4: replace the dead fixed ≤10:00 wall-clock bar with a tested
    per-query budget). Any COMPLETE, unfiltered run records — exitstatus
    0 (all green) or 1 (test failures, but every test still executed,
    so the wall measurement is honest). Recording used to require
    exitstatus==0, which SELF-WEDGED the gate (r9 ADVICE #1): one
    loaded-host recording over budget made test_gate_budget fail every
    later full run, and the failure in turn blocked re-recording — the
    only recovery was hand-deleting the artifact. Interrupted/usage-
    error runs (exitstatus >= 2) still never record. The file keeps the
    last few recordings as `history`; tests/test_gate_budget.py asserts
    the MIN of that history (the quiet-host trend) against the budget,
    so a single loaded-host run cannot trip the gate but a real
    regression — which raises every reading — still fails it."""
    if _SESSION_T0 is None or exitstatus not in (0, 1):
        return
    opt = session.config.option
    if getattr(opt, "markexpr", "") or getattr(opt, "keyword", ""):
        return
    if session.testscollected < 1500:  # file-scoped run, not the suite
        return
    try:
        from crypto_etl_pipeline_spark.queries import REGISTRY

        n_registry = len(REGISTRY)
    except Exception:
        return
    wall = round(time.perf_counter() - _SESSION_T0, 1)
    # a run whose only failure is the cost tripwire itself measured a
    # healthy tree — count it as a cost record so it can ratchet the
    # very budget it tripped (r11 ADVICE #1)
    tripwire_only = _FAILED_NODEIDS == {_TRIPWIRE_NODEID}
    payload = {
        "suite_wall_s": wall,
        "n_tests": session.testscollected,
        "n_registry": n_registry,
        "per_query_s": round(wall / n_registry, 3),
        # `passing` keeps meaning "suite green" (r12 ADVICE: a
        # tripwire-only run must not read as a green suite to any
        # consumer filtering on this flag alone); `cost_valid` is the
        # flag the budget tripwire ratchets against — green suite OR a
        # run whose only failure was the tripwire itself (healthy tree,
        # honest wall measurement).
        "passing": exitstatus == 0,
        "cost_valid": exitstatus == 0 or tripwire_only,
        "recorded_unix": int(time.time()),
    }
    if tripwire_only:
        payload["tripwire_only"] = True
    path = os.path.join(_REPO_ROOT, "GATE_COST.json")
    try:
        history = []
        if os.path.exists(path):
            with open(path) as fh:
                prev = json.load(fh)
            history = prev.get("history", [])
            if not history and "per_query_s" in prev:  # pre-history format
                history = [
                    {k: prev[k] for k in payload if k in prev}
                ]
        history.append(payload)
        payload_out = dict(payload)
        payload_out["history"] = history[-5:]
        with open(path, "w") as fh:
            json.dump(payload_out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except (OSError, ValueError):
        pass


@pytest.fixture(scope="session")
def spark():
    from crypto_etl_pipeline_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")),
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def built_df(spark):
    """Session-scoped (name, sf_dir) -> DataFrame cache shared by the
    oracle-parity and registry-lint modules. Both need every registered
    query's DataFrame; queries that do real work at BUILD time
    (bucketed table writes, persisted indexes, streaming drains) used
    to run that work once per module. DataFrame plans are immutable, so
    reuse is safe; plan inspection and collection see the same object."""
    from crypto_etl_pipeline_spark.queries import REGISTRY

    cache: dict = {}

    def get(name: str, sf_dir: str):
        key = (name, sf_dir)
        if key not in cache:
            cache[key] = REGISTRY[name].fn(spark, sf_dir)
        return cache[key]

    return get


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views —
    mirrors the driver's oracle harness."""
    import duckdb

    con = duckdb.connect()
    from crypto_etl_pipeline_spark.sources.tables import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


# ---------------------------------------------------------------------------
# Quick tier (`pytest -m quick`): the full suite parametrizes 200+ oracled
# queries x 3 checks and no longer fits a 10-minute budget; this tier keeps
# the registry lints, the cleaning/operator edge cases, the reference golden
# parity, and ONE oracle-parity query per operator family — a <5-minute
# smoke that still exercises every code path family. The full sweep stays
# the default (no -m) and remains the driver-contract gate.
# ---------------------------------------------------------------------------

_QUICK_MODULES = {
    "test_registry_lint",
    "test_unset_params",
    "test_cleaning_edges",
    "test_operator_edges",
    "test_golden_parity",
    "test_property_parsers",
    "test_lsh_bucket_cap",
    "test_round6_ops",
    "test_round6b_ops",
    "test_round7b_ops",
}

# one oracled query per family: tpch-agg, join, window, setop, topk,
# cleaning, classify, pipeline, stats, dedup (exact/lsh/semantic),
# similarity, timeseries, text, packing, sampling, streaming-adjacent
_QUICK_ORACLE = {
    "q1_pricing_summary",
    "q5_nation_revenue",
    "window_top3_orders_per_customer",
    "set_union_active_buyers",
    "topk_orders_by_totalprice",
    "clean_unit_suffix_supply",
    "classify_trend_lineitem",
    "pipeline_historical_clean",
    "agg_stats_extendedprice",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_semantic_clusters",
    "ann_ivf_topk",
    "asof_join_purchase_click",
    "events_hourly_rollup",
    "text_stats",
    "rolling_wau_hll",
    "pack_ffd_bins",
    "sample_weighted_ares",
    "profile_events_table",
    # round-6/7 families: PCA moments, KMV sketches, de-hinted star join,
    # Gopher screen (_toks single-tokenization), Bloom decontamination
    "embedding_pca_top_component",
    "sketch_kmv_audience_overlap",
    "q7_volume_shipping",
    "text_gopher_filters",
    "decontaminate_bloom_prefilter",
    # round-7 second wave: privacy audit + split-leakage (posting join
    # over the split gate)
    "quality_kanonymity_audit",
    "split_leakage_audit",
    # round-8 families: df-capped pair feed, banded simhash,
    # paragraph first-wins, sampled k-center, IVF recall surface
    "dedup_ngram_jaccard_pairs_capped",
    "dedup_simhash_banded_pairs",
    "dedup_paragraph_first_wins",
    "kcenter_sampled_assign",
    "ann_ivf_recall_at_k",
    # round-9 families: engaged-cap simhash twin, prune-vs-cap
    # composition, per-band LSH occupancy/spill profile
    "dedup_simhash_banded_pairs_capped",
    "dedup_prune_vs_cap_report",
    "dedup_lsh_hot_bucket_spill",
    # round-10b families: mean-normalized CCNet quality split,
    # IVF-cell balanced sampling (span/length batching ride their
    # dedicated quick tests in test_round10b_ops)
    "ccnet_quality_buckets",
    "cluster_balanced_sample",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        if mod in _QUICK_MODULES:
            item.add_marker(pytest.mark.quick)
        elif mod == "test_oracle_parity":
            callspec = getattr(item, "callspec", None)
            if (
                callspec is not None
                and item.function.__name__ == "test_oracle_parity"
                and callspec.params.get("name") in _QUICK_ORACLE
            ):
                item.add_marker(pytest.mark.quick)
    # The registry-lint module must run BEFORE oracle parity: both
    # share the session-scoped built_df cache, and the lint's plan
    # fingerprints must be read off UN-executed DataFrames (after a
    # collect, AdaptiveSparkPlan prints final+initial plans and every
    # operator count doubles). Lint builds fresh plans; parity then
    # collects the same objects — one registry construction pass
    # instead of two. Stable sort: everything else keeps file order.
    items.sort(
        key=lambda it: 0 if it.module.__name__.rsplit(".", 1)[-1] == "test_registry_lint" else 1
    )
