"""Round-11 operator tests: sorted-neighborhood fuzzy blocking (the
structural fix for the round-10 degenerate-prefix scale catch) and the
round's new operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.queries import REGISTRY

SF_GATE = "/root/testdata/sf0.01"


# --- sorted-neighborhood blocking (operators/linkage.py) --------------------


@pytest.mark.quick
def test_snm_band_candidate_set_is_exact(spark):
    """The rank-band decomposition (block equi-join + |Δrn| <= w
    filter) must admit EXACTLY the pairs within `window` positions of
    the sorted union — nothing outside the band, even at edit
    distance <= max_dist. With left = right = a000..a019 the union
    interleaves L/R copies, so left a{i} (rn 2i+1) and right a{j}
    (rn 2j+2) are in-band for window=3 iff i-j in {-1, 0, 1, 2}."""
    from crypto_etl_pipeline_spark.operators.linkage import (
        sorted_neighborhood_join,
    )

    names = spark.createDataFrame(
        [(i, f"a{i:03d}") for i in range(20)], "id long, name string"
    )
    out = sorted_neighborhood_join(
        names,
        names.selectExpr("id AS rid", "name AS rname"),
        left_id="id",
        left_text="name",
        right_id="rid",
        right_text="rname",
        window=3,
        max_dist=2,
        top_k=10,
    ).collect()
    by_left = {}
    for r in out:
        by_left.setdefault(r["id"], set()).add(r["rid"])
    # interior row: exactly the in-band right ids (all at dist <= 2,
    # so the edit-distance filter removes nothing here)
    assert by_left[10] == {8, 9, 10, 11}
    # a009 <-> a005 is dist 1 but 9 ranks apart: must NOT appear
    assert 5 not in by_left[9]
    # edge truncates: left a000 is rn 1, rights a000/a001 are rn 2/4
    # (in band), a002 is rn 6 (gap 5 — out)
    assert by_left[0] == {0, 1}
    assert by_left[19] == {17, 18, 19}
    # best match (rank 1) is always the exact self at dist 0
    best = {r["id"]: r for r in out if r["dist"] == 0}
    assert all(best[i]["rid"] == i for i in range(20))


@pytest.mark.quick
def test_snm_linear_on_degenerate_prefix_distribution(spark):
    """THE adversarial fixture from round 10: names that all share one
    prefix-14 block (TPC-H 'Supplier#%09d'), which made the prefix
    scheme a single-task all-pairs join. Under sorted-neighborhood
    blocking the same distribution produces <= n*(2w+1) candidates by
    construction — asserted here by counting the pre-distance-filter
    candidate pairs directly."""
    from crypto_etl_pipeline_spark.operators.linkage import (
        sorted_neighborhood_join,
    )

    n, w = 300, 5
    names = spark.createDataFrame(
        [(i, f"Supplier#{i:09d}") for i in range(n)], "id long, name string"
    )
    out = sorted_neighborhood_join(
        names,
        names.selectExpr("id AS rid", "name AS rname"),
        left_id="id",
        left_text="name",
        right_id="rid",
        right_text="rname",
        window=w,
        max_dist=9,  # no distance pruning: count the raw band volume
        top_k=2 * w + 1,
    )
    total = out.count()
    assert total <= n * (2 * w + 1)
    assert total > n  # non-vacuous: every row self-matches + neighbors
    # and every row's best candidate is still its exact self
    selfs = out.where((F.col("dist") == 0) & (F.col("id") == F.col("rid")))
    assert selfs.count() == n


@pytest.mark.quick
def test_snm_window_miss_is_the_documented_caveat(spark):
    """Blocking is approximate by design: a true match more than
    `window` sorted positions away is never compared. A head-corrupted
    name ('Xupplier...') sorts far from its origin, so SNM misses it —
    the standard single-pass SNM caveat the operator docstring
    documents (multi-pass over a reversed key would cover it)."""
    from crypto_etl_pipeline_spark.operators.linkage import (
        sorted_neighborhood_join,
    )

    rights = spark.createDataFrame(
        [(i, f"Supplier#{i:09d}") for i in range(100)], "rid long, rname string"
    )
    # head corruption: first char replaced — sorts AFTER every 'S' name
    left = spark.createDataFrame(
        [(7, "Xupplier#000000007")], "id long, name string"
    )
    out = sorted_neighborhood_join(
        left,
        rights,
        left_id="id",
        left_text="name",
        right_id="rid",
        right_text="rname",
        window=8,
        max_dist=2,
        top_k=1,
    ).collect()
    # dist("Xupplier#000000007", "Supplier#000000007") = 1, but the
    # corrupted name sorts > all 100 'Supplier#...' names, 92 ranks
    # from its origin — outside window 8. The TRUE match is missed;
    # only a worse (dist-2) sort-boundary neighbor like '...097' can
    # surface from inside the window.
    assert all(r["rid"] != 7 and r["dist"] > 1 for r in out)


# --- exact-substring dedup (ExactSubstr, sorted-suffix method) -------------


@pytest.mark.quick
def test_exact_repeated_substrings_semantics(spark):
    """Known-plant corpus: a 6-token phrase shared verbatim by docs 1
    and 2 (L=4 -> 3 repeated windows merging into one span of 6), an
    intra-doc repeat in doc 3, and unique text in doc 4 that must
    produce nothing."""
    from crypto_etl_pipeline_spark.operators.dedup import (
        exact_repeated_substrings,
    )

    shared = "the quick brown fox jumps high"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"{shared} zeta eta theta iota"),
            (3, "x1 y1 z1 w1 q9 x1 y1 z1 w1 q8"),  # intra-doc 4-token repeat
            (4, "u1 u2 u3 u4 u5 u6 u7 u8"),
        ],
        "doc_id long, text string",
    )
    rows = exact_repeated_substrings(docs, min_len=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 4 not in by_doc  # unique text -> no spans
    # docs 1 and 2: exactly one maximal span each, 6 tokens long
    (s1,) = by_doc[1]
    (s2,) = by_doc[2]
    assert s1["span_tokens"] == 6 and s2["span_tokens"] == 6
    assert s1["n_windows"] == 3 and s2["n_windows"] == 3
    assert s1["min_occ"] == 2 and s2["min_occ"] == 2
    # positions are 1-based: doc 1's span starts at token 3, doc 2's at 1
    assert s1["span_start"] == 3 and s2["span_start"] == 1
    # doc 3: 'x1 y1 z1 w1' occurs twice WITHIN the doc -> two spans
    spans3 = sorted(by_doc[3], key=lambda r: r["span_start"])
    assert [r["span_start"] for r in spans3] == [1, 6]
    assert all(r["span_tokens"] == 4 and r["min_occ"] == 2 for r in spans3)


def test_snm_multipass_recovers_head_corruption(spark):
    """The registered multipass query: tail-corrupted names (%4==3)
    are recovered by the forward pass, head-corrupted (%4==1) ONLY by
    the reversed pass — every corrupted row must land at dist 1, with
    per-class recall visible in the corruption column. A forward-only
    run on the same dirty set must do strictly worse on the head
    class (the single-pass caveat made measurable)."""
    from crypto_etl_pipeline_spark.operators.linkage import (
        sorted_neighborhood_join,
    )
    from crypto_etl_pipeline_spark.sources.tables import load_table

    rows = (
        REGISTRY["fuzzy_match_suppliers_multipass"].fn(spark, SF_GATE).collect()
    )
    by_class = {}
    for r in rows:
        by_class.setdefault(r["corruption"], []).append(r)
    assert all(r["dist"] == 0 for r in by_class["none"])
    assert by_class["head"] and all(r["dist"] == 1 for r in by_class["head"])
    assert by_class["tail"] and all(r["dist"] == 1 for r in by_class["tail"])
    # forward-only contrast: head-corrupted names sort far from their
    # origins ('X...' > every 'Supplier#...'), so the single pass
    # recovers strictly fewer head rows at dist 1
    supp = load_table(spark, SF_GATE, "supplier")
    dirty = supp.selectExpr(
        "s_suppkey AS dirty_id",
        "CASE WHEN s_suppkey % 4 = 1 THEN 'X' || substr(s_name, 2, 17) "
        "     WHEN s_suppkey % 4 = 3 THEN substr(s_name, 1, 17) || 'X' "
        "     ELSE s_name END AS dirty_name",
    )
    fwd = sorted_neighborhood_join(
        dirty,
        supp.select("s_suppkey", "s_name"),
        left_id="dirty_id",
        left_text="dirty_name",
        right_id="s_suppkey",
        right_text="s_name",
        window=64,
        max_dist=2,
        top_k=1,
    ).collect()
    fwd_head_hits = sum(
        1 for r in fwd if r["dirty_id"] % 4 == 1 and r["dist"] == 1
    )
    assert fwd_head_hits < len(by_class["head"])


@pytest.mark.quick
def test_exact_substrings_excise_first_wins(spark):
    """ExactSubstr policy on a known plant (L=4): the corpus-first
    copy of a shared 6-token span keeps its text, the later copy
    loses exactly those 6 tokens, an exact-duplicate doc excises to
    NULL, and unique text is untouched."""
    from crypto_etl_pipeline_spark.operators.dedup import (
        exact_repeated_substrings_excise,
    )

    shared = "the quick brown fox jumps high"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"{shared} zeta eta theta iota"),
            (3, f"alpha beta {shared} gamma delta"),  # exact dup of 1
            (4, "u1 u2 u3 u4 u5 u6 u7 u8"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_repeated_substrings_excise(docs, min_len=4).collect()
    }
    # doc 1 is corpus-first everywhere: nothing removed
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == f"alpha beta {shared} gamma delta"
    # doc 2 loses exactly the shared 6-token span
    assert out[2]["n_removed"] == 6
    assert out[2]["clean_text"] == "zeta eta theta iota"
    # doc 3 duplicates doc 1 verbatim: fully redundant -> NULL
    assert out[3]["n_removed"] == out[3]["n_tokens"] == 10
    assert out[3]["clean_text"] is None
    # unique text untouched
    assert out[4]["n_removed"] == 0


@pytest.mark.quick
def test_exact_substrings_incremental_identity(spark):
    """The trust identity stated in the operator docstring, asserted
    directly: incremental(new, store(old)) == full-corpus batch spans
    restricted to new docs — row for row, including min_occ."""
    from crypto_etl_pipeline_spark.operators.dedup import (
        exact_repeated_substrings,
    )
    from crypto_etl_pipeline_spark.sources.tables import load_table

    full = {
        (r["doc_id"], r["span_start"]): (r["span_tokens"], r["min_occ"])
        for r in exact_repeated_substrings(
            load_table(spark, SF_GATE, "documents"), min_len=10
        ).collect()
        if r["doc_id"] % 2 == 1
    }
    inc = {
        (r["doc_id"], r["span_start"]): (r["span_tokens"], r["min_occ"])
        for r in REGISTRY["dedup_exact_substrings_incremental"]
        .fn(spark, SF_GATE)
        .collect()
    }
    assert inc == full and inc  # identical and non-vacuous


def test_decontaminate_excise_surgical(spark):
    """Span-level decontamination invariants at gate SF: output covers
    exactly the train slice, clean docs pass through verbatim,
    contaminated docs lose 8..n_tokens tokens (a hit excises at least
    one full 8-gram window), and total removal is consistent with the
    doc-level contamination report (every excised doc is flagged by
    decontaminate_eval_overlap and vice versa)."""
    rows = REGISTRY["decontaminate_excise_spans"].fn(spark, SF_GATE).collect()
    assert len(rows) == 450  # 500 docs minus the doc_id%10 eval slice
    flagged = {
        r["doc_id"]
        for r in REGISTRY["decontaminate_eval_overlap"].fn(spark, SF_GATE).collect()
    }
    excised = {r["doc_id"] for r in rows if r["n_removed"] > 0}
    assert excised == flagged
    for r in rows:
        assert r["doc_id"] % 10 != 0
        if r["n_removed"] == 0:
            assert r["clean_text"] is not None
            assert len(r["clean_text"].split(" ")) == r["n_tokens"]
        else:
            assert r["n_removed"] >= 8  # at least one whole window
            if r["clean_text"] is None:
                assert r["n_removed"] == r["n_tokens"]
            else:
                assert (
                    len(r["clean_text"].split(" "))
                    == r["n_tokens"] - r["n_removed"]
                )


@pytest.mark.quick
def test_km_survival_invariants(spark):
    """Kaplan-Meier algebra: risk sets telescope (n_risk[k+1] =
    n_risk[k] - d[k] - c[k]), survival is non-increasing from 1.0,
    every user is accounted for once, and S(t) reconstructs from the
    product-limit formula directly."""
    rows = sorted(
        REGISTRY["survival_km_repeat_purchase"].fn(spark, SF_GATE).collect(),
        key=lambda r: r["dur_days"],
    )
    assert rows and rows[0]["n_risk"] == sum(
        r["n_events"] + r["n_censored"] for r in rows
    )
    s_prev, n_next = 1.0 + 1e-12, None
    prod = 1.0
    for r in rows:
        if n_next is not None:
            assert r["n_risk"] == n_next
        n_next = r["n_risk"] - r["n_events"] - r["n_censored"]
        assert r["survival"] <= s_prev + 1e-9
        s_prev = r["survival"]
        prod *= (r["n_risk"] - r["n_events"]) / r["n_risk"]
        assert abs(r["survival"] - round(prod, 6)) < 2e-6
    assert n_next == 0  # everyone exits as event or censored


@pytest.mark.quick
def test_psi_null_ts_counts_as_current(spark):
    """The r10 ADVICE fix, exercised on data that actually has NULL
    timestamps (the gate corpus has none): the oracle's CASE buckets a
    null ts into ELSE 'cur', and the Spark side must mirror that with
    when/otherwise — the old predicate-cast form dropped the row from
    BOTH halves. Replicates quality_psi_event_drift's counts stage."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [("a", "2024-01-10"), ("a", "2024-01-20"), ("a", None), ("b", None)],
        "event_type string, ts_s string",
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    cut = F.lit("2024-01-16").cast("timestamp")
    counts = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("ref"),
            F.sum(F.when(F.col("ts") < cut, 0).otherwise(1)).alias("cur"),
        )
        .collect()
    }
    # null ts lands in 'cur' (ELSE), never dropped
    assert (counts["a"]["ref"], counts["a"]["cur"]) == (1, 2)
    assert (counts["b"]["ref"], counts["b"]["cur"]) == (0, 1)
    # ...and the halves always sum to the row count (nothing vanishes)
    n = {r["event_type"]: r for r in ev.groupBy("event_type").count().collect()}
    for k, c in counts.items():
        assert c["ref"] + c["cur"] == n[k]["count"]


@pytest.mark.quick
def test_km_everyone_fails_guard(spark):
    """The survival query's ln(0) guard, on a fixture where the LAST
    risk set is all events (factor 0): survival must reach exactly
    0.0 with no error on either engine's formulation. Replicates the
    query's guarded product-limit stage over a hand-built duration
    table."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    c = spark.createDataFrame(
        [(1, 2, 0), (3, 3, 0)], "dur long, d long, cns long"
    )
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    r = c.withColumn(
        "n_risk",
        F.lit(5) - F.coalesce(F.sum(F.col("d") + F.col("cns")).over(w_prev), F.lit(0)),
    )
    factor = (F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")
    s = (
        r.withColumn("mn", F.min(factor).over(w_cum))
        .withColumn(
            "ls",
            F.sum(
                F.log(
                    F.when(F.col("n_risk") == F.col("d"), F.lit(1.0)).otherwise(factor)
                )
            ).over(w_cum),
        )
        .select(
            "dur",
            F.round(
                F.when(F.col("mn") == 0, F.lit(0.0)).otherwise(F.exp("ls")), 6
            ).alias("surv"),
        )
        .collect()
    )
    got = {row["dur"]: row["surv"] for row in s}
    assert got[1] == 0.6  # (5-2)/5
    assert got[3] == 0.0  # 3 at risk, 3 events -> guarded exact zero


@pytest.mark.quick
def test_bh_step_up_positive_control(spark):
    """The BH step-up rule on fabricated p-values where the answer is
    known by hand (alpha=0.05, m=5): p=(.001,.012,.021,.2,.9) ->
    thresholds (.01,.02,.03,.04,.05) -> flags (T,T,T,F,F) -> k*=3, so
    EXACTLY ranks 1-3 reject — including rank 3 even though rank 2's
    raw comparison order differs from a naive per-test cut at .02.
    Replicates the registered query's positional step-up stage."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    p = spark.createDataFrame(
        [("a", 0.001), ("b", 0.012), ("c", 0.021), ("d", 0.2), ("e", 0.9)],
        "seg string, p_approx double",
    )
    w_rank = Window.orderBy("p_approx", "seg")
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = (
        p.withColumn("bh_rank", F.row_number().over(w_rank))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "k",
            F.max(
                F.when(
                    F.col("p_approx")
                    <= F.lit(0.05) * F.col("bh_rank") / F.col("m"),
                    F.col("bh_rank"),
                )
            ).over(w_all),
        )
        .select(
            "seg",
            F.coalesce(F.col("bh_rank") <= F.col("k"), F.lit(False)).alias("rej"),
        )
        .collect()
    )
    got = {r["seg"]: r["rej"] for r in out}
    assert got == {"a": True, "b": True, "c": True, "d": False, "e": False}


def test_bh_fdr_registered_invariants(spark):
    """Registered-output algebra: ranks are the 1..m permutation of
    p-order, thresholds are alpha*i/m exactly, the rejection set is a
    prefix of the rank order, and every segment tests against the
    complement (n_seg + n_rest constant)."""
    rows = sorted(
        REGISTRY["stats_bh_fdr_segments"].fn(spark, SF_GATE).collect(),
        key=lambda r: r["bh_rank"],
    )
    m = len(rows)
    assert [r["bh_rank"] for r in rows] == list(range(1, m + 1))
    ps = [r["p_approx"] for r in rows]
    assert ps == sorted(ps)
    tot = rows[0]["n_seg"] + rows[0]["n_rest"]
    rej_flags = [r["rejected"] for r in rows]
    assert all(not a or all(rej_flags[: i + 1]) for i, a in enumerate(rej_flags))
    for r in rows:
        assert r["n_seg"] + r["n_rest"] == tot
        assert abs(r["bh_threshold"] - round(0.05 * r["bh_rank"] / m, 6)) < 1e-12


# --- driver-contract order --------------------------------------------------


@pytest.mark.quick
def test_entry_order_is_registration_order():
    """``queries()`` and ``oracle_sql()`` list names in registration
    order and read no other state, so a consumer that samples the first
    N names always gets the same set."""
    import __spark_entry__

    assert list(__spark_entry__.queries()) == list(REGISTRY)
    assert list(__spark_entry__.oracle_sql()) == [
        n for n, s in REGISTRY.items() if s.oracle is not None
    ]


# --- end-to-end pretrain corpus funnel --------------------------------------


def test_pretrain_funnel_invariants(spark):
    """Funnel algebra across the 7 stages x 20 sources: docs and
    tokens are non-increasing through the removal stages (1-4), stage
    5's sequence count is the exact ceil-div of stage-4 tokens, the
    mix sample is a subset of survivors, and every source appears in
    every stage (the spine keeps zero rows visible)."""
    rows = REGISTRY["pipeline_pretrain_corpus_v1"].fn(spark, SF_GATE).collect()
    stages = {}
    for r in rows:
        stages.setdefault(r["stage"], {})[r["source"]] = r
    assert sorted(stages) == list(range(7))
    srcs = set(stages[0])
    assert len(srcs) == 20
    for st in range(7):
        assert set(stages[st]) == srcs  # rectangular: spine preserved
    for s in srcs:
        d = [stages[st][s]["docs"] for st in range(5)]
        t = [stages[st][s]["tokens"] for st in range(5)]
        assert d == sorted(d, reverse=True), (s, d)  # removal stages shrink
        assert t == sorted(t, reverse=True), (s, t)
        # stage 5: sequences = ceil(stage-4 tokens / 128), token mass kept
        t4 = stages[4][s]["tokens"]
        assert stages[5][s]["docs"] == (t4 + 127) // 128
        assert stages[5][s]["tokens"] == t4
        # stage 6: sampled docs/tokens never exceed stage-4 survivors
        assert stages[6][s]["docs"] <= stages[4][s]["docs"]
        assert stages[6][s]["tokens"] <= t4
        # spill only ever appears on the near-dup stage
        for st in (0, 1, 2, 4, 5, 6):
            assert stages[st][s]["spill"] == 0
    # the gate actually gates: quality removes docs, decon removes docs
    tot = lambda st, k: sum(stages[st][s][k] for s in srcs)  # noqa: E731
    assert tot(1, "docs") < tot(0, "docs")
    assert tot(4, "docs") < tot(3, "docs")
    assert 0 < tot(6, "docs") < tot(4, "docs")


def test_fuzzy_match_suppliers_snm_recall(spark):
    """The registered query under the new blocking: every even key
    self-matches at dist 0; every odd (tail-corrupted) key finds a
    dist-1 neighbor — tail corruption keeps names sort-adjacent, so
    SNM recall on this corpus is total."""
    rows = REGISTRY["fuzzy_match_suppliers"].fn(spark, SF_GATE).collect()
    by_id = {r["dirty_id"]: r for r in rows}
    assert len(by_id) == 100
    for k, r in by_id.items():
        if k % 2 == 0:
            assert r["dist"] == 0 and r["matched_id"] == k
        else:
            assert r["dist"] == 1
