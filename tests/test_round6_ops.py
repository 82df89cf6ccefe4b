"""Round-6 operator invariants.

Pins the ADVICE_r5 fixes: the rolling_wau_hll calendar-day spine
(row-frame == calendar-frame on gapped activity data), the A-ES
positive-weight contract, connected_components' strict/tolerant modes,
the IVF hot-cell cap for semantic dedup, and the BFD packing rename.
"""

from __future__ import annotations

import pytest


def _write_events(spark, tmp_path, rows):
    """Write an events.parquet fixture (driver schema) from
    (iso_day, user_id) pairs; returns the sf_dir."""
    import pyspark.sql.functions as F

    df = (
        spark.createDataFrame(rows, "d string, user_id long")
        .select(
            F.monotonically_increasing_id().alias("event_id"),
            F.to_timestamp("d").alias("ts"),
            "user_id",
            F.lit("purchase").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/events.parquet")
    return sf_dir


class TestRollingWauHllSparseDays:
    """ADVICE_r5 (medium): with day GAPS a ROWS(-6,0) frame over
    active-day rows spanned >7 calendar days and report days with no
    same-day activity were dropped.  The day-spine fix makes the frame
    calendar-exact; these fixtures have gaps on purpose."""

    ROWS = [
        # burst, 3-day gap, singleton, 8-day gap, burst
        ("2024-01-01", 1), ("2024-01-01", 2),
        ("2024-01-05", 2), ("2024-01-05", 3),
        ("2024-01-14", 1), ("2024-01-14", 4), ("2024-01-15", 5),
    ]

    def _run(self, spark, tmp_path):
        from crypto_etl_pipeline_spark.queries.behavior import rolling_wau_hll

        sf_dir = _write_events(spark, tmp_path, self.ROWS)
        return {r["day"]: r for r in rolling_wau_hll(spark, sf_dir).collect()}

    def test_gap_days_with_trailing_activity_survive(self, spark, tmp_path):
        """Days 06..11 have NO same-day activity but users active in
        the preceding week — the old inner join to active-day sketches
        dropped them."""
        got = self._run(spark, tmp_path)
        for day in ("2024-01-06", "2024-01-08", "2024-01-11"):
            assert day in got, f"{day} (inactive, trailing WAU>0) missing"
        # exact counts: Jan 06 sees {1,2} (Jan01) + {2,3} (Jan05) = 3
        assert got["2024-01-06"]["wau_exact"] == 3
        # Jan 11 sees only Jan05 activity: {2,3}
        assert got["2024-01-11"]["wau_exact"] == 2

    def test_frame_is_calendar_days_not_active_rows(self, spark, tmp_path):
        """Jan 14: only Jan 14 is inside [Jan08,Jan14] — the old
        row-frame unioned Jan01+Jan05+Jan14 sketches (5 users); the
        calendar frame must see exactly {1,4}."""
        got = self._run(spark, tmp_path)
        assert got["2024-01-14"]["wau_exact"] == 2
        assert got["2024-01-14"]["within_5pct"] is True
        assert got["2024-01-15"]["wau_exact"] == 3  # {1,4,5}
        assert got["2024-01-15"]["within_5pct"] is True

    def test_estimate_within_contract_on_every_day(self, spark, tmp_path):
        got = self._run(spark, tmp_path)
        assert got, "no report days produced"
        bad = [d for d, r in got.items() if not r["within_5pct"]]
        assert bad == [], f"HLL estimate out of 5% contract on {bad}"

    def test_zero_wau_gap_days_absent_both_sides(self, spark, tmp_path):
        """Jan 12/13: the last activity (Jan 05) is >6 days back, so
        the exact fan-out emits nothing — the sketch side must not
        resurrect them."""
        got = self._run(spark, tmp_path)
        assert "2024-01-12" not in got
        assert "2024-01-13" not in got


class TestAresPositiveWeightContract:
    """ADVICE_r5 (low): ln(u)/weight with weight<=0 produced
    null/±Inf keys (silently corrupt sample order)."""

    def test_nonpositive_weights_raise(self, spark):
        from crypto_etl_pipeline_spark.operators.sampling import ares_sample

        df = spark.createDataFrame(
            [(1, 2.0), (2, 0.0), (3, -1.0)], "id long, w double"
        )
        with pytest.raises(Exception, match="(?i)positive|weight"):
            ares_sample(df, key_col="id", weight_col="w", k=2).collect()

    def test_positive_weights_still_sample(self, spark):
        from crypto_etl_pipeline_spark.operators.sampling import ares_sample

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 40)], "id long, w double"
        )
        out = ares_sample(df, key_col="id", weight_col="w", k=5).collect()
        assert len(out) == 5


class TestConnectedComponentsStrictFlag:
    """Non-convergence within max_iter raises; a converged run labels
    every node with its component's min id."""

    def _chain(self, spark, n):
        nodes = spark.createDataFrame([(i,) for i in range(n + 1)], "id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )
        return nodes, edges

    def test_strict_default_raises_on_tiny_budget(self, spark, monkeypatch):
        # r13: small contracted graphs finish EXACTLY in one task (the
        # single-task union-find fast path), so a tiny max_iter can no
        # longer produce unconverged labels there — force the
        # distributed loop (cap = 0) to keep exercising its strict
        # contract, which still guards graphs above the cap.
        from crypto_etl_pipeline_spark.operators import cluster
        from crypto_etl_pipeline_spark.operators.cluster import connected_components

        monkeypatch.setattr(cluster, "_SINGLE_TASK_EDGE_CAP", 0)
        nodes, edges = self._chain(spark, 40)
        with pytest.raises(RuntimeError, match="(?i)converge"):
            connected_components(nodes, edges, max_iter=1).collect()

    def test_converged_chain_has_min_id_root(self, spark):
        from crypto_etl_pipeline_spark.operators.cluster import connected_components

        nodes, edges = self._chain(spark, 12)
        a = sorted(map(tuple, connected_components(nodes, edges).collect()))
        assert len(a) == 13
        assert {t[1] for t in a} == {0}  # one chain, min-id root


class TestIvfHotCellCap:
    """VERDICT_r5 task #3: the within-cell all-pairs stage of semantic
    dedup is quadratic in cell size; cap_hot_cells mirrors
    cap_hot_buckets so one mega-cell cannot dominate at scale."""

    def _skewed_assignments(self, spark):
        # cell 0: 50 members (hot); cells 1..5: 4 each
        rows = [(i, 0) for i in range(50)]
        rows += [(100 + 10 * c + j, c) for c in range(1, 6) for j in range(4)]
        return spark.createDataFrame(rows, "doc_id long, _cell int")

    def test_hot_cell_split_to_bounded_subcells(self, spark):
        from crypto_etl_pipeline_spark.operators.similarity import cap_hot_cells

        capped = cap_hot_cells(self._skewed_assignments(spark), max_cell_size=8)
        sizes = {
            r["_cell"]: r["n"]
            for r in capped.groupBy("_cell").count().withColumnRenamed("count", "n").collect()
        }
        assert max(sizes.values()) <= 8
        # every row survives (split, not drop — unlike the LSH cap)
        assert sum(sizes.values()) == 70
        # cold cells untouched apart from the uniform '#0' suffix
        for c in range(1, 6):
            assert sizes[f"{c}#0"] == 4
        # hot cell 0 split into ceil(50/8)=7 sub-cells
        assert sum(1 for k in sizes if k.startswith("0#")) == 7

    def test_cap_is_deterministic(self, spark):
        from crypto_etl_pipeline_spark.operators.similarity import cap_hot_cells

        asg = self._skewed_assignments(spark)
        a = sorted(map(tuple, cap_hot_cells(asg, max_cell_size=8).collect()))
        b = sorted(
            map(tuple, cap_hot_cells(asg.repartition(7), max_cell_size=8).collect())
        )
        assert a == b  # layout-independent assignment

    def test_no_op_below_cap_preserves_membership(self, spark):
        from crypto_etl_pipeline_spark.operators.similarity import cap_hot_cells

        asg = self._skewed_assignments(spark)
        out = cap_hot_cells(asg, max_cell_size=1000)
        got = {(r["doc_id"], r["_cell"]) for r in out.collect()}
        want = {(r["doc_id"], f"{r['_cell']}#0") for r in asg.collect()}
        assert got == want

    def test_hot_cells_report_counts_skipped_pairs(self, spark):
        """The report must model cap_hot_cells' ACTUAL split (full
        sub-cells of size cap + one remainder): n = 2*cap + 6 with the
        package cap (SEM_CELL_CAP = 512) splits 512,512,6 -> retained
        2*C(512,2)+C(6,2) = 261647, skipped C(1030,2)-261647 = 268288 —
        cross-checked against the real sub-cell membership cap_hot_cells
        produces."""
        from collections import Counter

        from crypto_etl_pipeline_spark.operators.similarity import (
            SEM_CELL_CAP,
            cap_hot_cells,
            ivf_hot_cells,
        )

        n = 2 * SEM_CELL_CAP + 6
        rows = [(i, 0) for i in range(n)]
        rows += [(10_000 + 10 * c + j, c) for c in range(1, 6) for j in range(4)]
        asg = spark.createDataFrame(rows, "doc_id long, cell int")
        rep = ivf_hot_cells(asg).collect()
        assert len(rep) == 1
        row = rep[0]
        assert row["cell"] == 0 and row["n_ids"] == n
        assert row["skipped_comparisons"] == 268288
        sizes = Counter(
            r["_cell"]
            for r in cap_hot_cells(
                asg.withColumnRenamed("cell", "_cell"), max_cell_size=SEM_CELL_CAP
            ).collect()
            if str(r["_cell"]).startswith("0#")
        )
        actual_retained = sum(s * (s - 1) // 2 for s in sizes.values())
        assert n * (n - 1) // 2 - actual_retained == row["skipped_comparisons"]


class TestHessianFanoutGuard:
    """ADVICE_r5 (low): the IRLS Hessian self-join emits f² pair rows
    per doc; the budget check raises before the quadratic stage runs."""

    def _fixture(self, spark, n_docs=30, f_per_doc=6, dim=16):
        feats = spark.createDataFrame(
            [
                (d, (d * 7 + j) % dim)
                for d in range(n_docs)
                for j in range(f_per_doc)
            ],
            "doc_id long, feat int",
        ).distinct()
        labels = spark.createDataFrame(
            [(d, 1 if d % 2 == 0 else 0) for d in range(n_docs)],
            "doc_id long, y int",
        )
        return feats, labels

    def test_over_budget_raises_with_measured_fanout(self, spark, monkeypatch):
        from crypto_etl_pipeline_spark.operators import lrmodel

        monkeypatch.setattr(lrmodel, "HESSIAN_ROW_BUDGET", 10)
        feats, labels = self._fixture(spark)
        with pytest.raises(RuntimeError, match="pair rows"):
            lrmodel.lr_train_newton(feats, labels, dim=16, iters=1)


class TestBfdPackingName:
    """ADVICE_r5 (low): the packer bisects for the smallest sufficient
    residual — that is BEST-fit-decreasing; the public names now say
    so (ffd aliases retained for callers)."""

    def test_bfd_names_exist_and_alias_matches(self, spark):
        from crypto_etl_pipeline_spark.operators import packing

        assert hasattr(packing, "pack_bfd")
        assert hasattr(packing, "bfd_pack_shard")
        # back-compat alias points at the same implementation
        assert packing.pack_ffd is packing.pack_bfd


class TestPostingJoinJaccard:
    """Round-6 reformulation: the posting-join Jaccard must equal the
    direct set-intersect definition on adversarial fixtures — repeated
    shingles inside a doc (distinct-set semantics), sub-shingle-length
    docs (empty sets), and cross-lang lookalikes (blocking)."""

    def _run(self, spark, tmp_path, rows):
        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.queries.text import dedup_ngram_jaccard_pairs

        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).select(
            "doc_id", "text", "lang", F.lit("t").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        sf_dir = str(tmp_path)
        df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup_ngram_jaccard_pairs(spark, sf_dir).collect()
        }

    def test_repeated_shingles_count_once(self, spark, tmp_path):
        # "a b c a b c a b c": distinct shingle set has 3 elements
        # (abc, bca, cab); a posting join that forgot distinct would
        # count multiplicities and overshoot jaccard
        rows = [
            (1, "a b c a b c a b c", "en"),
            (2, "a b c x y z", "en"),  # shares exactly {a_b_c}
        ]
        got = self._run(spark, tmp_path, rows)
        # doc1 set = {abc,bca,cab,cba? ...} enumerate: trigrams of 9 toks
        # = 7 windows -> distinct {abc,bca,cab}; doc2 = {abc,bcx,cxy,xyz}
        # inter=1, union=6 -> 1/6
        assert got == {(1, 2): round(1 / 6, 6)}

    def test_short_docs_never_pair(self, spark, tmp_path):
        rows = [(1, "one two", "en"), (2, "one two", "en"), (3, "x", "en")]
        assert self._run(spark, tmp_path, rows) == {}

    def test_lang_blocking_respected(self, spark, tmp_path):
        rows = [(1, "p q r s", "en"), (2, "p q r s", "de"), (3, "p q r s", "en")]
        got = self._run(spark, tmp_path, rows)
        assert set(got) == {(1, 3)}
        assert got[(1, 3)] == 1.0


class TestStratifiedQuotaInvariants:
    def _docs(self, spark, tmp_path, counts):
        import pyspark.sql.functions as F

        rows, nid = [], 0
        for lang, n in counts.items():
            for _ in range(n):
                rows.append((nid, f"text {nid}", lang))
                nid += 1
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string").select(
            "doc_id", "text", "lang", F.lit("t").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        sf_dir = str(tmp_path)
        df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")
        return sf_dir

    def test_exact_global_size_and_proportionality(self, spark, tmp_path):
        from crypto_etl_pipeline_spark.queries.analytics import (
            STRAT_N,
            sample_stratified_exact,
        )

        counts = {"en": 300, "de": 120, "fr": 47, "zh": 33}
        sf_dir = self._docs(spark, tmp_path, counts)
        rows = sample_stratified_exact(spark, sf_dir).collect()
        assert len(rows) == STRAT_N  # exact global size despite rounding
        per = {}
        for r in rows:
            per[r["lang"]] = per.get(r["lang"], 0) + 1
        n = sum(counts.values())
        for lang, n_s in counts.items():
            expect = STRAT_N * n_s / n
            # largest-remainder: within 1 of the exact proportional share
            assert abs(per[lang] - expect) < 1, (lang, per[lang], expect)

    def test_layout_independent(self, spark, tmp_path):
        from crypto_etl_pipeline_spark.queries.analytics import sample_stratified_exact

        sf_dir = self._docs(spark, tmp_path, {"en": 40, "de": 25, "fr": 15})
        a = sorted(r["doc_id"] for r in sample_stratified_exact(spark, sf_dir).collect())
        b = sorted(r["doc_id"] for r in sample_stratified_exact(spark, sf_dir).collect())
        assert a == b


class TestTemperatureMixInvariants:
    """corpus_mix_temperature: alpha<1 must UP-weight low-resource
    strata relative to natural shares, rates cap at 1, and the realized
    sample tracks the budget within Bernoulli noise."""

    def test_mix_properties_on_driver_fixture(self, spark):
        from crypto_etl_pipeline_spark.queries.text import (
            MIX_BUDGET,
            corpus_mix_temperature,
        )

        rows = corpus_mix_temperature(spark, "/root/testdata/sf0.01").collect()
        by = {r["lang"]: r for r in rows}
        n = sum(r["n_s"] for r in rows)
        # temperature flattening: smallest stratum's temp share exceeds
        # its natural share; largest stratum's is below
        smallest = min(by.values(), key=lambda r: r["n_s"])
        largest = max(by.values(), key=lambda r: r["n_s"])
        assert smallest["temp_share"] > smallest["n_s"] / n
        assert largest["temp_share"] < largest["n_s"] / n
        # rates are probabilities
        assert all(0 < r["rate"] <= 1.0 for r in rows)
        # realized total near budget (hash-Bernoulli noise; 3 sigma of
        # binomial with p<=0.6 over ~500 docs is well under 40%)
        total = sum(r["n_sampled"] for r in rows)
        assert 0.6 * MIX_BUDGET <= total <= 1.4 * MIX_BUDGET

    def test_deterministic_across_layouts(self, spark):
        from crypto_etl_pipeline_spark.queries.text import corpus_mix_temperature

        a = sorted(map(tuple, corpus_mix_temperature(spark, "/root/testdata/sf0.001").collect()))
        b = sorted(map(tuple, corpus_mix_temperature(spark, "/root/testdata/sf0.001").collect()))
        assert a == b


class TestSourceCapInvariants:
    def test_cap_bounds_and_flag(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.queries.text import (
            SOURCE_CAP,
            cap_docs_per_source,
        )

        rows = []
        nid = 0
        for src, n in (("hot", 100), ("ok", SOURCE_CAP), ("tiny", 3)):
            for _ in range(n):
                rows.append((nid, f"t {nid}", "en", src))
                nid += 1
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text").cast("long"))
        sf_dir = str(tmp_path)
        df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")
        got = cap_docs_per_source(spark, sf_dir).collect()
        per = {}
        for r in got:
            per.setdefault(r["source"], []).append(r)
        assert len(per["hot"]) == SOURCE_CAP
        assert all(r["cap_applied"] for r in per["hot"])
        assert len(per["ok"]) == SOURCE_CAP
        assert not any(r["cap_applied"] for r in per["ok"])
        assert len(per["tiny"]) == 3
        assert not any(r["cap_applied"] for r in per["tiny"])


class TestSamplingSaltIndependence:
    def test_stratified_samplers_are_decorrelated(self, spark):
        """Review fix: sample_stratified_exact must NOT share
        stratified_fixed_k_sample's salt — with a shared salt every
        stratum ranks in the identical hash order and the fixed-k
        sample is perfectly nested inside the exact-quota sample."""
        from crypto_etl_pipeline_spark.queries.analytics import (
            sample_stratified_exact,
            stratified_fixed_k_sample,
        )

        sf = "/root/testdata/sf0.01"
        fixed = {r["doc_id"] for r in stratified_fixed_k_sample(spark, sf).collect()}
        exact = {r["doc_id"] for r in sample_stratified_exact(spark, sf).collect()}
        # quotas (24/lang) exceed the fixed k (5/lang): under a shared
        # salt fixed ⊆ exact ALWAYS; with independent salts the overlap
        # is hypergeometric (~expected 24/500 per pick) and full
        # nesting is astronomically unlikely.
        assert not fixed.issubset(exact), "samplers still correlated (shared salt?)"
