"""Round-6 second-wave operator invariants.

Pins the four new operator families added after the full-sweep
checkpoint: the Gopher quality screen (keep-flag logic on crafted
failure modes), the Johnson-Lindenstrauss Rademacher projection
(matrix determinism + norm preservation + map-only plan), the Spark 4
recursive-CTE hierarchy rollup (tree-shape invariants), and the
VARIANT shred (differential against the from_json twin).
"""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Gopher screen
# ---------------------------------------------------------------------------


class TestGopherSignals:
    DOCS = [
        # 0: passes every gate (>=50 words, stopwords, diverse, alpha)
        (0, " ".join(f"the quick brown fox jump{chr(97 + i)}" for i in range(12))),
        # 1: too short (8 words)
        (1, "the quick brown fox jumps over a dog"),
        # 2: long enough but zero stopwords
        (2, " ".join(f"w{i} token word item" for i in range(15))),
        # 3: long enough, stopwords present, but one word repeated
        #    (distinct_ratio < 0.2)
        (3, "the a " + " ".join(["spam"] * 58)),
    ]

    @pytest.fixture()
    def signals(self, spark):
        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.operators.textops import gopher_signals

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        sig = gopher_signals(F.col("text"))
        rows = df.select("doc_id", *[c.alias(k) for k, c in sig.items()]).collect()
        return {r["doc_id"]: r for r in rows}

    def test_clean_doc_keeps(self, signals):
        assert signals[0]["gopher_keep"] is True
        assert signals[0]["n_words"] == 60
        assert signals[0]["alpha_frac"] == 1.0

    def test_too_short_drops(self, signals):
        assert signals[1]["gopher_keep"] is False
        assert signals[1]["n_words"] == 8

    def test_no_stopwords_drops(self, signals):
        assert signals[2]["gopher_keep"] is False
        assert signals[2]["stopword_count"] == 0

    def test_repetitive_drops(self, signals):
        r = signals[3]
        assert r["gopher_keep"] is False
        assert r["distinct_ratio"] < 0.2
        # fails ONLY the repetition gate: length and stopword gates pass
        assert r["n_words"] == 60 and r["stopword_count"] >= 2

    def test_zero_shuffle_plan(self, spark):
        """The whole screen must stay a narrow map-only stage."""
        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.operators.textops import gopher_signals

        docs = spark.read.parquet(SF + "/documents.parquet")
        sig = gopher_signals(F.col("text"))
        plan = docs.select("doc_id", *[c.alias(k) for k, c in sig.items()])._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# JL Rademacher projection
# ---------------------------------------------------------------------------


class TestRandomProjection:
    def test_matrix_matches_md5_parity(self):
        import hashlib

        from crypto_etl_pipeline_spark.operators.similarity import rademacher_matrix

        m = rademacher_matrix(3, 3)
        for i in range(3):
            for j in range(3):
                h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
                want = 1.0 if ord(h[0]) % 2 == 0 else -1.0
                assert m[i, j] == want

    def test_long_form_shape_and_norm_preservation(self, spark):
        """E[||Rx||^2] = d_out * ||x||^2 for Rademacher projections; the
        per-vector ratio concentrates, and the corpus mean must sit
        close to 1."""
        import numpy as np

        from crypto_etl_pipeline_spark.operators.similarity import random_projection

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        n = emb.count()
        out = random_projection(emb, 64, 16)
        pdf = out.toPandas()
        assert len(pdf) == n * 16
        proj_sq = pdf.groupby("vec_id")["proj"].apply(lambda s: float((s**2).sum()))
        orig = {
            r["vec_id"]: sum(float(x) ** 2 for x in r["embedding"])
            for r in emb.collect()
        }
        ratios = [proj_sq[v] / (16.0 * orig[v]) for v in proj_sq.index if orig[v] > 0]
        mean_ratio = sum(ratios) / len(ratios)
        assert 0.85 < mean_ratio < 1.15, mean_ratio

    def test_map_only_plan(self, spark):
        from crypto_etl_pipeline_spark.operators.similarity import random_projection

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        plan = random_projection(emb, 64, 16)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Recursive CTE hierarchy
# ---------------------------------------------------------------------------


class TestRecursiveHierarchy:
    def test_tree_shape(self, spark):
        from crypto_etl_pipeline_spark.queries.quality import (
            sql_recursive_hierarchy_rollup,
        )

        n = spark.read.parquet(SF + "/documents.parquet").count()
        rows = {r["depth"]: r for r in sql_recursive_hierarchy_rollup(spark, SF).collect()}
        # every document lands at exactly one depth
        assert sum(r["n_docs"] for r in rows.values()) == n
        # binary-heap level widths: 2^d full levels, remainder on the last
        max_depth = max(rows)
        assert max_depth == int(math.floor(math.log2(n)))
        for d in range(max_depth):
            assert rows[d]["n_docs"] == 2**d
        assert rows[max_depth]["n_docs"] == n - (2**max_depth - 1)

    def test_path_chars_accumulate(self, spark):
        """Root level's path_chars equals the root doc's n_chars, and
        every level's min path is strictly above the previous level's
        min (chains only add)."""
        from crypto_etl_pipeline_spark.queries.quality import (
            sql_recursive_hierarchy_rollup,
        )

        docs = spark.read.parquet(SF + "/documents.parquet")
        root_chars = docs.where("doc_id = 0").collect()[0]["n_chars"]
        rows = {r["depth"]: r for r in sql_recursive_hierarchy_rollup(spark, SF).collect()}
        assert rows[0]["min_path_chars"] == rows[0]["max_path_chars"] == root_chars
        for d in range(1, max(rows) + 1):
            assert rows[d]["min_path_chars"] > rows[d - 1]["min_path_chars"]


# ---------------------------------------------------------------------------
# VARIANT shred
# ---------------------------------------------------------------------------


class TestVariantShred:
    def test_matches_from_json_twin(self, spark):
        """variant_get('$.k') must agree row-for-row with the schema-full
        from_json extraction on the same column."""
        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.queries.analytics import variant_props_shred

        got = {
            (r["event_type"], r["k_bucket"]): (r["n"], r["min_k"], r["max_k"], r["avg_value"])
            for r in variant_props_shred(spark, SF).collect()
        }
        ev = spark.read.parquet(SF + "/events.parquet")
        k = F.from_json(F.col("props"), "k BIGINT").getField("k")
        twin = (
            ev.select("event_type", "value", k.alias("k"))
            .where(F.col("k").isNotNull())
            .groupBy("event_type", F.floor(F.col("k") / 10.0).cast("long").alias("k_bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
                F.round(F.avg("value"), 6).alias("avg_value"),
            )
        )
        want = {
            (r["event_type"], r["k_bucket"]): (r["n"], r["min_k"], r["max_k"], r["avg_value"])
            for r in twin.collect()
        }
        assert got == want and len(got) > 0


class TestJlProjectedAnn:
    def test_pairwise_distance_preservation(self, spark):
        """The actual JL guarantee: squared pairwise distances scale by
        d_out with bounded relative distortion. With d=16 the theory
        gives eps ~ sqrt(ln n / d) — loose; assert the empirical
        median |ratio-1| stays under 0.35 and the mean ratio is
        centered."""
        import numpy as np

        from crypto_etl_pipeline_spark.operators.similarity import (
            random_projection_vec,
        )

        emb = spark.read.parquet(SF + "/embeddings.parquet").limit(80)
        proj = random_projection_vec(emb, 64, 16)
        V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
        P = {r["vec_id"]: np.array(r["jl_vec"], dtype=np.float64) for r in proj.collect()}
        ids = sorted(V)
        ratios = []
        for a in ids[:20]:
            for b in ids[20:60]:
                d2 = float(np.sum((V[a] - V[b]) ** 2))
                p2 = float(np.sum((P[a] - P[b]) ** 2))
                if d2 > 0:
                    ratios.append(p2 / (16.0 * d2))
        ratios = np.array(ratios)
        assert abs(float(ratios.mean()) - 1.0) < 0.15, ratios.mean()
        assert float(np.median(np.abs(ratios - 1.0))) < 0.35

    def test_topk_recall_sanity_floor(self, spark):
        """Rank fidelity is NOT the JL contract (see query docstring):
        on this near-isotropic corpus measured overlap is ~0.11-0.15.
        Gate only that sketch-space top-k beats random chance
        (10/n = 0.02) by >=3x — a regression tripwire for a broken
        projection, not a recall claim."""
        from crypto_etl_pipeline_spark.queries.vector import (
            ann_brute_force_topk,
            ann_jl_projected_topk,
        )

        exact = {(r["query_id"], r["neighbor_id"]) for r in ann_brute_force_topk(spark, SF).collect()}
        sketch = {(r["query_id"], r["neighbor_id"]) for r in ann_jl_projected_topk(spark, SF).collect()}
        recall = len(exact & sketch) / len(exact)
        assert recall >= 0.06, recall


class TestPcaTopComponent:
    def test_converges_to_numpy_eigh(self, spark):
        """With enough iterations the power method must align with the
        exact dominant eigenvector of the (numpy-computed) covariance:
        |cos| >= 0.999, eigenvalue within 0.5%. The synthetic corpus is
        near-isotropic (lambda2/lambda1 = 0.93), so convergence needs
        ~300 matvecs — still microseconds driver-side at dim=64; the
        registered query pins iters=2 as the oracle-unrolled contract,
        this test pins that the operator actually converges."""
        import numpy as np

        from crypto_etl_pipeline_spark.operators.linalg import pca_top_component

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        out = pca_top_component(emb, 64, iters=300)
        rows = sorted(out.collect(), key=lambda r: r["pos"])
        v = np.array([r["loading"] for r in rows])
        ray = rows[0]["eigenvalue"]
        X = np.array([list(r["embedding"]) for r in emb.collect()], dtype=np.float64)
        C = np.cov(X, rowvar=False, bias=True)
        evals, evecs = np.linalg.eigh(C)
        top = evecs[:, -1]
        assert abs(float(v @ top)) > 0.999
        assert abs(ray - float(evals[-1])) / float(evals[-1]) < 0.005

    def test_moment_reduction_is_bounded(self, spark):
        """The shuffle payload is dim^2 + dim + 1 rows — corpus-size
        free (the 100 TB posture)."""
        from crypto_etl_pipeline_spark.operators.linalg import moment_rows

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        n = moment_rows(emb, 64).count()
        assert n == 64 * 64 + 64 + 1


class TestKmvSketch:
    def test_sketch_is_k_smallest_and_mergeable(self, spark):
        """Merging two groups' sketches and re-truncating must equal the
        sketch computed over the concatenated rows (the mergeability
        that lets shards ship sketches instead of keys)."""
        from crypto_etl_pipeline_spark.operators.sketch import kmv_sketch

        rows = [("a", i) for i in range(200)] + [("b", i) for i in range(100, 300)]
        df = spark.createDataFrame(rows, "grp string, user_id long")
        k = 32
        sk = kmv_sketch(df, "grp", k)
        per = {g: sorted(r["h"] for r in sk.where(f"grp = '{g}'").collect()) for g in ("a", "b")}
        assert len(per["a"]) == k and len(per["b"]) == k
        both = kmv_sketch(
            spark.createDataFrame([("u", i) for i in range(300)], "grp string, user_id long"),
            "grp", k,
        )
        union_sketch = sorted(r["h"] for r in both.collect())
        merged = sorted(set(per["a"]) | set(per["b"]))[:k]
        assert merged == union_sketch

    def test_estimates_within_tolerance(self, spark):
        """KMV relative error concentrates around 1/sqrt(k-1) ~ 12.6%
        at k=64; assert every pair's union estimate is within 3x that
        and Jaccard estimates within 0.2 absolute on sf0.01-sized
        audiences (150 distinct per group)."""
        from crypto_etl_pipeline_spark.queries.analytics import (
            sketch_kmv_audience_overlap,
        )

        rows = sketch_kmv_audience_overlap(spark, "/root/testdata/sf0.01").collect()
        assert len(rows) == 10
        for r in rows:
            rel = abs(r["union_est"] - r["exact_union"]) / r["exact_union"]
            assert rel < 0.38, (r["grp_a"], r["grp_b"], rel)
            assert abs(r["jaccard_est"] - r["exact_jaccard"]) < 0.2, r


class TestBucketedJoin:
    def test_join_has_no_exchange(self, spark):
        """Both sides bucketed on the join key with equal bucket counts:
        the SortMergeJoin must sit directly on the bucketed scans — the
        only exchange in the whole plan is the 5-row segment rollup.
        At test scale Catalyst correctly prefers broadcasting the tiny
        customer side (which also needs no join exchange), so disable
        broadcast to surface the big-big plan that the bucketing exists
        for at 100 TB."""
        from crypto_etl_pipeline_spark.queries.analytics import bucketed_join_colocated

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = bucketed_join_colocated(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_part, join_part[:2000]
        assert plan.count("Exchange") == 1
        assert "SelectedBucketsCount: 8 out of 8" in plan


class TestBloomPrefilter:
    def test_no_false_negatives_and_selectivity(self, spark):
        """Every true member must pass (Bloom admits FPs only), and on
        disjoint keys the pass rate must sit near the theoretical FP
        rate — a tripwire for a broken hash/bitset."""
        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.operators.bloom import (
            bloom_might_contain,
            build_bloom_bits,
        )

        members = spark.range(2000).select(F.concat(F.lit("key_"), F.col("id")).alias("k"))
        others = spark.range(2000, 52000).select(F.concat(F.lit("key_"), F.col("id")).alias("k"))
        bits = build_bloom_bits(members, "k")
        assert members.where(bloom_might_contain(F.col("k"), bits)).count() == 2000
        fp = others.where(bloom_might_contain(F.col("k"), bits)).count() / 50000
        # theory: (1 - e^(-4*2000/65536))^4 ~ 1.7e-4; allow 10x slack
        assert fp < 2e-3, fp

    def test_matches_exact_twin(self, spark):
        from crypto_etl_pipeline_spark.queries.text import (
            decontaminate_bloom_prefilter,
            decontaminate_eval_overlap,
        )

        got = {tuple(r) for r in decontaminate_bloom_prefilter(spark, SF).collect()}
        want = {tuple(r) for r in decontaminate_eval_overlap(spark, SF).collect()}
        assert got == want and len(got) > 0


def _ref_kcore(edges):
    """Pure-Python reference peel: k = ceil of the interpolated median
    initial degree, filter deg0, recompute, filter deg1 ->
    {node: (deg0, deg1)}."""
    import math
    from collections import Counter

    deg0 = Counter(src for src, _ in edges)
    ds = sorted(deg0.values())
    mid = (len(ds) - 1) / 2
    lo, hi = ds[math.floor(mid)], ds[math.ceil(mid)]
    k = math.ceil(lo + (hi - lo) * (mid - math.floor(mid)))
    alive1 = {n for n, d in deg0.items() if d >= k}
    deg1 = Counter(src for src, dst in edges if src in alive1 and dst in alive1)
    return {n: (deg0[n], deg1[n]) for n in alive1 if deg1.get(n, 0) >= k}


class TestKcorePeel:
    def test_fixpoint_retains_exact_clique(self, spark):
        """4-clique + pendant path d-e-f-g: the median degree is 3, the
        first round drops the path, and the second reports d's
        recomputed degree (3, not its initial 4) — exactly the clique,
        which no further round would change."""
        from crypto_etl_pipeline_spark.operators.graph import kcore_peel

        clique = ["a", "b", "c", "d"]
        und = [(x, y) for x in clique for y in clique if x < y]
        und += [("d", "e"), ("e", "f"), ("f", "g")]
        directed = und + [(y, x) for x, y in und]
        edges = spark.createDataFrame(directed, "src string, dst string")
        got = {r["node"]: (r["deg0"], r["deg_final"]) for r in kcore_peel(edges).collect()}
        assert got == _ref_kcore(directed)
        assert sorted(got) == clique
        assert all(d == 3 for _, d in got.values())

    def test_two_round_contract_matches_manual_peel(self, spark):
        """The registered 2-round semantics: filter deg0, recompute,
        filter deg1 — verified against a driver-side reference peel on
        the sf0.001 trade graph."""
        import duckdb

        from crypto_etl_pipeline_spark.queries.analytics import kcore_trade_graph

        got = {r["node"]: (r["deg0"], r["deg_final"]) for r in kcore_trade_graph(spark, SF).collect()}
        con = duckdb.connect()
        pairs = con.execute(f"""
            SELECT DISTINCT 'C' || o_custkey, 'S' || l_suppkey
            FROM '{SF}/lineitem.parquet' l JOIN '{SF}/orders.parquet' o ON l_orderkey = o_orderkey
        """).fetchall()
        con.close()
        edges = [(c, s) for c, s in pairs] + [(s, c) for c, s in pairs]
        want = _ref_kcore(edges)
        assert got == want and len(got) > 0


class TestKsTest:
    def test_identical_distributions_give_zero_d(self, spark):
        """KS on a cohort vs itself (same values both labels) must give
        D = 0 and, with the least(1, .) clamp on the truncated
        Kolmogorov series, p_approx == 1.0 (a valid probability: no
        evidence against H0)."""
        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.queries.analytics import ab_ks_test

        ev = (
            spark.range(500)
            .select(
                (F.col("id") % 97).cast("double").alias("value"),
                F.explode(F.array(F.lit("purchase"), F.lit("click"))).alias("event_type"),
            )
            .select(F.lit(1).alias("event_id"), "event_type", "value")
        )
        import tempfile, os
        d = tempfile.mkdtemp(prefix="ks_fix_")
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        row = ab_ks_test(spark, d).collect()[0]
        assert row["ks_d"] == 0.0
        assert row["n_a"] == row["n_b"] == 500
        assert row["p_approx"] == 1.0

    def test_shifted_distributions_detected(self, spark):
        """A +50 location shift on half the grid must produce a large D
        and a p-approximation indistinguishable from 0."""
        import os
        import tempfile

        import pyspark.sql.functions as F

        from crypto_etl_pipeline_spark.queries.analytics import ab_ks_test

        a = spark.range(400).select(
            (F.col("id") % 40).cast("double").alias("value"), F.lit("purchase").alias("event_type")
        )
        b = spark.range(400).select(
            ((F.col("id") % 40) + 50).cast("double").alias("value"), F.lit("click").alias("event_type")
        )
        ev = a.unionByName(b).select(F.lit(1).alias("event_id"), "event_type", "value")
        d = tempfile.mkdtemp(prefix="ks_fix2_")
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        row = ab_ks_test(spark, d).collect()[0]
        assert row["ks_d"] == 1.0  # disjoint supports
        assert row["p_approx"] < 1e-6


class TestGroupedPca:
    def test_matches_per_group_numpy(self, spark):
        """Grouped sufficient statistics must give the same covariance
        and (converged) top eigenvalue as per-group numpy."""
        import numpy as np

        from crypto_etl_pipeline_spark.operators.linalg import pca_top_by_group

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        out = {r["label"]: r for r in pca_top_by_group(
            emb, 64, iters=300
        ).collect()}
        rows = emb.collect()
        by_label: dict = {}
        for r in rows:
            by_label.setdefault(r["label"], []).append(list(r["embedding"]))
        for lbl, vecs in by_label.items():
            X = np.array(vecs, dtype=np.float64)
            C = np.cov(X, rowvar=False, bias=True)
            top = float(np.linalg.eigvalsh(C)[-1])
            got = out[lbl]
            assert got["n_vecs"] == len(vecs)
            assert abs(got["eigenvalue"] - top) / top < 0.01, (lbl, got["eigenvalue"], top)
            assert 0 < got["explained_share"] < 1

    def test_moment_exchange_is_bounded(self, spark):
        from crypto_etl_pipeline_spark.operators.linalg import grouped_moment_rows

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        n = grouped_moment_rows(emb, 64).count()
        assert n == 10 * (64 * 64 + 64 + 1)


class TestStreamKmv:
    def test_multi_batch_merge_equals_one_shot(self, spark):
        """The algebraic heart of the streaming contract: merging
        per-batch KMV sketches (in any order) must equal the sketch of
        the whole set — tested directly on the merge operator with
        three disjoint-ish slices."""
        from crypto_etl_pipeline_spark.operators.sketch import (
            kmv_estimate,
            kmv_merge,
            kmv_sketch,
        )

        k = 16
        slices = [
            [("a", i) for i in range(0, 120)],
            [("a", i) for i in range(80, 200)],
            [("a", i) for i in range(150, 260)],
        ]
        dfs = [spark.createDataFrame(s, "event_type string, user_id long") for s in slices]
        merged = kmv_sketch(dfs[0], "event_type", k)
        for d in dfs[1:]:
            merged = kmv_merge(merged, kmv_sketch(d, "event_type", k), k)
        whole = kmv_sketch(
            spark.createDataFrame(
                [r for s in slices for r in s], "event_type string, user_id long"
            ),
            "event_type", k,
        )
        assert sorted(r["h"] for r in merged.collect()) == sorted(
            r["h"] for r in whole.collect()
        )
        # estimator accuracy at a serious k: 1000 distinct, k=64
        # (sd ~ 1/sqrt(63) ~ 12.6%; allow 3 sd)
        big = kmv_sketch(
            spark.createDataFrame(
                [("a", i) for i in range(1000)], "event_type string, user_id long"
            ),
            "event_type", 64,
        )
        est = kmv_estimate(big, 64).collect()[0]
        assert 620 < est["distinct_est"] < 1380, est["distinct_est"]


class TestPcaResidualOutliers:
    def test_decomposition_identity(self, spark):
        """pc1_score² + residual must equal ||x - mean||² per vector
        (Pythagoras against the fitted unit component)."""
        import numpy as np

        from crypto_etl_pipeline_spark.operators.linalg import (
            covariance_from_moments,
            moment_rows,
            pca_residual_scores,
            power_iteration,
        )

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        rows = moment_rows(emb, 64).collect()
        cov, mean, _ = covariance_from_moments(rows, 64)
        v, _ = power_iteration(cov, 2)
        assert abs(float(v @ v) - 1.0) < 1e-12
        got = {r["vec_id"]: r for r in pca_residual_scores(emb, mean, v).collect()}
        for r in emb.limit(30).collect():
            x = np.array(r["embedding"], dtype=np.float64)
            c = x - mean
            score = float(c @ v)
            resid = float(c @ c) - score * score
            g = got[r["vec_id"]]
            assert abs(g["pc1_score"] - score) < 1e-5
            assert abs(g["residual"] - resid) < 1e-5
            assert g["residual"] >= 0

    def test_scoring_is_map_only(self, spark):
        import numpy as np

        from crypto_etl_pipeline_spark.operators.linalg import pca_residual_scores

        emb = spark.read.parquet(SF + "/embeddings.parquet")
        plan = pca_residual_scores(
            emb, np.zeros(64), np.ones(64) / 8.0
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
