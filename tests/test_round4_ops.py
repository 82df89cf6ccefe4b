"""Invariant tests for the round-4 operators, beyond oracle parity.

Misra-Gries: the sketch must stay exact END-TO-END (candidate superset
+ verify pass) under adversarial partition layouts the sf-data never
produces; triangle counting must match brute force on graphs with
known counts and on seeded random graphs, under raw (duplicated,
reversed, self-looped) edge input.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _exact_counts(rows):
    out = {}
    for t in rows:
        out[t] = out.get(t, 0) + 1
    return out


def _exact_heavy_hitters(rows, k):
    n = len(rows)
    return {
        t: c for t, c in _exact_counts(rows).items() if c * k > n
    }


class TestMisraGries:
    def test_partial_summary_is_bounded(self, spark):
        from crypto_etl_pipeline_spark.operators.sketch import misra_gries_partials

        rows = [(f"t{i % 97}",) for i in range(5000)]
        df = spark.createDataFrame(rows, "term string").repartition(8)
        k = 10
        partials = misra_gries_partials(df, "term", k).collect()
        # <= k-1 counters per partition, positive weights only.
        assert len(partials) <= 8 * (k - 1)
        assert all(r["w"] > 0 for r in partials)

    def test_exact_on_adversarial_partition_layout(self, spark):
        """One true heavy hitter diluted across every partition, each
        partition dominated by partition-local decoys — the layout
        where a naive 'top terms per partition' heuristic misses the
        global answer but the MG superset guarantee cannot."""
        from crypto_etl_pipeline_spark.operators.sketch import heavy_hitters_exact

        rows = []
        for p in range(8):
            rows += [(f"decoy_{p}_{i}",) for i in range(300) for _ in range(2)]
            rows += [("needle",) for _ in range(80)]
        random.Random(7).shuffle(rows)
        k = 9  # threshold n/9 ~ 622; needle count = 640 qualifies
        expected = _exact_heavy_hitters([r[0] for r in rows], k)
        assert "needle" in expected  # fixture sanity
        df = spark.createDataFrame(rows, "term string").repartition(8)
        got = {
            r["term"]: r["n_occurrences"]
            for r in heavy_hitters_exact(df, k).collect()
        }
        assert got == expected

    def test_matches_naive_groupby_across_thresholds(self, spark):
        """Zipf-ish skew: end-to-end result must equal the naive GROUP
        BY + HAVING for several k, including k where nothing
        qualifies."""
        from crypto_etl_pipeline_spark.operators.sketch import heavy_hitters_exact

        rng = random.Random(11)
        terms = [f"w{i}" for i in range(50)]
        rows = [(terms[min(int(rng.paretovariate(1.0)), 49)],) for _ in range(4000)]
        df = spark.createDataFrame(rows, "term string").repartition(6)
        for k in (3, 10, 40):
            expected = _exact_heavy_hitters([r[0] for r in rows], k)
            got = {
                r["term"]: r["n_occurrences"]
                for r in heavy_hitters_exact(df, k).collect()
            }
            assert got == expected, f"k={k}"

    def test_candidate_superset_guarantee(self, spark):
        from crypto_etl_pipeline_spark.operators.sketch import misra_gries_partials

        rng = random.Random(3)
        rows = [(f"t{rng.randrange(200)}",) for _ in range(6000)]
        rows += [("hot",)] * 400
        rng.shuffle(rows)
        k = 12
        df = spark.createDataFrame(rows, "term string").repartition(8)
        cand = {r["term"] for r in misra_gries_partials(df, "term", k).collect()}
        for t in _exact_heavy_hitters([r[0] for r in rows], k):
            assert t in cand


def _brute_triangles(edges):
    """Exact triangle count over canonical (a<b) edge set, python-side."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = 0
    for a, b in es:
        tri += len(adj[a] & adj[b])
    return len(adj), len(es), tri // 3


class TestTriangleStats:
    def _run(self, spark, pairs):
        from crypto_etl_pipeline_spark.operators.graph import triangle_stats

        df = spark.createDataFrame(pairs, "u long, v long")
        return triangle_stats(df).collect()[0]

    def test_k4_is_fully_clustered(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        r = self._run(spark, k4)
        assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
        assert r.global_clustering == 1.0

    def test_star_has_no_triangles(self, spark):
        star = [(0, i) for i in range(1, 6)]
        r = self._run(spark, star)
        assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (6, 5, 10, 0)
        assert r.global_clustering == 0.0

    def test_raw_input_is_normalized(self, spark):
        """Reversed duplicates + self-loops must collapse to the same
        canonical edge set."""
        tri = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (3, 3), (1, 3)]
        r = self._run(spark, tri)
        assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)

    def test_random_graph_matches_brute_force(self, spark):
        rng = random.Random(42)
        pairs = list(
            {
                (rng.randrange(40), rng.randrange(40))
                for _ in range(300)
            }
        )
        nodes, edges, tri = _brute_triangles(pairs)
        r = self._run(spark, pairs)
        assert (r.n_nodes, r.n_edges, r.n_triangles) == (nodes, edges, tri)

    def test_skewed_hub_graph(self, spark):
        """Hub of degree 60 + a few rim edges: orientation must point
        hub edges INWARD (hub is highest degree), so the hub generates
        no wedge fan-out and the count stays exact."""
        pairs = [(0, i) for i in range(1, 61)] + [(1, 2), (2, 3), (3, 4), (4, 1)]
        nodes, edges, tri = _brute_triangles(pairs)
        assert tri == 4  # hub closes rim edges: (0,1,2),(0,2,3),(0,3,4),(0,4,1)
        r = self._run(spark, pairs)
        assert (r.n_nodes, r.n_edges, r.n_triangles) == (nodes, edges, tri)


def _ref_bpe(wordcounts, n_merges):
    """Independent pure-Python BPE trainer: same determinism contract
    (count desc, pair asc tie-break; greedy left-to-right application)."""
    state = {w: list(w) for w in wordcounts}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = {}
        for w, syms in state.items():
            c = wordcounts[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + c
        if not pc:
            break
        (left, right), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((rank, left, right, left + right, cnt))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges


class TestBpeTrainer:
    """The single-task indexed trainer must produce the identical merge
    sequence AND counts as the independent full-recount reference
    trainer — count equality pins its incremental pair table."""

    def _train(self, spark, wordcounts, n):
        from crypto_etl_pipeline_spark.operators.bpe import bpe_train_merges

        df = spark.createDataFrame(list(wordcounts.items()), "word string, cnt long")
        rows = bpe_train_merges(df, n).collect()
        return [
            (r.merge_rank, r.left_sym, r.right_sym, r.merged_sym, r.pair_count)
            for r in sorted(rows, key=lambda r: r.merge_rank)
        ]

    def test_overlapping_runs_merge_greedily(self, spark):
        """'aaaa' x3: round 1 pair (a,a) counts 3 per occurrence (9),
        greedy application leaves ['aa','aa'] — round 2 must see
        (aa,aa), not (a,a)."""
        wc = {"aaaa": 3, "aab": 1}
        got = self._train(spark, wc, 3)
        assert got == _ref_bpe(wc, 3)
        assert got[0][1:4] == ("a", "a", "aa")
        assert got[1][1:4] == ("aa", "aa", "aaaa")

    def test_tie_break_is_lexicographic(self, spark):
        wc = {"xy": 5, "ab": 5, "cd": 5}
        got = self._train(spark, wc, 2)
        assert got == _ref_bpe(wc, 2)
        assert got[0][1:3] == ("a", "b")
        assert got[1][1:3] == ("c", "d")

    def test_early_stop_when_pairs_exhausted(self, spark):
        wc = {"ab": 4, "c": 9}
        got = self._train(spark, wc, 5)
        # 'ab' merges to one symbol in round 1; no pairs remain.
        assert got == _ref_bpe(wc, 5)
        assert len(got) == 1

    def test_matches_reference_on_random_corpus(self, spark):
        rng = random.Random(19)
        alphabet = "abcde"
        wc = {}
        for _ in range(120):
            w = "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 9)))
            wc[w] = wc.get(w, 0) + rng.randrange(1, 20)
        got = self._train(spark, wc, 6)
        assert got == _ref_bpe(wc, 6)

    def test_matches_reference_deep_merge_run(self, spark):
        """24 merges on a dense 2-letter alphabet: every round's argmax
        rides on counts perturbed by many earlier merges — a wrong
        delta update diverges within a round or two."""
        rng = random.Random(7)
        wc = {}
        for _ in range(80):
            w = "".join(rng.choice("ab") for _ in range(rng.randrange(1, 12)))
            wc[w] = wc.get(w, 0) + rng.randrange(1, 10)
        got = self._train(spark, wc, 24)
        assert got == _ref_bpe(wc, 24)


class TestPrefixFilter:
    def test_exact_recall_on_planted_near_dups(self, spark):
        """Planted templated near-duplicates among random chatter: the
        prefix-filtered result must equal brute force computed in
        Python (complete recall — the stage is a theorem, not a
        heuristic)."""
        rng = random.Random(23)
        vocab = [f"tok{i}" for i in range(40)]
        base = " ".join(rng.choice(vocab) for _ in range(30))
        docs = []
        for i in range(30):
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(25))))
        # three clones of `base` with light edits -> high-Jaccard cluster
        words = base.split()
        for j, i in enumerate(range(100, 103)):
            w = list(words)
            w[j] = "edited"
            docs.append((i, " ".join(w)))

        def sh_set(text):
            t = text.split()
            return {"_".join(t[i : i + 3]) for i in range(len(t) - 2)}

        expected = set()
        for ia, ta in docs:
            for ib, tb in docs:
                if ia < ib:
                    sa, sb = sh_set(ta), sh_set(tb)
                    if sa | sb and len(sa & sb) / len(sa | sb) >= 0.5:
                        expected.add((ia, ib))
        assert expected  # fixture sanity: the planted cluster qualifies

        from crypto_etl_pipeline_spark.operators.dedup import prefix_filter_pairs

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b)
            for r in prefix_filter_pairs(df, 0.5).collect()
        }
        assert got == expected

    def test_prefix_stage_prunes_postings(self, spark):
        """The prefix cut must keep strictly fewer posting rows than
        the full token table at t=0.5 (~half per doc) — otherwise the
        stage is all-pairs in disguise."""
        from pyspark.sql import functions as F

        from crypto_etl_pipeline_spark.operators.dedup import _shingle_arrays

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        sh = _shingle_arrays(docs)
        full = sh.select(F.explode("_sh")).count()
        # Re-derive the prefix posting count with the operator's rule.
        from pyspark.sql.window import Window

        toks = sh.select("doc_id", F.explode("_sh").alias("_t"))
        dfreq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
        ranked = (
            toks.join(dfreq, "_t")
            .withColumn(
                "_r",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy(F.asc("_df"), F.asc("_t"))
                ),
            )
            .withColumn(
                "_sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
            )
        )
        kept = ranked.where(
            F.col("_r") <= F.col("_sz") - F.ceil(F.lit(0.5) * F.col("_sz")) + 1
        ).count()
        assert kept < 0.6 * full


class TestMergeableMgSummaries:
    def test_merge_keeps_superset_and_bound(self, spark):
        """Fold 6 adversarial 'micro-batches' through merge_mg_summaries
        and check (a) the store never exceeds k-1 rows, (b) every term
        with global count > n/k survives, (c) weights are within n/k of
        true counts (the mergeable-summaries error bound)."""
        from crypto_etl_pipeline_spark.operators.sketch import (
            merge_mg_summaries,
            misra_gries_partials,
        )

        rng = random.Random(31)
        k = 6
        batches = []
        for b in range(6):
            rows = [(f"noise_{b}_{i}",) for i in range(150) for _ in range(2)]
            rows += [("hot",)] * 90 + [("warm",)] * 60
            rng.shuffle(rows)
            batches.append(rows)
        store_rows: list = []
        for rows in batches:
            df = spark.createDataFrame(rows, "term string").repartition(4)
            partials = misra_gries_partials(df, "term", k)
            store = spark.createDataFrame(store_rows, "term string, w long")
            # materialize between batches — exactly what a persisted
            # incremental store does, and it keeps the test linear (a
            # lazily folded 6-deep merge lineage re-executes the whole
            # chain at every action: measured 21.7s -> ~3s)
            store_rows = [tuple(r) for r in merge_mg_summaries(store, partials, k).collect()]
            assert len(store_rows) <= k - 1
        all_rows = [t for rows in batches for (t,) in rows]
        counts = _exact_counts(all_rows)
        n = len(all_rows)
        weights = dict(store_rows)
        for t, c in counts.items():
            if c * k > n:
                assert t in weights, t
        for t, w in weights.items():
            assert counts[t] - n / k <= w <= counts[t], t

    def test_merge_is_order_insensitive_for_verify(self, spark):
        """Replay order changes the summary's weights but never drops a
        true heavy hitter: verify output is identical either way."""
        from crypto_etl_pipeline_spark.operators.sketch import (
            merge_mg_summaries,
            misra_gries_partials,
            verify_heavy_hitters,
        )

        k = 4
        b1 = [("a",)] * 50 + [("b",)] * 30 + [(f"x{i}",) for i in range(40)]
        b2 = [("a",)] * 40 + [("c",)] * 35 + [(f"y{i}",) for i in range(40)]
        full = spark.createDataFrame(b1 + b2, "term string")
        outs = []
        for order in ([b1, b2], [b2, b1]):
            store = spark.createDataFrame([], "term string, w long")
            for rows in order:
                df = spark.createDataFrame(rows, "term string").repartition(3)
                store = merge_mg_summaries(
                    store, misra_gries_partials(df, "term", k), k
                )
            out = {
                (r["term"], r["n_occurrences"])
                for r in verify_heavy_hitters(full, "term", store.select("term"), k).collect()
            }
            outs.append(out)
        assert outs[0] == outs[1]
        expected = _exact_heavy_hitters([r[0] for r in b1 + b2], k)
        assert outs[0] == set(expected.items())
