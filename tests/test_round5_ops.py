"""Round-5 operator invariants: the BPE ENCODER.

The trainer half is differential-pinned in test_round4_ops.py; these
tests pin the inference half: applying a merge table (rank order, each
merge greedy left-to-right) must match an independent pure-Python
encoder on adversarial fixtures, and encoding the training corpus with
its own trained merges must reproduce the trainer's final symbol
state — the round-trip property that makes train+encode one coherent
tokenizer rather than two unrelated ops.
"""

from __future__ import annotations

import random

from tests.test_round4_ops import _ref_bpe


def _ref_encode(word, merges):
    """Independent reference encoder: merges in rank order, each
    applied greedily left-to-right (Sennrich et al., ACL'16)."""
    syms = list(word)
    for left, right in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _apply(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


class TestBpeEncoder:
    def _encode(self, spark, words, merges):
        from crypto_etl_pipeline_spark.operators.bpe import bpe_encode_words

        df = spark.createDataFrame([(w,) for w in words], "word string")
        return {
            r["word"]: (list(r["tokens"]), r["n_tokens"])
            for r in bpe_encode_words(df, merges).collect()
        }

    def test_overlapping_runs_encode_greedily(self, spark):
        """'aaaa' with merges [(a,a), (aa,aa)]: greedy L2R gives
        ['aa','aa'] after merge 1, then ['aaaa']; 'aaa' gives
        ['aa','a'] and stays (no (aa,a) merge)."""
        merges = [("a", "a"), ("aa", "aa")]
        got = self._encode(spark, ["aaaa", "aaa", "aaaaa", "a"], merges)
        assert got["aaaa"] == (["aaaa"], 1)
        assert got["aaa"] == (["aa", "a"], 2)
        assert got["aaaaa"] == (["aaaa", "a"], 2)
        assert got["a"] == (["a"], 1)

    def test_cascaded_merges(self, spark):
        """Merges consuming earlier merged symbols: d,a,t,a -> d,at,a
        -> d,ata ('data' encodes to 2 tokens)."""
        merges = [("a", "t"), ("at", "a")]
        got = self._encode(spark, ["data", "atta", "tat"], merges)
        assert got["data"] == (["d", "ata"], 2)
        # 'atta': (a,t) greedy -> [at, t, a]; (at,a) needs adjacency -> no
        assert got["atta"] == (["at", "t", "a"], 3)
        assert got["tat"] == (["t", "at"], 2)

    def test_rank_order_not_recurrence(self, spark):
        """A pair whose occurrence appears only AFTER a later merge must
        NOT be merged: rank order is a single forward pass. Word 'abc'
        with merges [(a,bc)? impossible] — use [(b,c),(a,b)]: after
        (b,c) the word is [a,bc]; (a,b) no longer occurs."""
        got = self._encode(spark, ["abc"], [("b", "c"), ("a", "b")])
        assert got["abc"] == (["a", "bc"], 2)

    def test_matches_reference_on_random_words_and_trained_merges(self, spark):
        rng = random.Random(23)
        wc = {}
        for _ in range(100):
            w = "".join(rng.choice("abcd") for _ in range(rng.randrange(1, 10)))
            wc[w] = wc.get(w, 0) + rng.randrange(1, 15)
        trained = _ref_bpe(wc, 12)
        merges = [(m[1], m[2]) for m in trained]
        extra = ["".join(rng.choice("abcd") for _ in range(rng.randrange(1, 12)))
                 for _ in range(60)]
        words = sorted(set(list(wc) + extra))
        got = self._encode(spark, words, merges)
        for w in words:
            assert got[w][0] == _ref_encode(w, merges), w

    def test_encode_reproduces_trainer_final_state(self, spark):
        """Round-trip coherence: encoding the training vocabulary with
        the TRAINED merge table (Spark trainer -> Spark encoder) must
        reproduce the reference trainer's final symbolization exactly."""
        from crypto_etl_pipeline_spark.operators.bpe import bpe_train_merges

        rng = random.Random(31)
        wc = {}
        for _ in range(90):
            w = "".join(rng.choice("abcde") for _ in range(rng.randrange(1, 9)))
            wc[w] = wc.get(w, 0) + rng.randrange(1, 10)
        df = spark.createDataFrame(list(wc.items()), "word string, cnt long")
        trained = bpe_train_merges(df, 10).collect()
        merges = [(r.left_sym, r.right_sym)
                  for r in sorted(trained, key=lambda r: r.merge_rank)]

        final = {w: list(w) for w in wc}
        for left, right in merges:
            final = {w: _apply(s, left, right) for w, s in final.items()}

        got = self._encode(spark, sorted(wc), merges)
        for w in wc:
            assert got[w][0] == final[w], w


class TestStreamStaticEnrichAppend:
    def test_append_emits_every_window_once_and_sweeps_state(self, spark):
        """VERDICT r4 #4: the enrich rollup must run in APPEND mode with
        watermark-closed emission — every window emitted exactly once
        (equal to the batch GROUP BY) and the window state store swept
        EMPTY by the sentinel-advanced watermark (numRowsTotal == 0),
        i.e. state is bounded end to end, unlike 'complete' mode which
        retains every window forever."""
        import uuid

        from pyspark.sql import functions as F

        from crypto_etl_pipeline_spark.queries.streaming import (
            _checkpoint,
            _stage_dir,
            _write_watermark_sentinels,
        )
        from crypto_etl_pipeline_spark.sources.tables import load_table
        from crypto_etl_pipeline_spark.streaming.incremental import (
            read_event_stream,
            run_available_now,
        )
        from tests.conftest import SF_ORACLE

        dim = load_table(spark, SF_ORACLE, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        stage = _stage_dir(SF_ORACLE, copies=1)
        _write_watermark_sentinels(spark, SF_ORACLE, stage)
        events = read_event_stream(spark, stage, max_files_per_trigger=2)
        rolled = (
            events.withWatermark("ts", "2 hours")
            .join(F.broadcast(dim), events.user_id == dim.c_custkey)
            .groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").alias("hour_start"),
                F.col("c_mktsegment").alias("segment"),
                "n_events",
            )
        )
        progress: dict = {}
        out = run_available_now(
            rolled,
            f"enrich_t_{uuid.uuid4().hex[:8]}",
            _checkpoint(),
            progress_out=progress,
        )
        got = {(r["hour_start"], r["segment"]): r["n_events"] for r in out.collect()}

        ev = load_table(spark, SF_ORACLE, "events")
        batch = (
            ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
            .groupBy(
                F.date_trunc("hour", "ts").alias("hour_start"), "c_mktsegment"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        want = {
            (r["hour_start"], r["c_mktsegment"]): r["n_events"]
            for r in batch.collect()
        }
        assert len(got) == len(want) and got == want  # once each, no dupes

        ops = progress["lastProgress"]["stateOperators"]
        assert ops, "windowed aggregate must be a stateful operator"
        assert ops[0]["numRowsTotal"] == 0, (
            "append-mode watermark must have emitted AND dropped every "
            f"window's state; leftover rows: {ops[0]['numRowsTotal']}"
        )


class TestHourlyRollupAppend:
    def test_append_mode_sweeps_state_and_filter_stays_above_watermark(self, spark):
        """stream_hourly_rollup's round-5 append conversion: every
        window emitted exactly once (== batch GROUP BY), state swept
        empty, AND the sentinel-exclusion filter must sit ABOVE the
        EventTimeWatermark node — Catalyst pushes ts-free predicates
        below it, and a sentinel filtered below the node never
        advances the watermark (the last 2 h of windows would
        silently never emit)."""
        import uuid

        from pyspark.sql import functions as F

        from crypto_etl_pipeline_spark.queries.streaming import (
            _checkpoint,
            _stage_dir,
            _write_watermark_sentinels,
        )
        from crypto_etl_pipeline_spark.sources.tables import load_table
        from crypto_etl_pipeline_spark.streaming.incremental import (
            hourly_rollup_stream,
            read_event_stream,
            run_available_now,
        )
        from tests.conftest import SF_ORACLE

        stage = _stage_dir(SF_ORACLE, copies=1)
        _write_watermark_sentinels(spark, SF_ORACLE, stage)
        events = read_event_stream(spark, stage, max_files_per_trigger=2)
        rolled = hourly_rollup_stream(events)
        progress: dict = {}
        out = run_available_now(
            rolled,
            f"rollup_t_{uuid.uuid4().hex[:8]}",
            _checkpoint(),
            progress_out=progress,
        )
        got = {
            (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in out.collect()
        }
        assert not any(k[1] == "_sentinel" for k in got)

        batch = (
            load_table(spark, SF_ORACLE, "events")
            .groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "hour_start"
                ),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
        want = {
            (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in batch.collect()
        }
        assert len(got) == len(want) and got == want  # every window, once

        ops = progress["lastProgress"]["stateOperators"]
        assert ops and ops[0]["numRowsTotal"] == 0, (
            "watermark must emit and drop every window's state; "
            f"got {ops and ops[0]['numRowsTotal']}"
        )


class TestPpjoinFilters:
    """Round-5 VERDICT #6: ppjoin length + positional filters on top of
    the prefix cut — candidate-set reductions with ZERO recall cost."""

    def _dense_docs(self):
        rng = random.Random(5)
        vocab = [f"w{i}" for i in range(6)]
        return [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 60))))
            for i in range(80)
        ]

    @staticmethod
    def _sh_set(text):
        t = text.split()
        return {"_".join(t[i : i + 3]) for i in range(len(t) - 2)}

    def test_filters_hold_candidates_to_pinned_count(self, spark):
        """A 6-word vocabulary makes every shingle COMMON (the case
        that forced round 4's t=0.8 registration); heterogeneous doc
        sizes (5..60 words) are where the length filter bites and rank
        scatter where the positional filter does. At t=0.7 the prefix
        cut alone leaves 1358 candidates, the length filter alone 703,
        and the positional filter 619. The positional bound implies the
        length bound, so the length filter cannot lower the final count;
        its job is to stop oversize-mismatch pairs inside the posting
        join, so the join condition must carry it."""
        from crypto_etl_pipeline_spark.operators.dedup import (
            _prefix_candidates,
            _shingle_arrays,
        )

        docs = self._dense_docs()
        df = spark.createDataFrame(docs, "doc_id long, text string")
        cand = _prefix_candidates(_shingle_arrays(df), 0.7)
        assert cand.count() <= 619
        plan = cand._jdf.queryExecution().optimizedPlan().toString()
        joins = [ln for ln in plan.splitlines() if "Join Inner" in ln]
        assert any("_sz" in ln for ln in joins), plan

    def test_filtered_candidates_keep_complete_recall(self, spark):
        """Both filters are theorems: every true J >= t pair must still
        be in the FILTERED candidate set, and the full operator result
        must equal brute force on the dense fixture."""
        from crypto_etl_pipeline_spark.operators.dedup import (
            _prefix_candidates,
            _shingle_arrays,
            prefix_filter_pairs,
        )

        t = 0.7
        docs = self._dense_docs()
        # plant a high-Jaccard cluster so recall is non-vacuous
        base_text = docs[0][1]
        w = base_text.split()
        for j, i in enumerate(range(200, 203)):
            ww = list(w)
            ww[min(j, len(ww) - 1)] = "edited"
            docs.append((i, " ".join(ww)))

        expected = set()
        for ia, ta in docs:
            for ib, tb in docs:
                if ia < ib:
                    sa, sb = self._sh_set(ta), self._sh_set(tb)
                    if sa | sb and len(sa & sb) / len(sa | sb) >= t:
                        expected.add((ia, ib))
        assert expected, "fixture must contain qualifying pairs"

        df = spark.createDataFrame(docs, "doc_id long, text string")
        sh = _shingle_arrays(df)
        cand = {
            (r["id_a"], r["id_b"])
            for r in _prefix_candidates(sh, t).collect()
        }
        assert expected <= cand, expected - cand

        got = {
            (r.id_a, r.id_b)
            for r in prefix_filter_pairs(df, t).collect()
        }
        assert got == expected


class TestTableChecksum:
    def test_one_row_perturbation_flips_only_its_group(self, spark):
        """The reconciliation contract: a single changed row flips its
        group's checksum and ONLY its group's; row counts alone would
        miss an in-place update."""
        from pyspark.sql import functions as F

        from crypto_etl_pipeline_spark.operators.validate import table_checksum

        rows = [(i, f"g{i % 3}", f"v{i}") for i in range(300)]
        df = spark.createDataFrame(rows, "id long, event_type string, v string")
        base = {
            r["event_type"]: (r["n_rows"], r["checksum"])
            for r in table_checksum(
                df.select("event_type", F.col("id").cast("string").alias("k1"), "v"),
                ["k1", "v"],
            ).collect()
        }
        perturbed = df.withColumn(
            "v", F.when(F.col("id") == 7, F.lit("TAMPERED")).otherwise(F.col("v"))
        )
        after = {
            r["event_type"]: (r["n_rows"], r["checksum"])
            for r in table_checksum(
                perturbed.select("event_type", F.col("id").cast("string").alias("k1"), "v"),
                ["k1", "v"],
            ).collect()
        }
        assert base["g1"][0] == after["g1"][0]  # same row count (id 7 -> g1)
        assert base["g1"][1] != after["g1"][1]  # checksum catches the edit
        for g in ("g0", "g2"):
            assert base[g] == after[g]

    def test_order_and_partitioning_insensitive(self, spark):
        """Addition-mergeable: the checksum must not depend on row
        order or partition layout."""
        from pyspark.sql import functions as F

        from crypto_etl_pipeline_spark.operators.validate import table_checksum

        rows = [(i, f"v{i * 7 % 100}", f"e{i % 3}") for i in range(500)]
        df = spark.createDataFrame(rows, "id long, v string, event_type string").select(
            F.col("id").cast("string").alias("k1"), "v", "event_type"
        )
        a = sorted(map(tuple, table_checksum(df.repartition(1), ["k1", "v"]).collect()))
        b = sorted(map(tuple, table_checksum(df.repartition(16, "v"), ["k1", "v"]).collect()))
        assert a == b and len(a) == 3


class TestPpsSample:
    def _docs(self, spark, weights):
        rows = [(i, f"s{i % 2}", w) for i, w in enumerate(weights)]
        return spark.createDataFrame(rows, "doc_id long, lang string, w long")

    def test_exactly_k_per_stratum_when_no_heavy_rows(self, spark):
        """With every weight < total/k, systematic PPS selects exactly
        k rows per stratum (each of the k boundaries falls in exactly
        one row's cumulative interval)."""
        from crypto_etl_pipeline_spark.operators.sampling import pps_systematic_sample

        df = self._docs(spark, [1 + i % 5 for i in range(400)])
        from pyspark.sql import functions as F

        out = pps_systematic_sample(df, "w", k=10)
        counts = {r["lang"]: r["n"] for r in
                  out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {"s0": 10, "s1": 10}

    def test_heavy_row_always_selected_and_deterministic(self, spark):
        """A row with weight >= total/k spans a boundary no matter
        where the hash order places it -> always selected; and the
        whole sample is a pure function of the data (two runs agree)."""
        from crypto_etl_pipeline_spark.operators.sampling import pps_systematic_sample

        weights = [1] * 200 + [500]  # doc 200 carries >> total/k weight
        df = self._docs(spark, weights)
        sel1 = {r["doc_id"] for r in
                pps_systematic_sample(df, "w", k=5).collect()}
        sel2 = {r["doc_id"] for r in
                pps_systematic_sample(df, "w", k=5).collect()}
        assert 200 in sel1
        assert sel1 == sel2


class TestCmsContract:
    def test_estimates_never_underestimate_even_under_collisions(self, spark):
        """CMS's one-sided guarantee is DETERMINISTIC (counters only
        add): est >= exact for every key, even with a deliberately
        tiny grid (eps=0.5 -> width 4) forcing heavy collisions on a
        64-key skewed stream. The eps-bound column is probabilistic
        per-query, so only the >= half is asserted under collisions."""
        from crypto_etl_pipeline_spark.operators.sketch import cms_frequency_contract

        rows = [(f"k{i % 64}",) for i in range(4000)] + [("hot",)] * 2000
        df = spark.createDataFrame(rows, "term string").repartition(8)
        out = cms_frequency_contract(df, "term", eps=0.5, confidence=0.9, seed=7)
        got = out.collect()
        assert len(got) == 65
        assert all(r["est_ge_exact"] for r in got)

    def test_contract_holds_at_registered_operating_point(self, spark):
        from crypto_etl_pipeline_spark.operators.sketch import cms_frequency_contract

        rows = [(f"k{i % 64}",) for i in range(4000)] + [("hot",)] * 2000
        df = spark.createDataFrame(rows, "term string").repartition(8)
        out = cms_frequency_contract(df, "term", eps=0.001, confidence=0.99, seed=17)
        got = {r["term"]: r for r in out.collect()}
        assert got["hot"]["n_exact"] == 2000
        assert all(r["est_ge_exact"] and r["est_within_eps"] for r in got.values())


class TestBoilerplatePrune:
    def test_planted_boilerplate_scores_and_keep_flags(self, spark, tmp_path):
        """3 docs share a verbatim 6-word chrome block (two 5-grams of
        it each... actually every 5-gram inside it); 2 docs are unique
        text. The shared block's grams have df=3 >= 2 -> boilerplate;
        unique docs score 0.0 and keep; a doc that is MOSTLY chrome
        crosses the 0.3 threshold and is dropped."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from crypto_etl_pipeline_spark.queries import REGISTRY

        chrome = "home about contact terms privacy login"
        docs = [
            (0, chrome + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, chrome + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
            (2, chrome),  # pure chrome -> frac 1.0 -> dropped
            (3, "one two three four five six seven eight nine ten"),
            (4, "cold warm hot blue red green small large tiny huge"),
        ]
        sf = tmp_path / "sf_bp"
        sf.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": [d for d, _ in docs],
                    "text": [t for _, t in docs],
                    "lang": ["en"] * 5,
                    "source": ["s"] * 5,
                    "n_chars": [len(t) for _, t in docs],
                }
            ),
            str(sf / "documents.parquet"),
        )
        out = {
            r["doc_id"]: r
            for r in REGISTRY["text_boilerplate_ngram_prune"]
            .fn(spark, str(sf))
            .collect()
        }
        assert len(out) == 5
        # pure-chrome doc: every gram boilerplate
        assert out[2]["boiler_frac"] == 1.0 and not out[2]["keep"]
        # unique docs: zero boilerplate
        for d in (3, 4):
            assert out[d]["n_boiler"] == 0 and out[d]["keep"]
        # chrome-prefixed docs: exactly the grams fully inside the
        # 6-word chrome block are shared (2 grams each: positions 1-2),
        # the chrome->content boundary grams are unique per doc
        for d in (0, 1):
            assert out[d]["n_boiler"] == 2
            assert out[d]["keep"] == (2 / out[d]["n_grams"] < 0.3)


class TestOuterIntervalJoin:
    def test_null_click_rows_appear_only_after_watermark_proof(self, spark):
        """The outer rows are a claim about ABSENCE: exactly the
        purchases with no same-user click in the preceding 24 h, each
        exactly once, with null click columns — and the matched subset
        must equal the inner join's output."""
        from crypto_etl_pipeline_spark.queries import REGISTRY
        from tests.conftest import SF_ORACLE

        outer = REGISTRY["stream_interval_join_outer"].fn(spark, SF_ORACLE).collect()
        inner = REGISTRY["stream_interval_join"].fn(spark, SF_ORACLE).collect()

        matched = [r for r in outer if r["click_id"] is not None]
        unmatched = [r for r in outer if r["click_id"] is None]
        assert unmatched, "fixture has purchases without prior-24h clicks"
        for r in unmatched:  # absence rows carry no click-side values
            assert r["c_ts_s"] is None and r["delay_sec"] is None

        key = lambda r: (r["purchase_id"], r["click_id"])  # noqa: E731
        assert sorted(map(key, matched)) == sorted(map(key, inner))
        # every purchase appears: matched via pairs, unmatched exactly once
        assert len({r["purchase_id"] for r in unmatched}) == len(unmatched)
        assert {r["purchase_id"] for r in outer} >= {r["purchase_id"] for r in inner}

    def test_interval_join_state_is_watermark_evicted(self, spark):
        """The join state stores must shrink as the watermark passes:
        after the sentinel-advanced final batch, retained state is a
        small residue (rows inside the final watermark horizon +
        sentinels), never the full drained input."""
        import uuid

        from crypto_etl_pipeline_spark.queries.streaming import (
            _checkpoint,
            _stage_dir,
            _write_watermark_sentinels,
        )
        from crypto_etl_pipeline_spark.streaming.incremental import (
            interval_join_streams,
            read_event_stream,
            run_available_now,
        )
        from tests.conftest import SF_ORACLE

        d = _stage_dir(SF_ORACLE, copies=1)
        _write_watermark_sentinels(spark, SF_ORACLE, d)
        joined = interval_join_streams(
            read_event_stream(spark, d, max_files_per_trigger=2),
            read_event_stream(spark, d, max_files_per_trigger=2),
            how="left_outer",
            keep_sentinels=True,
        )
        progress: dict = {}
        out = run_available_now(
            joined,
            f"ijo_t_{uuid.uuid4().hex[:8]}",
            _checkpoint(),
            state_partitions=4,
            progress_out=progress,
        )
        n_out = out.count()
        ops = progress["lastProgress"]["stateOperators"]
        assert ops, "stream-stream join must be stateful"
        retained = ops[0]["numRowsTotal"]
        removed = ops[0]["numRowsRemoved"]
        # ~2.2k purchase+click rows entered state; eviction must have
        # fired and the residue must be a tiny fraction of the input.
        assert removed > 0, "watermark never evicted any join state"
        assert retained < n_out / 10, (retained, n_out)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): approximation contract + cluster invariants
# ---------------------------------------------------------------------------
def test_semantic_dedup_soundness_and_recall(spark, duck):
    """Within-cell pairs must be a SUBSET of the brute-force tau-pairs
    (cells can only DROP pairs, never invent one), and must retain a
    floor fraction of them. The measured recall (~0.21-0.24) is the
    worst case by construction: the synthetic embeddings are
    near-orthogonal, so tau=0.35 'duplicates' are mid-similarity pairs
    with no strong pull toward a shared cell. Real semantic duplicates
    (cosine -> 1) are near-identical vectors whose argmin-centroid
    agrees except exactly on a cell boundary — recall approaches 1
    there, which is the regime SemDeDup operates in."""
    from tests.conftest import SF_ORACLE

    from crypto_etl_pipeline_spark.operators.similarity import duck_pair_ci, duck_qv
    from crypto_etl_pipeline_spark.queries.vector import (
        SEM_TAU,
        dedup_semantic_clusters,
    )

    clusters = {
        r["vec_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_semantic_clusters(spark, SF_ORACLE).collect()
    }
    brute = {
        (a, b)
        for a, b in duck.execute(
            f"""
            WITH e AS (SELECT vec_id, {duck_qv("embedding")} AS q FROM embeddings)
            SELECT a.vec_id, b.vec_id
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE {duck_pair_ci("a.q", "b.q")} >= {SEM_TAU}
            """
        ).fetchall()
    }
    # every merged (same-cluster) pair is reachable through tau-pairs
    # only — soundness: no cluster may span vectors no tau-path joins.
    # Check the stronger per-edge form on the component-inducing pairs:
    # any two ids sharing a cluster of size 2 whose ids form a brute
    # pair is consistent; globally, assert every non-singleton cluster
    # contains at least one brute pair among its members.
    from collections import defaultdict

    members = defaultdict(list)
    for vid, (cid, _) in clusters.items():
        members[cid].append(vid)
    retained = 0
    for cid, ids in members.items():
        assert cid == min(ids), "cluster_id must be the min member id"
        if len(ids) > 1:
            inside = {
                (a, b) for i, a in enumerate(sorted(ids)) for b in sorted(ids)[i + 1 :]
            }
            hit = inside & brute
            assert hit, f"cluster {cid} merged ids with no tau-pair inside"
            retained += len(hit)
    canon = [v for v, (_, c) in clusters.items() if c]
    assert sorted(canon) == sorted(members.keys())
    assert len(clusters) == duck.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    # recall floor vs brute force (worst-case corpus; see docstring)
    assert retained / len(brute) >= 0.15


# ---------------------------------------------------------------------------
# Duplicated-span extents: planted fixtures vs an independent brute force
# ---------------------------------------------------------------------------
def test_duplicated_spans_planted_fixture(spark):
    """max_span_tokens must equal the true longest common token run
    (when >= gram + min_run - 1), including the adversarial cases:
    repeated tokens inside one doc (many diagonals), two separate
    shared spans in one pair, and a shared span that is exactly at the
    min_run floor. Reference: an independent O(n*m) dynamic-program
    longest-common-run plus a direct gram-match count."""
    from crypto_etl_pipeline_spark.operators.dedup import duplicated_spans

    G, MIN_RUN = 4, 2  # small params so fixtures stay readable
    span = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    other = "one two three four five six seven eight nine"
    docs = [
        (0, f"{span} filler0a filler0b"),          # shares 7-token span with 1
        (1, f"pre1a pre1b {span}"),
        (2, "a a a a a a b"),                       # repetition vs 3
        (3, "c c a a a a a d"),                     # LCR with 2 = "a a a a a" (5)
        (4, f"{other} mid4 {span}"),                # two spans vs 5
        (5, f"{span} gap5a gap5b gap5c {other}"),
        (6, "p q r s t u v w"),                     # exactly G+MIN_RUN-1 = 5? no:
        (7, "x y p q r s t z"),                     # LCR with 6 = "p q r s t" (5)
        (8, "lone tokens nothing shared here"),     # no partner
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (
            r["n_gram_matches"],
            r["max_run_grams"],
            r["max_span_tokens"],
        )
        for r in duplicated_spans(df, gram=G, min_run=MIN_RUN).collect()
    }

    def ref(ta, tb):
        grams_a = [tuple(ta[i : i + G]) for i in range(len(ta) - G + 1)]
        grams_b = [tuple(tb[i : i + G]) for i in range(len(tb) - G + 1)]
        matches = [
            (i, j)
            for i, ga in enumerate(grams_a)
            for j, gb in enumerate(grams_b)
            if ga == gb
        ]
        if not matches:
            return None
        # island lengths per diagonal
        by_diag = {}
        for i, j in matches:
            by_diag.setdefault(i - j, []).append(i)
        best = 0
        for ii in by_diag.values():
            ii.sort()
            run = 1
            for p, q in zip(ii, ii[1:]):
                run = run + 1 if q == p + 1 else 1
                best = max(best, run)
            best = max(best, run if len(ii) > 1 else 1)
        if best < MIN_RUN:
            return None
        return (len(matches), best, best + G - 1)

    toks = {d: t.split() for d, t in docs}
    want = {}
    for a in sorted(toks):
        for b in sorted(toks):
            if a < b:
                r = ref(toks[a], toks[b])
                if r is not None:
                    want[(a, b)] = r
    assert got == want
    # sanity on the fixture intent: the planted pairs are present
    assert (0, 1) in want and want[(0, 1)][2] == 7
    assert (2, 3) in want and want[(2, 3)][2] == 5
    assert (4, 5) in want
    assert (6, 7) in want and want[(6, 7)][2] == 5


# ---------------------------------------------------------------------------
# Linear quality classifier: distributed Newton vs independent dense IRLS
# ---------------------------------------------------------------------------
def test_lr_train_newton_matches_dense_reference(spark):
    """The distributed sufficient-statistic formulation (gradient +
    Fisher Hessian as Spark aggregations, driver solve) must reproduce
    an independent DENSE numpy IRLS run on the same features — same
    ridge, same iteration count — to float tolerance. Pinned at
    sf0.001 with D=64 so the dense reference is cheap."""
    import numpy as np

    from crypto_etl_pipeline_spark.operators.lrmodel import (
        hashed_presence_features,
        lr_margin,
        lr_train_newton,
    )
    from crypto_etl_pipeline_spark.operators.textops import quality_label
    from crypto_etl_pipeline_spark.sources.tables import load_table

    from pyspark.sql import functions as F

    D, ITERS, RIDGE = 64, 3, 1e-4
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    labels = docs.select(
        "doc_id", (quality_label(F.col("text")) == "ok").cast("double").alias("y")
    )
    feats = hashed_presence_features(docs, dim=D)
    w = np.array(lr_train_newton(feats, labels, dim=D, iters=ITERS, ridge=RIDGE))

    # independent dense reference from the SAME collected features
    frows = feats.collect()
    lrows = labels.collect()
    ids = sorted(r["doc_id"] for r in lrows)
    idx = {d: i for i, d in enumerate(ids)}
    X = np.zeros((len(ids), D + 1))
    X[:, D] = 1.0
    y = np.zeros(len(ids))
    for r in frows:
        X[idx[r["doc_id"]], r["feat"]] = 1.0
    for r in lrows:
        y[idx[r["doc_id"]]] = r["y"]
    wr = np.zeros(D + 1)
    for _ in range(ITERS):
        p = 1.0 / (1.0 + np.exp(-(X @ wr)))
        g = X.T @ (p - y) / len(y) + RIDGE * wr
        H = (X * (p * (1 - p))[:, None]).T @ X / len(y) + RIDGE * np.eye(D + 1)
        wr = wr - np.linalg.solve(H, g)
    assert np.allclose(w, wr, atol=1e-6), np.abs(w - wr).max()

    # and the scorer applies those weights consistently
    m = {r["doc_id"]: r["margin"] for r in lr_margin(feats, list(w)).collect()}
    got = np.array([m.get(d, w[D]) for d in ids])
    want = X @ w
    assert np.allclose(got, want, atol=1e-9)


# ---------------------------------------------------------------------------
# transformWithStateInPandas sessionizer (Spark 4 stateful v2)
# ---------------------------------------------------------------------------
def test_fold_sessions_kernel_fixture():
    """The shared per-key session fold (used by BOTH stateful APIs) on
    a hand-computed fixture: two batches, a gap split inside batch 2,
    resumed open state, and a null value folded as 0."""
    import pandas as pd

    from crypto_etl_pipeline_spark.streaming.incremental import _fold_sessions

    gap_us = 10 * 1_000_000  # 10 s

    def batch(rows):
        return pd.DataFrame(
            {
                "ts": [pd.Timestamp(t * 1_000_000, unit="us") for t, _ in rows],
                "value": [v for _, v in rows],
            }
        )

    closed, state = _fold_sessions([batch([(0, 1.0), (5, 2.0)])], None, gap_us)
    assert closed == [] and state == [0, 5_000_000, 2, 3.0]
    closed, state = _fold_sessions(
        [batch([(12, None), (40, 4.0), (45, 1.5)])], tuple(state), gap_us
    )
    assert closed == [(0, 12_000_000, 3, 3.0)]  # null folded as 0
    assert state == [40_000_000, 45_000_000, 2, 5.5]


def _has_tws_runtime() -> bool:
    try:
        from google.protobuf import runtime_version  # noqa: F401

        return True
    except Exception:
        return False


def test_tws_sessionize_matches_v1(spark):
    """transformWithStateInPandas twin == applyInPandasWithState ==
    oracle. Skips where Spark's TWS protobuf runtime is absent (this
    container); the kernel itself is pinned by the fixture test above
    and the v1 oracle row either way."""
    import pytest

    if not _has_tws_runtime():
        pytest.skip("protobuf>=5.27 runtime absent: TWS state server cannot start")
    from crypto_etl_pipeline_spark.queries.streaming import (
        stream_sessionize_stateful,
        stream_sessionize_tws,
    )

    sf = "/root/testdata/sf0.001"
    v1 = {tuple(r) for r in stream_sessionize_stateful(spark, sf).collect()}
    v2 = {tuple(r) for r in stream_sessionize_tws(spark, sf).collect()}
    assert v1 == v2 and v1


def test_excise_duplicated_spans_fixture(spark):
    """First-occurrence-wins excision on hand-checked fixtures: the
    lower-id doc keeps its text, the higher-id doc loses exactly the
    shared run; overlapping runs from two partners merge into one
    interval; non-duplicated docs pass through untouched (with
    whitespace normalized by reconstruction)."""
    from crypto_etl_pipeline_spark.operators.dedup import excise_duplicated_spans

    G, MIN_RUN = 4, 2  # spans >= 5 tokens qualify
    span = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    docs = [
        (0, f"{span} tail0a tail0b"),
        (1, f"pre1a pre1b {span}"),          # loses the 7-token span
        (2, "solo doc nothing shared here"),
        # overlapping excisions: 3 shares t1..t6 with 4; 5 shares t3..t8 with 4
        (3, "t1 t2 t3 t4 t5 t6"),
        (5, "t3 t4 t5 t6 t7 t8"),
        (4, "x1 t1 t2 t3 t4 t5 t6 t7 t8 x2"),  # id 4 > 3, but < 5
    ]
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in excise_duplicated_spans(
            spark.createDataFrame(docs, ["doc_id", "text"]), gram=G, min_run=MIN_RUN
        ).collect()
    }
    assert got[0] == (9, 0, f"{span} tail0a tail0b")
    assert got[1] == (9, 7, "pre1a pre1b")
    assert got[2] == (5, 0, "solo doc nothing shared here")
    assert got[3] == (6, 0, docs[3][1])
    # doc 4: loses t1..t6 (vs 3); doc 5 (higher than 4) loses t3..t8
    assert got[4] == (10, 6, "x1 t7 t8 x2")
    assert got[5] == (6, 6, "")


# ---------------------------------------------------------------------------
# FFD sequence packing: independent reference + packing properties
# ---------------------------------------------------------------------------
def test_ffd_pack_matches_independent_reference_and_properties(spark):
    """The Spark shard pack must equal the pure-Python kernel run on
    the same shard (determinism through applyInPandas), and the kernel
    itself must satisfy the packing invariants on random workloads:
    every doc placed once, no bin overflow (oversize docs alone in
    their bin), offsets tile each bin exactly, and FFD never uses more
    bins than next-fit."""
    import random

    from crypto_etl_pipeline_spark.operators.packing import ffd_pack_shard, pack_ffd

    rng = random.Random(7)
    for trial in range(25):
        cap = rng.choice([64, 128, 257])
        items = [
            (i, rng.randrange(1, cap * 2 if trial % 5 == 0 else cap))
            for i in range(rng.randrange(1, 120))
        ]
        placed = ffd_pack_shard(items, cap)
        assert set(placed) == {i for i, _ in items}
        fills = {}
        for (i, n) in items:
            b, off = placed[i]
            fills.setdefault(b, []).append((off, n))
        nf_bins, nf_fill = 1, 0
        for _, n in sorted(items, key=lambda t: (-t[1], t[0])):
            if nf_fill + n > cap:
                nf_bins, nf_fill = nf_bins + 1, 0
            nf_fill += n
        assert len(fills) <= nf_bins
        for b, parts in fills.items():
            parts.sort()
            total = sum(n for _, n in parts)
            if any(n >= cap for _, n in parts):
                assert len(parts) == 1  # oversize isolated
            else:
                assert total <= cap
            pos = 0
            for off, n in parts:
                assert off == pos  # contiguous tiling
                pos += n

    # Spark == kernel on the real corpus
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.operators.textops import token_count
    from crypto_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tok")
    )
    got = {
        r["doc_id"]: (r["shard"], r["bin_id"], r["offset"])
        for r in pack_ffd(docs, capacity=128).collect()
    }
    by_lang = {}
    for r in docs.collect():
        by_lang.setdefault(r["lang"], []).append((r["doc_id"], r["n_tok"]))
    for lang, pairs in by_lang.items():
        ref = ffd_pack_shard(pairs, 128)
        for doc_id, (b, off) in ref.items():
            assert got[doc_id] == (lang, b, off)


def test_connected_components_converges_on_deep_chain(spark):
    """Regression for the silent-truncation bug: a 40-node path graph
    has diameter 39 — plain min-label propagation cannot finish in
    max_iter=10 rounds, but pointer-jumped propagation covers distance
    2^(rounds-2) and must (a) converge and (b) label every node with
    the chain head. The sf0.1 semantic-dedup graph is exactly this
    shape (long tau-chains), which is how the bug was found."""
    from pyspark.sql import functions as F  # noqa: F401

    from crypto_etl_pipeline_spark.operators.cluster import connected_components

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(n)}
