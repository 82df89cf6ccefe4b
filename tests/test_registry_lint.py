"""Registry-wide hygiene lints: metadata completeness and a plan-level
scale guard over every registered query.

Each parametrized case builds its query's plan ONCE and runs every
plan check on it (cartesian, broadcast-hint boundedness, global
windows, posting-self-join cap, split exact percentiles, fingerprint
snapshot) — the fingerprint guard used to be a second full-registry
pass in test_scale_patterns.py, ~2 min of duplicated plan builds.
"""

from __future__ import annotations

import json
import os

import pytest

from crypto_etl_pipeline_spark.queries import REGISTRY

BATCH_QUERIES = sorted(
    n for n, s in REGISTRY.items()
    if not (n.startswith("stream_") or "streaming" in s.tags)
)

_SNAPSHOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_FINGERPRINTS.json")
with open(_SNAPSHOT) as _fh:
    FINGERPRINTS = json.load(_fh)


def test_registry_metadata_complete():
    """Every entry has a description, at least one tag, and an oracle
    that is either None (rows-only, deliberate) or a SELECT/WITH."""
    assert len(REGISTRY) == len({n.lower() for n in REGISTRY}), "case-colliding names"
    for n, s in REGISTRY.items():
        assert s.description, f"{n}: missing description"
        assert s.tags, f"{n}: missing tags"
        if s.oracle is not None:
            head = s.oracle.strip().split(None, 1)[0].upper()
            assert head in ("SELECT", "WITH"), f"{n}: oracle does not start with SELECT/WITH"


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_cartesian_product_plans(name, spark, built_df):
    """Scale lints, one plan build per query.

    1. No CartesianProduct (both-sides-large cross join). Intentional
       scalar broadcasts plan as BroadcastNestedLoopJoin and are fine;
       a CartesianProduct means a join lost its keys or its broadcast
       and would be quadratic at 100 TB.
    2. No forced ``F.broadcast()`` hint on a frame whose lineage
       reaches an SF-scaled parquet scan (lineitem/orders/customer/
       supplier/part/events/documents/embeddings) without an
       intervening Aggregate/Limit (plans/lint.py). A forced hint
       overrides the 64 MB threshold with no AQE fallback — at 100x
       the side OOMs the driver (VERDICT r6 'What's wrong' #1).
       Bounded query/dim sides must make the bound structural
       (``.limit(n)`` or a groupBy on a bounded key).
    3. Plan-shape fingerprint matches PLAN_FINGERPRINTS.json
       (BHJ/SMJ/exchange/cartesian/pushed-filter counts): a new
       SortMergeJoin, a lost broadcast, an extra shuffle, or a lost
       pushed filter fails here, not in a per-round manual audit.
       Regenerate after a DELIBERATE plan change with
       `python scripts/plan_fingerprints.py --update`."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from plan_fingerprints import fingerprint

    from crypto_etl_pipeline_spark.plans.lint import (
        split_percentiles,
        unbounded_broadcast_hints,
        unbounded_global_windows,
        uncapped_posting_self_joins,
    )

    df = built_df(name, "/root/testdata/sf0.001")
    hints = unbounded_broadcast_hints(df)
    assert not hints, (
        f"{name} force-broadcasts a frame derived from SF-scaled "
        f"table(s) {[t for t, _ in hints]} with no Aggregate/Limit bound"
    )
    # 5. Corpus-sized global-window lint (VERDICT r11 task #5): an
    #    ORDER BY window with no PARTITION BY over a frame that reaches
    #    an SF-scaled scan un-bounded is a single-task sort at 100 TB —
    #    use global_ordinals/global_ntile (range rank) or reduce to a
    #    distinct-key frame first.
    gw = unbounded_global_windows(df)
    assert not gw, (
        f"{name} plans an unpartitioned ORDER BY window over SF-scaled "
        f"table(s) {[t for t, _ in gw]} with no Aggregate/Limit/"
        "Deduplicate bound — use global_ordinals/global_ntile"
    )
    # 4. Posting-self-join lint (VERDICT r7 task #5), same plan build:
    #    an equi-join whose key is a Generate (explode) output on BOTH
    #    sides with no Aggregate/Limit/Window bound is quadratic per
    #    hot key on a boilerplate-heavy corpus. Requires a DF cap
    #    (shingle_posting_pairs' shingle_df_cap / bucket_cap) or an
    #    explicit exact-by-contract waiver below.
    if name not in POSTING_SELF_JOIN_WAIVERS:
        hits = uncapped_posting_self_joins(df)
        assert not hits, (
            f"{name} self-joins on an exploded key with no DF cap: "
            f"{hits} — thread shingle_df_cap/bucket_cap or add an "
            "exact-by-contract waiver with a reason"
        )
    # 6. Split exact-percentile lint, same plan build: two exact
    #    `percentile` calls over the same input in one Aggregate build
    #    and sort the same value->count map twice — one array-percentage
    #    call gives the same values (plans/lint.py).
    split = split_percentiles(df)
    assert not split, (
        f"{name} computes exact percentiles of one input in separate "
        f"`percentile` calls {split} — use one "
        "F.percentile(c, F.lit([p1, p2, ...])) and index it"
    )
    got = fingerprint(df)
    assert got["cartesian"] == 0, f"{name} plans a CartesianProduct"
    assert got == FINGERPRINTS.get(name), (
        f"{name} plan-shape drift (run scripts/plan_fingerprints.py "
        f"--update if deliberate): {FINGERPRINTS.get(name)} -> {got}"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_array_map_final_schema(name, built_df):
    """The driver's pandas canonicalizer sorts and hashes every output
    column; list/dict cells raise `TypeError: unhashable type` before
    any comparison happens (round 9, `inverted_index_postings`).
    A registered query's FINAL schema therefore must not contain
    ArrayType or MapType at any nesting depth — serialize with
    array_join (oracle: array_to_string) and keep the array form as an
    internal operator. Intermediate arrays are fine; only the returned
    surface is linted."""
    from pyspark.sql import types as T

    def offenders(dt, path):
        if isinstance(dt, (T.ArrayType, T.MapType)):
            yield path
        elif isinstance(dt, T.StructType):
            for f in dt.fields:
                yield from offenders(f.dataType, f"{path}.{f.name}")

    df = built_df(name, "/root/testdata/sf0.001")
    bad = [p for f in df.schema.fields for p in offenders(f.dataType, f.name)]
    assert not bad, (
        f"{name} returns driver-unhashable column type(s) at {bad}: "
        "array_join/to_json the column (oracle: array_to_string) — the "
        "gate cannot canonicalize list/dict cells"
    )


# --- posting-self-join lint (VERDICT r7 task #5) --------------------------
#
# Exact-by-contract waivers: each query below deliberately joins
# exploded values without a DF cap, and each has a named reason. A NEW
# query that flags must either thread a cap (shingle_posting_pairs'
# shingle_df_cap / near_dup_pairs_minhash's bucket_cap) or be added
# here WITH a reason — silent reintroduction of the uncapped shape
# fails the suite.
POSTING_SELF_JOIN_WAIVERS = {
    # The exact pair-feed family: uncapped on purpose — these ARE the
    # oracle-parity exact semantics; each has a registered _capped
    # governance twin (dedup_ngram_jaccard_pairs_capped,
    # split_leakage_audit_capped, source_overlap_matrix_capped) and
    # dedup_hot_shingle_spill as the pre-cap audit.
    "dedup_ngram_jaccard_pairs",
    "dedup_containment_pairs",
    "split_leakage_audit",
    "source_overlap_matrix",
    # Sweep truth side is the recall DENOMINATOR — capping it would
    # bias every recall row; fixture-bounded by construction.
    "dedup_lsh_parameter_sweep",
    # LSH (band, bucket) candidate joins: collision-density-bounded by
    # banding; cap_hot_buckets/bucket_cap is the guard when a corpus
    # defeats banding (tests/test_lsh_bucket_cap.py), default-off for
    # oracle parity.
    "dedup_minhash_lsh",
    "dedup_incremental_new_docs",
    "dedup_minhash_estimate_error",
    # Span dedup gram joins: matched-volume-bounded; boilerplate grams
    # are pruned upstream (text_boilerplate_ngram_prune) at scale —
    # operators/dedup.py duplicated_spans docstring.
    "text_duplicated_spans",
    "text_excise_duplicated_spans",
    # Decontamination gram probes: the eval-set side is a tiny
    # hash-gated slice, so per-gram fan-out is bounded by eval DF.
    "decontaminate_eval_overlap",
    "decontaminate_bloom_prefilter",
    # Same containment shape (r11): the eval side is DISTINCT-collapsed
    # before the join, so each train window matches at most once — a
    # semi-join in pair-feed clothing, per-gram fan-out <= 1.
    "decontaminate_excise_spans",
    # PQ assignment join on (m, code): code domain is the fixed
    # codebook size (k per subspace), fan-out bounded by construction.
    "ann_pq_adc_topk",
    # Same (m, code) LUT join, further bounded: the IVF+PQ hybrid's
    # ADC runs only on the probed-cell candidate set and the LUT side
    # is the Limit-bounded N_QUERIES x M x K broadcast frame.
    "ann_ivf_pq_topk",
}


def test_posting_self_join_detector_is_live(spark):
    """The detector itself: red on a raw exploded self-join, green once
    the df-cap window sits between the explode and the join."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from crypto_etl_pipeline_spark.plans.lint import uncapped_posting_self_joins

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "id long, text string"
    )
    post = docs.select("id", F.explode(F.split("text", " ")).alias("tok"))
    a, b = post.alias("a"), post.alias("b")
    raw = a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
    assert uncapped_posting_self_joins(raw), "raw posting self-join must flag"

    w = Window.partitionBy("tok")
    capped = post.withColumn("_df", F.count(F.lit(1)).over(w)).where(F.col("_df") <= 3).drop("_df")
    ca, cb = capped.alias("a"), capped.alias("b")
    guarded = ca.join(cb, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
    assert not uncapped_posting_self_joins(guarded), "df-capped join must pass"

    # joining exploded sides on a NON-exploded key is fine (per-doc fanout)
    onid = a.join(b, F.col("a.id") == F.col("b.id"))
    assert not uncapped_posting_self_joins(onid)


def test_split_percentile_detector_is_live(spark):
    """The detector itself: red on q1/q3 as two exact `percentile`
    calls over one column, green on one array call, and blind to
    `percentile_approx` next to an exact `percentile`."""
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.plans.lint import split_percentiles

    df = spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "g long, v double")
    v = F.col("v")
    split = df.agg(F.percentile(v, F.lit(0.25)), F.percentile(v, F.lit(0.75)))
    assert split_percentiles(split) == [("v", 2)]
    grouped = df.groupBy("g").agg(F.percentile(v, F.lit(0.1)), F.median(v))
    assert split_percentiles(grouped) == [("v", 2)]

    q = F.percentile(v, F.lit([0.25, 0.75]))
    assert not split_percentiles(df.agg(q.getItem(0), q.getItem(1)))
    assert not split_percentiles(
        df.agg(F.percentile(v, F.lit(0.5)), F.percentile_approx(v, F.lit(0.5)))
    )
    # different inputs are different maps
    assert not split_percentiles(
        df.agg(F.percentile(v, F.lit(0.5)), F.percentile(v * 2, F.lit(0.5)))
    )
