"""Hot-bucket cap for MinHash-LSH candidate generation.

Adversarial skew fixture: a boilerplate cluster (identical text, the
real-world license-header / templated-page case) lands every member in
the SAME bucket of every band, making the candidate join quadratic in
cluster size. The cap must absorb that blowup while keeping genuine
near-dup pairs that live in ordinary buckets, and the spill metric must
count exactly what was dropped.
"""

from __future__ import annotations

from crypto_etl_pipeline_spark.operators.dedup import (
    cap_hot_buckets,
    lsh_buckets,
    lsh_hot_buckets,
    minhash_signatures,
    near_dup_pairs_minhash,
)

BOILER = "this software is provided as is without warranty of any kind express or implied"
N_BOILER = 40
NEAR_A = "the quick brown fox jumps over the lazy dog near the quiet river bank at dawn"
NEAR_B = "the quick brown fox jumps over the lazy dog near the quiet river bank at dusk"


def _skew_corpus(spark):
    rows = [(i, BOILER) for i in range(N_BOILER)]
    rows += [(100, NEAR_A), (101, NEAR_B)]
    rows += [
        (200, "alpha beta gamma delta epsilon zeta eta theta"),
        (201, "one two three four five six seven eight nine ten"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_drops_mega_bucket_keeps_genuine_pairs(spark):
    docs = _skew_corpus(spark)
    uncapped = {(r["id_a"], r["id_b"]) for r in near_dup_pairs_minhash(docs, threshold=0.5).collect()}
    # the quadratic blowup is real: C(40,2) boilerplate pairs + the genuine pair
    assert (100, 101) in uncapped
    assert len(uncapped) == N_BOILER * (N_BOILER - 1) // 2 + 1

    capped = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs_minhash(docs, threshold=0.5, bucket_cap=10).collect()
    }
    assert capped == {(100, 101)}, "cap must drop boilerplate pairs, keep the ordinary-bucket pair"


def test_hot_bucket_spill_metric_counts_dropped_comparisons(spark):
    docs = _skew_corpus(spark)
    sigs = minhash_signatures(docs)
    buckets = lsh_buckets(sigs)
    hot = lsh_hot_buckets(buckets, bucket_cap=10).collect()
    # identical docs share one bucket per band -> 8 hot buckets of 40
    assert len(hot) == 8
    assert all(r["n_ids"] == N_BOILER for r in hot)
    assert all(r["skipped_comparisons"] == N_BOILER * (N_BOILER - 1) // 2 for r in hot)

    kept = cap_hot_buckets(buckets, bucket_cap=10)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").distinct().collect()}
    assert kept_ids == {100, 101, 200, 201}
