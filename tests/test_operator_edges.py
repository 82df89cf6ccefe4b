"""Edge-semantics unit tests for custom operators (as-of join null
carry, salted join, null embeddings in the vector kernels) — cases the
sf-testdata oracles don't reach."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_asof_join_carries_matched_rows_null(spark):
    """The latest qualifying right ROW wins even when its carried value
    is null (DuckDB ASOF JOIN / merge_asof semantics) — an older
    non-null value must NOT leak forward past it."""
    from crypto_etl_pipeline_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 200), (1, 300)], "k int, ts int"
    ).select("k", F.timestamp_seconds("ts").alias("ts"))
    right = spark.createDataFrame(
        [(1, 50, 10.0), (1, 150, None), (1, 250, 30.0)],
        "k int, ts int, v double",
    ).select("k", F.timestamp_seconds("ts").alias("ts"), "v")

    out = {
        r["ts"].second + r["ts"].minute * 60: r["v_asof"]
        for r in asof_join(left, right, by="k", right_cols=["v"]).collect()
    }
    assert out[100] == 10.0
    assert out[200] is None  # matched row (ts=150) carries ITS null
    assert out[300] == 30.0


def test_asof_join_no_match_is_null(spark):
    from crypto_etl_pipeline_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, ts int").select(
        "k", F.timestamp_seconds("ts").alias("ts")
    )
    right = spark.createDataFrame([(1, 500, 9.0)], "k int, ts int, v double").select(
        "k", F.timestamp_seconds("ts").alias("ts"), "v"
    )
    rows = asof_join(left, right, by="k", right_cols=["v"]).collect()
    assert rows[0]["v_asof"] is None


def test_salted_join_inner_matches_plain_join(spark):
    from crypto_etl_pipeline_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(k, i) for k in (1, 1, 1, 2) for i in range(5)], "k int, line int"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, name string")
    got = sorted(tuple(r) for r in salted_join(big, dim, "k", "line", n_salts=4).collect())
    want = sorted(tuple(r) for r in big.join(dim, "k").collect())
    assert got == want


def test_apply_changeset_semantics(spark):
    """Latest seq wins; delete beats update at equal seq; inserts land;
    untouched rows pass through; replay is idempotent."""
    from crypto_etl_pipeline_spark.operators.cdc import apply_changeset

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "U", 1), (1, "a3", "U", 2),   # latest wins -> a3
            (2, "x", "U", 5), (2, "x", "D", 5),      # tie -> delete wins
            (9, "new", "I", 1),                       # insert
        ],
        "k int, v string, op string, seq int",
    )
    out = apply_changeset(snap, changes, key="k")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, "a3"), (3, "c"), (9, "new")]
    # replaying the same changeset over the result changes nothing
    again = apply_changeset(out, changes, key="k")
    assert sorted(tuple(r) for r in again.collect()) == got


def test_vector_kernels_give_null_for_null_embedding(spark):
    """A null embedding in an Arrow batch gives a null output from every
    hyperplane/centroid kernel (DuckDB's answer), and the other rows keep
    the values they get in a batch without it."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        _centroid_dists_pd,
        _lsh_signature_pd,
        _nearest_cells_pd,
        _nearest_centroid_pd,
    )

    vecs = [(1, [0.5, -0.25, 0.125]), (2, None), (3, [-0.75, 0.5, 0.25])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = [[0.5, 0.0, 0.0], [0.0, 0.5, 0.5], [-0.5, 0.25, 0.0]]
    kernels = [
        _lsh_signature_pd([[1.0, -1.0, 0.5], [0.0, 1.0, -1.0]]),
        _nearest_centroid_pd(cents),
        _nearest_cells_pd(cents, 2),
        _centroid_dists_pd(cents),
    ]
    out = df.select(
        "vec_id", *[k(F.col("embedding")).alias(f"k{i}") for i, k in enumerate(kernels)]
    ).coalesce(1)
    got = {r["vec_id"]: tuple(r)[1:] for r in out.collect()}
    assert got[2] == (None,) * len(kernels)
    alone = {
        r["vec_id"]: tuple(r)[1:]
        for r in out.where(F.col("vec_id") != 2).collect()
    }
    assert {i: got[i] for i in (1, 3)} == alone
    assert all(v is not None for i in (1, 3) for v in got[i])
