"""Differential harness mirroring the driver's DuckDB-oracle gate.

For every registry entry with an oracle, run the Spark builder and the
DuckDB SQL on the same parquet and compare row count, column names, and
(order-insensitively) values — floats exactly where both sides round,
else to 1e-9 relative. Strict: a mismatch here predicts a driver
CORRECTNESS failure.
"""

from __future__ import annotations

import math
import os

import pytest

from crypto_etl_pipeline_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            elif hasattr(v, "__float__") and not isinstance(v, (int, bool)):
                v = round(float(v), 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(name, spark, duck, built_df):
    from pyspark.sql.types import DecimalType

    spec = REGISTRY[name]
    sdf = built_df(name, SF_ORACLE)
    # Spark half of the DECIMAL-free-output lint (duck half:
    # test_no_decimal_output_columns) — checked here because this test
    # already built the DataFrame; schema comes from analysis only.
    s_dec = [f.name for f in sdf.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not s_dec, (
        f"{name}: DECIMAL-typed OUTPUT columns (spark={s_dec}) — the driver "
        f"hash-reds these even on identical values; cast to DOUBLE"
    )
    spark_cols = sdf.columns

    # Overlap the two engines: DuckDB evaluates the oracle in a worker
    # thread while Spark collects (the heavy n²-form dedup oracles cost
    # ~5-12 s each; the overlap saves min(spark, duck) per query —
    # ~1 min across the registry). Safe: exactly one statement runs on
    # the shared connection, and the main thread doesn't touch it
    # until .result().
    import concurrent.futures

    def _run_duck():
        res = duck.execute(spec.oracle)
        return [d[0] for d in res.description], res.fetchall()

    with concurrent.futures.ThreadPoolExecutor(1) as ex:
        fut = ex.submit(_run_duck)
        spark_rows = [tuple(r) for r in sdf.collect()]
        duck_cols, duck_rows = fut.result()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns = _normalize(spark_rows, spark_cols)
    nd = _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_no_hugeint_columns(name, duck):
    """Oracle-typing lint (round-2 postmortem): DuckDB `sum()` over any
    integer type returns HUGEINT (int128), which the driver's value-hash
    normalizes differently from Spark's bigint — a bit-identical answer
    then reads as hash-red (round 2: dedup_simhash /
    pipeline_dedup_corpus). DESCRIBE every oracle and reject any
    HUGEINT/UHUGEINT output column; fix is a `::BIGINT` cast on the sum."""
    spec = REGISTRY[name]
    rows = duck.execute(f"DESCRIBE {spec.oracle}").fetchall()
    huge = [(r[0], r[1]) for r in rows if "HUGEINT" in str(r[1]).upper()]
    assert not huge, f"{name}: HUGEINT-typed oracle columns {huge}; cast to ::BIGINT"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_no_decimal_output_columns(name, duck):
    """DECIMAL-free-output lint (round-4 postmortem, THIRD decimal-family
    red): even with judge-verified identical values AND identical result
    types (Spark decimal(28,2) == DuckDB DECIMAL(28,2) at sf0.01), the
    driver's value-hash canonicalizes DECIMAL fetch results differently
    per engine (decimal.Decimal objects vs floats — the round-2 HUGEINT
    family), so SQL-side typing cannot fix it. Contract: DECIMAL may be
    used freely INSIDE a query (that is what the exact-money operators
    demonstrate) but must never appear in a compared OUTPUT schema on
    EITHER engine — cast final columns to DOUBLE on both sides. Exact
    decimal semantics stay pinned by test_decimal_exact_internal_parity.
    The Spark side of this lint lives inside test_oracle_parity (it
    already builds every DataFrame — rebuilding 234 of them here,
    streaming drains included, was a third full-registry construction
    pass); this test keeps the DuckDB DESCRIBE side, which plans
    without executing."""
    spec = REGISTRY[name]
    d_bad = [
        r[0]
        for r in duck.execute(f"DESCRIBE {spec.oracle}").fetchall()
        if "DECIMAL" in str(r[1]).upper()
    ]
    assert not d_bad, (
        f"{name}: DECIMAL-typed OUTPUT columns (duck={d_bad}) — the "
        f"driver hash-reds these even on identical values; cast to DOUBLE on both engines"
    )


def test_decimal_exact_internal_parity(spark, duck):
    """The compared surface of the two decimal queries is DOUBLE (see
    lint above), but the operator's actual claim is EXACT decimal
    aggregation — pin that here with true decimal.Decimal equality at
    full precision: the internal Spark decimal sums must equal DuckDB's
    decimal sums to the last digit, per group, with no tolerance."""
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.sources.tables import load_table

    # lineitem: DECIMAL(18,2) revenue sums (agg_decimal_exact_revenue internals)
    li = load_table(spark, SF_ORACLE, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    s_li = {
        r["l_returnflag"]: (r["rev"], r["drev"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(price).alias("rev"), F.sum(price * disc).alias("drev"))
        .collect()
    }
    d_li = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            """
            SELECT l_returnflag,
                   sum(cast(l_extendedprice AS DECIMAL(18,2))) AS rev,
                   sum(cast(l_extendedprice AS DECIMAL(18,2))
                       * cast(1 - l_discount AS DECIMAL(18,2))) AS drev
            FROM lineitem GROUP BY l_returnflag
            """
        ).fetchall()
    }
    assert s_li == d_li, f"lineitem decimal sums diverge: {s_li} vs {d_li}"

    # orders: DECIMAL(18,4) total/avg (decimal_exact_money_agg internals)
    orders = load_table(spark, SF_ORACLE, "orders")
    d = F.col("o_totalprice").cast("decimal(18,4)")
    s_o = {
        r["o_orderstatus"]: (r["tot"], r["avg4"])
        for r in orders.groupBy("o_orderstatus")
        .agg(F.sum(d).alias("tot"), F.avg(d).cast("decimal(18,4)").alias("avg4"))
        .collect()
    }
    d_o = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            """
            SELECT o_orderstatus,
                   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS tot,
                   CAST(avg(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS avg4
            FROM orders GROUP BY o_orderstatus
            """
        ).fetchall()
    }
    assert s_o == d_o, f"orders decimal aggregates diverge: {s_o} vs {d_o}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(name, spark, built_df):
    sdf = built_df(name, SF_ORACLE)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0


def test_ivf_recall_vs_brute_force(spark):
    """IVF with k=16 cells / nprobe=4 must recover ≥0.8 of the exact
    top-10 — the quality bar a real similarity-search component ships
    with (measured 0.85-0.87 refined / 0.90-0.92 seeded across
    sf0.001/sf0.01; deterministic, no RNG — curve in BASELINE.md
    §ANN recall/cost)."""
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_build_centroids,
        ivf_topk,
    )
    from crypto_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=10).collect()}
    cents = ivf_build_centroids(emb, k=16, iters=2)
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(emb, queries, cents, k=10, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall:.2f} below threshold"


def test_ivf_seeded_recall_vs_brute_force(spark):
    """The oracle-checked IVF variant (iters=0 seed cells) must also
    clear a recall floor — approximation quality is part of the op."""
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_build_centroids,
        ivf_topk,
    )
    from crypto_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=10).collect()}
    cents = ivf_build_centroids(emb, k=16, iters=0)
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(emb, queries, cents, k=10, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"seeded-IVF recall {recall:.2f} below threshold"


def test_lsh_recall_vs_brute_force(spark):
    """Sign-LSH top-k at the REGISTERED operating point (n_planes=6,
    probe_radius=3) must clear 0.7 recall@10. The synthetic embeddings
    are near-orthogonal — sign-LSH's adversarial case (per-plane
    agreement barely above 1/2) — which is why the gated point sits at
    radius 3; the measured recall-vs-cost curve across radii is in
    BASELINE.md §ANN recall/cost. Deterministic (fixed-seed planes)."""
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )
    from crypto_etl_pipeline_spark.queries.vector import N_PLANES, PROBE_RADIUS
    from crypto_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=10).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_bucketed_topk(
                  emb, queries, k=10, n_planes=N_PLANES, probe_radius=PROBE_RADIUS
              ).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"LSH recall {recall:.2f} below threshold"


def test_lsh_bucket_expression_matches_numpy(spark):
    """The JVM expression and the Arrow-batched numpy LSH signature
    claim bit-identical buckets (exact-integer projections) — prove it
    on the real corpus."""
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.operators.similarity import (
        _hyperplanes,
        _lsh_signature_pd,
        lsh_signature,
    )
    from crypto_etl_pipeline_spark.sources.tables import load_table

    planes = _hyperplanes(6)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    diff = (
        emb.select(
            lsh_signature(F.col("embedding"), planes).alias("expr_b"),
            _lsh_signature_pd(planes)(F.col("embedding")).alias("np_b"),
        )
        .where(F.col("expr_b") != F.col("np_b"))
        .count()
    )
    assert diff == 0


def test_nearest_centroid_expression_matches_numpy(spark):
    """Same exactness claim for the quantized IVF cell assignment."""
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.operators.similarity import (
        _nearest_centroid,
        _nearest_centroid_pd,
        ivf_build_centroids,
    )
    from crypto_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    cents = ivf_build_centroids(emb, k=16, iters=0)
    diff = (
        emb.select(
            _nearest_centroid(F.col("embedding"), cents).alias("expr_c"),
            _nearest_centroid_pd(cents)(F.col("embedding")).alias("np_c"),
        )
        .where(F.col("expr_c") != F.col("np_c"))
        .count()
    )
    assert diff == 0


def test_ivf_lloyd_iterations_reduce_inertia(spark):
    """k-means property: each Lloyd iteration cannot increase total
    within-cell squared distance (inertia). Checked across iters=0/1/2
    on the real corpus — a broken centroid-update step would violate
    monotonicity."""
    import numpy as np
    from pyspark.sql import functions as F

    from crypto_etl_pipeline_spark.operators.similarity import ivf_build_centroids
    from crypto_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    X = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.select("embedding").collect()]
    )

    def inertia(cents):
        C = np.asarray(cents, dtype=np.float64)
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return float(d.min(axis=1).sum())

    vals = [inertia(ivf_build_centroids(emb, k=16, iters=i)) for i in (0, 1, 2)]
    assert vals[1] <= vals[0] + 1e-6, vals
    assert vals[2] <= vals[1] + 1e-6, vals
    assert vals[2] < vals[0], "two Lloyd steps should strictly improve on seed cells"


@pytest.fixture(scope="module")
def duck_gate():
    """DuckDB views at sf0.01 — the DRIVER's gate SF, fixed regardless
    of SPARK_GRAFT_TEST_SF_DIR, for oracle lints that must reflect the
    gate's conditions."""
    import duckdb

    from crypto_etl_pipeline_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    yield con
    con.close()


_VACUITY_CACHE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".vacuity_cache.json"
)


@pytest.fixture(scope="module")
def vacuity_cache():
    """Memo of oracles proven non-vacuous, keyed by md5 of the oracle
    TEXT (the gate parquet fixtures are immutable, so the row count of
    an unchanged oracle cannot change). New or edited oracles miss the
    cache and execute; hits skip ~60s of heavy DuckDB re-runs per full
    suite. The file is committed; delete it to force a full re-check."""
    import json

    cache = {}
    if os.path.exists(_VACUITY_CACHE_PATH):
        with open(_VACUITY_CACHE_PATH) as fh:
            cache = json.load(fh)
    yield cache
    with open(_VACUITY_CACHE_PATH, "w") as fh:
        json.dump(cache, fh, indent=0, sort_keys=True)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_not_vacuous_at_gate_sf(name, duck_gate, vacuity_cache):
    """Vacuity lint (round-3 postmortem): a 0-row oracle makes the
    driver's comparison an empty-vs-empty tautology — the first
    inverted-index query 'passed' at every SF while matching nothing.
    Every oracle must select at least one row at the gate SF."""
    import hashlib

    spec = REGISTRY[name]
    key = hashlib.md5(spec.oracle.encode()).hexdigest()
    if vacuity_cache.get(name) == key:
        return  # this exact oracle text already proved non-vacuous
    rows = duck_gate.execute(f"SELECT count(*) FROM ({spec.oracle})").fetchone()
    assert rows[0] > 0, f"{name}: oracle returns 0 rows at sf0.01 — vacuous comparison"
    vacuity_cache[name] = key
