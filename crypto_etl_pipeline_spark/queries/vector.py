"""Similarity-search queries over the embeddings table (§2.13).

Every cosine here is the exact integer kernel of operators/similarity.py
(``pair_ci_pd`` in Spark, ``duck_pair_ci`` in the oracles): ``ci`` is
the cosine in units of 1e-4, bit-identical in both engines, and
``cos_sim = ci / 10000.0``. Ranking ties break on neighbor_id in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.operators.similarity import (
    LSH_SCALE,
    PQ_K,
    PQ_M,
    PQ_SUBDIM,
    SEM_CELL_CAP,
    _hyperplanes,
    _probe_masks,
    _spread,
    brute_force_topk,
    duck_pair_ci,
    duck_qv,
    lsh_bucketed_topk,
    pair_ci_pd,
)
from crypto_etl_pipeline_spark.operators.bitext import (
    BITEXT_K,
    bitext_margin_pairs,
    margin_scores,
    mine_bitext,
)
from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table

# Query-side frames carry `.limit(N_QUERIES)` on top of the id filter:
# the filter already selects exactly N_QUERIES dense ids, but the limit
# makes the bound STRUCTURAL — the broadcast-hint lint (plans/lint.py)
# can prove the hinted side is not corpus-sized without trusting the
# predicate.
N_QUERIES = 10
TOP_K = 10
N_PLANES = 6
#: multi-probe radius — the registered operating point. The synthetic
#: embeddings are near-orthogonal (worst case for sign-LSH: per-plane
#: agreement p ≈ 0.5+ε), so radius 2 measures ~0.5 recall@10 and
#: radius 3 ~0.78 (full curve in BASELINE.md §ANN recall/cost). Radius
#: 3 probes sum C(6,0..3)=42 buckets — acceptable here because recall
#: is the gated contract; corpora with real neighbor structure hit the
#: same recall at radius 1-2.
PROBE_RADIUS = 3
IVF_K = 16
IVF_NPROBE = 4

#: the exact plane literals the Spark plan uses (fixed seed) — inlined
#: into the DuckDB oracle below so both engines hash into identical
#: buckets (the projection is exact integer arithmetic; see LSH_SCALE).
_PLANES = _hyperplanes(N_PLANES)

#: floor-quantization of the embedding column, as a DuckDB fragment
_DUCK_QV = duck_qv("embedding")


def _duck_lsh_bucket(qv: str) -> str:
    """DuckDB twin of lsh_signature: one bit per plane over the
    quantized projection."""
    terms = []
    for i, plane in enumerate(_PLANES):
        lits = ", ".join(str(float(x)) for x in plane)
        terms.append(
            f"(CASE WHEN list_dot_product({qv}, [{lits}]::DOUBLE[]) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "ann_brute_force_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DUCK_QV} AS q FROM embeddings),
    q AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < {N_QUERIES}),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {duck_pair_ci("q.qv", "e.q")} / 10000.0 AS cos_sim
      FROM q JOIN e ON e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
    description="Exact cosine top-k via broadcast queries + partitioned window",
    tags=("similarity",),
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    return brute_force_topk(emb, queries, k=TOP_K)


#: embedding_cosine_near_dup's pair threshold, cosine >= 0.40 in ``ci``
#: units: the synthetic embeddings top out at cosine ~0.47 within a
#: label, so a conventional near-dup cutoff (0.9+) would match zero
#: pairs — a vacuous oracle. The operator shape (blocked self-join +
#: cosine filter) is what's under test.
NEAR_DUP_CI = 4000


@register(
    "embedding_cosine_near_dup",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_DUCK_QV} AS q FROM embeddings)
    SELECT id_a, id_b, ci / 10000.0 AS cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {duck_pair_ci("a.q", "b.q")} AS ci
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
    WHERE ci >= {NEAR_DUP_CI}
    """,
    description="Embedding-cosine high-similarity pairs (label-blocked; near-dup shape)",
    tags=("similarity", "dedup"),
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            pair_ci_pd()(F.col("a.embedding"), F.col("b.embedding")).alias("ci"),
        )
        .where(F.col("ci") >= NEAR_DUP_CI)
        .select("id_a", "id_b", (F.col("ci") / 10000.0).alias("cos_sim"))
    )


@register(
    "ann_lsh_bucketed_topk",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, {_DUCK_QV} AS q, {_duck_lsh_bucket(_DUCK_QV)} AS bucket
      FROM embeddings
    ),
    probe AS (
      SELECT s.vec_id, s.q, xor(s.bucket, m.m) AS bucket
      FROM sig s CROSS JOIN (VALUES {", ".join(f"({m})" for m in _probe_masks(N_PLANES, PROBE_RADIUS))}) m(m)
      WHERE s.vec_id < {N_QUERIES}
    ),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {duck_pair_ci("q.q", "c.q")} / 10000.0 AS cos_sim
      FROM probe q JOIN sig c USING (bucket)
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
    description="Multi-probe sign-LSH bucketed approximate top-k (the 100 TB scale path)",
    tags=("similarity",),
)
def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    return lsh_bucketed_topk(
        emb, queries, k=TOP_K, n_planes=N_PLANES, probe_radius=PROBE_RADIUS
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_K})
    ),
    qv AS (SELECT vec_id, embedding, {_DUCK_QV} AS q FROM embeddings),
    adist AS (
      SELECT v.vec_id, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent c
    ),
    ranked_cells AS (
      SELECT vec_id, idx,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
      FROM adist
    ),
    cells AS (SELECT vec_id AS neighbor_id, idx AS cell FROM ranked_cells WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, idx AS cell
               FROM ranked_cells WHERE vec_id < {N_QUERIES} AND rn <= {IVF_NPROBE}),
    sims AS (
      SELECT p.query_id, c.neighbor_id,
             {duck_pair_ci("qe.q", "ne.q")} / 10000.0 AS cos_sim
      FROM qprobe p JOIN cells c USING (cell)
      JOIN qv qe ON qe.vec_id = p.query_id
      JOIN qv ne ON ne.vec_id = c.neighbor_id
      WHERE p.query_id != c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
    description="IVF-cell approximate top-k (seeded cells, nprobe probing)",
    tags=("similarity",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked IVF: cells seeded from the IVF_K lowest-id vectors
    (iters=0 — exactly reproducible in SQL; Lloyd refinement is the
    rows-only ann_ivf_refined_topk below, because distributed avg() FP
    association is not reproducible across engines)."""
    from crypto_etl_pipeline_spark.operators.similarity import ivf_build_centroids, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb, k=IVF_K, iters=0)
    queries = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    return ivf_topk(emb, queries, cents, k=TOP_K, nprobe=IVF_NPROBE)


#: Lloyd steps of the refined IVF centroids (and of their oracle)
IVF_LLOYD_ITERS = 2


def _lloyd_ivf_oracle() -> str:
    """Unrolled Lloyd k-means + IVF probe as SQL (round 6 — this was
    the registry's last rows-only entry). Each iteration is an
    (assignment CTE, per-dimension-mean CTE, centroid-update CTE)
    triple; the final probe is the ann_ivf_topk oracle verbatim over
    the refined centroids. Why cross-engine FP is safe: assignments
    always use FLOOR-QUANTIZED coordinates (exact float64 integers —
    the _nearest_centroid contract), so the only FP surface is whether
    floor(mean * 2^20) flips between the engines' avg() sum orders.
    Mean divergence is ~1e-16 relative against a ~1e-6 absolute floor
    grid: a flip needs a mean within 1e-10 of a grid boundary, ~1e-7
    across all (cell, dim, iter) floors here — and the three tested
    SFs all MATCH. CTEs are AS MATERIALIZED (the bpe_train_merges
    lesson: DuckDB inlining re-evaluates chained CTE references
    exponentially). Empty cells keep their previous centroid, matching
    ivf_build_centroids."""
    ctes = [
        f"""qv AS MATERIALIZED (
      SELECT vec_id, embedding, {_DUCK_QV} AS q FROM embeddings
    )""",
        f"""cent0 AS MATERIALIZED (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_K})
    )""",
    ]
    scale = float(LSH_SCALE)
    for i in range(1, IVF_LLOYD_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes.append(f"""assign{i} AS MATERIALIZED (
      SELECT vec_id, idx AS cell FROM (
        SELECT v.vec_id, c.idx,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc), c.idx) AS rn
        FROM qv v CROSS JOIN {prev} c)
      WHERE rn = 1
    )""")
        ctes.append(f"""mean{i} AS MATERIALIZED (
      SELECT cell AS idx,
             list_transform(list(m ORDER BY pos), m -> floor(m * {scale})) AS qc
      FROM (
        SELECT a.cell, u.pos, avg(u.x::DOUBLE) AS m
        FROM assign{i} a JOIN qv e USING (vec_id),
             LATERAL (SELECT unnest(e.embedding) AS x,
                             generate_subscripts(e.embedding, 1) AS pos) u
        GROUP BY a.cell, u.pos)
      GROUP BY cell
    )""")
        ctes.append(f"""cent{i} AS MATERIALIZED (
      SELECT p.idx, coalesce(m.qc, p.qc) AS qc
      FROM {prev} p LEFT JOIN mean{i} m USING (idx)
    )""")
    tail = f""",
    adist AS MATERIALIZED (
      SELECT v.vec_id, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent{IVF_LLOYD_ITERS} c
    ),
    ranked_cells AS MATERIALIZED (
      SELECT vec_id, idx,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
      FROM adist
    ),
    cells AS (SELECT vec_id AS neighbor_id, idx AS cell FROM ranked_cells WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, idx AS cell
               FROM ranked_cells WHERE vec_id < {N_QUERIES} AND rn <= {IVF_NPROBE}),
    sims AS (
      SELECT p.query_id, c.neighbor_id,
             {duck_pair_ci("qe.q", "ne.q")} / 10000.0 AS cos_sim
      FROM qprobe p JOIN cells c USING (cell)
      JOIN qv qe ON qe.vec_id = p.query_id
      JOIN qv ne ON ne.vec_id = c.neighbor_id
      WHERE p.query_id != c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}"""
    return "WITH " + ",\n    ".join(ctes) + tail


@register(
    "ann_ivf_refined_topk",
    oracle=_lloyd_ivf_oracle(),
    description="IVF with Lloyd-refined centroids — fully oracled via an unrolled assignment/mean/update SQL chain (recall-tested too)",
    tags=("similarity", "iterative"),
)
def ann_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-refined IVF (2 k-means steps over the seeded cells). The
    refinement loop is distributed (assignment pass + per-dimension
    mean; only k centroid vectors reach the driver), and since round 6
    it is ALSO fully oracled: the floor-quantized assignment contract
    makes each Lloyd step SQL-replayable, so the unrolled chain in
    _lloyd_ivf_oracle replays training AND probe (verified MATCH at
    sf0.001/0.01/0.1). Recall vs brute force stays pytest-gated
    (>= 0.8 at nprobe=4)."""
    from crypto_etl_pipeline_spark.operators.similarity import ivf_build_centroids, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb, k=IVF_K, iters=IVF_LLOYD_ITERS)
    queries = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    return ivf_topk(emb, queries, cents, k=TOP_K, nprobe=IVF_NPROBE)


@register(
    "embedding_int8_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS sc
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, embedding, sc,
             CASE WHEN sc = 0 THEN list_transform(embedding, x -> 0::BIGINT)
                  ELSE list_transform(embedding, x -> round(x::DOUBLE / sc, 0)::BIGINT)
             END AS qv
      FROM s
    )
    SELECT vec_id,
           list_sum(list_transform(qv, x -> abs(x)))::BIGINT AS q_l1,
           round(list_sum(list_transform(generate_series(1, len(embedding)),
                                         i -> pow(embedding[i]::DOUBLE - qv[i] * sc, 2))), 8)
             AS recon_err
    FROM q
    """,
    description="Symmetric int8 scalar quantization of embeddings + reconstruction error",
    tags=("similarity", "quantize"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = round(x_i/scale) (so the max maps to +/-127), plus the L2
    reconstruction error — the storage-shrink pass an embedding corpus
    runs before ANN indexing (4x smaller vectors, one map-only stage).

    The scale is computed behind its OWN projection and an exchange
    (_spread) separates it from the lambdas that reference it: an
    inlined array_max would re-evaluate per element under the HOF
    re-evaluation hazard (operators/dedup.py). A zero vector (scale 0)
    quantizes to all zeros rather than dividing by zero.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    s = _spread(emb).select(
        "vec_id",
        F.col("embedding").alias("_v"),
        (
            F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
            / 127.0
        ).alias("_s"),
    )
    q = s.select(
        "vec_id",
        "_v",
        "_s",
        F.when(
            F.col("_s") == 0,
            F.transform(F.col("_v"), lambda x: F.lit(0).cast("long")),
        )
        .otherwise(
            F.transform(
                F.col("_v"), lambda x: F.round(x.cast("double") / F.col("_s"), 0).cast("long")
            )
        )
        .alias("_q"),
    )
    err_terms = F.zip_with(
        F.col("_v"),
        F.col("_q"),
        lambda x, qq: F.pow(x.cast("double") - qq * F.col("_s"), 2),
    )
    return q.select(
        "vec_id",
        F.aggregate(
            F.transform(F.col("_q"), lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("q_l1"),
        F.round(F.aggregate(err_terms, F.lit(0.0), lambda a, b: a + b), 8).alias("recon_err"),
    )


@register(
    "embedding_norm_stats",
    oracle="""
    SELECT vec_id,
           label,
           len(embedding) AS dim,
           round(list_sum(list_transform(embedding, x -> (x::DOUBLE) * (x::DOUBLE))), 6)
             AS norm2,
           round(list_min(embedding), 6) AS vmin,
           round(list_max(embedding), 6) AS vmax,
           len(list_filter(embedding, x -> x > 0)) AS n_pos
    FROM embeddings
    """,
    description="Per-vector norm/extrema/positivity via higher-order array functions (quality screen before ANN)",
    tags=("vector", "hof"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-quality screen a corpus runs before indexing:
    squared L2 norm (catches un-normalized or zero vectors), extrema,
    and positive-component count, all per row via higher-order
    functions. Lambdas reference ONLY the array attribute (the
    HOF-inlining trap documented in operators/dedup.py does not apply),
    and both engines fold left-to-right over the same element order
    with explicit float->double casts before multiplying, so the sums
    are bit-identical before rounding. No shuffle at all — this is a
    pure map over the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    x2 = lambda acc, x: acc + x.cast("double") * x.cast("double")  # noqa: E731
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate("embedding", F.lit(0.0), x2), 6).alias("norm2"),
        F.round(F.array_min("embedding"), 6).alias("vmin"),
        F.round(F.array_max("embedding"), 6).alias("vmax"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


SEM_K_MIN = 16  #: semantic-dedup cell-count floor (seeded, quantized)
SEM_TARGET_CELL = 128  #: target mean cell size — k SCALES with the corpus
#: (r11 verdict #6): k = max(SEM_K_MIN, ceil(n / SEM_TARGET_CELL)), the
#: paper's cell-count-grows-with-corpus discipline, so within-cell pair
#: work stays ~TARGET²/2 per cell as n grows instead of (n/16)²/2. At
#: every driver-compared SF (n <= 2000) k resolves to 16, so the oracle
#: margins and plan fingerprints are unchanged; the growth is exercised
#: by the sf>=1 scale fixtures.


def sem_k(n_vectors: int) -> int:
    """Corpus-scaled SemDeDup cell count (deterministic: a pure
    function of the corpus row count; seeds stay the lowest-k ids)."""
    import math

    return max(SEM_K_MIN, math.ceil(n_vectors / SEM_TARGET_CELL))


#: per-process memo sf_dir -> embeddings row count, read from parquet
#: FOOTER metadata (no Spark job): plan construction must stay
#: action-free — r12's sem_k(emb.count()) ran a full count() action on
#: every plan build (lint/fingerprint tests, every bench pass).
_EMB_COUNT_MEMO: dict = {}


def _emb_count(sf_dir: str) -> int:
    if sf_dir not in _EMB_COUNT_MEMO:
        import os

        import pyarrow.dataset as pads

        path = os.path.join(sf_dir, "embeddings.parquet")
        _EMB_COUNT_MEMO[sf_dir] = pads.dataset(path, format="parquet").count_rows()
    return _EMB_COUNT_MEMO[sf_dir]


#: DuckDB scalar-subquery twin of :func:`sem_k` — usable in LIMIT
_SEM_K_SQL = (
    f"(SELECT greatest({SEM_K_MIN}, CAST(ceil(count(*) / {SEM_TARGET_CELL}.0) "
    "AS BIGINT)) FROM embeddings)"
)
SEM_TAU = 3500  #: within-cell cosine threshold, in ``ci`` units (cosine >= 0.35)


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE
    cent AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_SEM_K_SQL})
    ),
    qv AS (SELECT vec_id, {_DUCK_QV} AS q FROM embeddings),
    adist AS (
      SELECT v.vec_id, v.q, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent c
    ),
    cells AS (
      SELECT vec_id, q, idx AS cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
            FROM adist)
      WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {duck_pair_ci("a.q", "b.q")} >= {SEM_TAU}
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.id
    )
    SELECT id AS vec_id,
           min(label)      AS cluster_id,
           min(label) = id AS is_canonical
    FROM reach GROUP BY id
    """,
    description="SemDeDup-style semantic dedup: IVF cells -> within-cell cosine pairs -> connected-component canonical keep",
    tags=("dedup", "similarity", "iterative"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. arXiv:2303.09540):
    near-duplicate MEANING, not near-duplicate text — embeddings are
    clustered, cosine similarity is computed only WITHIN a cluster, and
    each similarity component keeps one canonical representative.

    The scale shape is the paper's: the O(n^2) cosine matrix is never
    formed — pairwise work is bounded per cell (cell count k scales
    with the corpus so cells stay memory-sized; assignment is one
    Arrow-batched pass reusing the IVF centroid kernel, and at 100 TB
    the assigned table persists partitioned by cell so re-dedup probes
    prune). Components run on the endpoint-restricted iterative CC
    operator (one distributed job per round, lazily checkpointed).
    Cells are seeded from the k lowest-id vectors (k corpus-scaled via
    sem_k — fixed 16 at all driver-compared SFs) with
    floor-quantized exact-integer distances — the same SQL-reproducible
    assignment contract as ann_ivf_topk, which is what lets a recursive
    CTE replay the whole pipeline as the oracle. Reference: no
    embedding surface at all (SURVEY §1.2) — extension."""
    from crypto_etl_pipeline_spark.operators.cluster import dedup_clusters
    from crypto_etl_pipeline_spark.operators.similarity import (
        cap_hot_cells,
        ivf_assign_cells,
        ivf_build_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb, k=sem_k(_emb_count(sf_dir)), iters=0)
    # cap_hot_cells bounds the quadratic within-cell stage: any cell
    # over SEM_CELL_CAP splits into deterministic sub-cells (the IVF
    # twin of the LSH bucket cap). With k corpus-scaled (sem_k) mean
    # cell size stays ~SEM_TARGET_CELL, so the cap only fires on one
    # DEGENERATE cluster. No-op at tested SFs, so the SQL oracle replays.
    cells = cap_hot_cells(
        ivf_assign_cells(emb, cents).select(
            F.col("neighbor_id").alias("vec_id"), "_cell", "_cvec"
        ),
        max_cell_size=SEM_CELL_CAP,
    ).localCheckpoint(eager=False)
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            pair_ci_pd()(F.col("a._cvec"), F.col("b._cvec")).alias("_ci"),
        )
        .where(F.col("_ci") >= SEM_TAU)
        .select("id_a", "id_b")
    )
    return dedup_clusters(emb.select("vec_id"), pairs, id_col="vec_id")


MMR_K = 3  #: diversified selections per query
MMR_LAMBDA = 0.7  #: relevance weight; 1-MMR_LAMBDA penalizes redundancy


def _mmr_oracle(k: int) -> str:
    """Unrolled k-step MMR in SQL: each step is an argmax CTE over the
    previous selections. All similarities are exact ``ci / 10000.0``
    values, so both engines rank identical values; ties break on
    candidate id."""
    lam, mu = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    ctes = [
        f"""e AS (SELECT vec_id, {_DUCK_QV} AS q FROM embeddings)""",
        f"""sims AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, c.q AS cq,
             {duck_pair_ci("q.q", "c.q")} / 10000.0 AS rel
      FROM e q JOIN e c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )""",
        """s1 AS (
      SELECT qid, cid, cq, rel, 0.0 AS maxdiv
      FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
            FROM sims) WHERE rn = 1
    )""",
    ]
    for i in range(2, k + 1):
        prev = [f"s{j}" for j in range(1, i)]
        joins = " ".join(f"JOIN {p} ON {p}.qid = s.qid" for p in prev)
        notin = " AND ".join(f"s.cid != {p}.cid" for p in prev)
        div_exprs = [f"{duck_pair_ci('s.cq', f'{p}.cq')} / 10000.0" for p in prev]
        gdiv = div_exprs[0] if len(div_exprs) == 1 else f"greatest({', '.join(div_exprs)})"
        ctes.append(
            f"""s{i} AS (
      SELECT qid, cid, cq, rel, maxdiv
      FROM (SELECT s.qid, s.cid, s.cq, s.rel, {gdiv} AS maxdiv,
                   row_number() OVER (PARTITION BY s.qid
                                      ORDER BY {lam} * s.rel - {mu} * {gdiv} DESC, s.cid) AS rn
            FROM sims s {joins}
            WHERE {notin})
      WHERE rn = 1
    )"""
        )
    steps = "\n    UNION ALL\n    ".join(
        f"SELECT qid AS query_id, {i} AS step, cid AS neighbor_id, rel,"
        f" round({lam} * rel - {mu} * maxdiv, 6) AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + steps


@register(
    "ann_mmr_diversified_topk",
    oracle=_mmr_oracle(MMR_K),
    description="MMR diversified retrieval: k greedy selections trading relevance vs redundancy to the already-picked set",
    tags=("similarity", "topk"),
)
def ann_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98) —
    the retrieval-diversity op a RAG/few-shot curation pipeline runs so
    k near-identical passages don't fill the context window: each step
    picks argmax of lambda*rel(q,d) - (1-lambda)*max_sim(d, selected).
    The loop is UNROLLED into the lazy plan (k is small by definition):
    no driver round-trips, no collect — each step broadcast-joins the
    10-row previous selections back onto the slim (qid, cid, rel, emb)
    candidate table and takes a per-query WindowGroupLimit argmax. At
    100 TB the candidate table is an ANN shortlist (ann_ivf_topk /
    lsh), never the corpus; the same plan applies unchanged. All sims
    are exact ``ci / 10000.0`` values, so both engines rank the same
    values with id tie-breaks."""
    lam, mu = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    from pyspark.sql.window import Window

    emb = _spread(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    q, c = emb.alias("q"), emb.alias("c")
    sims = (
        q.where(F.col("q.vec_id") < N_QUERIES).limit(N_QUERIES)
        .join(c, F.col("c.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("qid"),
            F.col("c.vec_id").alias("cid"),
            F.col("c.embedding").alias("cemb"),
            (pair_ci_pd()(F.col("q.embedding"), F.col("c.embedding")) / 10000.0).alias("rel"),
        )
        .localCheckpoint(eager=False)
    )
    picks = []  # per-step DataFrames of (qid, cid, cemb, rel, maxdiv)
    w = Window.partitionBy("qid")
    for step in range(1, MMR_K + 1):
        if not picks:
            scored = sims.select("qid", "cid", "cemb", "rel", F.lit(0.0).alias("maxdiv"))
            order = [F.desc("rel"), F.asc("cid")]
        else:
            cur = sims
            div_cols = []
            for j, p in enumerate(picks):
                pj = F.broadcast(
                    p.select(
                        F.col("qid").alias(f"_q{j}"),
                        F.col("cid").alias(f"_c{j}"),
                        F.col("cemb").alias(f"_e{j}"),
                    )
                )
                cur = cur.join(pj, cur.qid == F.col(f"_q{j}"))
                div_cols.append(pair_ci_pd()(F.col("cemb"), F.col(f"_e{j}")) / 10000.0)
            keep = None
            for j in range(len(picks)):
                cond = F.col("cid") != F.col(f"_c{j}")
                keep = cond if keep is None else (keep & cond)
            maxdiv = div_cols[0] if len(div_cols) == 1 else F.greatest(*div_cols)
            scored = cur.where(keep).select(
                "qid", "cid", "cemb", "rel", maxdiv.alias("maxdiv")
            )
            order = [
                F.desc(F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("maxdiv")),
                F.asc("cid"),
            ]
        top = (
            scored.withColumn("_rn", F.row_number().over(w.orderBy(*order)))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        picks.append(top)
    out = None
    for i, p in enumerate(picks, start=1):
        step_df = p.select(
            F.col("qid").alias("query_id"),
            F.lit(i).alias("step"),
            F.col("cid").alias("neighbor_id"),
            "rel",
            F.round(F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("maxdiv"), 6).alias(
                "mmr_score"
            ),
        )
        out = step_df if out is None else out.unionByName(step_df)
    return out


#: per-process memo (sf_dir -> (index_path, centroids)) so the probe
#: query measures the STEADY-STATE read, not the index write — the
#: r11 verdict's band-measurement artifact (#4): the combined
#: build+probe query's bench number (2.6-8.4 s observed) tracked disk
#: state, not the operator.
_IVF_INDEX_MEMO: dict = {}


def _ivf_persisted_index(spark: SparkSession, sf_dir: str, rebuild: bool = False):
    """Build (or reuse) the cell-partitioned persisted IVF index for
    ``sf_dir``: seeded centroids (iters=0, SQL-reproducible), corpus
    assigned via the quantized-distance kernel, written partitionBy
    cell — the 100 TB at-rest layout. Returns (path, centroids)."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_build_centroids,
    )
    from crypto_etl_pipeline_spark.sources.sinks import scratch_dir

    import os

    if not rebuild and sf_dir in _IVF_INDEX_MEMO:
        # Validate before reuse (ADVICE r12): the scratch path can be
        # cleaned externally — fall back to a rebuild instead of
        # handing the probe a dangling parquet path. (The memoized
        # centroids are a plain list of floats, session-independent.)
        if not os.path.isdir(_IVF_INDEX_MEMO[sf_dir][0]):
            del _IVF_INDEX_MEMO[sf_dir]
    if rebuild or sf_dir not in _IVF_INDEX_MEMO:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = ivf_build_centroids(emb, k=IVF_K, iters=0)
        path = scratch_dir("ivf_index_") + "/cells"
        # r13: hash-distribute by the partition column before the
        # partitioned write (Iceberg's write.distribution-mode=hash
        # discipline, guide §6): without it every input task opens a
        # file in every cell directory (tasks x cells small files —
        # the write AND the probe's read-back pay the per-file
        # overhead); with it each cell is one task -> one file. At
        # scale the repartition is the price of file-count health; a
        # production build sizes it repartition(N, _cell) to the
        # target file size.
        ivf_assign_cells(emb, cents).repartition(F.col("_cell")).write.mode(
            "overwrite"
        ).partitionBy("_cell").parquet(path)
        _IVF_INDEX_MEMO[sf_dir] = (path, cents)
    return _IVF_INDEX_MEMO[sf_dir]


@register(
    "ann_ivf_index_build",
    oracle=f"""
    WITH cent AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_K})
    ),
    qv AS (SELECT vec_id, embedding, {_DUCK_QV} AS q FROM embeddings),
    adist AS (
      SELECT v.vec_id, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent c
    ),
    ranked_cells AS (
      SELECT vec_id, idx,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
      FROM adist
    )
    SELECT idx AS cell, count(*) AS n_vecs
    FROM ranked_cells WHERE rn = 1
    GROUP BY idx
    """,
    description="IVF index BUILD: assign corpus to cells, persist partitioned by cell, report per-cell sizes (write-cost query)",
    tags=("similarity", "sink"),
)
def ann_ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-construction half of the persisted-IVF pair (r11
    verdict #4 split ann_ivf_persisted_probe into build + probe so the
    bench tripwire watches each cost separately). This query IS the
    write: it always rebuilds, and its bench band is understood to be
    write/disk cost. The returned per-cell histogram is the build's
    natural audit artifact — cell skew here is what ivf_hot_cells /
    cap_hot_cells act on — and is fully DuckDB-oracled through the
    same quantized-distance cell assignment as ann_ivf_topk."""
    path, _ = _ivf_persisted_index(spark, sf_dir, rebuild=True)
    return (
        spark.read.parquet(path)
        .groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select(F.col("_cell").cast("long").alias("cell"), "n_vecs")
    )


@register(
    "ann_ivf_probe_only",
    oracle=None,  # set below: identical contract to ann_ivf_topk
    description="IVF probe against the ALREADY-PERSISTED cell-partitioned index: steady-state read path, DPP-pruned",
    tags=("similarity",),
)
def ann_ivf_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state half: probe the persisted cell-partitioned
    index WITHOUT paying the write (the memoized index is built once
    per process; bench's min-of-2 therefore measures the warm probe —
    the cost that actually recurs per query batch at 100 TB). The
    nprobe cell ids arrive through the broadcast probe join, so the
    parquet read prunes to the probed partitions via DYNAMIC partition
    pruning (plan-asserted in tests/test_scale_patterns.py). Results
    are bit-identical to ann_ivf_topk (same seeded centroids, same
    quantized distances), so it shares that query's full oracle."""
    from crypto_etl_pipeline_spark.operators.similarity import ivf_topk

    path, cents = _ivf_persisted_index(spark, sf_dir)
    index = spark.read.parquet(path)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    return ivf_topk(emb, queries, cents, k=TOP_K, nprobe=IVF_NPROBE, cells=index)


# share the oracle with ann_ivf_topk (identical result contract)
from crypto_etl_pipeline_spark.queries.base import REGISTRY as _REG  # noqa: E402

_REG["ann_ivf_probe_only"].oracle = _REG["ann_ivf_topk"].oracle


JL_OUT_DIM = 16
JL_IN_DIM = 64


@register(
    "embedding_random_projection",
    oracle=f"""
    WITH sign AS (
      SELECT i.i AS i, j.j AS j,
             CASE WHEN ascii(substr(md5(CAST(i.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 1)) % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM generate_series(0, {JL_IN_DIM - 1}) i(i)
      CROSS JOIN generate_series(0, {JL_OUT_DIM - 1}) j(j)
    ),
    el AS (
      SELECT e.vec_id, u.pos - 1 AS i, u.x::DOUBLE AS x
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS pos) u
    )
    SELECT el.vec_id, s.j AS out_pos, round(sum(el.x * s.s), 6) AS proj
    FROM el JOIN sign s ON el.i = s.i
    GROUP BY el.vec_id, s.j
    """,
    description="Johnson-Lindenstrauss Rademacher projection 64->16: Arrow-batched matmul, md5-parity sign matrix shared with the oracle",
    tags=("vector", "pandas-udf", "projection"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL dimensionality reduction as the pre-ANN scale lever: at 100 TB
    with wide embeddings (1k-4k dims), projecting to O(log n / eps^2)
    dims before LSH/IVF cuts every downstream distance computation and
    shuffle byte count by D/d while preserving pairwise geometry
    (Achlioptas ±1 JL variant). The sign matrix derives from md5
    parity — portable across engines — so the DuckDB twin regenerates
    it in SQL and checks the projected values exactly (round 6; the
    only cross-engine slack is double summation order, ~1e-13).
    Spark side is a single mapInPandas matmul: map-only, no shuffle;
    the oracle's unnest-join-groupBy n*D*d shape survives only on the
    DuckDB side."""
    from crypto_etl_pipeline_spark.operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb, JL_IN_DIM, JL_OUT_DIM)


@register(
    "ann_jl_projected_topk",
    oracle=f"""
    WITH sign AS (
      SELECT i.i AS i, j.j AS j,
             CASE WHEN ascii(substr(md5(CAST(i.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 1)) % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM generate_series(0, {JL_IN_DIM - 1}) i(i)
      CROSS JOIN generate_series(0, {JL_OUT_DIM - 1}) j(j)
    ),
    el AS (
      SELECT e.vec_id, u.pos - 1 AS i, u.x::DOUBLE AS x
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS pos) u
    ),
    proj AS (
      SELECT el.vec_id,
             list(round(p, 6) ORDER BY j) AS jl_vec
      FROM (
        SELECT el.vec_id, s.j, sum(el.x * s.s) AS p
        FROM el JOIN sign s ON el.i = s.i
        GROUP BY el.vec_id, s.j
      ) el GROUP BY el.vec_id
    ),
    pq AS (SELECT vec_id, {duck_qv("jl_vec")} AS q FROM proj),
    q AS (SELECT vec_id AS query_id, q AS qv FROM pq WHERE vec_id < {N_QUERIES}),
    sims AS (
      SELECT q.query_id, p.vec_id AS neighbor_id,
             {duck_pair_ci("q.qv", "p.q")} / 10000.0 AS cos_sim
      FROM q JOIN pq p ON p.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
    description="ANN in JL-projected 16-dim space: project once (map-only), then exact top-k over 4x-cheaper vectors",
    tags=("similarity", "projection"),
)
def ann_jl_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL -> ANN composition: search runs entirely in the 16-dim
    sketch space, so every distance costs D/d = 4x less and — the part
    that matters at 100 TB — the vectors shuffled/broadcast are 4x
    smaller in bytes. Exactness is deliberately defined IN the
    projected space (top-k by the exact projected cosine + id
    tie-break), which makes the whole composition deterministic and
    fully oracle-able. Honest fidelity note: JL guarantees pairwise
    DISTANCE preservation (gated in tests/test_round6b_ops.py), not
    rank preservation — on this corpus the true top-10 cosine margins
    (~0.02) sit far below JL@16 distortion, so measured top-10 overlap
    vs full space is 0.15 (chance 0.02; sanity-floored in pytest, not
    claimed as high-recall ANN). The production use of the sketch
    space is distance-THRESHOLD work (near-dup cuts, radius filters,
    clustering) where eps-distortion is the right contract; for fine
    ranking, use it as a bytes-reduction stage before exact re-rank.
    Plan: one map-only projection pass feeding the brute_force_topk
    broadcast-window shape — no extra shuffle beyond the k-survivor
    window."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        random_projection_vec,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection_vec(emb, JL_IN_DIM, JL_OUT_DIM)
    # project the FILTERED frame for the query side: a predicate above
    # mapInPandas cannot push below it, so filtering proj would re-run
    # the full-corpus matmul to keep N_QUERIES rows; the projection is
    # deterministic per-row, so projecting the filtered scan is
    # row-for-row identical and the query side costs N_QUERIES rows.
    queries = random_projection_vec(
        emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES), JL_IN_DIM, JL_OUT_DIM
    )
    return brute_force_topk(proj, queries, k=TOP_K, vec_col="jl_vec")


PCA_ITERS = 2


@register(
    "embedding_pca_top_component",
    oracle=f"""
    WITH el AS (
      SELECT e.vec_id, u.pos - 1 AS i, u.x::DOUBLE AS x
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS pos) u
    ),
    cnt AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
    m AS (SELECT i, sum(x) / (SELECT n FROM cnt) AS mi FROM el GROUP BY i),
    xtx AS (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s
      FROM el a JOIN el b USING (vec_id) GROUP BY a.i, b.i
    ),
    cov AS (
      SELECT x.i, x.j, x.s / (SELECT n FROM cnt) - ma.mi * mb.mi AS c
      FROM xtx x JOIN m ma ON ma.i = x.i JOIN m mb ON mb.i = x.j
    ),
    v0 AS (SELECT t.i AS i, 1.0 / sqrt({JL_IN_DIM}) AS v
           FROM generate_series(0, {JL_IN_DIM - 1}) t(i)),
    w1 AS (SELECT cov.i AS i, sum(cov.c * v0.v) AS w
           FROM cov JOIN v0 ON v0.i = cov.j GROUP BY cov.i),
    v1 AS (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w1) AS v FROM w1),
    w2 AS (SELECT cov.i AS i, sum(cov.c * v1.v) AS w
           FROM cov JOIN v1 ON v1.i = cov.j GROUP BY cov.i),
    v2 AS (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w2) AS v FROM w2),
    cv AS (SELECT cov.i AS i, sum(cov.c * v2.v) AS w
           FROM cov JOIN v2 ON v2.i = cov.j GROUP BY cov.i),
    ray AS (SELECT sum(v2.v * cv.w) AS r FROM v2 JOIN cv USING (i))
    SELECT v2.i AS pos, round(v2.v, 6) AS loading,
           round((SELECT r FROM ray), 6) AS eigenvalue
    FROM v2
    """,
    description="PCA top component: one dim^2 moment shuffle + driver power iteration (2 matvecs, oracle-unrolled)",
    tags=("vector", "linalg", "iterative"),
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA by sufficient statistics: executors reduce the
    corpus to X^T X + mean + count partials (Arrow numpy, map-side
    combined), ONE shuffle of dim^2 = 4096 rows merges them, and the
    driver runs a fixed-2-step power iteration on the 64x64 Gram
    matrix — the lrmodel.py discipline applied to eigen-analysis, so
    the driver-side cost is corpus-size-free and the plan is identical
    at 100 TB (the moment pass is embarrassingly parallel over
    splits). The DuckDB twin recomputes the covariance via an
    el-x-el self-join and unrolls the same two matvecs in CTEs;
    convergence to the true eigenvector (vs fixed iteration count) is
    gated in pytest against numpy.linalg.eigh at 20 iterations."""
    from crypto_etl_pipeline_spark.operators.linalg import pca_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top_component(emb, JL_IN_DIM, iters=PCA_ITERS)


@register(
    "embedding_pca_by_label",
    oracle=f"""
    WITH el AS (
      SELECT e.vec_id, e.label, u.pos - 1 AS i, u.x::DOUBLE AS x
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS pos) u
    ),
    cnt AS (SELECT label, count(*)::DOUBLE AS n FROM embeddings GROUP BY label),
    m AS (SELECT el.label, el.i, sum(el.x) / c.n AS mi
          FROM el JOIN cnt c USING (label) GROUP BY el.label, el.i, c.n),
    xtx AS (
      SELECT a.label, a.i AS i, b.i AS j, sum(a.x * b.x) AS s
      FROM el a JOIN el b ON a.vec_id = b.vec_id
      GROUP BY a.label, a.i, b.i
    ),
    cov AS (
      SELECT x.label, x.i, x.j, x.s / c.n - ma.mi * mb.mi AS c
      FROM xtx x
      JOIN cnt c ON c.label = x.label
      JOIN m ma ON ma.label = x.label AND ma.i = x.i
      JOIN m mb ON mb.label = x.label AND mb.i = x.j
    ),
    tr AS (SELECT label, sum(c) AS trace FROM cov WHERE i = j GROUP BY label),
    v0 AS (SELECT c.label, t.i AS i, 1.0 / sqrt({JL_IN_DIM}) AS v
           FROM cnt c CROSS JOIN generate_series(0, {JL_IN_DIM - 1}) t(i)),
    w1 AS (SELECT cov.label, cov.i AS i, sum(cov.c * v0.v) AS w
           FROM cov JOIN v0 ON v0.label = cov.label AND v0.i = cov.j
           GROUP BY cov.label, cov.i),
    n1 AS (SELECT label, sqrt(sum(w * w)) AS nw FROM w1 GROUP BY label),
    v1 AS (SELECT w1.label, w1.i, w1.w / n1.nw AS v FROM w1 JOIN n1 USING (label)),
    w2 AS (SELECT cov.label, cov.i AS i, sum(cov.c * v1.v) AS w
           FROM cov JOIN v1 ON v1.label = cov.label AND v1.i = cov.j
           GROUP BY cov.label, cov.i),
    n2 AS (SELECT label, sqrt(sum(w * w)) AS nw FROM w2 GROUP BY label),
    v2 AS (SELECT w2.label, w2.i, w2.w / n2.nw AS v FROM w2 JOIN n2 USING (label)),
    cv AS (SELECT cov.label, cov.i AS i, sum(cov.c * v2.v) AS w
           FROM cov JOIN v2 ON v2.label = cov.label AND v2.i = cov.j
           GROUP BY cov.label, cov.i),
    ray AS (SELECT v2.label, sum(v2.v * cv.w) AS r
            FROM v2 JOIN cv ON cv.label = v2.label AND cv.i = v2.i
            GROUP BY v2.label)
    SELECT r.label, CAST(c.n AS INT) AS n_vecs,
           round(r.r, 6) AS eigenvalue,
           round(r.r / t.trace, 6) AS explained_share
    FROM ray r JOIN cnt c USING (label) JOIN tr t USING (label)
    """,
    description="Per-label PCA summary: grouped dim^2 moment shuffle + G driver power iterations; explained-variance share per cluster",
    tags=("vector", "linalg", "iterative"),
)
def embedding_pca_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped form of `embedding_pca_top_component`: per-label
    covariance sufficient statistics in ONE Arrow pass (the group key
    rides the moment rows; exchange = G * dim^2 rows), then G tiny
    power iterations driver-side. explained_share = ray/trace flags
    anisotropic clusters (a dominant direction = near-duplicate or
    template-generated members) vs isotropic ones — a per-cluster
    curation signal no single global PCA gives. The DuckDB twin is the
    single-corpus oracle with `label` threaded through every CTE —
    same two unrolled matvecs per group."""
    from crypto_etl_pipeline_spark.operators.linalg import pca_top_by_group

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top_by_group(emb, JL_IN_DIM, iters=PCA_ITERS)


@register(
    "embedding_pca_residual_outliers",
    oracle=f"""
    WITH el AS (
      SELECT e.vec_id, u.pos - 1 AS i, u.x::DOUBLE AS x
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS pos) u
    ),
    cnt AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
    m AS (SELECT i, sum(x) / (SELECT n FROM cnt) AS mi FROM el GROUP BY i),
    xtx AS (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s
      FROM el a JOIN el b USING (vec_id) GROUP BY a.i, b.i
    ),
    cov AS (
      SELECT x.i, x.j, x.s / (SELECT n FROM cnt) - ma.mi * mb.mi AS c
      FROM xtx x JOIN m ma ON ma.i = x.i JOIN m mb ON mb.i = x.j
    ),
    v0 AS (SELECT t.i AS i, 1.0 / sqrt({JL_IN_DIM}) AS v
           FROM generate_series(0, {JL_IN_DIM - 1}) t(i)),
    w1 AS (SELECT cov.i AS i, sum(cov.c * v0.v) AS w
           FROM cov JOIN v0 ON v0.i = cov.j GROUP BY cov.i),
    v1 AS (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w1) AS v FROM w1),
    w2 AS (SELECT cov.i AS i, sum(cov.c * v1.v) AS w
           FROM cov JOIN v1 ON v1.i = cov.j GROUP BY cov.i),
    v2 AS (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w2) AS v FROM w2),
    consts AS (
      SELECT (SELECT sum(v2.v * m.mi) FROM v2 JOIN m ON m.i = v2.i) AS mv,
             (SELECT sum(mi * mi) FROM m) AS mmn
    ),
    pv AS (
      SELECT el.vec_id,
             sum(el.x * v2.v) AS xv,
             sum(el.x * mm.mi) AS xm,
             sum(el.x * el.x) AS xx
      FROM el JOIN v2 ON v2.i = el.i JOIN m mm ON mm.i = el.i
      GROUP BY el.vec_id
    ),
    sc AS (
      SELECT vec_id,
             xv - (SELECT mv FROM consts) AS score,
             xx - 2 * xm + (SELECT mmn FROM consts) AS n2
      FROM pv
    )
    SELECT vec_id, round(score, 6) AS pc1_score,
           round(n2 - score * score, 6) AS residual
    FROM sc
    ORDER BY round(n2 - score * score, 6) DESC, vec_id
    LIMIT 20
    """,
    description="Spectral outliers: top-20 vectors by off-PC1 residual; scoring is three codegen'd dot-folds against plan literals",
    tags=("vector", "linalg", "topk"),
)
def embedding_pca_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation USE of the fitted component: decompose every
    vector into its PC1 score and the off-component residual — rows
    with the largest residual sit farthest off the corpus's dominant
    direction (corrupt / off-topic / mislabeled candidates). The fit
    is the same 2-iteration sufficient-statistics contract as
    `embedding_pca_top_component` (dim² moment shuffle + driver power
    iteration); the SCORING pass is where the scale posture shows:
    mean and v ride as plan literals, so each row costs three
    codegen'd dot-folds (dot(x,v), dot(x,mean), ||x||²) — map-only,
    no Python, no shuffle beyond the final top-20 TakeOrdered. The
    DuckDB twin re-derives mean/v through the same unrolled chain and
    scores per vector via element joins; cross-engine slack is
    summation order (~1e-12), absorbed by the round-6 grid the top-20
    cut ranks on."""
    from crypto_etl_pipeline_spark.operators.linalg import (
        covariance_from_moments,
        moment_rows,
        pca_residual_scores,
        power_iteration,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = moment_rows(emb, JL_IN_DIM).collect()
    cov, mean, _ = covariance_from_moments(rows, JL_IN_DIM)
    v, _ = power_iteration(cov, PCA_ITERS)
    scored = pca_residual_scores(emb, mean, v)
    return scored.orderBy(F.desc("residual"), F.asc("vec_id")).limit(20)


# -- contrastive hard-negative mining ---------------------------------------

#: negatives kept per anchor — small by design: only the HARDEST
#: few train a contrastive model (Robinson et al. 2021); the rest of
#: the candidate set is discarded before any shuffle.
HARD_NEG_K = 5


@register(
    "ann_hard_negative_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_DUCK_QV} AS q FROM embeddings),
    q AS (
      SELECT vec_id AS query_id, label AS qlabel, q AS qv
      FROM e WHERE vec_id < {N_QUERIES}
    ),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
             {duck_pair_ci("q.qv", "e.q")} / 10000.0 AS cos_sim
      FROM q JOIN e ON e.label != q.qlabel
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neg_label, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, neg_label, cos_sim, rank
    FROM ranked WHERE rank <= {HARD_NEG_K}
    """,
    description="Contrastive hard-negative mining: per-anchor top-k most-similar DIFFERENT-label embeddings",
    tags=("similarity",),
)
def ann_hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (SimCLR/DPR
    practice): for each anchor, the most cosine-similar embeddings
    whose label DIFFERS — the negatives nearest the decision boundary,
    where the gradient signal is. Same plan family as
    ann_brute_force_topk (broadcast bounded anchor set over the
    corpus, per-pair exact cosine kernel, per-anchor window
    rank) with the label-mismatch predicate evaluated inside the join
    — mismatched pairs never reach the window. At 100 TB the anchor
    set stays a bounded broadcast frame (structural .limit) and the
    corpus side is map-only until the final per-anchor top-k shuffle,
    which carries at most candidates that survived the similarity
    rank — the IVF/LSH bucketed variants in this module are the
    recall-traded scale path if the anchor set itself grows."""
    from pyspark.sql.window import Window

    emb = _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    q = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .limit(N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("_qlabel"),
            F.col("embedding").alias("_qv"),
        )
    )
    sims = (
        emb.join(F.broadcast(q), F.col("label") != F.col("_qlabel"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            (pair_ci_pd()(F.col("_qv"), F.col("embedding")) / 10000.0).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= HARD_NEG_K
    )


@register(
    "embedding_anisotropy_by_label",
    oracle="""
    WITH b AS (
      SELECT label,
             sqrt(list_sum(list_transform(embedding,
                  x -> (x::DOUBLE) * (x::DOUBLE)))) AS nrm,
             embedding
      FROM embeddings
    ),
    ex AS (
      SELECT label, nrm, u.i - 1 AS i, u.x
      FROM b, LATERAL (SELECT unnest(b.embedding) AS x,
                              generate_subscripts(b.embedding, 1) AS i) u
      WHERE nrm > 0
    ),
    comp AS (
      SELECT label, i,
             sum((x::DOUBLE) / nrm) AS s,
             sum(CASE WHEN i = 0 THEN nrm END) AS nsum0,
             count(CASE WHEN i = 0 THEN 1 END) AS n0
      FROM ex GROUP BY label, i
    ),
    per AS (
      SELECT label, sum(s * s) AS s2, sum(nsum0) AS nsum,
             sum(n0)::BIGINT AS n
      FROM comp GROUP BY label
    )
    SELECT label,
           n AS n_vecs,
           round(nsum / n, 6) AS mean_norm,
           round(sqrt(s2) / n, 6) AS mean_cos_to_mean,
           CASE WHEN n > 1
                THEN round((s2 - n) / (n * (n - 1.0)), 6) END AS mean_pairwise_cos
    FROM per
    """,
    description="Embedding anisotropy per label: expected pairwise cosine and resultant-length statistics from one dim-bounded moment pass",
    tags=("vector", "linalg", "quality"),
)
def embedding_anisotropy_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy audit (Ethayarajh 2019: contextual embeddings occupy
    a narrow cone; high expected pairwise cosine degrades cosine-based
    retrieval and dedup). The naive estimator is the n² pair sum — this
    computes it EXACTLY from a dim-bounded sufficient statistic
    instead: with unit vectors, sum over all ordered pairs of cos =
    |S|² − n for S = Σ v̂, so mean_pairwise_cos = (|S|²−n)/(n(n−1)) and
    the resultant-length statistic |S|/n is the mean cosine to the mean
    direction (both standard directional statistics). One map-only
    normalize + posexplode, ONE (label, dim)-keyed aggregation whose
    exchange carries labels × dim rows after map-side partials
    (corpus size never crosses the shuffle), then a label-bounded
    rollup — the moment-exchange discipline of operators/linalg.py
    without the dim² Gram matrix, since only |S|² is needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    x2 = lambda a, x: a + x.cast("double") * x.cast("double")  # noqa: E731
    base = emb.select(
        "label",
        F.sqrt(F.aggregate("embedding", F.lit(0.0), x2)).alias("_nrm"),
        "embedding",
    ).where(F.col("_nrm") > 0)
    ex = base.select("label", "_nrm", F.posexplode("embedding").alias("i", "x"))
    comp = ex.groupBy("label", "i").agg(
        F.sum(F.col("x").cast("double") / F.col("_nrm")).alias("s"),
        F.sum(F.when(F.col("i") == 0, F.col("_nrm"))).alias("_nsum0"),
        F.count(F.when(F.col("i") == 0, F.lit(1))).alias("_n0"),
    )
    per = comp.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("_s2"),
        F.sum("_nsum0").alias("_nsum"),
        F.sum("_n0").alias("_n"),
    )
    n = F.col("_n")
    return per.select(
        "label",
        n.alias("n_vecs"),
        F.round(F.col("_nsum") / n, 6).alias("mean_norm"),
        F.round(F.sqrt("_s2") / n, 6).alias("mean_cos_to_mean"),
        F.when(
            n > 1, F.round((F.col("_s2") - n) / (n * (n - F.lit(1))), 6)
        ).alias("mean_pairwise_cos"),
    )


PQ_ITERS = 1  #: Lloyd steps per sub-codebook (keeps the unrolled oracle compact)
PQ_SHORTLIST = 100  #: ADC candidates exactly re-ranked per query. Config
#: chosen by measurement (uniform random embeddings are PQ's worst case —
#: no cluster structure for the codebooks to exploit): M=4/K=8 without
#: re-rank gave recall@10 = 0.23 vs exact L2; M=8/K=16 + 100-deep exact
#: re-rank measures 0.85-0.90 (sf0.01/sf0.001), pytest-gated >= 0.75.


def _pq_subspace_ctes() -> list[str]:
    """Per-subspace PQ training/encode/LUT CTEs, shared by _pq_oracle
    and _ivf_pq_oracle (the hybrid restricts ADC to probed IVF cells
    but trains/encodes identically)."""
    scale = float(LSH_SCALE)
    ctes = []
    for m in range(PQ_M):
        a, b = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        ctes.append(f"""q{m} AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding[{a}:{b}], x -> floor(x::DOUBLE * {scale})) AS qv,
             embedding[{a}:{b}] AS rv
      FROM embeddings
    )""")
        ctes.append(f"""cent0_{m} AS MATERIALIZED (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx,
             list_transform(embedding[{a}:{b}], x -> floor(x::DOUBLE * {scale})) AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
    )""")
        ctes.append(f"""assign1_{m} AS MATERIALIZED (
      SELECT vec_id, idx AS cell FROM (
        SELECT v.vec_id, c.idx,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 -2 * list_dot_product(v.qv, c.qc) + list_dot_product(c.qc, c.qc), c.idx) AS rn
        FROM q{m} v CROSS JOIN cent0_{m} c)
      WHERE rn = 1
    )""")
        ctes.append(f"""mean1_{m} AS MATERIALIZED (
      SELECT cell AS idx,
             list_transform(list(mm ORDER BY pos), mm -> floor(mm * {scale})) AS qc
      FROM (
        SELECT s.cell, u.pos, avg(u.x::DOUBLE) AS mm
        FROM assign1_{m} s JOIN q{m} e USING (vec_id),
             LATERAL (SELECT unnest(e.rv) AS x,
                             generate_subscripts(e.rv, 1) AS pos) u
        GROUP BY s.cell, u.pos)
      GROUP BY cell
    )""")
        ctes.append(f"""cent1_{m} AS MATERIALIZED (
      SELECT p.idx, coalesce(mn.qc, p.qc) AS qc
      FROM cent0_{m} p LEFT JOIN mean1_{m} mn USING (idx)
    )""")
        ctes.append(f"""code_{m} AS MATERIALIZED (
      SELECT vec_id AS neighbor_id, {m} AS m, idx AS code FROM (
        SELECT v.vec_id, c.idx,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 -2 * list_dot_product(v.qv, c.qc) + list_dot_product(c.qc, c.qc), c.idx) AS rn
        FROM q{m} v CROSS JOIN cent1_{m} c)
      WHERE rn = 1
    )""")
        ctes.append(f"""lut_{m} AS MATERIALIZED (
      SELECT v.vec_id AS query_id, {m} AS m, c.idx AS code,
             -2 * list_dot_product(v.qv, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM q{m} v CROSS JOIN cent1_{m} c
      WHERE v.vec_id < {N_QUERIES}
    )""")
    return ctes


def _pq_chain(ctes: list[str], adc_sql: str) -> str:
    """codes/lut unions + the ADC->shortlist->exact-re-rank tail over
    a caller-supplied adc body (unrestricted for ann_pq_adc_topk;
    probe-restricted for the IVF+PQ hybrid)."""
    codes = " UNION ALL ".join(f"SELECT * FROM code_{m}" for m in range(PQ_M))
    luts = " UNION ALL ".join(f"SELECT * FROM lut_{m}" for m in range(PQ_M))
    tail = f""",
    codes AS ({codes}),
    lut AS ({luts}),
    adc AS ({adc_sql}),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc)
      WHERE rn <= {PQ_SHORTLIST}
    ),
    rr AS (
      SELECT s.query_id, s.neighbor_id,
             round(list_dot_product(list_transform(qe.embedding, x -> x::DOUBLE),
                                    list_transform(qe.embedding, x -> x::DOUBLE))
                 + list_dot_product(list_transform(ne.embedding, x -> x::DOUBLE),
                                    list_transform(ne.embedding, x -> x::DOUBLE))
                 - 2 * list_dot_product(list_transform(qe.embedding, x -> x::DOUBLE),
                                        list_transform(ne.embedding, x -> x::DOUBLE)),
                   6) AS l2_dist
      FROM short s
      JOIN embeddings qe ON qe.vec_id = s.query_id
      JOIN embeddings ne ON ne.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, l2_dist, rank FROM (
      SELECT query_id, neighbor_id, l2_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY l2_dist, neighbor_id) AS rank
      FROM rr)
    WHERE rank <= {TOP_K}"""
    return "WITH " + ",\n    ".join(ctes) + tail


_PQ_ADC_SQL = """
      SELECT l.query_id, c.neighbor_id, sum(l.d) AS adc_dist
      FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
      WHERE l.query_id != c.neighbor_id
      GROUP BY 1, 2
    """


def _pq_oracle() -> str:
    """Unrolled PQ train/encode/ADC chain as SQL: per subspace, the
    _lloyd_ivf_oracle training triple (seed -> assign -> floor-quantized
    mean) over the SLICED embedding, then corpus codes and the
    query-side asymmetric-distance lookup table; ADC is one
    (m, code)-join + per-pair sum. All distances use the floor-quantized
    exact-integer contract, so ADC scores are equal integers across
    engines (not merely rank-equal)."""
    return _pq_chain(_pq_subspace_ctes(), _PQ_ADC_SQL)


def _ivf_pq_oracle() -> str:
    """The hybrid index's oracle: the PQ train/encode/LUT chain plus
    the ann_ivf_topk cell/probe CTEs (verbatim contract — same seeded
    centroids, same floor-quantized integer distances), with ADC
    restricted to (query, neighbor) pairs whose neighbor cell is in
    the query's nprobe probe set."""
    ctes = _pq_subspace_ctes()
    ctes.append(f"""ivf_cent AS MATERIALIZED (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_K})
    )""")
    ctes.append(f"""ivf_qv AS MATERIALIZED (
      SELECT vec_id, {_DUCK_QV} AS q FROM embeddings
    )""")
    ctes.append("""ivf_ranked AS MATERIALIZED (
      SELECT vec_id, idx,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc), idx) AS rn
      FROM ivf_qv v CROSS JOIN ivf_cent c
    )""")
    ctes.append("""ivf_cells AS MATERIALIZED (
      SELECT vec_id AS neighbor_id, idx AS cell FROM ivf_ranked WHERE rn = 1
    )""")
    ctes.append(f"""ivf_probe AS MATERIALIZED (
      SELECT vec_id AS query_id, idx AS cell
      FROM ivf_ranked WHERE vec_id < {N_QUERIES} AND rn <= {IVF_NPROBE}
    )""")
    adc = """
      SELECT l.query_id, c.neighbor_id, sum(l.d) AS adc_dist
      FROM codes c
      JOIN ivf_cells ce ON ce.neighbor_id = c.neighbor_id
      JOIN ivf_probe p ON p.cell = ce.cell
      JOIN lut l ON l.query_id = p.query_id AND l.m = c.m AND l.code = c.code
      WHERE l.query_id != c.neighbor_id
      GROUP BY 1, 2
    """
    return _pq_chain(ctes, adc)


@register(
    "ann_pq_adc_topk",
    oracle=_pq_oracle(),
    description="Product-quantization ANN: per-subspace Lloyd codebooks, 32-bit codes, ADC shortlist + exact re-rank — fully oracled via the unrolled train/encode/ADC/re-rank SQL chain",
    tags=("similarity", "quantize", "iterative"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — THE memory-scale ANN
    path: 64 float32 components compress to 8 codes of 4 bits (32
    bits, 8x), so a 100 TB embedding corpus's code table fits cluster
    RAM and the per-pair prune cost is M=8 table lookups instead of a
    64-term dot product. Training runs the seeded Lloyd step per
    subspace over the SLICED column (same distributed assignment +
    per-dimension-mean shape as ann_ivf_refined_topk; only 8 x 16
    sub-centroids reach the driver); encoding is one Arrow-batched
    pass emitting all 8 codes; the asymmetric-distance table is built
    from the Limit-bounded query frame (N x M x K = 1280 rows — the
    lint-recognized broadcast side); ADC is one (m, code) join +
    per-pair 8-row sum, map-side partial, and the ADC shortlist
    (WindowGroupLimit-pruned) is EXACTLY re-ranked against the raw
    vectors — the production two-stage design (codes prune, floats
    decide). The floor-quantized exact-integer contract
    (operators/similarity.py:_nearest_centroid) makes ADC scores equal
    INTEGERS across engines and the re-rank uses the identical
    dot-expansion and fold order in both, so the full
    train/encode/prune/re-rank chain replays in SQL. Recall vs exact
    L2 is pytest-gated at >= 0.75 (measured 0.85-0.90; the no-re-rank
    M=4/K=8 variant measured 0.23 — see PQ_SHORTLIST note)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    codes, lut = _pq_codes_lut(emb, q)
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    return _adc_shortlist_rerank(adc, q, emb)


def _pq_codes_lut(emb, q):
    """PQ train + encode + query LUT — the shared first half of
    ann_pq_adc_topk and ann_ivf_pq_topk. Returns (codes, lut):
    codes = (neighbor_id, m, code) for the corpus, lut = (query_id, m,
    code, d) for the Limit-bounded query frame (N x M x K rows, the
    lint-recognized broadcast side)."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        _centroid_dists_pd,
        _nearest_centroid_pd,
        _spread,
        pq_train_codebooks,
    )

    def sub(m: int):
        return F.slice("embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM)

    # ONE distributed pass trains all 8 sub-codebooks (the per-subspace
    # loop costs 2 jobs x M x iters of fixed overhead — see
    # pq_train_codebooks); result is bit-identical to the sliced-frame
    # formulation the oracle unrolls.
    codebooks = pq_train_codebooks(emb, iters=PQ_ITERS)
    # Encode: ONE corpus pass, all M assignment UDFs in the same
    # projection (at 100 TB this — plus the packed codes — is what you
    # persist; 3 bits x 4 codes per vector).
    enc = _spread(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        *[
            _nearest_centroid_pd(codebooks[m])(sub(m)).alias(f"_c{m}")
            for m in range(PQ_M)
        ],
    )
    codes = enc.select(
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"), F.col(f"_c{m}").alias("code")
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("_mc"),
    ).select("neighbor_id", F.col("_mc.m").alias("m"), F.col("_mc.code").alias("code"))
    lut_wide = q.select(
        F.col("vec_id").alias("query_id"),
        *[
            _centroid_dists_pd(codebooks[m])(sub(m)).alias(f"_d{m}")
            for m in range(PQ_M)
        ],
    )
    # r13: ONE explode-of-structs instead of an M-way unionByName —
    # each union branch re-executed the query scan + limit + its
    # Arrow distance UDF (8 parquet scans / 8 ArrowEvalPython nodes in
    # the executed plan; Catalyst prunes sibling UDF columns per
    # branch but cannot share the subtree). Two chained Generates over
    # a single scan produce the identical (query_id, m, code, d) rows;
    # downstream is an equi-join, so row order is immaterial.
    lut = lut_wide.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("m"), F.col(f"_d{m}").alias("ds"))
                    for m in range(PQ_M)
                ]
            )
        ).alias("_md"),
    ).select(
        "query_id",
        F.col("_md.m").alias("m"),
        F.posexplode("_md.ds").alias("code", "d"),
    )
    return codes, lut


def _adc_shortlist_rerank(adc, q, emb):
    """ADC shortlist -> exact re-rank tail shared by the PQ queries.
    Three sequential double-fold dot products (same expansion and
    element order as the oracle's list_dot_product, so the values —
    not just ranks — agree). Query vectors ride a broadcast of the
    Limit-bounded frame; the neighbor-vector join is per-query-bounded
    (<= shortlist rows)."""
    from pyspark.sql.window import Window

    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    short = (
        adc.withColumn("_rn", F.row_number().over(w_adc))
        .where(F.col("_rn") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    dd = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    qv = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qe"))
    nv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_ne"))
    rr = (
        short.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dd(F.col("_qe"), F.col("_qe"))
                + dd(F.col("_ne"), F.col("_ne"))
                - 2 * dd(F.col("_qe"), F.col("_ne")),
                6,
            ).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "l2_dist", "rank")
    )


@register(
    "ann_ivf_pq_topk",
    oracle=_ivf_pq_oracle(),
    description=(
        "IVF+PQ hybrid ANN (the production FAISS IndexIVFPQ shape): coarse "
        "IVF cells prune the corpus to nprobe probe sets, PQ codes ADC-rank "
        "the survivors, exact re-rank decides — fully oracled end-to-end"
    ),
    tags=("similarity", "quantize", "iterative"),
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two prune stages a production vector index composes
    (IndexIVFPQ): the coarse quantizer (IVF cells, seeded iters=0 —
    the ann_ivf_topk contract verbatim) restricts each query to its
    IVF_NPROBE nearest cells' members, the PQ codes (ann_pq_adc_topk's
    codebooks verbatim) ADC-rank only those survivors, and the ADC
    shortlist is exactly re-ranked against raw vectors. At 100 TB this
    is the memory/compute double win: the scan touches nprobe/k of the
    corpus (cell id = partition column -> partition pruning) and each
    touched vector costs M=8 LUT lookups instead of a 64-term dot —
    neither single-stage query offers both.

    Plan shape: the candidate set (qprobe x cells join — broadcast of
    the N_QUERIES x nprobe probe frame) lands BEFORE the ADC join, so
    the (m, code) LUT join and the pair aggregation run on the probed
    subset only. Everything downstream (shortlist window, exact
    re-rank) is the shared _adc_shortlist_rerank tail. Both stage
    contracts are floor-quantized exact integers, so the full
    IVF-assign/probe/train/encode/ADC/re-rank chain replays in SQL."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        _nearest_cells_pd,
        ivf_assign_cells,
        ivf_build_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    cents = ivf_build_centroids(emb, k=IVF_K, iters=0)
    cells = ivf_assign_cells(emb, cents).select("neighbor_id", "_cell")
    qprobe = q.select(
        F.col("vec_id").alias("query_id"),
        F.explode(_nearest_cells_pd(cents, IVF_NPROBE)(F.col("embedding"))).alias(
            "_cell"
        ),
    )
    cand = (
        cells.join(F.broadcast(qprobe), "_cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    codes, lut = _pq_codes_lut(emb, q)
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    return _adc_shortlist_rerank(adc, q, emb)


@register(
    "ann_ivf_incremental_assign",
    oracle=f"""
    WITH old AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
    ),
    cent AS MATERIALIZED (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM old ORDER BY vec_id LIMIT {IVF_K})
    ),
    newv AS (SELECT vec_id, {_DUCK_QV} AS q FROM embeddings WHERE vec_id % 2 = 1),
    oldq AS (SELECT vec_id, {_DUCK_QV} AS q FROM old),
    assign_new AS (
      SELECT vec_id, idx AS cell FROM (
        SELECT v.vec_id, c.idx,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc), c.idx) AS rn
        FROM newv v CROSS JOIN cent c)
      WHERE rn = 1
    ),
    assign_old AS (
      SELECT vec_id, idx AS cell FROM (
        SELECT v.vec_id, c.idx,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc), c.idx) AS rn
        FROM oldq v CROSS JOIN cent c)
      WHERE rn = 1
    ),
    before AS (SELECT cell, count(*) AS n FROM assign_old GROUP BY cell),
    adds AS (SELECT cell, count(*) AS n FROM assign_new GROUP BY cell)
    SELECT a.vec_id, a.cell::BIGINT AS cell,
           coalesce(b.n, 0)::BIGINT AS cell_size_before,
           ad.n::BIGINT AS batch_adds
    FROM assign_new a
    LEFT JOIN before b USING (cell)
    JOIN adds ad USING (cell)
    """,
    description=(
        "Incremental IVF ingest: a new embedding batch assigned against the "
        "PERSISTED index's centroids (no retrain, no corpus recompute), with "
        "per-cell before/after occupancy accounting"
    ),
    tags=("similarity", "incremental"),
)
def ann_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-side twin of dedup_incremental_new_docs: even vec_ids
    play the already-indexed corpus (the persisted IVF store), odd
    vec_ids are the new ingest batch. The index's parameters — the
    seeded centroids — come from the OLD corpus only (the incremental
    contract: ingest never retrains or re-assigns the store), and the
    new batch costs ONE Arrow-batched assignment map pass. At 100 TB
    this is the streaming-embedding ingest path: the assignment table
    is persisted partitioned by cell (ivf_assign_cells docstring), a
    daily batch appends only its own rows, and probes prune partitions
    exactly as before the append. Per-cell before/batch occupancy
    rides along so index maintenance (cell splits, re-balancing — the
    operational signal IVF deployments watch) reads off the same
    output. Equivalence ``incremental(new, store(old)) == batch(old ∪
    new) restricted to new`` holds structurally (assignment is
    per-vector given fixed centroids) and is pinned as a regression
    test against accidental centroid drift from including batch data
    (tests/test_round9_ops.py). Floor-quantized integer distances, so
    the assignment replays exactly in SQL."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_build_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    cents = ivf_build_centroids(old, k=IVF_K, iters=0)
    new_assign = ivf_assign_cells(new, cents).select(
        F.col("neighbor_id").alias("vec_id"), F.col("_cell").cast("long").alias("cell")
    )
    before = (
        ivf_assign_cells(old, cents)
        .groupBy(F.col("_cell").cast("long").alias("cell"))
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    adds = new_assign.groupBy("cell").agg(F.count(F.lit(1)).alias("batch_adds"))
    return (
        new_assign.join(F.broadcast(before), "cell", "left")
        .join(F.broadcast(adds), "cell")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("_nb"), F.lit(0)).alias("cell_size_before"),
            "batch_adds",
        )
    )


# -- Matryoshka truncation fidelity --------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)  #: truncation prefixes audited (full dim = 64)


@register(
    "embedding_matryoshka_fidelity",
    oracle=f"""
    WITH ks AS (SELECT unnest([{", ".join(str(k) for k in _MRL_DIMS)}]) AS k),
    energy AS (
      SELECT k.k,
             avg(list_sum(list_transform(e.embedding[1:k.k], x -> (x::DOUBLE) * (x::DOUBLE)))
                 / list_sum(list_transform(e.embedding, x -> (x::DOUBLE) * (x::DOUBLE))))
               AS mef
      FROM embeddings e CROSS JOIN ks k GROUP BY k.k
    ),
    cent AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_SEM_K_SQL})
    ),
    qv AS (SELECT vec_id, {_DUCK_QV} AS q FROM embeddings),
    adist AS (
      SELECT v.vec_id, v.q, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent c
    ),
    cells AS (
      SELECT vec_id, q, idx AS cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
            FROM adist)
      WHERE rn = 1
    ),
    pairs AS (
      SELECT * FROM (
        SELECT a.q AS qa, b.q AS qb, {duck_pair_ci("a.q", "b.q")} AS cf
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id)
      WHERE cf >= {NEAR_DUP_CI}
    ),
    deltas AS (
      SELECT k, count(*) AS n_pairs, avg(abs(ck - cf)) AS mad, max(abs(ck - cf)) AS mxd
      FROM (SELECT k.k, p.cf, {duck_pair_ci("p.qa[1:k.k]", "p.qb[1:k.k]")} AS ck
            FROM pairs p CROSS JOIN ks k)
      GROUP BY k
    )
    SELECT e.k, d.n_pairs,
           round(e.mef, 4) AS mean_energy_frac,
           round(d.mad / 10000.0, 4) AS mean_abs_cos_delta,
           round(d.mxd / 10000.0, 4) AS max_abs_cos_delta
    FROM energy e JOIN deltas d USING (k)
    """,
    description=(
        "Matryoshka truncation-fidelity audit: per prefix length, mean "
        "retained norm energy and cosine drift on the near-dup pair feed"
    ),
    tags=("similarity", "quantize"),
)
def embedding_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Can you serve the index from the first k dims? (the Matryoshka
    representation-learning question, Kusupati et al. 2022, asked of
    an EXISTING embedding column): per prefix k, (1) mean fraction of
    each vector's squared norm in its first k components, (2) how far
    pairwise cosines move on the high-similarity pair feed — the pairs
    whose ordering an ANN index must preserve. k = 64 is the identity
    row (drift exactly 0), making the audit self-checking.

    Scale shape: energy is one map-only pass with a 4-row literal
    cross join (broadcast by construction); the pair feed is the
    CELL-BLOCKED high-similarity join (the dedup_semantic_clusters
    shape — IVF cells + cap_hot_cells bound the quadratic stage)
    computed ONCE and fanned out 4x by the same literal frame; all
    aggregates are k-bounded. Both cosines (full vector and prefix)
    come from the one exact kernel, so drifts are exact ``ci``
    differences."""
    emb = load_table(spark, sf_dir, "embeddings")
    ks = spark.createDataFrame([(k,) for k in _MRL_DIMS], "k INT")

    base = _spread(emb).select("vec_id", "label", "embedding")
    en_sliced = base.crossJoin(F.broadcast(ks)).select(
        "k",
        F.slice(F.col("embedding"), 1, F.col("k")).alias("_pre"),
        F.col("embedding").alias("_full"),
    )
    energy = en_sliced.select(
        "k",
        (
            F.aggregate(
                F.transform(F.col("_pre"), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.aggregate(
                F.transform(F.col("_full"), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ).alias("_frac"),
    ).groupBy("k").agg(F.avg("_frac").alias("mef"))

    # Cell-blocked pair feed (the dedup_semantic_clusters shape): the
    # O(block^2) cosine stage is bounded per IVF cell and capped by
    # cap_hot_cells — the label-blocked all-pairs form measured 11x at
    # 10x data (label blocks grow with the corpus); this one rides the
    # SemDeDup scale path and stays SQL-replayable (seeded quantized
    # cells, cap a no-op at oracle-compared SFs).
    from crypto_etl_pipeline_spark.operators.similarity import (
        cap_hot_cells,
        ivf_assign_cells,
        ivf_build_centroids,
    )

    cents = ivf_build_centroids(emb, k=sem_k(_emb_count(sf_dir)), iters=0)
    cells = cap_hot_cells(
        ivf_assign_cells(emb, cents).select(
            F.col("neighbor_id").alias("vec_id"), "_cell", "_cvec"
        ),
        max_cell_size=SEM_CELL_CAP,
    ).localCheckpoint(eager=False)
    a, b = cells.alias("a"), cells.alias("b")
    # One kernel for both cosines: the full-vector ci gates the pair
    # feed, the same kernel on each prefix gives the drift in exact
    # ci units (k = 64 reproduces the full ci, so its drift is 0).
    pairs = (
        a.join(b, (F.col("a._cell") == F.col("b._cell")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a._cvec").alias("va"),
            F.col("b._cvec").alias("vb"),
            pair_ci_pd()(F.col("a._cvec"), F.col("b._cvec")).alias("_cf"),
        )
        .where(F.col("_cf") >= NEAR_DUP_CI)
    )
    sliced = pairs.crossJoin(F.broadcast(ks)).select(
        "k",
        "_cf",
        F.slice(F.col("va"), 1, F.col("k")).alias("_sa"),
        F.slice(F.col("vb"), 1, F.col("k")).alias("_sb"),
    )
    ck = pair_ci_pd()(F.col("_sa"), F.col("_sb"))
    deltas = (
        sliced.withColumn("_d", F.abs(ck - F.col("_cf")))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.avg("_d").alias("mad"),
            F.max("_d").alias("mxd"),
        )
    )
    return energy.join(deltas, "k").select(
        "k",
        "n_pairs",
        F.round("mef", 4).alias("mean_energy_frac"),
        F.round(F.col("mad") / 10000.0, 4).alias("mean_abs_cos_delta"),
        F.round(F.col("mxd") / 10000.0, 4).alias("max_abs_cos_delta"),
    )


# -- IVF nprobe tuning sweep ----------------------------------------------------

_NPROBE_CONFIGS = (1, 2, 4)  #: probe counts swept (cells = IVF_K = 16)


@register(
    "ann_ivf_nprobe_sweep",
    oracle=f"""
    WITH cent AS MATERIALIZED (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_K})
    ),
    qv AS MATERIALIZED (SELECT vec_id, {_DUCK_QV} AS q FROM embeddings),
    adist AS MATERIALIZED (
      SELECT v.vec_id, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent c
    ),
    ranked_cells AS MATERIALIZED (
      SELECT vec_id, idx,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
      FROM adist
    ),
    cells AS (SELECT vec_id AS neighbor_id, idx AS cell FROM ranked_cells WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, idx AS cell, rn AS probe_rn
               FROM ranked_cells WHERE vec_id < {N_QUERIES} AND rn <= {max(_NPROBE_CONFIGS)}),
    cand AS MATERIALIZED (
      SELECT p.query_id, c.neighbor_id, p.probe_rn,
             {duck_pair_ci("qe.q", "ne.q")} / 10000.0 AS cos_sim
      FROM qprobe p JOIN cells c USING (cell)
      JOIN qv qe ON qe.vec_id = p.query_id
      JOIN qv ne ON ne.vec_id = c.neighbor_id
      WHERE p.query_id != c.neighbor_id
    ),
    per_cfg AS MATERIALIZED (
      SELECT np.np, c.query_id, c.neighbor_id, c.cos_sim,
             row_number() OVER (PARTITION BY np.np, c.query_id
                                ORDER BY c.cos_sim DESC, c.neighbor_id) AS rank
      FROM cand c JOIN (VALUES {", ".join(f"({p})" for p in _NPROBE_CONFIGS)}) np(np)
        ON c.probe_rn <= np.np
    ),
    truth AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {duck_pair_ci("q.q", "e.q")} DESC, e.vec_id) AS rank
        FROM qv q JOIN qv e ON e.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rank <= {TOP_K}
    ),
    stats AS (
      SELECT p.np AS nprobe,
             count(DISTINCT (p.query_id, p.neighbor_id)) FILTER (WHERE p.rank <= {TOP_K})
               AS n_returned,
             count(*) FILTER (WHERE p.rank <= {TOP_K} AND t.query_id IS NOT NULL)
               AS n_hits,
             count(*) AS n_candidates
      FROM per_cfg p LEFT JOIN truth t
        ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
      GROUP BY p.np
    )
    SELECT nprobe, n_candidates, n_returned,
           round(n_hits * 1.0 / ({N_QUERIES} * {TOP_K}), 4) AS recall_at_{TOP_K}
    FROM stats
    """,
    description=(
        f"IVF tuning table: candidate volume and recall@{TOP_K} vs the "
        f"exact top-{TOP_K} for nprobe in {_NPROBE_CONFIGS} over the "
        "seeded 16-cell index"
    ),
    tags=("similarity", "iterative"),
)
def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF twin of dedup_lsh_parameter_sweep: nprobe buys recall
    with candidate volume, and this table measures the exchange rate
    on THIS corpus — candidates scanned, results returned, and
    recall@{TOP_K} against the exact cosine top-{TOP_K}. Probe sets
    nest (probe_rn <= 1 ⊂ <= 2 ⊂ <= 4), so recall is monotone in
    nprobe by construction (pinned in tests).

    Scale shape: cell assignment and probe ranking are computed ONCE
    at the maximum nprobe and fanned out by a 3-row literal config
    frame; per-config ranking windows are per-(config, query) over
    cell-bounded candidates; the exact-truth pass is the brute-force
    Arrow kernel (at 100 TB the truth column comes from a held-out
    sample, not the full corpus — recall estimation needs only the
    sampled queries, which is exactly this plan's query-side shape)."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        _nearest_cells_pd,
        ivf_assign_cells,
        ivf_build_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb, k=IVF_K, iters=0)
    queries = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    cells = ivf_assign_cells(emb, cents)
    maxp = max(_NPROBE_CONFIGS)
    qcells = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        F.posexplode(
            _nearest_cells_pd(cents, maxp)(F.col("embedding"))
        ).alias("_pr0", "_cell"),
    ).withColumn("probe_rn", F.col("_pr0") + 1)
    cand = (
        cells.join(F.broadcast(qcells), "_cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rn",
            (pair_ci_pd()(F.col("_qvec"), F.col("_cvec")) / 10000.0).alias("cos_sim"),
        )
    )
    cfgs = spark.createDataFrame([(p,) for p in _NPROBE_CONFIGS], "np INT")
    from pyspark.sql.window import Window

    per_cfg = cand.join(F.broadcast(cfgs), F.col("probe_rn") <= F.col("np")).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("np", "query_id").orderBy(
                F.desc("cos_sim"), F.asc("neighbor_id")
            )
        ),
    )
    truth = brute_force_topk(emb, queries, k=TOP_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("_t")
    )
    stats = (
        per_cfg.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy(F.col("np").alias("nprobe"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("rank") <= TOP_K).cast("long")).alias("n_returned"),
            F.sum(
                ((F.col("rank") <= TOP_K) & F.col("_t").isNotNull()).cast("long")
            ).alias("n_hits"),
        )
    )
    return stats.select(
        "nprobe",
        "n_candidates",
        "n_returned",
        F.round(F.col("n_hits") * 1.0 / (N_QUERIES * TOP_K), 4).alias(
            f"recall_at_{TOP_K}"
        ),
    )


# -- embedding drift ------------------------------------------------------------

_DRIFT_GATE_PCT = 50  #: hash-gate split (A = residue < 50, B = rest)


@register(
    "embedding_drift_centroid_shift",
    oracle=f"""
    WITH split AS (
      SELECT vec_id, label, embedding,
             CASE WHEN (vec_id * 2654435761) % 100 < {_DRIFT_GATE_PCT}
                  THEN 'A' ELSE 'B' END AS grp
      FROM embeddings
    ),
    dims AS (
      SELECT s.label, s.grp, u.pos, u.x::DOUBLE AS x
      FROM split s, LATERAL (
        SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
      ) u
    ),
    moments AS (
      SELECT label, grp, pos, sum(x) AS sx, count(*) AS n
      FROM dims GROUP BY label, grp, pos
    ),
    wide AS (
      SELECT a.label, a.pos,
             a.sx / a.n AS ma, b.sx / b.n AS mb,
             a.n AS na, b.n AS nb
      FROM moments a JOIN moments b
        ON a.label = b.label AND a.pos = b.pos
       AND a.grp = 'A' AND b.grp = 'B'
    )
    SELECT label,
           min(na)::BIGINT AS n_a,
           min(nb)::BIGINT AS n_b,
           round(sqrt(sum((ma - mb) * (ma - mb))), 4) AS centroid_shift_l2
    FROM wide GROUP BY label
    """,
    description=(
        "Embedding drift audit: per-label centroid L2 shift between "
        "deterministic hash-split halves — the vector twin of the "
        "KL/chi2/KS text-drift tests"
    ),
    tags=("similarity", "quality", "ab-test"),
)
def embedding_drift_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the embedding distribution move? Per label, the L2 distance
    between the centroids of two deterministic hash-split halves — on
    an i.i.d. corpus this is the sampling-noise floor (~sqrt(dim/n)),
    so a production run comparing WEEK-over-WEEK batches reads any
    excess as drift (re-embed / re-index trigger). Completes the
    drift family: KL and chi-square (token space), KS (value space),
    centroid shift (vector space).

    Scale shape: one posexplode to (label, grp, dim) rows, ONE
    map-side-combined moment aggregation (dim x label x 2 rows out —
    the PCA sufficient-statistic discipline), then label-bounded
    arithmetic. Means divide only at the bounded stage; the compared
    surface rounds at 1e-4, orders above sum-association noise."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = _spread(emb).select(
        "label",
        F.when(
            (F.col("vec_id") * 2654435761) % 100 < _DRIFT_GATE_PCT, F.lit("A")
        )
        .otherwise(F.lit("B"))
        .alias("grp"),
        F.posexplode("embedding").alias("pos", "x"),
    )
    moments = split.groupBy("label", "grp", "pos").agg(
        F.sum(F.col("x").cast("double")).alias("sx"), F.count(F.lit(1)).alias("n")
    )
    a = moments.where(F.col("grp") == "A").select(
        "label", "pos", (F.col("sx") / F.col("n")).alias("ma"), F.col("n").alias("na")
    )
    b = moments.where(F.col("grp") == "B").select(
        "label", "pos", (F.col("sx") / F.col("n")).alias("mb"), F.col("n").alias("nb")
    )
    wide = a.join(b, ["label", "pos"])
    # n is the per-(label, grp, dim) member count — identical for
    # every dim of a group, so min() recovers the group size
    return wide.groupBy("label").agg(
        F.min("na").alias("n_a"),
        F.min("nb").alias("n_b"),
        F.round(
            F.sqrt(F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))), 4
        ).alias("centroid_shift_l2"),
    )


SEM_SWEEP_TAUS = (3500, 5000, 7000, 9000)  #: cosine thresholds swept, in ``ci`` units


def _sem_sweep_oracle() -> str:
    """One cell assignment + one within-cell cosine pass (MATERIALIZED),
    then per-tau stats via UNION ALL — a config with zero pairs still
    emits its row (the dedup_lsh_parameter_sweep lesson, ADVICE r7 #1)."""
    ctes = f"""
    cent AS MATERIALIZED (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_SEM_K_SQL})
    ),
    qv AS MATERIALIZED (SELECT vec_id, {_DUCK_QV} AS q FROM embeddings),
    adist AS (
      SELECT v.vec_id, v.q, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent c
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, q, idx AS cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
            FROM adist)
      WHERE rn = 1
    ),
    scored AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {duck_pair_ci("a.q", "b.q")} AS ci
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
    )"""
    selects = []
    for tau in SEM_SWEEP_TAUS:
        selects.append(f"""SELECT {tau} / 10000.0 AS tau,
           (SELECT count(*) FROM scored WHERE ci >= {tau})::BIGINT AS n_pairs,
           (SELECT round(avg(ci) / 10000.0, 6) FROM scored WHERE ci >= {tau}) AS mean_sim,
           (SELECT count(DISTINCT v) FROM (
              SELECT id_a AS v FROM scored WHERE ci >= {tau}
              UNION ALL SELECT id_b FROM scored WHERE ci >= {tau}))::BIGINT AS n_docs""")
    return "WITH " + ctes + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "dedup_semantic_threshold_sweep",
    oracle=_sem_sweep_oracle(),
    description=(
        f"Semantic-dedup tuning table: within-cell cosine pairs computed "
        f"ONCE, pair/doc counts fanned across taus {SEM_SWEEP_TAUS}"
    ),
    tags=("dedup", "similarity"),
)
def dedup_semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup tuning question is WHERE to set tau (the paper
    sweeps it against downstream perplexity): this emits the corpus-side
    half of that sweep — how many pairs and how many affected documents
    each candidate threshold implies. ONE cell assignment + ONE
    Arrow-batched within-cell cosine pass (checkpointed), then every
    tau row is a cheap aggregate over the same scored pair table —
    cost is the pair pass, not pairs × taus. Similarities are exact
    ``ci`` integers in both engines, so tau boundaries cannot drift
    cross-engine. Every tau emits a row even
    with zero pairs (ungrouped aggregates; the LSH-sweep zero-candidate
    lesson). Output is len(taus) rows."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        cap_hot_cells,
        ivf_assign_cells,
        ivf_build_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb, k=sem_k(_emb_count(sf_dir)), iters=0)
    # cap_hot_cells bounds the quadratic within-cell stage (same guard
    # as dedup_semantic_clusters). PARITY CAVEAT (ADVICE r8 #2): the
    # xxhash64 sub-cell split is not SQL-replayable, so the DuckDB
    # oracle pairs within RAW IVF cells — the cap must be a NO-OP at
    # parity SFs (max cell size <= SEM_CELL_CAP, which a pre-registered
    # assertion test checks at sf0.01/sf0.1: tests/test_round9_ops.py)
    # for the two engines to agree. At 100x corpus the cap engages and
    # the Spark side intentionally undercounts vs an uncapped oracle —
    # the spill is what dedup_semantic_clusters' docstring documents.
    cells = cap_hot_cells(
        ivf_assign_cells(emb, cents).select(
            F.col("neighbor_id").alias("vec_id"), "_cell", "_cvec"
        ),
        max_cell_size=SEM_CELL_CAP,
    ).localCheckpoint(eager=False)
    a, b = cells.alias("a"), cells.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            pair_ci_pd()(F.col("a._cvec"), F.col("b._cvec")).alias("ci"),
        )
        .localCheckpoint(eager=False)
    )
    out = None
    for tau in SEM_SWEEP_TAUS:
        p = scored.where(F.col("ci") >= tau)
        stats = p.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("ci") / 10000.0, 6).alias("mean_sim"),
        )
        nd = (
            p.select(F.explode(F.array("id_a", "id_b")).alias("v"))
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )
        row = stats.crossJoin(F.broadcast(nd)).select(
            (F.lit(tau) / 10000.0).alias("tau"), "n_pairs", "mean_sim", "n_docs"
        )
        out = row if out is None else out.unionByName(row)
    return out


RECALL_KS = (1, 5, 10)  #: recall@k levels reported


def _recall_oracle() -> str:
    """Compose the two already-verified oracles (IVF probe, brute
    truth) and reduce to recall@k rows — nested WITHs are legal inside
    MATERIALIZED CTE bodies."""
    ann_sql = _REG["ann_ivf_topk"].oracle
    truth_sql = _REG["ann_brute_force_topk"].oracle
    selects = []
    for k in RECALL_KS:
        selects.append(f"""SELECT {k} AS k,
           (SELECT count(*) FROM j
             WHERE a_rank <= {k} AND t_rank IS NOT NULL AND t_rank <= {k})::BIGINT AS n_hits,
           ({k} * (SELECT count(DISTINCT query_id) FROM truth))::BIGINT AS n_possible,
           round((SELECT count(*) FROM j
                   WHERE a_rank <= {k} AND t_rank IS NOT NULL AND t_rank <= {k}) * 1.0
                 / ({k} * (SELECT count(DISTINCT query_id) FROM truth)), 6) AS recall
    """)
    return f"""
    WITH ann AS MATERIALIZED ({ann_sql}),
    truth AS MATERIALIZED ({truth_sql}),
    j AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id, a.rank AS a_rank, t.rank AS t_rank
      FROM ann a LEFT JOIN truth t USING (query_id, neighbor_id)
    )
    """ + "\n    UNION ALL ".join(selects)


@register(
    "ann_ivf_recall_at_k",
    oracle=_recall_oracle(),
    description=(
        f"IVF retrieval quality surface: recall@k for k in {RECALL_KS} "
        f"against the exact brute-force truth (nprobe={IVF_NPROBE})"
    ),
    tags=("similarity", "ml"),
)
def ann_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE retrieval eval number — recall@k of the approximate index
    against exact truth, the metric every ANN paper reports and every
    index rollout gates on (the nprobe sweep reports candidate VOLUME;
    this reports result QUALITY at fixed nprobe across k levels). Both
    rankings are deterministic (exact ``ci`` cosines, neighbor-id
    tie-break), so recall is exact, not sampled. One left join of the
    two top-k tables (both query-count-bounded), then every k level is
    a conditional aggregate over the SAME joined frame — one pass, not
    one join per k. Composes the two already-oracled feeds; the SQL
    replay nests their verified oracles verbatim."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_build_centroids,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb, k=IVF_K, iters=0)
    queries = emb.where(F.col("vec_id") < N_QUERIES).limit(N_QUERIES)
    ann = ivf_topk(emb, queries, cents, k=TOP_K, nprobe=IVF_NPROBE).select(
        "query_id", "neighbor_id", F.col("rank").alias("a_rank")
    )
    truth = brute_force_topk(emb, queries, k=TOP_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("t_rank")
    ).localCheckpoint(eager=False)
    j = ann.join(truth, ["query_id", "neighbor_id"], "left").localCheckpoint(
        eager=False
    )
    # One aggregate over j UNION truth yields the single row
    # (h1, h5, h10, _nq). j rows carry the hit flags; truth rows carry
    # a rank-1 marker (row_number ranks: one rank-1 row per query, so
    # its count is the distinct query count); each side's other
    # columns are null, which sum/count skip. The k levels then come
    # from exploding an array of structs: no scalar join, and no
    # per-k union branch re-planning the same aggregate.
    nul = F.lit(None).cast("long")
    rows = j.select(
        *[
            (
                (F.col("a_rank") <= k)
                & F.col("t_rank").isNotNull()
                & (F.col("t_rank") <= k)
            ).cast("long").alias(f"h{k}")
            for k in RECALL_KS
        ],
        nul.alias("_q1"),
    ).unionByName(
        truth.select(
            *[nul.alias(f"h{k}") for k in RECALL_KS],
            F.when(F.col("t_rank") == 1, 1).alias("_q1"),
        )
    )
    one = rows.agg(
        *[F.sum(f"h{k}").alias(f"h{k}") for k in RECALL_KS],
        F.count("_q1").alias("_nq"),
    )
    levels = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.col(f"h{k}").alias("n_hits"))
            for k in RECALL_KS
        ]
    )
    lv = one.select(F.explode(levels).alias("lv"), "_nq")
    n_possible = (F.col("lv.k") * F.col("_nq")).cast("long")
    return lv.select(
        F.col("lv.k").alias("k"),
        F.col("lv.n_hits").alias("n_hits"),
        n_possible.alias("n_possible"),
        F.round(F.col("lv.n_hits") / n_possible, 6).alias("recall"),
    )


_CBAL_K = 8          #: balanced-sampling cells (seeded, iters=0 — oracle-exact)
_CBAL_TARGET = 40    #: expected docs kept per cell


@register(
    "cluster_balanced_sample",
    oracle=f"""
    WITH cent AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_CBAL_K})
    ),
    qv AS (SELECT vec_id, embedding, {_DUCK_QV} AS q FROM embeddings),
    adist AS (
      SELECT v.vec_id, c.idx,
             -2 * list_dot_product(v.q, c.qc) + list_dot_product(c.qc, c.qc) AS d
      FROM qv v CROSS JOIN cent c
    ),
    cells AS (
      SELECT vec_id, idx AS cell FROM (
        SELECT vec_id, idx,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, idx) AS rn
        FROM adist) WHERE rn = 1
    ),
    counts AS (SELECT cell, count(*) AS n_total FROM cells GROUP BY cell),
    acc AS (
      SELECT c.cell, n_total,
             CASE WHEN ('0x' || substr(md5(c.vec_id::VARCHAR || 'cbal-v1'), 1, 15))::BIGINT
                       % n_total < {_CBAL_TARGET} THEN 1 ELSE 0 END AS a
      FROM cells c JOIN counts USING (cell)
    )
    SELECT cell::BIGINT AS cell, n_total, sum(a)::BIGINT AS n_sampled,
           round(sum(a) * 1.0 / n_total, 4) AS sample_rate
    FROM acc GROUP BY cell, n_total
    """,
    description=(
        "Cluster-balanced sampling: assign embeddings to seeded IVF cells, "
        "hash-accept ~TARGET docs per cell (rate = TARGET/cell size)"
    ),
    tags=("similarity", "sampling"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balancing selection (the cluster-then-rebalance step in
    SemDeDup-era curation, and the D4/k-means rebalancing in Abbas et
    al. 2023): embeddings assign to IVF cells, then each cell keeps an
    EXPECTED _CBAL_TARGET docs via deterministic hash acceptance with
    per-cell rate TARGET/|cell| — big topics downsample hard, small
    topics keep everything (rate clamps to 1 because every residue is
    below TARGET when |cell| <= TARGET). Cells are the oracle-exact
    seeded centroids (iters=0, floor-quantized distances — the
    ann_ivf_topk contract, operators/similarity.py); the per-cell
    count table is k-bounded and broadcast back over the assignment,
    so at 100 TB the only corpus-scale passes are the Arrow-batched
    assignment and one groupBy(cell) — nothing quadratic, no
    corpus-sized driver state. Acceptance is md5 % |cell| (exact
    integer replay in SQL); output is k rows of exact integers plus
    one single-division rate."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_build_centroids,
    )
    from crypto_etl_pipeline_spark.operators.phash import md5_long

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb, k=_CBAL_K, iters=0)
    cells = ivf_assign_cells(emb, cents).select(
        "neighbor_id", F.col("_cell").cast("long").alias("cell")
    )
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_total"))
    acc = cells.join(F.broadcast(counts), "cell").withColumn(
        "a",
        (
            md5_long(
                F.concat(F.col("neighbor_id").cast("string"), F.lit("cbal-v1")), 15
            )
            % F.col("n_total")
            < _CBAL_TARGET
        ).cast("int"),
    )
    return acc.groupBy("cell", "n_total").agg(
        F.sum("a").cast("long").alias("n_sampled"),
        F.round(F.sum("a") / F.col("n_total"), 4).alias("sample_rate"),
    )


# --------------------------------------------------------------------------
# Bitext / parallel-pair mining (r13) — operators/bitext.py.
# --------------------------------------------------------------------------
BITEXT_SRC_CAP = 200  #: structural bound on the (broadcast) source side
#: accept thresholds for the sweep — margin > 1 means "above the
#: neighborhood average", the paper's operating region
BITEXT_THRESHOLDS = (10000, 10200, 10500, 11000)  # margin x 1e4, integer grid

#: the exact-integer cosine (ci) and margin of operators/bitext.py
_BX_PAIR_SQL = """
    s AS (
      SELECT e.vec_id AS src_id, {qv} AS sq
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang = 'en' AND e.vec_id < {cap}
    ),
    t AS (
      SELECT e.vec_id AS tgt_id, {qv} AS tq
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang = 'de'
    ),
    p AS MATERIALIZED (
      SELECT * FROM (
        SELECT src_id, tgt_id, {ci} AS ci
        FROM s CROSS JOIN t
      ) WHERE ci > 0
    ),
    nns AS (
      SELECT src_id, sum(ci) AS si, count(*) AS ks FROM (
        SELECT src_id, ci,
               row_number() OVER (PARTITION BY src_id ORDER BY ci DESC, tgt_id) AS r
        FROM p) WHERE r <= {k} GROUP BY src_id
    ),
    nnt AS (
      SELECT tgt_id, sum(ci) AS ti, count(*) AS kt FROM (
        SELECT tgt_id, ci,
               row_number() OVER (PARTITION BY tgt_id ORDER BY ci DESC, src_id) AS r
        FROM p) WHERE r <= {k} GROUP BY tgt_id
    ),
    m AS (
      SELECT p.src_id, p.tgt_id,
             p.ci / 10000.0 AS cos_sim,
             round(CAST((nns.ks + nnt.kt) * p.ci AS DOUBLE)
                   / nullif(nns.si + nnt.ti, 0), 4) AS margin
      FROM p JOIN nns USING (src_id) JOIN nnt USING (tgt_id)
    )
""".format(
    qv=_DUCK_QV, cap=BITEXT_SRC_CAP, k=BITEXT_K, ci=duck_pair_ci("sq", "tq")
)


def _bitext_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the _BX_PAIR_SQL CTE chain: all (en-slice, de)
    pairs scored with the integer-exact ratio margin."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tagged = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "lang"
    )
    src = tagged.where(
        (F.col("lang") == "en") & (F.col("vec_id") < BITEXT_SRC_CAP)
    ).limit(BITEXT_SRC_CAP)
    return bitext_margin_pairs(src, tagged.where(F.col("lang") == "de"))


@register(
    "bitext_mine_margin",
    oracle=f"""
    WITH {_BX_PAIR_SQL}
    SELECT src_id, tgt_id, cos_sim, margin FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY margin DESC, cos_sim DESC, tgt_id) AS rn
      FROM m) WHERE rn = 1
    """,
    description="Margin-based bitext mining (Artetxe & Schwenk ratio margin): best tgt-lang candidate per src vector",
    tags=("similarity", "text", "pandas-udf"),
)
def bitext_mine_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward mining en->de over the embeddings+documents join: for
    each bounded-source vector, the target-language candidate with the
    highest ratio margin (module header of operators/bitext.py). The
    margin is exact-integer arithmetic over the exact ``ci`` cosines
    (comment on _BX_PAIR_SQL), so both engines rank identically. The
    pair feed is |src_cap| x |tgt| — the broadcast-queries ANN shape;
    recall on planted translations is pinned in
    tests/test_round13_ops.py."""
    return mine_bitext(_bitext_scored(spark, sf_dir))


@register(
    "bitext_margin_threshold_sweep",
    oracle=f"""
    WITH {_BX_PAIR_SQL},
    best AS (
      SELECT src_id, cos_sim, margin FROM (
        SELECT *, row_number() OVER (PARTITION BY src_id
                                     ORDER BY margin DESC, cos_sim DESC, tgt_id) AS rn
        FROM m) WHERE rn = 1
    )
    SELECT t.thr / 10000.0 AS threshold,
           count(CASE WHEN best.margin >= t.thr / 10000.0 THEN 1 END) AS n_accept,
           round(coalesce(avg(CASE WHEN best.margin >= t.thr / 10000.0
                                   THEN best.cos_sim END), 0), 4) AS mean_cos
    FROM best CROSS JOIN (VALUES {", ".join(f"({t})" for t in BITEXT_THRESHOLDS)}) t(thr)
    GROUP BY t.thr ORDER BY t.thr
    """,
    description="Bitext accept-threshold sweep: mined-pair counts and mean cosine at each margin cut",
    tags=("similarity", "text", "pandas-udf"),
)
def bitext_margin_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection for the miner (the
    dedup_lsh_parameter_sweep pattern): score once, fan out by a
    literal threshold frame, count accepted pairs and their mean
    cosine per cut. mean over ``ci / 10000.0`` values at bounded
    count, rounded to 4 decimals."""
    from pyspark.sql.window import Window

    scored = _bitext_scored(spark, sf_dir)
    w = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.desc("cos_sim"), F.asc("tgt_id")
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("src_id", "cos_sim", "margin")
        .localCheckpoint(eager=False)
    )
    thr = spark.createDataFrame(
        [(t,) for t in BITEXT_THRESHOLDS], "thr long"
    )
    return (
        best.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.count(
                F.when(F.col("margin") >= F.col("thr") / 10000.0, F.lit(1))
            ).alias("n_accept"),
            F.round(
                F.coalesce(
                    F.avg(
                        F.when(
                            F.col("margin") >= F.col("thr") / 10000.0,
                            F.col("cos_sim"),
                        )
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("mean_cos"),
        )
        .select(
            (F.col("thr") / 10000.0).alias("threshold"), "n_accept", "mean_cos"
        )
        .orderBy("threshold")
    )


@register(
    "bitext_intersection_pairs",
    oracle=f"""
    WITH {_BX_PAIR_SQL},
    fwd AS (
      SELECT src_id, tgt_id, cos_sim, margin FROM (
        SELECT *, row_number() OVER (PARTITION BY src_id
                                     ORDER BY margin DESC, cos_sim DESC, tgt_id) AS rn
        FROM m) WHERE rn = 1
    ),
    bwd AS (
      SELECT src_id, tgt_id, margin AS margin_bwd FROM (
        SELECT *, row_number() OVER (PARTITION BY tgt_id
                                     ORDER BY margin DESC, cos_sim DESC, src_id) AS rn
        FROM m) WHERE rn = 1
    )
    SELECT f.src_id, f.tgt_id, f.cos_sim,
           least(f.margin, b.margin_bwd) AS margin_min
    FROM fwd f JOIN bwd b ON f.src_id = b.src_id AND f.tgt_id = b.tgt_id
    """,
    description="Bidirectional bitext intersection: pairs that are each other's best margin candidate in BOTH directions",
    tags=("similarity", "text", "pandas-udf"),
)
def bitext_intersection_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper's highest-precision mining strategy: keep a pair only
    when x is y's best candidate AND y is x's best (intersection of
    forward and backward mining). One extra window over the SAME
    scored pair frame plus an equi-join of two bounded best-lists —
    the precision/recall trade is pinned in tests (planted pairs
    survive the intersection; the hub never does, because the hub's
    backward best can only be one src). margin_min is the
    conservative acceptance score."""
    from pyspark.sql.window import Window

    scored = _bitext_scored(spark, sf_dir).localCheckpoint(eager=False)
    w_f = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.desc("cos_sim"), F.asc("tgt_id")
    )
    fwd = (
        scored.withColumn("_rn", F.row_number().over(w_f))
        .where(F.col("_rn") == 1)
        .select("src_id", "tgt_id", "cos_sim", "margin")
    )
    w_b = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin"), F.desc("cos_sim"), F.asc("src_id")
    )
    bwd = (
        scored.withColumn("_rn", F.row_number().over(w_b))
        .where(F.col("_rn") == 1)
        .select(
            F.col("src_id").alias("b_src"),
            F.col("tgt_id").alias("b_tgt"),
            F.col("margin").alias("margin_bwd"),
        )
    )
    return fwd.join(
        bwd,
        (F.col("src_id") == F.col("b_src")) & (F.col("tgt_id") == F.col("b_tgt")),
    ).select(
        "src_id",
        "tgt_id",
        "cos_sim",
        F.least(F.col("margin"), F.col("margin_bwd")).alias("margin_min"),
    )


@register(
    "bitext_mine_bucketed",
    oracle=f"""
    WITH RECURSIVE
    cent AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS idx, {_DUCK_QV} AS qc
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_SEM_K_SQL})
    ),
    tagged AS (
      SELECT e.vec_id, e.embedding, {_DUCK_QV} AS q, d.lang
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang IN ('en', 'de')
    ),
    cells AS (
      SELECT vec_id, q, lang, idx AS cell
      FROM (SELECT t.vec_id, t.q, t.lang, c.idx,
                   row_number() OVER (PARTITION BY t.vec_id ORDER BY
                     -2 * list_dot_product(t.q, c.qc)
                     + list_dot_product(c.qc, c.qc), c.idx) AS rn
            FROM tagged t CROSS JOIN cent c)
      WHERE rn = 1
    ),
    p AS MATERIALIZED (
      SELECT * FROM (
        SELECT s.vec_id AS src_id, t.vec_id AS tgt_id, s.cell,
               {duck_pair_ci("s.q", "t.q")} AS ci
        FROM cells s JOIN cells t ON s.cell = t.cell
        WHERE s.lang = 'en' AND t.lang = 'de'
      ) WHERE ci > 0
    ),
    nns AS (
      SELECT src_id, sum(ci) AS si, count(*) AS ks FROM (
        SELECT src_id, ci,
               row_number() OVER (PARTITION BY src_id ORDER BY ci DESC, tgt_id) AS r
        FROM p) WHERE r <= {BITEXT_K} GROUP BY src_id
    ),
    nnt AS (
      SELECT tgt_id, sum(ci) AS ti, count(*) AS kt FROM (
        SELECT tgt_id, ci,
               row_number() OVER (PARTITION BY tgt_id ORDER BY ci DESC, src_id) AS r
        FROM p) WHERE r <= {BITEXT_K} GROUP BY tgt_id
    ),
    m AS (
      SELECT p.src_id, p.tgt_id, p.cell,
             p.ci / 10000.0 AS cos_sim,
             round(CAST((nns.ks + nnt.kt) * p.ci AS DOUBLE)
                   / nullif(nns.si + nnt.ti, 0), 4) AS margin
      FROM p JOIN nns USING (src_id) JOIN nnt USING (tgt_id)
    )
    SELECT src_id, tgt_id, cell, cos_sim, margin FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY margin DESC, cos_sim DESC, tgt_id) AS rn
      FROM m) WHERE rn = 1
    """,
    description="Cell-bucketed bitext mining (UNBOUNDED both sides): corpus-scaled IVF cells restrict the pair feed; within-cell ratio margin",
    tags=("similarity", "text", "iterative", "pandas-udf"),
)
def bitext_mine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for mining when NEITHER side is bounded (the
    bitext_mine_margin contract caps the source side; real
    corpus-vs-corpus mining cannot): both language slices are assigned
    to the same corpus-scaled IVF cells (sem_k — the SemDeDup
    discipline, cells grow with the corpus so cell size stays
    ~constant), and candidate pairs, k-NN neighborhood sums, and the
    ratio margin are all computed WITHIN cells. Pair work is bounded
    per cell instead of |X| x |Y|; margins use the exact-integer
    contract with the ACTUAL within-cell neighborhood size ((ks+kt)*ci
    / (si+ti)) since small cells can hold fewer than k candidates.
    Recall vs the exact miner is the price of the bucketing (same
    trade as ann_ivf_topk vs brute force) and is pinned on the planted
    fixture in tests; the seeded assignment replays as a SQL window,
    which is what keeps this fully oracled."""
    from crypto_etl_pipeline_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_build_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tagged = emb.join(docs, emb.vec_id == docs.doc_id).where(
        F.col("lang").isin("en", "de")
    )
    cents = ivf_build_centroids(emb, k=sem_k(_emb_count(sf_dir)), iters=0)
    cells = ivf_assign_cells(tagged, cents).join(
        docs, F.col("neighbor_id") == F.col("doc_id")
    ).select(
        F.col("neighbor_id").alias("vid"), "_cell", "_cvec", "lang"
    ).localCheckpoint(eager=False)
    src = cells.where(F.col("lang") == "en").select(
        F.col("vid").alias("src_id"), F.col("_cell").alias("cell"),
        F.col("_cvec").alias("_sv"),
    )
    tgt = cells.where(F.col("lang") == "de").select(
        F.col("vid").alias("tgt_id"), F.col("_cell").alias("_tc"),
        F.col("_cvec").alias("_tv"),
    )
    return mine_bitext(
        margin_scores(
            src.join(tgt, src.cell == tgt._tc).select(
                "src_id",
                "tgt_id",
                "cell",
                pair_ci_pd()(F.col("_sv"), F.col("_tv")).alias("ci"),
            )
        )
    )
