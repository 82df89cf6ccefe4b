"""Similarity search over embedding columns (north-star extension §2.13).

- ``pair_ci_pd`` / ``duck_pair_ci``: THE cosine of the vector family
  (one Spark kernel and its DuckDB twin), exact integer arithmetic so
  both engines return the same ``ci`` bit for bit.
- ``brute_force_topk``: exact top-k neighbors for a (small) query set:
  broadcast the queries, one narrow pass over the corpus, then a
  partitioned window keeps k per query. Scales as corpus_size x
  n_queries with NO shuffle of the corpus (only of the k survivors).
- ``lsh_bucketed_topk``: random-hyperplane (sign) LSH scale path:
  corpus hashed once into buckets (narrow), queries probe only their
  bucket — the join is on the bucket key, so the candidate set is a
  tiny fraction of the corpus. Hyperplanes are generated from a fixed
  seed at plan-build time (deterministic, reproducible).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: fixed-point scale of every exact-integer vector kernel (pair cosine,
#: sign-LSH projections, IVF/PQ centroid distances): components are
#: quantized to ``floor(x * LSH_SCALE)``, an exact float64 integer.
LSH_SCALE = 1 << 20

EMBED_DIM = 64  #: width of the embeddings column (LSH planes, PQ subspaces)


def duck_qv(col: str) -> str:
    """DuckDB fragment quantizing the list column ``col`` the way
    :func:`pair_ci_pd` and the centroid kernels do."""
    return f"list_transform({col}, x -> floor(x::DOUBLE * {float(LSH_SCALE)}))"


def duck_pair_ci(sq: str, tq: str) -> str:
    """DuckDB twin of :func:`pair_ci_pd` over two quantized lists
    (:func:`duck_qv`). A zero or NULL vector divides by zero, which
    DuckDB answers with NULL."""
    return (
        f"CAST(floor(list_dot_product({sq}, {tq})"
        f" / sqrt(list_dot_product({sq}, {sq}) * list_dot_product({tq}, {tq}))"
        " * 10000 + 0.5) AS BIGINT)"
    )


def pair_ci_pd():
    """Exact per-pair cosine in units of 1e-4 — ``ci``, a long, with
    ``cos_sim = ci / 10000.0`` — Arrow-batched, one numpy pass per
    batch. Every cosine of the vector family goes through it.

    Components are quantized to ``floor(x * LSH_SCALE)`` (x = 2^20), so
    the dot product and both squared norms are sums of integers. They
    are exact in float64, in any summation order, while
    ``dim * (max|x| * 2^20)^2 < 2^53``. The inputs meet that bound with
    room to spare:

    - the ``embeddings`` column: 64 dims of a float32 unit vector,
      |x| <= 1 (to float32 rounding), so the sums stay below 2^47;
    - Matryoshka prefixes of it: fewer dims, same |x|;
    - ``ann_jl_projected_topk``'s 16-dim ±1 projections of those unit
      vectors: |x| <= sqrt(64) = 8, so the sums stay below 2^50.

    ``ci = floor(dot / sqrt(na * nb) * 10000 + 0.5)`` is then five
    correctly-rounded IEEE operations in the same order as the DuckDB
    twin (:func:`duck_pair_ci`), so the two engines agree bit for bit.
    A float cosine rounded to 4 decimals does not: DuckDB's built-in
    list cosine works in float32 on FLOAT lists, and a pair within
    float error of a ``.xxxx5`` boundary rounds differently.

    A null vector, or one that quantizes to all zeros, gives a null
    ``ci`` (DuckDB's division by zero does the same). Rows may differ in
    length (per-row prefixes); the two vectors of a pair may not."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def pair_ci(sv: pd.Series, tv: pd.Series) -> pd.Series:
        sva, tva = sv.to_numpy(), tv.to_numpy()
        ci = np.full(len(sva), np.nan)
        ok = (sv.notna() & tv.notna()).to_numpy()
        dims = np.fromiter((len(v) if o else -1 for v, o in zip(sva, ok)), np.int64, len(sva))
        for d in np.unique(dims[ok]):
            rows = np.flatnonzero(dims == d)
            S = np.floor(np.stack(sva[rows]).astype(np.float64) * LSH_SCALE)
            T = np.floor(np.stack(tva[rows]).astype(np.float64) * LSH_SCALE)
            num = np.einsum("ij,ij->i", S, T)
            den = np.sqrt(np.einsum("ij,ij->i", S, S) * np.einsum("ij,ij->i", T, T))
            with np.errstate(divide="ignore", invalid="ignore"):
                ci[rows] = np.where(den > 0, np.floor(num / den * 10000.0 + 0.5), np.nan)
        return pd.Series(ci).astype("Int64")

    return pair_ci


def _spread(df: DataFrame) -> DataFrame:
    """Hash-repartition a compact ``vec_id``-keyed table across all cores.

    The per-pair cosine passes below are CPU-bound; if
    the corpus parquet arrives as one split (typical for a small table,
    and exactly what the driver's testdata does), a broadcast join pins
    the whole pass to ONE task. At 100 TB the table has thousands of
    splits and this is a no-op-cost guard (only fires when partitions <
    cores); at test scale it is the difference between 1 and 32 cores.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # Plan-derived parallelism proxy: leaf input files, not
    # df.rdd.getNumPartitions() — the RDD conversion rebuilds the whole
    # physical plan into a Python RDD wrapper on every call, which is
    # pure driver overhead in a hot helper. A table with >= cores files
    # is already parallel enough (the 100 TB case: thousands of files ->
    # no-op); fewer files than cores means a compact table where one
    # hash shuffle to all cores is the cheap, right call.
    if len(df.inputFiles()) < target:
        return df.repartition(target, F.col("vec_id"))
    return df


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is broadcast (it must be the small side); the exact
    cosine kernel (:func:`pair_ci_pd`) scores each pair corpus-side; a
    window partitioned by query id ranks candidates. Returns (query_id,
    neighbor_id, cos_sim, rank).
    """
    from pyspark.sql.window import Window

    q = queries.select(F.col("vec_id").alias("query_id"), F.col(vec_col).alias("_qvec"))
    c = _spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    # Per-pair cosine via the Arrow-batched exact kernel: the broadcast
    # join only routes rows; all arithmetic is one numpy pass per batch.
    sims = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (pair_ci_pd()(F.col("_qvec"), F.col("_cvec")) / 10000.0).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplanes(n_planes: int) -> list[list[float]]:
    """Deterministic Rademacher (+/-1) hyperplanes from the fixed seed 42.

    Sign-random-projection LSH does not need Gaussian planes —
    Achlioptas-style +/-1 entries give the same locality guarantees and
    make the projection EXACT arithmetic: each term is +/-floor(x*2^20),
    an integer, so the sign is reproducible bit-for-bit in DuckDB (the
    oracle inlines the same plane literals)."""
    rng = np.random.RandomState(42)
    return rng.choice([-1.0, 1.0], size=(n_planes, EMBED_DIM)).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane (quantized dot >= 0).

    The projection is a sum of ``+/- floor(x_i * LSH_SCALE)`` integer
    terms (planes are +/-1), exact in both engines — no FP-order
    ambiguity can flip a bucket bit. The quantization lives INSIDE each
    plane's zip_with lambda (referencing the vector attribute directly)
    rather than behind a shared transform() alias, which CollapseProject
    would inline and re-evaluate per plane (see operators/dedup.py)."""
    sig = F.lit(0).cast("long")
    scale = F.lit(float(LSH_SCALE))
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in plane]),
                lambda x, y: F.floor(x.cast("double") * scale) * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
    return sig


def _project_rows(v: pd.Series, M: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode one Arrow batch of an embedding column for the hyperplane
    and centroid kernels: ``(P, null)``, where ``P`` is
    ``floor(x * LSH_SCALE) @ M`` for the non-null rows, in batch order,
    and ``null`` masks the null rows."""
    null = v.isna().to_numpy()
    rows = v.to_numpy()[~null]
    X = np.stack(rows).astype(np.float64) if len(rows) else np.zeros((0, M.shape[0]))
    return np.floor(X * LSH_SCALE) @ M, null


def _null_rows(out: np.ndarray, null: np.ndarray) -> pd.Series:
    """One kernel output per batch row: ``out`` holds the non-null rows'
    values (a 2-D ``out`` gives one array per row), and a null input row
    gives a null output, as DuckDB's list functions do."""
    vals = list(out) if out.ndim > 1 else out
    if not null.any():
        return pd.Series(vals)
    res = np.full(len(null), None, dtype=object)
    for i, x in zip(np.flatnonzero(~null), vals):
        res[i] = x
    return pd.Series(res)


def _lsh_signature_pd(planes: list[list[float]]):
    """Arrow-batched twin of :func:`lsh_signature` (one matmul per
    batch). Exact-integer arithmetic (floor-quantized terms < 2^26,
    sums < 2^32 — exact in float64), so numpy, the JVM expression, and
    the DuckDB oracle all agree bit-for-bit on every bucket."""
    from pyspark.sql.functions import pandas_udf

    M = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = np.asarray([1 << i for i in range(M.shape[1])], dtype=np.int64)

    @pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        proj, null = _project_rows(v, M)
        return _null_rows(((proj >= 0).astype(np.int64) * weights).sum(axis=1), null)

    return bucket


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    """XOR masks for multi-probe LSH: all bit patterns of hamming
    weight <= radius over n_planes bits, ascending weight."""
    from itertools import combinations

    masks: list[int] = []
    for w in range(radius + 1):
        for bits in combinations(range(n_planes), w):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    probe_radius: int = 2,
) -> DataFrame:
    """Approximate top-k via MULTI-PROBE sign-LSH.

    The corpus is hashed once into 2^n_planes buckets; each query
    probes its own bucket plus every bucket within hamming distance
    ``probe_radius`` of its signature (sum of C(n_planes, r) probes —
    the classic multi-probe construction, which buys the recall of many
    hash tables for one table's storage). Single-bucket sign-LSH recall
    is ~p^n_planes with p = 1 - angle/pi per plane, which collapses for
    moderate-similarity neighbors (measured 0.03 at n_planes=6);
    radius-2 multi-probe lifts the same setup past 0.5. Recall/cost
    tunes via n_planes and probe_radius. At 100 TB the bucket id is
    also the table's partition key, so each probe prunes partitions.
    """
    from pyspark.sql.window import Window

    planes = _hyperplanes(n_planes)
    masks = _probe_masks(n_planes, probe_radius)
    # Corpus-side bucketing: Arrow matmul UDF (one pass, vectorized).
    # Query-side (small, broadcast): JVM expression. Both are the same
    # exact-integer arithmetic, so buckets agree bit-for-bit (tested).
    c = _spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        _lsh_signature_pd(planes)(F.col("embedding")).alias("_bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        lsh_signature(F.col("embedding"), planes).alias("_sig"),
    ).select(
        "query_id",
        "_qvec",
        # multi-probe fan-out: one row per probed bucket. Masks are
        # distinct, so a (query, neighbor) candidate appears at most
        # once — no dedup needed before ranking.
        F.explode(
            F.array(*[F.col("_sig").bitwiseXOR(F.lit(m)).cast("long") for m in masks])
        ).alias("_bucket"),
    )
    sims = (
        c.join(F.broadcast(q), "_bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (pair_ci_pd()(F.col("_qvec"), F.col("_cvec")) / 10000.0).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the k-means-cell scale path for ANN.
# ---------------------------------------------------------------------------
def _centroid_rows(df, k: int) -> list[list[float]]:
    """Deterministic seeds: the k lowest-id vectors (no RNG)."""
    rows = df.orderBy("vec_id").limit(k).select("embedding").collect()
    return [[float(x) for x in r["embedding"]] for r in rows]


def _quantize(cent: list[float]) -> list[float]:
    """floor(x * LSH_SCALE) per component, as exact float64 integers."""
    import math

    return [float(math.floor(x * LSH_SCALE)) for x in cent]


def _nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid (squared L2), ties -> lowest index.

    Distances use floor-quantized coordinates (see ``LSH_SCALE``):
    every term is an exact integer < 2^48 in float64, so the argmin is
    bit-identical across this expression, the numpy twin, and the
    DuckDB oracle — no FP-order ambiguity near cell boundaries.

    Flat plan-time unrolling: one dot-product chain per centroid over
    the vector ATTRIBUTE (cheap to reference), min via lexicographic
    array_min over (distance, index) structs — no HOF-over-expression
    nesting (see operators/dedup.py docstring for why that matters).
    NOTE: do NOT unroll the dot into a flat getItem multiply-add chain:
    a 16x64-term expression tree blows past codegen limits and falls
    back to per-node interpreted eval (measured 7x SLOWER than the HOF
    fold).
    """
    scale = F.lit(float(LSH_SCALE))
    dists = []
    for i, c in enumerate(centroids):
        # |v|^2 is constant per row — omitted; argmin over
        # -2<qv,qc> + |qc|^2 is identical and saves k extra dot passes.
        qc = _quantize(c)
        lit = F.array(*[F.lit(v) for v in qc])
        qdot = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: F.floor(x.cast("double") * scale) * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        d = -2 * qdot + sum(v * v for v in qc)
        dists.append(F.struct(d.alias("dist"), F.lit(i).alias("idx")))
    return F.array_min(F.array(*dists)).getField("idx")


def _nearest_centroid_pd(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment (the hot IVF path).

    One numpy matmul per Arrow batch against the (dim x k) centroid
    matrix replaces k interpreted HOF dot-folds per row — the canonical
    "vectorized Pandas UDF when built-ins can't express it efficiently"
    pattern. Same floor-quantized exact-integer distances as
    :func:`_nearest_centroid` (products < 2^42, sums < 2^49 — exact in
    float64 matmul), so assignments match the expression variant and
    the DuckDB oracle bit-for-bit; ties break to the lowest centroid
    index in all three (np.argmin = first occurrence).
    """
    from pyspark.sql.functions import pandas_udf

    M = np.asarray([_quantize(c) for c in centroids], dtype=np.float64).T  # (dim, k)
    c2 = (M * M).sum(axis=0)  # |qc|^2 per centroid

    @pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        proj, null = _project_rows(v, M)
        d = -2.0 * proj + c2  # |qv|^2 constant per row — omitted
        return _null_rows(d.argmin(axis=1).astype(np.int32), null)

    return nearest


def _nearest_cells_pd(centroids: list[list[float]], nprobe: int):
    """Arrow-batched nprobe-nearest-cells (the query-side probe).

    Same quantized exact-integer distances as :func:`_nearest_centroid`;
    stable argsort breaks distance ties to the lowest centroid index,
    matching the oracle's ``ORDER BY d, idx``. Exists because the
    unrolled k-centroid HOF expression costs ~2 s of Catalyst
    analysis/codegen per query regardless of row count — a plan-size
    tax the UDF avoids entirely.
    """
    from pyspark.sql.functions import pandas_udf

    M = np.asarray([_quantize(c) for c in centroids], dtype=np.float64).T  # (dim, k)
    c2 = (M * M).sum(axis=0)  # |qc|^2 per centroid

    @pandas_udf("array<int>")
    def nearest_cells(v: pd.Series) -> pd.Series:
        proj, null = _project_rows(v, M)
        d = -2.0 * proj + c2  # |qv|^2 constant per row — omitted
        return _null_rows(np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int32), null)

    return nearest_cells


def ivf_build_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic mini k-means: seed with the k lowest-id vectors,
    then `iters` Lloyd steps. Each step is one distributed assignment
    pass + a per-dimension mean (posexplode -> groupBy(cell, pos) avg);
    only the k centroid vectors ever reach the driver.
    """
    cents = _centroid_rows(corpus, k)
    corpus = _spread(corpus)
    for _ in range(iters):
        assigned = corpus.select(
            F.col("embedding").alias("_v"), _nearest_centroid_pd(cents)(F.col("embedding")).alias("_cell")
        )
        means = (
            assigned.select("_cell", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_cell", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_cell")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"))
            .select("_cell", F.transform("_pm", lambda s: s.getField("_m")).alias("_centroid"))
            .collect()
        )
        by_cell = {r["_cell"]: [float(x) for x in r["_centroid"]] for r in means}
        # empty cells keep their previous centroid
        cents = [by_cell.get(i, cents[i]) for i in range(k)]
    return cents


def ivf_assign_cells(corpus: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(neighbor_id, _cvec, _cell): the corpus with its IVF cell id.

    At 100 TB this table is what you PERSIST (written out partitioned
    by ``_cell`` so a probe prunes partitions); callers that probe
    repeatedly pass it to :func:`ivf_topk` via ``cells=`` instead of
    re-assigning the corpus per query batch.
    """
    return _spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        _nearest_centroid_pd(centroids)(F.col("embedding")).alias("_cell"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF probe: each query scans only its `nprobe` nearest cells.

    The corpus is assigned to cells once (``cells=`` accepts a
    pre-assigned/persisted table — at 100 TB the cell id is the table's
    partition column, so a probe prunes partitions); queries fan out to
    nprobe cells; exact cosine ranks within the candidate set.
    Recall/cost tunes via k (cells) and nprobe. Cell assignment uses
    the same floor-quantized exact-integer distances everywhere
    (expression, numpy, DuckDB oracle) — see ``_nearest_centroid``.
    """
    from pyspark.sql.window import Window

    if cells is None:
        cells = ivf_assign_cells(corpus, centroids)
    # nprobe nearest cells per query: Arrow-batched stable argsort over
    # the same quantized distances as the corpus assignment (the
    # unrolled expression alternative costs ~2 s of plan analysis).
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        F.explode(
            _nearest_cells_pd(centroids, nprobe)(F.col("embedding"))
        ).alias("_cell"),
    )
    sims = (
        cells.join(F.broadcast(q), "_cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (pair_ci_pd()(F.col("_qvec"), F.col("_cvec")) / 10000.0).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


SEM_CELL_CAP = 512  #: max members per cell before deterministic sub-cell split
#: (cap_hot_cells). With corpus-scaled k the cap returns to its intended
#: role: a guard against one DEGENERATE embedding cluster (boilerplate
#: docs), not against global growth. Strict no-op at every tested SF
#: (max cell ~200 at sf0.1), so the recursive-CTE oracle replays exactly;
#: the guard mechanism itself is pinned on a skewed fixture in
#: tests/test_round6_ops.py.


def cap_hot_cells(
    assignments: DataFrame,
    max_cell_size: int,
) -> DataFrame:
    """Bound the within-cell pair explosion: SPLIT any cell larger than
    ``max_cell_size`` into exact-size sub-cells.

    The IVF-cell twin of :func:`~crypto_etl_pipeline_spark.operators.
    dedup.cap_hot_buckets`: semantic dedup's within-cell all-pairs
    stage is quadratic in cell size, and with a FIXED cell count k one
    degenerate embedding cluster (boilerplate pages, templated docs)
    grows ~quadratically with the corpus while every other stage grows
    linearly. Unlike the LSH cap — which DROPS oversized buckets,
    because a pair lost in one band usually survives in another — a
    doc dropped from its IVF cell has no second chance, so this guard
    keeps every row and instead re-labels ``_cell`` with
    deterministic sub-cells of AT MOST ``max_cell_size`` members:
    within-sub-cell pair count is bounded by cap²/2 regardless of how
    hot the parent cell gets. Recall semantics (documented, not
    hidden): pairs split across sub-cells are not compared — the
    SemDeDup trade, identical in kind to raising k; connected
    components can still merge sub-cells through surviving edges.

    Cost shape: one window over the SAME per-cell partitioning the
    downstream self-join shuffles on (no extra exchange). The per-cell
    sort that numbers rows is O(n log n) in the hot cell — versus the
    O(n²) join it prevents; row order is decorrelated from id locality
    by sorting on xxhash64 of the row's non-cell columns. Output
    ``_cell`` is a string ("<cell>#<sub>", sub 0 for cells under
    the cap) so hot and cold cells stay uniformly typed.
    """
    from pyspark.sql.window import Window

    others = [c for c in assignments.columns if c != "_cell"]
    w = Window.partitionBy("_cell").orderBy(
        F.xxhash64(*[F.col(c) for c in others]), *[F.col(c) for c in others]
    )
    sub = F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(max_cell_size))
    return assignments.withColumn(
        "_cell", F.concat_ws("#", F.col("_cell").cast("string"), sub.cast("string"))
    )


def ivf_hot_cells(assignments: DataFrame) -> DataFrame:
    """The observability half of :func:`cap_hot_cells` (mirrors
    ``lsh_hot_buckets``): (cell, n_ids, skipped_comparisons) for every
    cell the semantic-dedup cap (``SEM_CELL_CAP``) would split, where
    skipped_comparisons counts the cross-sub-cell pairs the split stops
    comparing — a silent cap would read as full coverage."""
    max_cell_size = SEM_CELL_CAP
    # Mirror cap_hot_cells' ACTUAL split: floor(n/cap) full sub-cells
    # of exactly `cap` rows plus one remainder sub-cell of n mod cap —
    # retained pairs are full*C(cap,2) + C(r,2). (A balanced-split
    # model here overstated skipped pairs and lost the remainder row.)
    n_full = F.floor(F.col("n_ids") / F.lit(max_cell_size))
    rem = F.col("n_ids") % F.lit(max_cell_size)
    retained = n_full * F.lit(max_cell_size * (max_cell_size - 1) // 2) + (
        rem * (rem - 1) / 2
    )
    return (
        assignments.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .where(F.col("n_ids") > max_cell_size)
        .withColumn(
            "skipped_comparisons",
            ((F.col("n_ids") * (F.col("n_ids") - 1) / 2) - retained).cast("long"),
        )
    )


def rademacher_matrix(in_dim: int, out_dim: int) -> np.ndarray:
    """Deterministic Rademacher (±1) projection matrix from md5 parity.

    Entry (i, j) is +1 when the first hex character of
    ``md5(f"{i}_{j}")`` has even ASCII code, else -1 — a
    formula any engine with md5 can reproduce exactly (the DuckDB
    oracle regenerates the same matrix in SQL), so the projection is
    a portable contract, not a seed hidden inside one RNG
    implementation. Built once on the driver (in_dim x out_dim
    entries, e.g. 64x16 = 1 KiB) and shipped in the serialized UDF
    closure — never a shuffle-side object.
    """
    import hashlib

    m = np.empty((in_dim, out_dim), dtype=np.float64)
    for i in range(in_dim):
        for j in range(out_dim):
            h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
            m[i, j] = 1.0 if ord(h[0]) % 2 == 0 else -1.0
    return m


def random_projection(df: DataFrame, in_dim: int, out_dim: int) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas ±1 variant,
    "Database-friendly random projections", PODS'01): map D-dim
    embeddings to d-dim sketches that preserve pairwise distances to
    within (1±eps) — the standard pre-ANN dimensionality cut when D is
    large. Dense matmul over Arrow batches (``mapInPandas`` + numpy):
    one narrow map-only pass, O(n*D*d) flops executor-side, no
    shuffle, no driver round-trip. Long-form output (id, out_pos,
    proj) so downstream bucketing/aggregation sees flat columns. Reads
    the ``(vec_id, embedding)`` columns of ``df``.

    Per-partition cost is independent of corpus size — at 100 TB this
    is embarrassingly parallel and Arrow-batch bound; the matrix is a
    driver-built constant (see :func:`rademacher_matrix`), so every
    executor projects with bit-identical signs.
    """
    mat = rademacher_matrix(in_dim, out_dim)
    schema = "vec_id long, out_pos int, proj double"

    def _project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            proj = np.round(vecs @ mat, 6)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), out_dim),
                    "out_pos": np.tile(np.arange(out_dim, dtype=np.int32), n),
                    "proj": proj.reshape(-1),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(_project, schema=schema)


def random_projection_vec(df: DataFrame, in_dim: int, out_dim: int) -> DataFrame:
    """Wide-form twin of :func:`random_projection`: (vec_id, jl_vec array<double>)
    so the projected frame drops straight into the ANN operators
    (``brute_force_topk``/LSH take any vector column). Same md5-parity
    Rademacher matrix, same Arrow-batched matmul, same rounding — the
    two forms agree element-for-element, so an oracle written against
    the long form certifies this one too."""
    mat = rademacher_matrix(in_dim, out_dim)
    schema = "vec_id long, jl_vec array<double>"

    def _project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            proj = np.round(vecs @ mat, 6)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(), "jl_vec": list(proj)})

    return df.select("vec_id", "embedding").mapInPandas(_project, schema=schema)


def _centroid_dists_pd(centroids: list[list[float]]):
    """Arrow-batched FULL distance row against a codebook: for each
    input sub-vector, the K quantized distances ``-2<qv,qc_j> +
    |qc_j|^2`` as an array<double> (the PQ asymmetric-distance lookup
    table — :func:`_nearest_centroid_pd` is this row's argmin). Same
    floor-quantized exact-integer arithmetic as every other centroid
    path, so the values are bit-identical across numpy and the DuckDB
    oracle, not merely rank-identical."""
    from pyspark.sql.functions import pandas_udf

    M = np.asarray([_quantize(c) for c in centroids], dtype=np.float64).T  # (dim, k)
    c2 = (M * M).sum(axis=0)

    @pandas_udf("array<double>")
    def dist_row(v: pd.Series) -> pd.Series:
        proj, null = _project_rows(v, M)
        return _null_rows(-2.0 * proj + c2, null)  # |qv|^2 constant per row — omitted

    return dist_row


PQ_M = 8  #: product-quantization subspaces (64-dim -> 8 x 8)
PQ_SUBDIM = EMBED_DIM // PQ_M
PQ_K = 16  #: codewords per subspace (codes pack into 8 x 4 bits = 32 bits/vector)


def pq_train_codebooks(corpus: DataFrame, iters: int = 1) -> list[list[list[float]]]:
    """All PQ_M sub-codebooks (PQ_K codewords of PQ_SUBDIM dims each)
    in ONE distributed pass per Lloyd step.

    Per-subspace :func:`ivf_build_centroids` calls would cost
    2 jobs x n_sub x iters (measured: 7.8 s of mostly fixed job
    overhead at sf0.1 for n_sub=8); training must not multiply by M.
    Here the seeds are one bounded collect (the k lowest-id FULL
    vectors, sliced driver-side — identical per-subspace seeds to the
    sliced-frame formulation), and each Lloyd step is ONE pass: all
    n_sub Arrow assignment UDFs in a single projection, one posexplode
    of the full vector keyed by (subspace, cell, sub-position), one
    aggregation whose exchange carries n_sub*k*subdim groups after
    map-side partials. Only those mean rows reach the driver. Empty
    cells keep their previous centroid (the ivf_build_centroids /
    oracle `coalesce` contract); assignments use the floor-quantized
    exact-integer distances everywhere, so the result is bit-identical
    to the per-subspace loop and the unrolled SQL oracle.
    """
    n_sub, subdim, k = PQ_M, PQ_SUBDIM, PQ_K
    full = _centroid_rows(corpus, k)
    cbs = [
        [v[m * subdim : (m + 1) * subdim] for v in full] for m in range(n_sub)
    ]
    spread = _spread(corpus)
    for _ in range(iters):
        cell_cols = [
            _nearest_centroid_pd(cbs[m])(
                F.slice(F.col("embedding"), m * subdim + 1, subdim)
            ).alias(f"_c{m}")
            for m in range(n_sub)
        ]
        assigned = spread.select(F.col("embedding").alias("_v"), *cell_cols)
        ex = assigned.select(
            F.posexplode("_v").alias("_pos", "_x"),
            F.array(*[F.col(f"_c{m}") for m in range(n_sub)]).alias("_cells"),
        ).select(
            F.floor(F.col("_pos") / subdim).cast("int").alias("_m"),
            F.element_at(
                "_cells", (F.floor(F.col("_pos") / subdim) + 1).cast("int")
            ).alias("_cell"),
            (F.col("_pos") % subdim).alias("_sp"),
            "_x",
        )
        means = (
            ex.groupBy("_m", "_cell", "_sp").agg(F.avg("_x").alias("_mean")).collect()
        )
        by_mc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_mc.setdefault((r["_m"], r["_cell"]), {})[r["_sp"]] = r["_mean"]
        cbs = [
            [
                [float(by_mc[(m, j)][i]) for i in range(subdim)]
                if (m, j) in by_mc
                else cbs[m][j]
                for j in range(k)
            ]
            for m in range(n_sub)
        ]
    return cbs
