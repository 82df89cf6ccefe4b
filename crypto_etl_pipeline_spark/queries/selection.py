"""Wave-9 corpus-measurement & selection queries: k-center coreset
selection, exact distributed quantiles without a global sort, model
calibration bins, and deterministic random-walk graph sampling.

These extend the §2.13 data-selection family (DSIR, active learning,
curriculum — queries/retrieval.py) with four more tools a 100 TB
training-data pipeline runs:

- **k-center coreset** (Gonzalez 1985 farthest-point traversal, the
  greedy 2-approximation used by coreset-selection papers a la Sener &
  Savarese 2018): K scans, each a map-only distance fold plus a
  TakeOrderedAndProject argmax; only the K selected vectors ever reach
  the driver. Distances use the repo's floor-quantization contract
  (operators/similarity.py LSH_SCALE): every term is an exact integer
  < 2^48 in float64, so the argmax — and therefore the entire greedy
  trajectory — is bit-identical across Spark, numpy, and the unrolled
  DuckDB oracle.
- **Exact quantile via histogram refinement**: the scale path for
  EXACT percentiles when a global sort is off the table. Level-1
  fixed-width histogram (integer cents), pick the bin holding the
  target rank, level-2 finer histogram inside that bin, then the
  residual rank is a TakeOrderedAndProject + max over the final slice.
  Driver state is bounded by the VALUE RANGE / bin width, never the
  corpus; at 100 TB you add refinement levels (log_W of range),
  each an identical map-side-combine integer aggregation.
- **Calibration bins** (reliability diagram): the fixed hashed-feature
  scorer's predicted probability vs the observed quality-rule rate,
  grouped on an integer-thousandth margin grid so bin membership is
  exact cross-engine. Complements model_pr_curve (threshold sweep)
  with the calibration view (Guo et al. 2017).
- **Random walks** (DeepWalk/node2vec-style sampling, Perozzi 2014):
  T-step walks over the customer-supplier trade graph with the
  neighbor at each step chosen by md5(node, step) mod degree — the
  hash-seeded determinism idiom (operators/phash.py), so the walk
  paths replay exactly in SQL. Each step is one join of the
  Limit-bounded frontier against the indexed adjacency list.

Reference parity note: the reference (crypto_etl_pipeline.py) has no
selection/graph/quantile operators at all — SURVEY.md §2.13 mandates
these as first-class extension families.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.operators.phash import duck_md5_long, md5_long
from crypto_etl_pipeline_spark.operators.similarity import LSH_SCALE, _spread
from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table

# -- k-center coreset --------------------------------------------------------

K_CENTERS = 8

_SCALE = float(LSH_SCALE)
#: quantized embedding as a DuckDB fragment (exact: x::DOUBLE is the
#: float32 value exactly, * 2^20 is scaling by a power of two — no
#: rounding anywhere before the floor)
_DUCK_Q = f"list_transform(embedding, x -> floor(x::DOUBLE * {_SCALE}))"


def _qvec(c: Column) -> Column:
    """floor(x * 2^20) per component as LONGs — exact integers, the
    cross-engine distance contract (see operators/similarity.py)."""
    return F.transform(c, lambda x: F.floor(x.cast("double") * F.lit(_SCALE)))


def _dot_long(a: Column, b: Column) -> Column:
    """Integer dot product fold (long accumulator — values < 2^46)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy farthest-point traversal as SQL: step i is a
    (min-distance update, argmax selection) CTE pair — the same
    incremental-min recurrence the Spark loop runs. AS MATERIALIZED
    throughout (the bpe_train_merges lesson: DuckDB inlining
    re-evaluates chained CTE references exponentially)."""
    ctes = [
        f"""qq AS MATERIALIZED (
      SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS qq
      FROM (SELECT vec_id, {_DUCK_Q} AS q FROM embeddings)
    )""",
        """c0 AS MATERIALIZED (
      SELECT vec_id, q, qq FROM qq ORDER BY vec_id LIMIT 1
    )""",
        """d1 AS MATERIALIZED (
      SELECT v.vec_id, v.q, v.qq,
             v.qq - 2 * CAST(list_dot_product(v.q, c.q) AS BIGINT) + c.qq AS d
      FROM qq v CROSS JOIN c0 c
    )""",
    ]
    for i in range(1, k):
        ctes.append(f"""c{i} AS MATERIALIZED (
      SELECT vec_id, q, qq, d FROM d{i} ORDER BY d DESC, vec_id LIMIT 1
    )""")
        if i < k - 1:
            ctes.append(f"""d{i + 1} AS MATERIALIZED (
      SELECT v.vec_id, v.q, v.qq,
             least(v.d, v.qq - 2 * CAST(list_dot_product(v.q, c.q) AS BIGINT) + c.qq) AS d
      FROM d{i} v CROSS JOIN c{i} c
    )""")
    sel = ["SELECT 0 AS sel_order, vec_id, NULL::BIGINT AS d2q FROM c0"] + [
        f"SELECT {i}, vec_id, CAST(d AS BIGINT) FROM c{i}" for i in range(1, k)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(sel)


@register(
    "kcenter_coreset_selection",
    oracle=_kcenter_oracle(K_CENTERS),
    description=(
        f"Greedy k-center (farthest-point) coreset selection of "
        f"{K_CENTERS} embedding representatives — exact quantized-"
        f"distance trajectory, SQL-replayable"
    ),
    tags=("similarity", "sampling", "iterative"),
)
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-point traversal: start from the lowest-id
    vector, then K-1 times pick the point farthest from the chosen set
    (ties -> lowest vec_id) and fold its distance into the running
    minimum. Returns (sel_order, vec_id, d2q) — d2q is the squared
    quantized L2 distance to the prior centers at selection time.

    Scale shape: the corpus never moves — each round is a narrow
    least() update against ONE new center (a plan literal) plus a
    TakeOrderedAndProject(1) argmax; the quantized base frame is
    materialized once (localCheckpoint) so K rounds cost K map-scans
    of the cached frame, not K re-tokenizations. Driver state is the
    K selected vectors. Cross-engine determinism: distances are exact
    integers under the floor-quantization contract, so argmax ties
    can only occur at exact equality, where the vec_id tie-break is
    total. The greedy trajectory is therefore bit-identical to the
    unrolled DuckDB chain (no recall gate needed — this is exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        _spread(emb)
        .select("vec_id", _qvec(F.col("embedding")).alias("q"))
        .withColumn("qq", _dot_long(F.col("q"), F.col("q")))
        .localCheckpoint(eager=False)
    )
    first = base.orderBy("vec_id").limit(1).collect()[0]
    picks: list[tuple[int, int, int | None]] = [(0, int(first["vec_id"]), None)]
    center_q = [int(x) for x in first["q"]]

    def dist_to(center: list[int]) -> Column:
        carr = F.array(*[F.lit(v).cast("long") for v in center])
        c2 = sum(v * v for v in center)
        return (
            F.col("qq") - 2 * _dot_long(F.col("q"), carr) + F.lit(c2).cast("long")
        )

    # r14: lazy checkpoint per round — the chained least() updates made
    # round i's argmax job re-evaluate ALL i prior distance folds from
    # `base` (K²/2 interpreted HOF dot products per row over the loop);
    # behind the per-round cut each job evaluates exactly ONE new fold
    # against the materialized previous round (the connected-components
    # / random-walks loop discipline, guide §2/§5). Distances are exact
    # integers, so materializing them changes nothing.
    cur = base.withColumn("d", dist_to(center_q)).localCheckpoint(eager=False)
    for i in range(1, K_CENTERS):
        far = cur.orderBy(F.desc("d"), F.asc("vec_id")).limit(1).collect()[0]
        picks.append((i, int(far["vec_id"]), int(far["d"])))
        center_q = [int(x) for x in far["q"]]
        if i < K_CENTERS - 1:
            cur = cur.withColumn(
                "d", F.least(F.col("d"), dist_to(center_q))
            ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        picks, "sel_order INT, vec_id BIGINT, d2q BIGINT"
    )


# -- sampled (driver-loop-free) k-center ---------------------------------------

_KC_SAMPLE_N = 48  #: fixed-size hash-ordered sample (driver state bound)
_KC_SALT = "kcenter-sample-v1"


def _kcenter_sampled_oracle(k: int, n_sample: int) -> str:
    """Sampled Gonzalez, SQL-replayed: fixed-size hash-order-statistic
    sample -> unrolled greedy over the sample (the _kcenter_oracle
    recurrence restricted to it) -> one corpus-wide nearest-center
    assignment with (distance, sel_order) tie-break -> per-center
    rollup."""
    gate = f"('0x' || substr(md5(vec_id::VARCHAR || '{_KC_SALT}'), 1, 15))::BIGINT % 1000000"
    ctes = [
        f"""qq AS MATERIALIZED (
      SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS qq
      FROM (SELECT vec_id, {_DUCK_Q} AS q FROM embeddings)
    )""",
        f"""s AS MATERIALIZED (
      SELECT vec_id, q, qq FROM qq ORDER BY {gate}, vec_id LIMIT {n_sample}
    )""",
        """c0 AS MATERIALIZED (
      SELECT vec_id, q, qq FROM s ORDER BY vec_id LIMIT 1
    )""",
        """d1 AS MATERIALIZED (
      SELECT v.vec_id, v.q, v.qq,
             v.qq - 2 * CAST(list_dot_product(v.q, c.q) AS BIGINT) + c.qq AS d
      FROM s v CROSS JOIN c0 c
    )""",
    ]
    for i in range(1, k):
        ctes.append(f"""c{i} AS MATERIALIZED (
      SELECT vec_id, q, qq, d FROM d{i} ORDER BY d DESC, vec_id LIMIT 1
    )""")
        if i < k - 1:
            ctes.append(f"""d{i + 1} AS MATERIALIZED (
      SELECT v.vec_id, v.q, v.qq,
             least(v.d, v.qq - 2 * CAST(list_dot_product(v.q, c.q) AS BIGINT) + c.qq) AS d
      FROM d{i} v CROSS JOIN c{i} c
    )""")
    centers = ["SELECT 0 AS sel_order, vec_id, q, qq FROM c0"] + [
        f"SELECT {i}, vec_id, q, qq FROM c{i}" for i in range(1, k)
    ]
    ctes.append("centers AS MATERIALIZED (" + "\n      UNION ALL ".join(centers) + ")")
    ctes.append("""a AS MATERIALIZED (
      SELECT v.vec_id, c.sel_order, c.vec_id AS center_vec_id,
             v.qq - 2 * CAST(list_dot_product(v.q, c.q) AS BIGINT) + c.qq AS d
      FROM qq v CROSS JOIN centers c
    )""")
    ctes.append("""r AS (
      SELECT vec_id, sel_order, center_vec_id, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, sel_order) AS rn
      FROM a
    )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT sel_order, center_vec_id,
           count(*)::BIGINT AS n_assigned,
           max(d)::BIGINT AS radius_d2q
    FROM r WHERE rn = 1 GROUP BY 1, 2"""
    )


@register(
    "kcenter_sampled_assign",
    oracle=_kcenter_sampled_oracle(K_CENTERS, _KC_SAMPLE_N),
    description=(
        f"Driver-loop-free k-center: Gonzalez over a fixed {_KC_SAMPLE_N}-"
        f"vector hash-ordered sample, then ONE distributed nearest-center "
        f"assignment pass (per-center population + coverage radius)"
    ),
    tags=("similarity", "sampling"),
)
def kcenter_sampled_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kcenter_coreset_selection without the K sequential driver rounds
    (VERDICT r7 task #8): the exact variant's per-round argmax is a full
    corpus job, inherent to greedy — this is the scale path for K past
    single digits. (1) a FIXED-SIZE uniform sample via hash order
    statistics (TakeOrderedAndProject on the md5 gate: driver state is
    _KC_SAMPLE_N rows regardless of corpus size — a rate-based sample
    would grow with the data); (2) Gonzalez runs driver-side over the
    sample in exact quantized-integer arithmetic (zero Spark jobs);
    (3) ONE distributed map pass assigns every corpus vector to its
    nearest center — K flat distance columns behind their own
    projection (HOF folds evaluated once each, never re-inlined),
    least() + first-match CASE for the (distance, sel_order) tie-break
    — and an 8-key aggregation yields per-center population and
    coverage radius. 2-approximation on the sample's coverage; the
    radius column is exactly the audit a user checks it with.
    Everything is md5/integer-deterministic, so the full pipeline
    (sample -> greedy -> assignment) replays bit-identically in the
    DuckDB oracle."""
    from crypto_etl_pipeline_spark.operators.sampling import hash_gate

    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        _spread(emb)
        .select("vec_id", _qvec(F.col("embedding")).alias("q"))
        .withColumn("qq", _dot_long(F.col("q"), F.col("q")))
        .localCheckpoint(eager=False)
    )
    sample = (
        base.withColumn("_g", hash_gate(F.col("vec_id"), _KC_SALT))
        .orderBy("_g", "vec_id")
        .limit(_KC_SAMPLE_N)
        .collect()
    )
    pts = [(int(r["vec_id"]), [int(x) for x in r["q"]], int(r["qq"])) for r in sample]
    pts.sort(key=lambda p: p[0])

    def _d2(a: list[int], b: list[int]) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    centers = [pts[0]]
    dmin = {vid: _d2(q, pts[0][1]) for vid, q, _ in pts}
    for _ in range(1, K_CENTERS):
        far = max(pts, key=lambda p: (dmin[p[0]], -p[0]))
        centers.append(far)
        for vid, q, _ in pts:
            d = _d2(q, far[1])
            if d < dmin[vid]:
                dmin[vid] = d

    def dist_to(cq: list[int]) -> Column:
        carr = F.array(*[F.lit(v).cast("long") for v in cq])
        c2 = sum(v * v for v in cq)
        return F.col("qq") - 2 * _dot_long(F.col("q"), carr) + F.lit(c2).cast("long")

    # distances behind their own projection: least()/CASE reference
    # flat attributes, so each HOF fold runs once per row
    dists = base.select(
        "vec_id", *[dist_to(c[1]).alias(f"_d{i}") for i, c in enumerate(centers)]
    ).withColumn("_dmin", F.least(*[F.col(f"_d{i}") for i in range(K_CENTERS)]))
    sel: Column | None = None
    for i in range(K_CENTERS):
        cond = F.col(f"_d{i}") == F.col("_dmin")
        sel = F.when(cond, F.lit(i)) if sel is None else sel.when(cond, F.lit(i))
    rollup = (
        dists.select(sel.alias("sel_order"), F.col("_dmin").alias("d"))
        .groupBy("sel_order")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.max("d").cast("long").alias("radius_d2q"),
        )
    )
    cmap = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(centers)],
        "sel_order INT, center_vec_id BIGINT",
    )
    return rollup.join(cmap, "sel_order").select(
        "sel_order", "center_vec_id", "n_assigned", "radius_d2q"
    )


# -- exact quantile via histogram refinement ---------------------------------

_Q_PROBES = (0.5, 0.9, 0.99)
_W1 = 65536  # level-1 bin width, in cents
_W2 = 512  # level-2 bin width, in cents


@register(
    "quantile_exact_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c FROM lineitem
    ),
    n AS (SELECT count(*) AS n FROM v),
    r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
    t AS (
      SELECT CAST(p AS DOUBLE) AS p, n.n AS n_rows,
             CAST(ceil(p * n.n) AS BIGINT) AS rank_k
      FROM (VALUES ({_Q_PROBES[0]}), ({_Q_PROBES[1]}), ({_Q_PROBES[2]})) ps(p)
      CROSS JOIN n
    )
    SELECT t.p, t.n_rows, t.rank_k, r.c AS value_cents,
           round(r.c / 100.0, 2) AS value
    FROM t JOIN r ON r.rn = t.rank_k
    """,
    description=(
        "Exact p50/p90/p99 of l_extendedprice via two-level fixed-width "
        "histogram refinement — no global sort, driver state bounded by "
        "the value range"
    ),
    tags=("agg", "quantile", "iterative"),
)
def quantile_exact_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order statistics at scale: the rank-k value found by
    narrowing fixed-width integer histograms instead of sorting.

    Pass 1: histogram on c div {_W1} (integer cents) — bin count is
    value_range/W1 (~160 here), independent of the corpus, so the
    collect is bounded by the DOMAIN, not the data. The driver walks
    the cumulative counts to find the bin holding rank k and the
    residual rank within it. Pass 2: same one level finer (W2) inside
    only the bins that matter. Final: the k2-th smallest value in a
    W2-wide slice = TakeOrderedAndProject(k2) + max — never a window,
    never a full sort. Both histogram aggs are map-side-combine
    integer groupBys; the refinement recursion adds levels as
    log_W(range * density) grows — each level is the identical plan.

    Oracle is the direct rank definition (row_number = ceil(p*n)) —
    rank arithmetic on the exact cents grid, so the refined search
    must land on the identical value. The rank is computed over CENTS
    (the rounded representation both engines share), making ties and
    ordering exact."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("c")
    )
    binned = cents.select(
        "c",
        F.expr(f"c div {_W1}").alias("b1"),
        F.expr(f"(c % {_W1}) div {_W2}").alias("b2"),
    )
    n = cents.count()
    ks = {p: int(math.ceil(p * n)) for p in _Q_PROBES}

    # Level 1: bounded collect (<= range/W1 rows), cumulative walk.
    h1 = sorted(
        (r["b1"], r["cnt"])
        for r in binned.groupBy("b1").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    lvl1: dict[float, tuple[int, int]] = {}  # p -> (b1, residual rank)
    for p, k in ks.items():
        cum = 0
        for b1, cnt in h1:
            if cum + cnt >= k:
                lvl1[p] = (b1, k - cum)
                break
            cum += cnt

    # Level 2: one finer histogram over ONLY the selected level-1 bins.
    need_b1 = sorted({b for b, _ in lvl1.values()})
    h2rows = (
        binned.where(F.col("b1").isin(need_b1))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    h2: dict[int, list[tuple[int, int]]] = {b: [] for b in need_b1}
    for r in h2rows:
        h2[r["b1"]].append((r["b2"], r["cnt"]))
    lvl2: dict[float, tuple[int, int, int]] = {}  # p -> (b1, b2, residual)
    for p, (b1, k1) in lvl1.items():
        cum = 0
        for b2, cnt in sorted(h2[b1]):
            if cum + cnt >= k1:
                lvl2[p] = (b1, b2, k1 - cum)
                break
            cum += cnt

    # Final: k2-th smallest in the W2-wide slice — TakeOrdered + max.
    out = None
    for p in _Q_PROBES:
        b1, b2, k2 = lvl2[p]
        piece = (
            binned.where((F.col("b1") == b1) & (F.col("b2") == b2))
            .orderBy("c")
            .limit(k2)
            .agg(F.max("c").alias("value_cents"))
            .select(
                F.lit(float(p)).alias("p"),
                F.lit(n).cast("long").alias("n_rows"),
                F.lit(ks[p]).cast("long").alias("rank_k"),
                "value_cents",
                F.round(F.col("value_cents") / 100.0, 2).alias("value"),
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return out


# -- calibration bins ---------------------------------------------------------

_CAL_DIM = 256  # same hashed-feature space as text_lr_score_fixed
_CAL_BIN_MILLI = 2000  # margin-bin width: 2.0 in integer thousandths
_CAL_SHIFT = 100000  # keeps bin ids readable; sign-safety comes from the explicit floor div below, not from this dominating the margin range


def _duck_quality_ok() -> str:
    """The quality rule's 'ok' predicate as SQL (the text_lr_train
    label, queries/text.py): >=10 tokens, type-token ratio >= 0.3,
    at least one English stopword."""
    from crypto_etl_pipeline_spark.operators import textops

    en = ", ".join(f"'{w}'" for w in textops.STOPWORDS["en"])
    return f"""
      SELECT doc_id,
             CASE WHEN len(regexp_split_to_array(text, '\\s+')) >= 10
                   AND len(list_distinct(regexp_split_to_array(text, '\\s+'))) * 1.0
                       / len(regexp_split_to_array(text, '\\s+')) >= 0.3
                   AND len(list_filter(regexp_split_to_array(text, '\\s+'),
                                       t -> t IN ({en}))) > 0
                  THEN 1 ELSE 0 END AS y
      FROM documents
    """


@register(
    "model_calibration_bins",
    oracle=f"""
    WITH f AS (
      SELECT DISTINCT doc_id,
             {duck_md5_long("tok")} % {_CAL_DIM} AS feat
      FROM (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS tok
            FROM documents)
    ),
    m AS (
      SELECT doc_id,
             sum((((feat * 2654435761) % 2001) - 1000) / 1000.0)
               + {(_CAL_DIM * 2654435761) % 2001 - 1000} / 1000.0 AS margin
      FROM f GROUP BY doc_id
    ),
    lab AS ({_duck_quality_ok()}),
    binned AS (
      SELECT (CAST(round(m.margin * 1000, 0) AS BIGINT) + {_CAL_SHIFT})
               // {_CAL_BIN_MILLI} AS bin,
             1.0 / (1.0 + exp(-m.margin)) AS score,
             lab.y AS y
      FROM m JOIN lab USING (doc_id)
    ),
    agg AS (
      SELECT bin, count(*) AS n,
             round(avg(score), 4) AS mean_score,
             round(avg(y), 4) AS pos_rate
      FROM binned GROUP BY bin
    )
    SELECT bin,
           round((bin * {_CAL_BIN_MILLI} - {_CAL_SHIFT}) / 1000.0, 3) AS margin_lo,
           n, mean_score, pos_rate,
           round(abs(mean_score - pos_rate), 4) AS gap
    FROM agg
    """,
    description=(
        "Reliability diagram for the hashed-feature quality scorer: "
        "predicted probability vs observed quality-rule rate per "
        "margin bin (calibration audit)"
    ),
    tags=("text", "quality", "ml"),
)
def model_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit (Guo et al. 2017): group documents by the
    scorer's margin, compare mean predicted probability against the
    observed positive rate of the oracled quality rule. A calibrated
    scorer has gap ~ 0 everywhere; systematic gaps tell a selection
    pipeline its quality threshold is mis-set.

    Determinism: bin membership uses the integer-thousandth margin
    grid (margins are sums of 1e-3-quantized weights — round(m*1000)
    recovers the exact integer on both engines; the shift before
    integer division makes floor == truncation for both). mean_score
    averages the float sigmoid but rounds to 4 decimals, orders of
    magnitude above FP association noise on <= corpus/bins values.
    Scale shape: score + label are both single-pass expression
    pipelines over documents; the groupBy key is the bounded margin
    grid, so the aggregate is map-side-combined into a handful of
    rows."""
    from crypto_etl_pipeline_spark.operators.lrmodel import (
        fixed_hash_weights,
        hashed_presence_features,
        sigmoid,
    )
    from crypto_etl_pipeline_spark.operators.textops import quality_label

    docs = load_table(spark, sf_dir, "documents")
    wts = fixed_hash_weights(_CAL_DIM)
    warr = F.array(*[F.lit(float(x)) for x in wts[:_CAL_DIM]])
    margins = (
        hashed_presence_features(docs, dim=_CAL_DIM)
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.element_at(warr, F.col("feat").cast("int") + 1))
                + F.lit(float(wts[_CAL_DIM]))
            ).alias("margin")
        )
    )
    labels = docs.select(
        "doc_id", (quality_label(F.col("text")) == "ok").cast("int").alias("y")
    )
    # DuckDB's `//` FLOORS while Spark's `div` TRUNCATES — they agree
    # only while the shifted value stays non-negative, i.e. margin >=
    # -_CAL_SHIFT/1000. Rather than trusting the shift to dominate any
    # corpus's worst-case margin, make the Spark side a true floor
    # division in exact integer arithmetic: subtract the non-negative
    # pmod first, then the truncating div of an exact multiple IS the
    # floor — sign-safe with no FP round-trip.
    _shifted = f"(CAST(round(margin * 1000, 0) AS BIGINT) + {_CAL_SHIFT})"
    binned = margins.join(labels, "doc_id").select(
        F.expr(
            f"({_shifted} - pmod({_shifted}, {_CAL_BIN_MILLI})) "
            f"div {_CAL_BIN_MILLI}"
        ).alias("bin"),
        sigmoid(F.col("margin")).alias("score"),
        "y",
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 4).alias("mean_score"),
        F.round(F.avg("y"), 4).alias("pos_rate"),
    )
    return agg.select(
        "bin",
        F.round((F.col("bin") * _CAL_BIN_MILLI - _CAL_SHIFT) / 1000.0, 3).alias(
            "margin_lo"
        ),
        "n",
        "mean_score",
        "pos_rate",
        F.round(F.abs(F.col("mean_score") - F.col("pos_rate")), 4).alias("gap"),
    )


# -- deterministic random walks ------------------------------------------------

_WALK_STARTS = 10
_WALK_STEPS = 4


def _walks_oracle() -> str:
    """Unrolled T-step walk: each step joins the frontier against the
    row_number-indexed adjacency on the md5-chosen neighbor index."""
    ctes = [
        """pairs AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )""",
        """adj AS MATERIALIZED (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
             count(*) OVER (PARTITION BY src) AS deg
      FROM (SELECT 'C' || c AS src, 'S' || s AS dst FROM pairs
            UNION ALL SELECT 'S' || s, 'C' || c FROM pairs)
    )""",
        f"""w0 AS MATERIALIZED (
      SELECT 'C' || c AS start_node, 'C' || c AS node
      FROM (SELECT DISTINCT c FROM pairs ORDER BY c LIMIT {_WALK_STARTS})
    )""",
    ]
    for t in range(1, _WALK_STEPS + 1):
        ctes.append(f"""w{t} AS MATERIALIZED (
      SELECT w.start_node, a.dst AS node
      FROM w{t - 1} w JOIN adj a
        ON a.src = w.node
       AND a.rn = ({duck_md5_long(f"w.node || ':{t}'")} % a.deg) + 1
    )""")
    sel = "\n    UNION ALL ".join(
        f"SELECT start_node, {t} AS step, node FROM w{t}"
        for t in range(_WALK_STEPS + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + sel


@register(
    "graph_random_walks",
    oracle=_walks_oracle(),
    description=(
        f"Deterministic {_WALK_STEPS}-step random walks from "
        f"{_WALK_STARTS} seed customers over the trade graph "
        "(DeepWalk-style sampling, md5-seeded neighbor choice)"
    ),
    tags=("graph", "sampling", "iterative"),
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded random-walk sampling — the corpus-construction
    primitive behind DeepWalk/node2vec embeddings, run Spark-first:
    the adjacency list carries a per-source neighbor index
    (row_number) and degree; step t moves every walker to neighbor
    md5(node, t) mod degree. The bipartite trade graph has no dead
    ends by construction (edges are mirrored), so inner joins are
    total.

    Scale shape: the adjacency build is one keyed shuffle (the same
    distinct-pairs frame every trade-graph query shares); each step
    joins the FRONTIER (Limit-bounded at {_WALK_STARTS} seeds — the
    broadcast the lint permits) against the partitioned adjacency, so
    T steps cost T broadcast-hash probes of the same adjacency — in a
    production walk corpus the frontier is millions of walkers and the
    join flips to a shuffle join on node, still one exchange per step.
    md5-seeded choice keeps the walk replayable: the oracle unrolls
    the identical T joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # Materialized once (localCheckpoint): TWO consumers read the
    # distinct-pairs frame (the mirrored edge build and the seed
    # selection) — without it Catalyst re-executes the
    # lineitem⋈orders distinct per consumer (the DSIR discipline).
    pairs = (
        li.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = pairs.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).unionByName(
        pairs.select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("dst"),
        )
    )
    from pyspark.sql.window import Window

    edges = edges.localCheckpoint(eager=False)
    starts = (
        pairs.select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(_WALK_STARTS)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("start_node")
        )
        .withColumn("node", F.col("start_node"))
    )
    out = starts.select("start_node", F.lit(0).alias("step"), "node")
    frontier = starts
    # Frontier-driven indexing: per step, filter the edge list to the
    # frontier's source nodes FIRST (a broadcast semi-filter against
    # the Limit-bounded frontier), THEN compute the per-src neighbor
    # index over only those groups. Indexing the WHOLE graph up front
    # (two windows over every edge) cost ~3-5 s at sf0.1 for 10
    # walkers — the sweep-line version of 'never build state the
    # query won't read'. The per-src window stays complete (all of a
    # retained node's edges survive the filter), so rn/deg — and the
    # md5-chosen path — are identical to the full-index formulation
    # and to the oracle.
    for t in range(1, _WALK_STEPS + 1):
        # r13: broadcast LEFT SEMI join instead of distinct + inner
        # join — the semi join's hash table deduplicates walker
        # positions itself (an edge survives iff ANY walker sits on its
        # src, and semi joins never duplicate rows), so the per-step
        # distinct exchange disappears while the retained edge set —
        # and therefore rn/deg and the md5-chosen path — is identical.
        nodes = frontier.select(F.col("node").alias("src"))
        cand = edges.join(F.broadcast(nodes), "src", "left_semi")
        # r14: per-src SORTED ADJACENCY ARRAY via hash aggregation
        # instead of a row_number window — the window paid a full
        # exchange + per-partition sort of the retained edges every
        # step; collect_list partial-aggregates map-side and the
        # array_sort orders each src's (distinct) neighbors exactly
        # like the window's ORDER BY dst, so element_at(_adj, md5 mod
        # deg + 1) selects the identical neighbor (rn semantics over
        # distinct dst == position in the sorted array). guide §2.4.
        adj_t = cand.groupBy("src").agg(
            F.array_sort(F.collect_list("dst")).alias("_adj")
        )
        idx = (
            md5_long(F.concat(F.col("node"), F.lit(f":{t}")), 8)
            % F.size("_adj")
        ) + 1
        frontier = (
            adj_t.join(F.broadcast(frontier), adj_t.src == frontier.node)
            .select(
                "start_node",
                F.element_at("_adj", idx.cast("int")).alias("node"),
            )
            # Cut the lineage each step (same discipline as the
            # adjacency/pairs frames): without this, step t's frontier
            # AND every unioned output branch lazily re-derive all
            # prior steps' joins, so executed work grows quadratically
            # in walk length — invisible at _WALK_STEPS=4, a wall at
            # production T.
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            frontier.select("start_node", F.lit(t).alias("step"), "node")
        )
    return out


# -- grouped exact quantiles ---------------------------------------------------

_GQ_PROBES = (0.5, 0.99)
_GW1 = 512  # level-1 bin width in cents of events.value
_GW2 = 16  # level-2 bin width


@register(
    "quantile_grouped_exact_histogram",
    oracle=f"""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT event_type, count(*) AS n FROM v GROUP BY event_type),
    r AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn
      FROM v
    ),
    t AS (
      SELECT n.event_type, CAST(p AS DOUBLE) AS p, n.n AS n_rows,
             CAST(ceil(p * n.n) AS BIGINT) AS rank_k
      FROM (VALUES ({_GQ_PROBES[0]}), ({_GQ_PROBES[1]})) ps(p) CROSS JOIN n
    )
    SELECT t.event_type, t.p, t.n_rows, t.rank_k, r.c AS value_cents,
           round(r.c / 100.0, 2) AS value
    FROM t JOIN r ON r.event_type = t.event_type AND r.rn = t.rank_k
    """,
    description=(
        "Exact per-group p50/p99 of events.value via two-level "
        "fixed-width histograms — every group refined in the SAME "
        "pass per level, no per-group jobs"
    ),
    tags=("agg", "quantile", "iterative"),
)
def quantile_grouped_exact_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED form of quantile_exact_histogram — the shape that
    matters operationally (per-tenant / per-type SLO percentiles):
    histograms carry the group key, so level 1 is ONE map-side-combined
    aggregate over (group, bin) for every group simultaneously and the
    driver walk is over (groups x bins) bounded rows; level 2 filters
    to each group's selected bin IN ONE predicate (OR over the bounded
    selection set — pushed to the scan) and aggregates (group, bin2)
    again. The final residual ranks resolve with one TakeOrdered+max
    per (group, probe) over W2-wide slices. No per-group Spark jobs,
    no global sort, no window over corpus rows.

    Same exactness contract as the scalar version: rank arithmetic on
    the exact cents grid; the oracle is the direct per-group
    row_number = ceil(p*n) definition."""
    ev = load_table(spark, sf_dir, "events")
    binned = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    ).select(
        "event_type",
        "c",
        F.expr(f"c div {_GW1}").alias("b1"),
        F.expr(f"(c % {_GW1}) div {_GW2}").alias("b2"),
    )
    # ONE level-1 histogram for all groups; bounded collect.
    h1_rows = (
        binned.groupBy("event_type", "b1").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    h1: dict[str, list[tuple[int, int]]] = {}
    for r in h1_rows:
        h1.setdefault(r["event_type"], []).append((r["b1"], r["cnt"]))
    ns = {g: sum(c for _, c in bins) for g, bins in h1.items()}
    lvl1: dict[tuple[str, float], tuple[int, int]] = {}
    for g, bins in h1.items():
        for p in _GQ_PROBES:
            k = int(math.ceil(p * ns[g]))
            cum = 0
            for b1, cnt in sorted(bins):
                if cum + cnt >= k:
                    lvl1[(g, p)] = (b1, k - cum)
                    break
                cum += cnt
    # Degenerate input (no non-null values → no groups): both level-2
    # predicates below are OR-folds over the selection sets, and an
    # empty set would leave them None — `binned.where(None)` raises
    # TypeError (VERDICT r13 #5 / ADVICE r13 #2). Return the
    # empty-shaped result instead; the oracle's probe×group cross
    # join is empty over zero groups too.
    if not lvl1:
        return spark.createDataFrame(
            [],
            "event_type string, p double, n_rows long, rank_k long, "
            "value_cents long, value double",
        )
    # ONE level-2 histogram over all (group, selected-b1) slices.
    need = {(g, b1) for (g, _), (b1, _) in lvl1.items()}
    pred = None
    for g, b1 in sorted(need):
        cond = (F.col("event_type") == g) & (F.col("b1") == b1)
        pred = cond if pred is None else (pred | cond)
    h2_rows = (
        binned.where(pred)
        .groupBy("event_type", "b1", "b2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    h2: dict[tuple[str, int], list[tuple[int, int]]] = {}
    for r in h2_rows:
        h2.setdefault((r["event_type"], r["b1"]), []).append((r["b2"], r["cnt"]))
    # r13: resolve ALL residual ranks from ONE shared scan. The per-
    # (group, probe) pieces below each filtered `binned` directly, so
    # the returned union re-scanned the events parquet once per branch
    # (10 scans in the executed plan). The selected (group, b1, b2)
    # slices are exactly the rows every branch reads — filter them once
    # behind a lazy checkpoint (W2-wide bin slices, the same bounded
    # volume level 2 already aggregated) and let the branches read the
    # materialization. Branch predicates, ordering, and limits are
    # unchanged, so each piece returns identical rows.
    resolved: dict[tuple[str, float], tuple[int, int, int]] = {}
    for (g, p), (b1, k1) in sorted(lvl1.items()):
        cum = 0
        for b2, cnt in sorted(h2[(g, b1)]):
            if cum + cnt >= k1:
                resolved[(g, p)] = (b1, b2, k1 - cum)
                break
            cum += cnt
    pred3 = None
    for g, b1, b2 in sorted({(g, b1, b2) for (g, _), (b1, b2, _) in resolved.items()}):
        cond = (
            (F.col("event_type") == g) & (F.col("b1") == b1) & (F.col("b2") == b2)
        )
        pred3 = cond if pred3 is None else (pred3 | cond)
    resid = binned.where(pred3).localCheckpoint(eager=False)
    out = None
    for (g, p), (b1, b2, k2) in sorted(resolved.items()):
        piece = (
            resid.where(
                (F.col("event_type") == g) & (F.col("b1") == b1) & (F.col("b2") == b2)
            )
            .orderBy("c")
            .limit(k2)
            .agg(F.max("c").alias("value_cents"))
            .select(
                F.lit(g).alias("event_type"),
                F.lit(float(p)).alias("p"),
                F.lit(ns[g]).cast("long").alias("n_rows"),
                F.lit(int(math.ceil(p * ns[g]))).cast("long").alias("rank_k"),
                "value_cents",
                F.round(F.col("value_cents") / 100.0, 2).alias("value"),
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return out


# --------------------------------------------------------------------------
# Deterministic epoch shuffle (r13) — training-order reproducibility.
# --------------------------------------------------------------------------
_EPOCH_SEED = "r13"  #: one-constant reshuffle knob (hash-gate idiom)
_EPOCH_N = 2
_EPOCH_CAP = 2048  #: pack size — matches pack_training_sequences


def _packs_cte() -> str:
    """DuckDB CTE chain ``t -> packs`` deriving the pack universe from
    per-language token mass — the SINGLE source of the pack-id
    contract shared by both training-order oracles (and mirrored by
    :func:`_pack_universe`). Uses RE2 \\s+, whose set the Spark
    tokenizer now matches exactly (textops.WS_SPLIT)."""
    return f"""
    t AS (
      SELECT lang,
             sum(len(regexp_split_to_array(text, '\\s+')))::BIGINT AS n_tok
      FROM documents GROUP BY lang
    ),
    packs AS (
      SELECT lang || ':' || CAST(
               unnest(range(0, (n_tok + {_EPOCH_CAP - 1}) // {_EPOCH_CAP}))
             AS VARCHAR) AS pack_id
      FROM t
    )"""


def _pos_cte() -> str:
    """DuckDB CTE chain ``e -> h -> pos`` ranking the pack universe
    per epoch by the seeded hash (the twin of operators/sampling
    .epoch_shuffle over :func:`_packs_cte`)."""
    return f"""
    e AS (
      SELECT pack_id, ep.epoch
      FROM packs CROSS JOIN (VALUES (0), (1)) ep(epoch)
    ),
    h AS (
      SELECT epoch, pack_id,
             md5('{_EPOCH_SEED}' || ':' || CAST(epoch AS VARCHAR)
                 || ':' || pack_id) AS hh
      FROM e
    ),
    pos AS (
      SELECT epoch, pack_id,
             row_number() OVER (PARTITION BY epoch ORDER BY hh, pack_id)
               AS position
      FROM h
    )"""


def _pack_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_packs_cte`: one ``pack_id`` row per
    2048-token window per language."""
    from crypto_etl_pipeline_spark.operators.textops import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("lang").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tok")
    )
    return (
        t.select(
            "lang",
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.col("n_tok") + _EPOCH_CAP - 1) / _EPOCH_CAP).cast("long")
                    - 1,
                )
            ).alias("i"),
        )
        .select(
            F.concat(
                F.col("lang"), F.lit(":"), F.col("i").cast("string")
            ).alias("pack_id")
        )
        .localCheckpoint(eager=False)
    )


@register(
    "train_epoch_shuffle",
    oracle=f"""
    WITH {_packs_cte()},
    {_pos_cte()}
    SELECT epoch, position, pack_id FROM pos
    """,
    description="Deterministic per-epoch shuffle of packed training sequences: md5(seed:epoch:pack) rank, no global sort, bit-reproducible",
    tags=("selection", "packing", "sampling"),
)
def train_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-order step after packing: each epoch reads the
    SAME packed sequences in a fresh pseudo-random order, and that
    order must be bit-reproducible (resume-from-step, multi-reader
    shard servers, cross-engine audit). The pack universe derives from
    the per-language token mass exactly as pack_training_sequences
    slices it (ceil(tokens/2048) packs per language); order is
    md5(seed:epoch:pack_id) rank via the range-partitioned
    global_ordinals — no single-task ORDER BY anywhere (lint #5), no
    rand()/shuffle() partition-layout dependence. Two epochs are
    materialized side by side; the oracle replays the ranking with a
    plain window because DuckDB runs at oracle scale, not corpus
    scale."""
    from crypto_etl_pipeline_spark.operators.sampling import epoch_shuffle

    packs = _pack_universe(spark, sf_dir)
    return epoch_shuffle(packs, "pack_id", n_epochs=_EPOCH_N, seed=_EPOCH_SEED)


_SHARD_SIZE = 8  #: packs per output shard (tiny at test SF; ~50k real-world)


@register(
    "train_shard_manifest",
    oracle=f"""
    WITH {_packs_cte()},
    {_pos_cte()}
    SELECT epoch,
           (position - 1) // {_SHARD_SIZE} AS shard,
           count(*) AS n_packs,
           min(position) AS first_position,
           max(position) AS last_position,
           min(pack_id) AS min_pack_id
    FROM pos
    GROUP BY epoch, shard
    """,
    description="Shard manifests over the deterministic epoch shuffle: contiguous position ranges per (epoch, shard), coordination-free writers",
    tags=("selection", "packing", "sink"),
)
def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of train_epoch_shuffle's plan: shard s of epoch e
    owns positions [s*SIZE+1, (s+1)*SIZE] — a pure function of the
    position, so every shard writer derives its slice with ZERO
    coordination (the 100 TB property the deterministic shuffle
    exists for). The manifest rows (count, position range, min pack)
    are the audit artifact a training launcher checks before reading;
    contiguity (last-first+1 == n_packs) is asserted in tests. Adds
    one dim-keyed groupBy on top of the shuffle — nothing new
    shuffles at corpus scale."""
    from crypto_etl_pipeline_spark.operators.sampling import epoch_shuffle

    packs = _pack_universe(spark, sf_dir)
    shuffled = epoch_shuffle(packs, "pack_id", n_epochs=_EPOCH_N, seed=_EPOCH_SEED)
    return (
        shuffled.withColumn(
            "shard", ((F.col("position") - 1) / _SHARD_SIZE).cast("long")
        )
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.min("position").alias("first_position"),
            F.max("position").alias("last_position"),
            F.min("pack_id").alias("min_pack_id"),
        )
    )
