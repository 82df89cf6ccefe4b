"""Linear text classifier over hashed token features (fastText-style).

The LLM-corpus quality-filter pattern: a linear model over feature-
hashed token presence (Weinberger et al., ICML'09 feature hashing;
Joulin et al., EACL'17 fastText) scores documents at scan speed. Two
halves, mirroring the BPE train/encode split:

- SCORING is pure expressions: hash each distinct token to a bucket,
  look the bucket's weight up in a broadcast array literal, sigmoid the
  sum. One codegen'd pass, no shuffle beyond the per-doc aggregation —
  this is what runs over 100 TB.
- TRAINING is distributed Newton-IRLS: per iteration, ONE pass over
  the feature table computes the gradient (D+1 values) and the Fisher
  Hessian ((D+1)^2 values) as plain aggregations; only those
  sufficient statistics reach the driver, which solves the
  (D+1)x(D+1) system in numpy (the "k centroids reach the driver"
  budget, same as IVF). 2-3 iterations converge where first-order GD
  needs hundreds of driver round-trips — the BPE merge-loop lesson
  applied to ML. The Hessian pair fan-out is quadratic in DISTINCT
  tokens per document (bounded by min(doc vocab, D)); for corpora with
  wide per-doc vocabularies swap the Hessian for a driver-side L-BFGS
  over the same distributed gradient (Spark MLlib's own strategy) —
  the gradient job is shared by both.

Hash parity: bucket = md5_long(token) % dim, the repo's portable
md5+arithmetic contract, so a DuckDB oracle can replay scoring
bit-for-bit (weights quantized to 1e-3; per-doc sums of <= vocab
terms, round(6) absorbs addition-order noise).

Reference repo has no ML surface at all (SURVEY §1.2) — extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.operators.phash import md5_long
from crypto_etl_pipeline_spark.operators.textops import tokens


def hashed_presence_features(docs: DataFrame, dim: int = 256) -> DataFrame:
    """(doc_id, feat) — one row per DISTINCT token bucket per document
    (binary presence features; dedup before hashing keeps the fan-out
    at distinct-token width). Bias is NOT included — trainers and
    scorers add index `dim` themselves."""
    return (
        docs.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("_tok"),
        )
        .select("doc_id", (md5_long(F.col("_tok"), 8) % dim).alias("feat"))
        .distinct()
    )


def fixed_hash_weights(dim: int) -> list[float]:
    """Deterministic stand-in weights: w[j] = ((j * 2654435761) % 2001
    - 1000) / 1000 (Knuth multiplicative hash), quantized to 1e-3.
    Exactly reproducible as integer arithmetic in any SQL engine —
    the scoring-plumbing oracle uses these; real deployments pass
    trained weights from :func:`lr_train_newton` instead."""
    return [((j * 2654435761) % 2001 - 1000) / 1000.0 for j in range(dim + 1)]


def lr_margin(feats: DataFrame, weights: list[float]) -> DataFrame:
    """(doc_id, margin): bias + sum of the weights of present features.

    The weight vector rides as an array LITERAL indexed per row —
    broadcast by the plan itself, no join, fully codegen'd."""
    dim = len(weights) - 1
    warr = F.array(*[F.lit(float(w)) for w in weights])
    return (
        feats.select("doc_id", F.element_at(warr, F.col("feat").cast("int") + 1).alias("_w"))
        .groupBy("doc_id")
        .agg((F.sum("_w") + F.lit(float(weights[dim]))).alias("margin"))
    )


def sigmoid(c: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-c))


#: Hessian pair rows per iteration above which training refuses to run
HESSIAN_ROW_BUDGET = 50_000_000


def lr_train_newton(
    feats: DataFrame,
    labels: DataFrame,
    dim: int,
    iters: int = 3,
    ridge: float = 1e-4,
) -> list[float]:
    """Distributed Newton-IRLS for L2-logistic regression.

    ``feats``: (doc_id, feat) binary presence rows. ``labels``:
    (doc_id, y) with y in {0,1}. Returns the (dim+1) weight vector
    (last entry = bias). Per iteration: margins via :func:`lr_margin`,
    per-doc residual r = sigmoid(m) - y and curvature wd = p(1-p),
    then gradient g_i = sum_docs-with-i r and Hessian H_ij =
    sum_docs-with-both wd via a within-doc feature self-join — every
    stage a hash aggregation on small keys. The (dim+1)^2 solve is
    driver-side numpy.

    Scale guard: the Hessian self-join fans out QUADRATICALLY in
    per-doc distinct features — f features in one doc emit f² pair
    rows per iteration, so a wide-vocabulary corpus can make the
    curvature stage dominate unexpectedly. Before iterating, the exact
    pair-row count is measured with one cheap aggregation; above
    ``HESSIAN_ROW_BUDGET`` the call RAISES with the measured fan-out
    (for such corpora swap the Hessian for a local L-BFGS over the
    same distributed gradient — see the module docstring).
    """
    import numpy as np

    # bias as a synthetic always-on feature `dim`: one union, after
    # which gradient and Hessian need no special-casing.
    fb = feats.unionByName(
        labels.select("doc_id", F.lit(dim).alias("feat"))
    ).localCheckpoint(eager=False)
    w = np.zeros(dim + 1)
    # r14: the fan-out guard and the label count ride ONE action (two
    # independent 1-row aggregates cross-joined) instead of two
    # sequential driver barriers; the collect also materializes the fb
    # checkpoint every iteration reads.
    guard = (
        fb.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).alias("p"))
    )
    row = (
        labels.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(guard))
        .first()
    )
    n, pair_rows = int(row["n"]), row["p"]
    if pair_rows is not None and pair_rows > HESSIAN_ROW_BUDGET:
        raise RuntimeError(
            f"lr_train_newton: Hessian self-join would emit {pair_rows} "
            f"pair rows per iteration (budget {HESSIAN_ROW_BUDGET})"
        )
    for _ in range(iters):
        m = lr_margin(fb.where(F.col("feat") < dim), list(w))
        # right outer keeps feature-less docs (margin = bias only)
        doc = (
            labels.join(m, "doc_id", "left")
            .select(
                "doc_id",
                "y",
                F.coalesce(F.col("margin"), F.lit(float(w[dim]))).alias("margin"),
            )
            .select(
                "doc_id",
                (sigmoid(F.col("margin")) - F.col("y")).alias("r"),
                (sigmoid(F.col("margin")) * (1 - sigmoid(F.col("margin")))).alias("wd"),
            )
            .localCheckpoint(eager=False)
        )
        # r13: ONE action per iteration instead of two. Every doc
        # containing feature i emits exactly one (i, i) pair row, so the
        # gradient g_i = sum over docs-with-i of r rides the SAME pair
        # aggregation as a filtered sum — no separate gradient
        # join/collect (a full fb scan + shuffle + driver round-trip per
        # iteration).
        h_rows = (
            fb.alias("a")
            .join(fb.alias("b"), "doc_id")
            .join(doc, "doc_id")
            .groupBy(F.col("a.feat").alias("i"), F.col("b.feat").alias("j"))
            .agg(
                F.sum("wd").alias("h"),
                F.sum(
                    F.when(F.col("a.feat") == F.col("b.feat"), F.col("r"))
                ).alias("g"),
            )
            .collect()
        )
        g = np.zeros(dim + 1)
        H = np.zeros((dim + 1, dim + 1))
        for row in h_rows:
            H[row["i"], row["j"]] = row["h"]
            if row["i"] == row["j"] and row["g"] is not None:
                g[row["i"]] = row["g"]
        g = g / n + ridge * w
        H = H / n + ridge * np.eye(dim + 1)
        step = np.linalg.solve(H, g)
        w = w - step
    return [float(x) for x in w]
