"""Bitext / parallel-pair mining — margin-based cosine scoring.

Artetxe & Schwenk 2019 ("Margin-based Parallel Corpus Mining with
Multilingual Sentence Embeddings", arXiv:1811.01136): a raw cosine
threshold cannot separate translations from topically-similar
neighbors because cosine scale varies by region of the embedding
space; the fix is to score each candidate pair by its cosine RELATIVE
to each side's k-NN neighborhood:

    margin(x, y) = cos(x, y) / ((avg_k cos(x, NN_k(x, Y))
                                 + avg_k cos(y, NN_k(y, X))) / 2)

("ratio" variant). A true translation scores well above its
neighborhood average (margin > 1); a hub vector that is close to
everything does not.

Scale shape: the source side is the BOUNDED side (a structural
``limit`` upstream, the ANN-family query contract), so the pair feed
is |src| x |tgt| with |src| capped — the same broadcast-queries shape
as brute_force_topk; both k-NN sums and the final ranking ride
windows over that bounded pair frame. For unbounded BOTH sides, the
registered ``bitext_mine_bucketed`` query pre-buckets with IVF cells
and scores within each cell with the same :func:`margin_scores`.

Reference: no embedding or multilingual surface in the reference at
all (SURVEY §1.2) — north-star extension (VERDICT r12 "worth
adding" #2).

Exact arithmetic, bit-identical in Spark and the DuckDB oracle:

- cosine: the vector family's one kernel, ``ci`` = the cosine in units
  of 1e-4 (:func:`~crypto_etl_pipeline_spark.operators.similarity.pair_ci_pd`).
- margin: the k-NN "means" stay as integer SUMS (si, ti) with their
  ACTUAL counts (ks, kt <= k — a vector can have fewer than k
  positive-cosine candidates, and dividing by a fixed 2k there would
  inflate every margin it touches), and
  ``margin = (ks + kt) * ci / (si + ti)`` — one double division of
  exact integers, equal to cos / mean-of-neighborhood-means whenever
  ks == kt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_etl_pipeline_spark.operators.similarity import _spread, pair_ci_pd

BITEXT_K = 4  #: k-NN neighborhood size for the margin denominator


def margin_scores(pairs: DataFrame) -> DataFrame:
    """Score a candidate pair frame ``(src_id, tgt_id, ci, ...)`` with
    the integer-exact ratio margin: the same columns with ``ci``
    replaced by ``cos_sim = ci / 10000.0`` and ``margin`` (rounded to
    4 decimals).

    Candidacy requires POSITIVE similarity (translations are strongly
    positive): that keeps every neighborhood sum positive, so the ratio
    margin is always well-defined. The filter sits after a checkpoint,
    so it is a plain-attribute predicate over the kernel's output."""
    pairs = pairs.localCheckpoint(eager=False).where(F.col("ci") > 0)
    w_s = Window.partitionBy("src_id").orderBy(F.desc("ci"), F.asc("tgt_id"))
    nns = (
        pairs.withColumn("_r", F.row_number().over(w_s))
        .where(F.col("_r") <= BITEXT_K)
        .groupBy("src_id")
        .agg(F.sum("ci").alias("si"), F.count(F.lit(1)).alias("ks"))
    )
    w_t = Window.partitionBy("tgt_id").orderBy(F.desc("ci"), F.asc("src_id"))
    nnt = (
        pairs.withColumn("_r", F.row_number().over(w_t))
        .where(F.col("_r") <= BITEXT_K)
        .groupBy("tgt_id")
        .agg(F.sum("ci").alias("ti"), F.count(F.lit(1)).alias("kt"))
    )
    extra = [c for c in pairs.columns if c not in ("src_id", "tgt_id", "ci")]
    return (
        pairs.join(F.broadcast(nns), "src_id")
        .join(nnt, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            *extra,
            (F.col("ci") / 10000.0).alias("cos_sim"),
            F.round(
                ((F.col("ks") + F.col("kt")) * F.col("ci")).cast("double")
                / F.nullif(F.col("si") + F.col("ti"), F.lit(0)),
                4,
            ).alias("margin"),
        )
    )


def bitext_margin_pairs(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """All positive-cosine (src, tgt) pairs of two ``(vec_id,
    embedding)`` frames, scored by :func:`margin_scores`:
    (src_id, tgt_id, cos_sim, margin). ``src`` must be the bounded side
    (it is broadcast)."""
    s = src.select(F.col("vec_id").alias("src_id"), F.col("embedding").alias("_sv"))
    t = _spread(tgt).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("_tv")
    )
    return margin_scores(
        t.crossJoin(F.broadcast(s)).select(
            "src_id", "tgt_id", pair_ci_pd()(F.col("_sv"), F.col("_tv")).alias("ci")
        )
    )


def mine_bitext(scored: DataFrame) -> DataFrame:
    """Forward mining: the best (highest-margin, then highest-cosine,
    then lowest tgt_id) candidate per src_id of a scored pair frame.
    Thresholding is the caller's policy."""
    w = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.desc("cos_sim"), F.asc("tgt_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
