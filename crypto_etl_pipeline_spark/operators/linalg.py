"""Distributed linear algebra over embedding columns.

The sufficient-statistics pattern (the same discipline as
operators/lrmodel.py's Newton-IRLS trainer): executors reduce the
corpus to O(dim^2) moment rows — X^T X partial products, per-dimension
sums, and a count — with Arrow-batched numpy, Spark aggregates them in
one shuffle of dim^2 rows, and ONLY that bounded statistic reaches the
driver. Corpus size never appears driver-side, so the operators are
correct at any scale for the moderate dims (<= ~1k) where a dense
dim x dim Gram matrix is a few MB.

Reference parity: the reference has no linear algebra at all (its
numeric surface is pandas describe/median, crypto_etl_pipeline.py:
137-210); this module is extension surface (SURVEY §2.13) for the
embedding-curation north star.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def moment_rows(df: DataFrame, dim: int) -> DataFrame:
    """Reduce ``embedding`` rows to long-form second-moment partials.

    Emits (i, j, v) rows per Arrow batch: ``i>=0, j>=0`` carry the
    X^T X partial product, ``(i, -1)`` the per-dimension sum, and
    ``(-1, -1)`` the row count; a single groupBy(i, j).sum() then
    merges partials across partitions (map-side combine keeps the
    exchange at dim^2 + dim + 1 rows regardless of corpus size).
    """
    def _partial(batches):
        acc = np.zeros((dim, dim), dtype=np.float64)
        s = np.zeros(dim, dtype=np.float64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            acc += x.T @ x
            s += x.sum(axis=0)
            n += len(x)
        if n == 0:
            return
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame(
            {
                "i": np.concatenate([ii.reshape(-1), np.arange(dim), [-1]]),
                "j": np.concatenate([jj.reshape(-1), np.full(dim, -1), [-1]]),
                "v": np.concatenate([acc.reshape(-1), s, [float(n)]]),
            }
        )

    parts = df.select("embedding").mapInPandas(_partial, schema="i int, j int, v double")
    return parts.groupBy("i", "j").agg(F.sum("v").alias("v"))


def covariance_from_moments(rows, dim: int) -> tuple[np.ndarray, np.ndarray, float]:
    """(population covariance, mean, n) from collected moment rows."""
    xtx = np.zeros((dim, dim), dtype=np.float64)
    s = np.zeros(dim, dtype=np.float64)
    n = 0.0
    for r in rows:
        i, j, v = r["i"], r["j"], r["v"]
        if i == -1:
            n = v
        elif j == -1:
            s[i] = v
        else:
            xtx[i, j] = v
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    return cov, mean, n


def power_iteration(cov: np.ndarray, iters: int) -> tuple[np.ndarray, float]:
    """Top eigenvector by fixed-iteration power method from the
    all-positive uniform start (deterministic sign as long as the
    dominant eigenvector is not orthogonal to the ones vector).
    Returns (unit eigenvector, Rayleigh quotient)."""
    dim = cov.shape[0]
    v = np.full(dim, 1.0 / np.sqrt(dim))
    for _ in range(iters):
        w = cov @ v
        v = w / np.linalg.norm(w)
    ray = float(v @ (cov @ v))
    return v, ray


def pca_top_component(
    df: DataFrame,
    dim: int,
    iters: int = 2,
) -> DataFrame:
    """Top principal component of an ``embedding`` corpus.

    Distributed part: one moment-reduction pass (see
    :func:`moment_rows`) — the only shuffle is dim^2 rows. Driver
    part: an O(dim^2 * iters) power iteration on the collected Gram
    matrix — microseconds at dim=64, and still trivial at dim=1024.
    ``iters`` is fixed (not convergence-tested) so the DuckDB oracle
    can unroll the same number of matvecs; convergence quality vs a
    full eigendecomposition is pinned separately in pytest.

    Returns (pos, loading, eigenvalue): the unit eigenvector entry per
    dimension plus the Rayleigh-quotient variance estimate.
    """
    spark = df.sparkSession
    rows = moment_rows(df, dim).collect()
    cov, _, _ = covariance_from_moments(rows, dim)
    v, ray = power_iteration(cov, iters)
    out = [(int(i), round(float(v[i]), 6), round(ray, 6)) for i in range(dim)]
    return spark.createDataFrame(out, "pos int, loading double, eigenvalue double")


def grouped_moment_rows(
    df: DataFrame, dim: int
) -> DataFrame:
    """Per-``label`` second-moment partials: :func:`moment_rows` with the
    group key carried through — one Arrow pass emitting
    (group, i, j, v) partials, one groupBy(group, i, j) merge. The
    exchange is G * (dim^2 + dim + 1) rows; per-group corpus size
    never matters."""
    def _partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for gval, sub in pdf.groupby("label", sort=False):
                x = np.array(sub["embedding"].tolist(), dtype=np.float64)
                acc = x.T @ x
                s = x.sum(axis=0)
                n = len(sub)
                ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
                out = pd.DataFrame(
                    {
                        "i": np.concatenate([ii.reshape(-1), np.arange(dim), [-1]]),
                        "j": np.concatenate([jj.reshape(-1), np.full(dim, -1), [-1]]),
                        "v": np.concatenate([acc.reshape(-1), s, [float(n)]]),
                    }
                )
                out.insert(0, "label", gval)
                yield out

    gtype = df.schema["label"].dataType.simpleString()
    parts = df.select("label", "embedding").mapInPandas(
        _partial, schema=f"label {gtype}, i int, j int, v double"
    )
    return parts.groupBy("label", "i", "j").agg(F.sum("v").alias("v"))


def pca_top_by_group(
    df: DataFrame,
    dim: int,
    iters: int = 2,
) -> DataFrame:
    """Per-``label`` top principal component summary: (label, n_vecs,
    eigenvalue, explained_share). Driver-side work is G power
    iterations on G dense dim x dim matrices — G * dim^2 floats, still
    corpus-size-free. explained_share = Rayleigh quotient / trace(cov):
    how much of the group's variance the top direction owns (a
    cluster-tightness / anisotropy signal for curation)."""
    spark = df.sparkSession
    rows = grouped_moment_rows(df, dim).collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r["label"], []).append(r)
    out = []
    for g, grp_rows in by_group.items():
        cov, _, n = covariance_from_moments(grp_rows, dim)
        v, ray = power_iteration(cov, iters)
        trace = float(np.trace(cov))
        out.append(
            (g, int(n), round(ray, 6), round(ray / trace, 6))
        )
    gtype = df.schema["label"].dataType.simpleString()
    return spark.createDataFrame(
        out, f"label {gtype}, n_vecs int, eigenvalue double, explained_share double"
    )


def pca_residual_scores(
    df: DataFrame,
    mean: np.ndarray,
    component: np.ndarray,
) -> DataFrame:
    """Per-``vec_id`` spectral decomposition of ``embedding`` against a
    fitted component:
    pc1_score = (x - mean)·v and residual = ||x - mean||² - score²
    (the variance v does NOT explain). Off-component residual is the
    spectral outlier signal: far-off-manifold rows are mislabeled /
    corrupted / off-topic members.

    mean and v enter as plan literals, so the whole scoring pass is
    three codegen'd dot-folds over the raw array column (dot(x,v),
    dot(x,mean), ||x||²) — map-only, no shuffle, no Python. The
    expansion (x-mean)·v = dot(x,v) - mean·v and
    ||x-mean||² = ||x||² - 2·dot(x,mean) + ||mean||² keeps every
    per-row term a single fold against a literal.
    """
    vlit = F.array(*[F.lit(float(x)) for x in component])
    mlit = F.array(*[F.lit(float(x)) for x in mean])
    mv = float(mean @ component)
    mm = float(mean @ mean)
    x = F.col("embedding")
    score = dot(x, vlit) - F.lit(mv)
    norm2 = dot(x, x) - 2.0 * dot(x, mlit) + F.lit(mm)
    return df.select(
        F.col("vec_id"),
        F.round(score, 6).alias("pc1_score"),
        F.round(norm2 - score * score, 6).alias("residual"),
    )
