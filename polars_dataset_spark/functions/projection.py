"""Distributed PCA / whitening for embedding columns.

The classic pre-step of large-scale similarity search: decorrelate (and
optionally whiten) the embedding space, then feed the projection to the
ANN operators (``similarity.cosine_topk`` / ``ivf_topk`` /
``lsh_bucketed_topk``) — decorrelated dimensions make hyperplane/IVF
cells substantially better balanced, and truncating to the top-k
components cuts the per-vector cost of every downstream distance.

Scale shape (the whole point of the design):

- ``fit_pca`` is ONE distributed pass: each partition reduces to
  ``(n, Σx, ΣxxT)`` — d + d² doubles — via ``mapInPandas``; the driver
  combines the per-partition partials and eigendecomposes the d×d
  covariance. Nothing driver-side scales with the ROW count; the d²
  partial per partition bounds practical d at a few thousand (a 1024-d
  model is 8 MiB per partition), which covers every common embedding
  width. No iterative solver, no shuffle at all.
- ``pca_project`` is map-only: one Arrow-batched pandas UDF carrying
  the (d×k) component matrix as a closure broadcast.

The reference has no linear-algebra surface (this module belongs to the
training-data-pipeline extension scope, SURVEY §2.4).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["PCAModel", "embedding_covariance", "fit_pca", "pca_project"]


class PCAModel:
    """Fitted moments: ``mean`` (d,), ``eigvals`` (k,) descending,
    ``components`` (d, k) column-orthonormal with a deterministic sign
    convention (largest-magnitude entry of each component positive), and
    ``trace`` — the total population variance of the INPUT space (sum of
    ALL d eigenvalues, independent of k)."""

    def __init__(
        self,
        mean: np.ndarray,
        eigvals: np.ndarray,
        components: np.ndarray,
        n: int,
        trace: float,
    ):
        self.mean = mean
        self.eigvals = eigvals
        self.components = components
        self.n = n
        self.trace = trace


def _partial_moments(df: DataFrame, col: str) -> list:
    """Per-partition ``(n, Σx, ΣxxT)`` — the only data-dependent driver
    traffic in the fit, bounded by partitions × d². The embedding width
    ``d`` is inferred inside the pass (first non-empty Arrow batch), NOT
    probed with a separate ``first()`` job: a raw-scan CollectLimit job
    cancels its surplus tasks the moment one row lands, and that
    cancellation races the Python-worker daemon's fork handshake —
    the source of the bench's spurious BrokenPipeError tracebacks."""
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("o", T.ArrayType(T.DoubleType())),
        ]
    )

    # one reduction per partition, not a per-row map (map_rows does not fit)
    gen = functools.partial(_moments, col)
    return df.select(F.col(col).alias(col)).dropna().mapInPandas(gen, schema=schema).collect()


def _moments(col: str, batches):
    """One partition's ``(n, Σx, ΣxxT)``."""
    n = 0
    s = o = None
    for pdf in batches:
        if not len(pdf):
            continue
        X = np.asarray(np.stack(pdf[col].to_numpy()), dtype=np.float64)
        if s is None:
            d = X.shape[1]
            s, o = np.zeros(d), np.zeros((d, d))
        n += X.shape[0]
        s += X.sum(axis=0)
        o += X.T @ X
    if n:
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "o": [o.ravel().tolist()]})


def embedding_covariance(
    df: DataFrame, emb_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray, int]:
    """Population mean and covariance of an array column in one
    distributed pass — the array-column sibling of ``Dataset.corr_matrix``
    (which covers scalar columns). Returns ``(mean (d,), cov (d,d), n)``;
    null rows ignored."""
    rows = _partial_moments(df, emb_col)
    if not rows:
        raise ValueError(f"embedding_covariance: no non-null rows in {emb_col!r}")
    d = len(rows[0]["s"])
    n_total, S, O = 0, np.zeros(d), np.zeros((d, d))
    for row in rows:
        n_total += row["n"]
        S += np.asarray(row["s"])
        O += np.asarray(row["o"]).reshape(d, d)
    mean = S / n_total
    cov = O / n_total - np.outer(mean, mean)
    return mean, (cov + cov.T) / 2.0, int(n_total)  # exact symmetry for eigh


def fit_pca(df: DataFrame, emb_col: str = "embedding", k: int | None = None) -> PCAModel:
    """Fit population-moment PCA over an ``array<float|double>`` column
    in one distributed pass (see module docstring for the scale shape).
    Rows with a null embedding are ignored."""
    mean, cov, n_total = embedding_covariance(df, emb_col)
    d = mean.shape[0]
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = np.maximum(evals[order], 0.0), evecs[:, order]
    for j in range(evecs.shape[1]):  # deterministic sign
        i = int(np.argmax(np.abs(evecs[:, j])))
        if evecs[i, j] < 0:
            evecs[:, j] = -evecs[:, j]
    k = d if k is None else int(k)
    return PCAModel(mean, evals[:k], evecs[:, :k], int(n_total), float(evals.sum()))


def pca_project(
    df: DataFrame,
    model: PCAModel,
    emb_col: str = "embedding",
    out_col: str = "proj",
    whiten: bool = False,
    eps: float = 1e-12,
) -> DataFrame:
    """Map-only projection onto the fitted components: ``(x − μ)·W``,
    divided by ``√λ`` per component when ``whiten=True`` (unit variance,
    so downstream euclidean = mahalanobis). Null embeddings project to
    null."""
    mean = model.mean.copy()
    W = model.components.copy()
    scale = 1.0 / np.sqrt(model.eigvals + eps) if whiten else None

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(vecs: pd.Series) -> pd.Series:
        out = []
        mask = vecs.notna()
        if mask.any():
            X = np.asarray(np.stack(vecs[mask].to_numpy()), dtype=np.float64)
            P = (X - mean) @ W
            if scale is not None:
                P = P * scale
            it = iter(P)
            for ok in mask:
                out.append(next(it).tolist() if ok else None)
        else:
            out = [None] * len(vecs)
        return pd.Series(out)

    return df.withColumn(out_col, proj(F.col(emb_col)))
