"""Distributed PCA over an embedding column (OPQ-style rotation /
dimensionality reduction — the standard preprocessing step before
product quantization or cheap ANN, and the projection behind
SemDeDup-style visual inspection).

Scale design (the textbook two-phase distributed PCA):

1. **Partial Gram accumulation** — each partition reduces its vectors
   to ONE (d×d Gram, d-sum, count) triple with a numpy matmul inside
   ``mapInPandas`` (Arrow-batched; this is the documented Pandas-UDF
   boundary — element-wise ``posexplode`` alternatives blow the row
   count up d² (=4096)× and die at scale, while the partial-Gram
   output is O(partitions · d²) TOTAL, independent of n).
2. **Driver eigensolve** — the P partials sum on the driver (P ≈
   hundreds, each d² doubles — trivially collectable), covariance =
   G/n − μμᵀ, then a full LAPACK ``eigh`` on the d×d matrix (d=64:
   microseconds; numpy only, no scipy).
3. **Native projection** — components ship back as literals and the
   per-vector PCA coordinates are JVM-side dot products
   (``zip_with``+``aggregate``) — one map over the table, no Python.

Eigenvectors are sign-normalized (first nonzero coordinate positive)
so repeated runs agree; values remain FP-order-dependent across
partitionings, so driver-facing queries on top of this are rows-only
(the X3/X5 precedent) with property tests asserting orthonormality,
variance ordering, and parity against a full numpy eigensolve at test
scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def gram_partials(df: DataFrame) -> DataFrame:
    """One row per partition of the ``embedding`` vectors: flattened
    Xᵀ X Gram, column sums, count."""

    def acc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G = None
        s = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if G is None:
                d = X.shape[1]
                G = np.zeros((d, d))
                s = np.zeros(d)
            G += X.T @ X
            s += X.sum(axis=0)
            n += len(X)
        if n:
            yield pd.DataFrame(
                {"g": [G.ravel().tolist()], "s": [s.tolist()], "n": [n]}
            )

    return df.select("embedding").mapInPandas(
        acc, schema="g array<double>, s array<double>, n bigint"
    )


def _top_eigenpairs(C: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k eigenpairs of the d×d covariance via a full symmetric
    eigensolve (``numpy.linalg.eigh`` — LAPACK, exact; the matrix is
    driver-resident and tiny, so iterative methods would only add
    convergence error: near-isotropic embeddings have closely spaced
    eigenvalues where power iteration needs thousands of rounds).
    Eigenvectors are sign-normalized (first non-negligible coordinate
    positive) so repeated runs agree."""
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:k]
    vals = w[order].copy()
    vecs = V[:, order].T.copy()
    for i in range(len(vecs)):
        nz = np.flatnonzero(np.abs(vecs[i]) > 1e-12)
        if len(nz) and vecs[i][nz[0]] < 0:
            vecs[i] = -vecs[i]
    return vals, vecs


def fit_pca(df: DataFrame, k: int = 2) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Returns (eigenvalues[k], components[k×d], mean[d], total_var).

    Collects O(partitions) partial rows — never vectors."""
    parts = gram_partials(df).collect()
    if not parts:
        raise ValueError("fit_pca: empty input")
    d = len(parts[0]["s"])
    G = np.zeros((d, d))
    s = np.zeros(d)
    n = 0
    for r in parts:
        G += np.asarray(r["g"]).reshape(d, d)
        s += np.asarray(r["s"])
        n += r["n"]
    mu = s / n
    C = G / n - np.outer(mu, mu)
    C = (C + C.T) / 2.0  # symmetrize FP residue
    vals, vecs = _top_eigenpairs(C, k)
    return vals, vecs, mu, float(np.trace(C))


def project_pca(
    df: DataFrame,
    components: np.ndarray,
    mean: np.ndarray,
) -> DataFrame:
    """Append pc1..pck columns — JVM-side centered dot products of the
    ``embedding`` vectors.

    The vector is centered ONCE into a shared column; each component
    then costs one zip_with+aggregate dot product (k re-centerings
    would multiply the per-row array arithmetic by k on the bulk
    projection pass)."""
    cols = list(df.columns)
    lit_m = F.array(*[F.lit(float(v)) for v in mean])
    out = df.withColumn(
        "__pca_centered",
        F.zip_with(F.col("embedding"), lit_m, lambda x, m: x.cast("double") - m),
    )
    for i, comp in enumerate(components):
        lit_c = F.array(*[F.lit(float(v)) for v in comp])
        dot: Column = F.aggregate(
            F.zip_with(F.col("__pca_centered"), lit_c, lambda x, c: x * c),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        out = out.withColumn(f"pc{i + 1}", dot)
    return out.select(*cols, *[f"pc{i + 1}" for i in range(len(components))])
