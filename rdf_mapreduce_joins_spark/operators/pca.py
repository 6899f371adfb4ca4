"""Distributed PCA over an embedding column (X-family extension: the
classic dimensionality-reduction pass a training-data pipeline runs
before clustering / visualization / whitening).

Scale shape — the textbook two-phase plan (same layout as Spark
MLlib's RowMatrix.computeCovariance, re-expressed over DataFrames):

1. ONE distributed pass computes the sufficient statistics: per
   Arrow batch, ``mapInPandas`` emits (n, sum(x), X^T X) partials —
   d + d^2 doubles per batch, independent of row count — which reduce
   by a posexplode + hash-aggregate keyed on the flattened index.
   Only d^2 + d + 1 aggregated cells ever reach the driver (d=64 ->
   4161 doubles), no matter how many rows the input has.
2. The d x d covariance eigendecomposition runs on the driver (O(d^3)
   for tiny d — never distributed in any engine), and the top-k
   eigenvectors broadcast back as literal arrays; the projection is a
   JVM-side ``aggregate(zip_with(...))`` dot product per component —
   no Python in the per-row path.

Eigenvector sign is fixed deterministically (largest-|coefficient|
entry made positive) so repeated runs and independent reference
implementations agree up to float noise.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.operators.literals import literal


def _partials_fn(col: str, d: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf[col].to_numpy()).astype(np.float64)
            if m.shape[1] != d:
                raise ValueError(f"expected dim {d}, got {m.shape[1]}")
            # Pack [n, sum(x), flat(X^T X)] into one array so the
            # reduce is a single posexplode + one hash aggregation.
            packed = np.concatenate(
                ([float(len(m))], m.sum(axis=0), (m.T @ m).ravel())
            )
            yield pd.DataFrame({"packed": [packed.tolist()]})

    return fn


def covariance_stats(df: DataFrame, col: str, d: int) -> tuple[int, np.ndarray, np.ndarray]:
    """One distributed pass -> (n, mean vector, covariance matrix)."""
    partials = df.select(col).mapInPandas(
        _partials_fn(col, d), schema="packed array<double>"
    )
    cells = (
        partials.select(F.posexplode("packed"))
        .groupBy("pos")
        .agg(F.sum("col").alias("v"))
        .collect()
    )
    flat = np.zeros(1 + d + d * d)
    for row in cells:
        flat[row["pos"]] = row["v"]
    n = int(flat[0])
    if n == 0:
        raise ValueError("covariance_stats: empty input")
    mean = flat[1 : 1 + d] / n
    gram = flat[1 + d :].reshape(d, d) / n
    cov = gram - np.outer(mean, mean)
    return n, mean, cov


def principal_components(cov: np.ndarray, k: int) -> np.ndarray:
    """Top-k eigenvectors of a symmetric matrix, sign-pinned
    (largest-magnitude coefficient positive), ordered by descending
    eigenvalue. Returns shape (k, d)."""
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps


def _dot_literal(col: Column, weights: np.ndarray) -> Column:
    w = literal([float(x) for x in weights])
    return F.aggregate(
        F.zip_with(col, w, lambda x, wi: x * wi),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pca_project(df: DataFrame, col: str, d: int, k: int = 2) -> DataFrame:
    """Append centered top-k principal-component scores ``pc1..pck``.

    Two Spark jobs total (stats pass + projection); the projection is
    pure whole-stage-codegen array arithmetic over broadcast literal
    component vectors."""
    _, mean, cov = covariance_stats(df, col, d)
    comps = principal_components(cov, k)
    emb = F.col(col).cast("array<double>")
    offsets = comps @ mean  # subtract mean . pc, equals centering first
    projected = df
    for i in range(k):
        projected = projected.withColumn(
            f"pc{i + 1}", _dot_literal(emb, comps[i]) - F.lit(float(offsets[i]))
        )
    return projected
