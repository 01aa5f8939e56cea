"""Distributed covariance over embedding columns — the one
distributed pass of a PCA.

The embedding-compression / whitening step of a vector pipeline
(public design: PCA dimensionality reduction before IVF/PQ indexing,
Jegou et al. 2011; standard covariance-eigh PCA) needs exactly one
pass over the data: the d×d covariance. Its eigendecomposition is a
driver-side ``numpy.linalg.eigh`` over the d(d+1)/2-row result —
model-scale by construction, the same collect policy as
``similarity.kmeans_fit`` (k×dim model).

Scale shape of the covariance pass: each row explodes to its
upper-triangle second-moment contributions (d(d+1)/2 structs — CPU
work inherent to covariance) and a map-side-combined groupBy reduces
them to d(d+1)/2 rows total crossing the wire per partition. No step
materializes more than the model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkt.sources import spread


def covariance_table(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Upper-triangle population covariance of the first ``dim``
    vector components, exactly ``avg(x_i·x_j) − avg(x_i)·avg(x_j)``
    (the formula the DuckDB oracle mirrors verbatim), rounded at 7dp
    (see the float-contract note below for why not the 4dp default).

    Returns ``i, j, cov`` with ``1 <= i <= j <= dim`` — d(d+1)/2 rows,
    independent of corpus size.

    Float contract: covariances of unit-scale embeddings are O(1e-4),
    so the cross-engine round lands at 7dp (4dp — the cosine contract
    — would round AT the signal scale); ``+ 0.0`` collapses IEEE
    negative zero, which the two engines would otherwise format
    differently ('-0' vs '0')."""
    pairs = F.expr(
        f"""flatten(transform(sequence(1, {int(dim)}), i ->
              transform(sequence(i, {int(dim)}), j -> struct(
                i AS i, j AS j,
                element_at({vec_col}, i) * element_at({vec_col}, j) AS xy,
                element_at({vec_col}, i) AS xi,
                element_at({vec_col}, j) AS xj))))"""
    )
    ex = spread(df).select(F.explode(pairs).alias("p")).select("p.*")
    return ex.groupBy("i", "j").agg(
        (F.round(F.avg("xy") - F.avg("xi") * F.avg("xj"), 7)
         + F.lit(0.0)).alias("cov")
    )
