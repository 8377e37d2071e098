"""Distributed PCA / whitening over embedding columns (north-star
extension; the reference engine has no vector analytics at all).

Why here: dimensionality reduction is the standard pre-pass for the
engine's ANN family (IVF/PQ train and probe faster on decorrelated,
truncated vectors) and for embedding-quality analysis (explained-variance
profiles reveal collapsed encoders).

Exact-integer discipline (same as ``similarity``/``pq``): embeddings are
quantized to int64 (round(x·10⁴)), so the sufficient statistics —
n, Σx, Σxxᵀ — are EXACT int64 sums: commutative, overflow-safe
(|x_q| ≤ ~10⁴·‖x‖∞, d=64 ⇒ Σxxᵀ entries reach 2⁶³ only past ~10¹⁰ rows),
and therefore identical across engines, partitionings, and batch sizes
with NO bucketing or ordering tricks.  The d×d eigenproblem solves on the
driver (d is the embedding width — tiny); eigenvectors are
sign-canonicalized (largest-|component| entry positive, first index on
ties) and re-quantized to int64 at 10⁻⁶ so the projection is again exact
integer arithmetic: proj_int = (x_q − mean_q)·comp_int, |proj_int| ≤
d·2·10⁴·10⁶ ≈ 1.3·10¹² (< 2⁵³, so even the final float division is
lossless-representable).

Determinism scope (ADVICE r10): given a FIXED component matrix, the
projection is bit-identical across partitionings, batch sizes, and
engines.  The fit itself solves ``np.linalg.eigh`` on the driver, whose
output depends on the host's LAPACK build — and near-degenerate
eigenvalues admit arbitrary rotations within the eigen-subspace that
sign canonicalization and 1e-6 re-quantization cannot pin down.  So:
same host ⇒ same model ⇒ identical projections everywhere; across
platforms, components may differ within near-equal-eigenvalue subspaces
(check the eigengap of ``model.eigvals`` if cross-platform
reproducibility matters — persist and ship ``comps_int`` rather than
re-fitting).

Scale shape: ONE corpus scan emitting fixed-size int64 partials
(1 + d + d² values per batch) that map-side combine to a single
4K-row collect; the projection pass is one Arrow kernel per batch with
the (q × d) int components broadcast.  Nothing corpus-sized shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.similarity import QUANT, _quantize

COMP_QUANT = 1_000_000  # fixed-point scale for eigenvector entries


@dataclass(frozen=True)
class PcaModel:
    """Sufficient statistics + canonical components of a PCA fit."""

    n: int
    mean_q: np.ndarray          # int64 (d,) — rounded mean in quant units
    comps_int: np.ndarray       # int64 (q, d) — eigenvectors at 1e-6
    eigvals: np.ndarray         # float64 (q,) — unit-scale variances
    dim: int


def pca_fit(
    embeddings: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
) -> PcaModel:
    """Fit PCA from one pass of exact-int64 sufficient statistics.

    Population covariance (divide by n): Σxxᵀ/n − meanᵀmean, computed in
    quant² units; eigenvalues are rescaled to unit (pre-quantization)
    variance for ``whiten``/explained-variance use.
    """
    import pandas as pd

    quant = embeddings.filter(F.col(vec_col).isNotNull()).select(
        _quantize(F.col(vec_col)).alias("vec")
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["vec"].to_numpy()).astype(np.int64)
            d = x.shape[1]
            m = x.T @ x  # exact: numpy integer matmul never touches BLAS
            s = x.sum(axis=0)
            # pos -2 accumulates Σ rows·d — the mixed-width tripwire
            # checked after the reduce (see below).
            pos = np.concatenate(
                [np.array([-2, -1], dtype=np.int64),
                 np.arange(d, dtype=np.int64),
                 d + np.arange(d * d, dtype=np.int64)]
            )
            val = np.concatenate(
                [np.array([len(x) * d, len(x)], dtype=np.int64), s, m.ravel()]
            )
            yield pd.DataFrame({"pos": pos, "s": val})

    rows = (
        quant.mapInPandas(partials, schema="pos long, s long")
        .groupBy("pos")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    if not rows:
        raise ValueError("pca_fit: no non-null embeddings to fit on")
    acc = {r["pos"]: r["s"] for r in rows}
    n = int(acc[-1])
    d_sq = len(acc) - 2
    # 2 + d + d*d rows -> solve d from the count (d is also derivable from
    # max pos, but the count is a cheap structural self-check).
    dim = int((np.sqrt(4 * d_sq + 1) - 1) // 2)
    if 2 + dim + dim * dim != len(acc):
        raise ValueError("pca_fit: partial stream is malformed")
    # Mixed embedding widths would ALIAS a narrow batch's Σxxᵀ slots into
    # a wider batch's Σx positions and silently corrupt the covariance;
    # Σ rows·d == n·dim holds iff every batch had width == dim (d_b ≤ dim
    # always, since dim derives from the largest position emitted).
    if int(acc[-2]) != n * dim:
        raise ValueError(
            f"pca_fit: embeddings mix widths (sum rows*d = {int(acc[-2])}, "
            f"expected n*dim = {n * dim}) — the corpus must be "
            "fixed-dimension"
        )
    s = np.array([acc[i] for i in range(dim)], dtype=np.int64)
    m = np.array(
        [acc[dim + i] for i in range(dim * dim)], dtype=np.int64
    ).reshape(dim, dim)

    mean = s.astype(np.float64) / n
    cov = m.astype(np.float64) / n - np.outer(mean, mean)  # quant² units
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    q = max(1, min(n_components, dim))
    order = np.arange(dim - 1, dim - 1 - q, -1)  # top-q, largest first
    comps = eigvecs[:, order].T.copy()  # (q, d)
    # Canonical sign: the largest-|entry| coordinate is positive
    # (np.argmax takes the FIRST maximal index — deterministic on ties).
    for row in comps:
        if row[int(np.argmax(np.abs(row)))] < 0:
            row *= -1.0
    return PcaModel(
        n=n,
        mean_q=np.rint(mean).astype(np.int64),
        comps_int=np.rint(comps * COMP_QUANT).astype(np.int64),
        eigvals=np.maximum(eigvals[order], 0.0) / (QUANT * QUANT),
        dim=dim,
    )


def pca_project(
    embeddings: DataFrame,
    model: PcaModel,
    whiten: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project to ``(id, components array<double>)`` — exact-int dot
    products against the broadcast integer components, one lossless float
    division per value (plus a per-component whitening scalar), rounded
    to 6 dp."""
    import pandas as pd

    mean_q = model.mean_q
    comps = model.comps_int
    denom = float(QUANT) * float(COMP_QUANT)
    if whiten:
        scale = 1.0 / (denom * np.sqrt(np.maximum(model.eigvals, 1e-12)))
    else:
        scale = np.full(len(comps), 1.0 / denom)
    id_type = embeddings.schema[id_col].dataType.simpleString()

    quant = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _quantize(F.col(vec_col)).alias("vec")
    )

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["vec"].to_numpy()).astype(np.int64) - mean_q
            proj = x @ comps.T  # exact int64
            vals = np.round(proj.astype(np.float64) * scale, 6)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "components": list(vals)}
            )

    return quant.mapInPandas(
        project, schema=f"id {id_type}, components array<double>"
    )


def embedding_pca(
    embeddings: DataFrame,
    n_components: int = 8,
    whiten: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit-and-project convenience wrapper (see ``pca_fit``)."""
    model = pca_fit(embeddings, n_components=n_components, vec_col=vec_col)
    return pca_project(
        embeddings, model, whiten=whiten, id_col=id_col, vec_col=vec_col
    )
