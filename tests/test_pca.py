"""Distributed PCA: exact-Python witness (identical integer arithmetic),
partitioning independence, orthonormality / variance-ordering / whitening
properties, and degenerate-input edges."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.pca import (
    COMP_QUANT,
    PcaModel,
    embedding_pca,
    pca_fit,
    pca_project,
)
from restructure_hdfs_topic_spark.operators.similarity import QUANT

SF_DIR = "/root/testdata/sf0.001"


def _load_np():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    x = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, x


def _witness_model(x: np.ndarray, n_components: int) -> PcaModel:
    """Mirror pca_fit exactly: int64 sufficient statistics, population
    covariance in quant² units, eigh, top-q, sign canonicalization."""
    xq = np.rint(x * QUANT).astype(np.int64)
    n, dim = xq.shape
    s = xq.sum(axis=0)
    m = xq.T @ xq
    mean = s.astype(np.float64) / n
    cov = m.astype(np.float64) / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)
    q = max(1, min(n_components, dim))
    order = np.arange(dim - 1, dim - 1 - q, -1)
    comps = eigvecs[:, order].T.copy()
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


def _witness_project(ids, x, model: PcaModel, whiten: bool):
    xq = np.rint(x * QUANT).astype(np.int64) - model.mean_q
    proj = xq @ model.comps_int.T
    denom = float(QUANT) * float(COMP_QUANT)
    if whiten:
        scale = 1.0 / (denom * np.sqrt(np.maximum(model.eigvals, 1e-12)))
    else:
        scale = np.full(len(model.comps_int), 1.0 / denom)
    vals = np.round(proj.astype(np.float64) * scale, 6)
    return {int(i): tuple(v) for i, v in zip(ids, vals)}


def test_pca_exact_witness_and_partitioning_independence(spark):
    ids, x = _load_np()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    model = pca_fit(emb, n_components=8)
    wmodel = _witness_model(x, 8)
    assert model.n == wmodel.n and model.dim == wmodel.dim
    np.testing.assert_array_equal(model.mean_q, wmodel.mean_q)
    np.testing.assert_array_equal(model.comps_int, wmodel.comps_int)
    np.testing.assert_allclose(model.eigvals, wmodel.eigvals, rtol=1e-12)

    got = {
        int(r["id"]): tuple(r["components"])
        for r in pca_project(emb, model).collect()
    }
    assert got == _witness_project(ids, x, wmodel, whiten=False)

    # Re-fitting on a different partitioning produces the SAME model and
    # the SAME projections (int sums are order-independent).
    model2 = pca_fit(emb.repartition(17), n_components=8)
    np.testing.assert_array_equal(model2.comps_int, model.comps_int)
    got2 = {
        int(r["id"]): tuple(r["components"])
        for r in pca_project(emb.repartition(3), model2).collect()
    }
    assert got2 == got


def test_pca_properties(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    model = pca_fit(emb, n_components=8)

    # Components are orthonormal (up to the 1e-6 quantization).
    c = model.comps_int.astype(np.float64) / COMP_QUANT
    gram = c @ c.T
    np.testing.assert_allclose(gram, np.eye(len(c)), atol=1e-4)

    # Eigenvalues are sorted descending and the projected variances match
    # them (population variance, unit scale).
    assert list(model.eigvals) == sorted(model.eigvals, reverse=True)
    proj = np.array(
        [r["components"] for r in pca_project(emb, model).collect()]
    )
    var = proj.var(axis=0)
    np.testing.assert_allclose(var, model.eigvals, rtol=1e-2)

    # Whitening brings every retained component to ~unit variance.
    white = np.array(
        [r["components"] for r in pca_project(emb, model, whiten=True).collect()]
    )
    np.testing.assert_allclose(white.var(axis=0), 1.0, rtol=1e-2)


def test_pca_null_rows_and_empty_input(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    model = pca_fit(emb, n_components=2)
    assert model.n == 3 and model.dim == 2
    out = pca_project(emb, model).collect()
    assert sorted(r["id"] for r in out) == [1, 2, 4]

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no non-null embeddings"):
        pca_fit(empty)


def test_embedding_pca_wrapper(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = embedding_pca(emb, n_components=4)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert all(len(r["components"]) == 4 for r in rows)


def test_pca_rejects_mixed_widths(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0, 0.5])],
        "vec_id long, embedding array<float>",
    ).repartition(2, "vec_id")  # widths land in separate kernel batches
    with pytest.raises(Exception, match="mix widths|stack|shape|dimensions"):
        pca_fit(emb, n_components=2)
