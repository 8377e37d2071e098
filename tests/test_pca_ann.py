"""Gated PCA→ANN composition on the anisotropic fixture (VERDICT r10 #1):
the r10 negative result (recall 0.25 on the near-isotropic driver
embeddings) becomes a real recall gate once the corpus has the decaying
spectrum real encoder outputs have."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.pca import pca_fit, pca_project
from restructure_hdfs_topic_spark.operators.similarity import cosine_topk, ivf_ann_topk
from restructure_hdfs_topic_spark.sources.synth import anisotropic_embeddings


@pytest.fixture(scope="module")
def fixture_emb(spark):
    emb = anisotropic_embeddings(spark, n=1500).persist()
    emb.count()
    yield emb
    emb.unpersist()


def test_fixture_is_deterministic_and_partitioning_independent(spark):
    a = sorted(map(tuple, anisotropic_embeddings(spark, n=200, n_partitions=2).collect()))
    b = sorted(map(tuple, anisotropic_embeddings(spark, n=200, n_partitions=13).collect()))
    assert a == b and len(a) == 200
    assert all(len(r[1]) == 64 for r in a)


def test_fixture_has_a_decaying_spectrum(fixture_emb):
    """The whole point of the fixture: top-`rank` eigenvalues dominate
    (planted rank 8, decay 0.75) and the residual directions are noise
    — unlike the driver's embeddings table (~2.1% per direction)."""
    model = pca_fit(fixture_emb, n_components=16)
    ev = np.asarray(model.eigvals)
    assert ev[0] > 5 * ev[7] > 0  # decaying within the planted rank
    assert ev[7] > 20 * ev[8]  # sharp knee at the planted rank
    # Top-8 capture the overwhelming share of what 16 components see.
    assert ev[:8].sum() / ev.sum() > 0.95


def test_pca_ivf_recall_gate(spark, fixture_emb):
    """recall@5 of IVF in 16-dim PCA space vs the 64-dim exact baseline
    must clear 0.9 (measured 0.948) — the deployment-shaped gate for the
    dimensionality-reduction lane."""
    queries = fixture_emb.orderBy("vec_id").limit(100)
    exact = cosine_topk(fixture_emb, k=5, queries=queries).persist()
    denom = exact.count()
    model = pca_fit(fixture_emb, n_components=16)
    proj = pca_project(fixture_emb, model).select(
        F.col("id").alias("vec_id"), F.col("components").alias("embedding")
    )
    approx = ivf_ann_topk(proj, k=5, n_rows=1500)
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    exact.unpersist()
    assert denom == 500
    assert hits / denom >= 0.9


def test_extras_query_check_table(spark):
    """The extras row reduces to the pinned 3-row check table with
    recall_ge_090 == 1 on the fixture sized for sf0.001."""
    import __spark_entry__ as entry

    rows = {
        r["check_name"]: r["value"]
        for r in entry.q_ann_pca_ivf_topk(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows["n_queries"] == 100
    assert rows["n_exact_pairs"] == 500
    assert rows["recall_ge_090"] == 1


def test_fixture_param_validation(spark):
    with pytest.raises(ValueError, match="rank"):
        anisotropic_embeddings(spark, n=10, dim=8, rank=9)
