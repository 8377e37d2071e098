"""Property-based tests (hypothesis) for VERDICT r10 stretch #7: the two
newest operator families without property coverage.

- ``grouped_holdout_split``: every split tiles the corpus exactly once,
  no group ever straddles splits, and on a group-free corpus the output
  is ROW-IDENTICAL to ``holdout_split`` — under arbitrary id sets, group
  topologies, and fraction tilings.
- ``pca_project``: given a fixed fitted model, projections are invariant
  under row permutation/partitioning and Arrow batch size, and
  ``whiten=True`` rescales per-component without changing which rows
  exist.

One DataFrame per hypothesis example so Spark jobs amortize."""

from __future__ import annotations

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ids = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40, unique=True
)
_fractions = st.sampled_from(
    [
        {"train": 0.8, "valid": 0.1, "test": 0.1},
        {"train": 0.5, "test": 0.5},
        {"a": 0.34, "b": 0.33, "c": 0.33},
        {"only": 1.0},
    ]
)


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(_ids, st.data(), _fractions)
def test_grouped_holdout_tiles_and_never_straddles(spark, ids, data, fractions):
    from restructure_hdfs_topic_spark.operators.sampling import (
        grouped_holdout_split,
    )

    # Random group topology over a subset of the ids: each grouped id is
    # assigned its group's min member as group_id (the producer invariant).
    k = data.draw(st.integers(min_value=0, max_value=max(0, len(ids) // 2)))
    grouped_ids = ids[: 2 * k]
    groups = {}
    for i in range(k):
        a, b = grouped_ids[2 * i], grouped_ids[2 * i + 1]
        g = min(a, b)
        groups[a] = g
        groups[b] = g

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    gdf = spark.createDataFrame(
        list(groups.items()) or [], "doc_id long, group_id long"
    )
    out = {
        r["doc_id"]: r["split"]
        for r in grouped_holdout_split(docs, "doc_id", fractions, gdf).collect()
    }
    # Exact tiling: every id gets exactly one split, all splits valid.
    assert set(out) == set(ids)
    assert set(out.values()) <= set(fractions)
    # No group straddles.
    by_group = {}
    for i, g in groups.items():
        by_group.setdefault(g, set()).add(out[i])
    assert all(len(s) == 1 for s in by_group.values())
    # Partitioning independence.
    out2 = {
        r["doc_id"]: r["split"]
        for r in grouped_holdout_split(
            docs.repartition(7), "doc_id", fractions, gdf.repartition(3)
        ).collect()
    }
    assert out2 == out


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(_ids, _fractions)
def test_grouped_holdout_groupfree_equals_plain(spark, ids, fractions):
    from restructure_hdfs_topic_spark.operators.sampling import (
        grouped_holdout_split,
        holdout_split,
    )

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    empty = spark.createDataFrame([], "doc_id long, group_id long")
    grouped = sorted(
        map(tuple, grouped_holdout_split(docs, "doc_id", fractions, empty).collect())
    )
    plain = sorted(map(tuple, holdout_split(docs, "doc_id", fractions).collect()))
    assert grouped == plain


_vec = st.lists(
    st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
    min_size=6,
    max_size=6,
)


@settings(max_examples=prop_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_vec, min_size=3, max_size=25), st.integers(min_value=1, max_value=4))
def test_pca_project_partitioning_and_batch_independence(spark, vecs, q):
    """With a FIXED fitted model, the projection of a row depends only on
    the row — permutation, partitioning, and Arrow batch size cannot
    move a single component value (the exact-int kernel's contract)."""
    from restructure_hdfs_topic_spark.operators.pca import pca_fit, pca_project

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = pca_fit(emb, n_components=q)

    def proj(df, **kw):
        return {
            r["id"]: tuple(r["components"])
            for r in pca_project(df, model, **kw).collect()
        }

    base = proj(emb)
    assert set(base) == {i for i, _ in rows}
    assert all(len(v) == min(q, 6) for v in base.values())
    # Row permutation + different partitioning (different Arrow batches).
    perm = spark.createDataFrame(rows[::-1], "vec_id long, embedding array<float>")
    assert proj(perm.repartition(5)) == base
    assert proj(emb.coalesce(1)) == base
    # Whitening keeps the same row set and component count.
    white = proj(emb, whiten=True)
    assert set(white) == set(base)
    assert all(len(v) == min(q, 6) for v in white.values())


@settings(max_examples=prop_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_vec, min_size=4, max_size=20))
def test_pca_fit_is_input_order_invariant(spark, vecs):
    """The sufficient statistics are exact int64 sums, so the fitted
    model itself (mean, components, eigenvalues) cannot depend on row
    order or partitioning."""
    import numpy as np

    from restructure_hdfs_topic_spark.operators.pca import pca_fit

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb_rev = spark.createDataFrame(
        rows[::-1], "vec_id long, embedding array<float>"
    ).repartition(3)
    m1 = pca_fit(emb, n_components=3)
    m2 = pca_fit(emb_rev, n_components=3)
    assert m1.n == m2.n and m1.dim == m2.dim
    assert np.array_equal(m1.mean_q, m2.mean_q)
    assert np.array_equal(m1.comps_int, m2.comps_int)
    assert np.array_equal(m1.eigvals, m2.eigvals)
